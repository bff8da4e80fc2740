package graft.core

import graft.SparkSpec
import java.nio.file.Files

/** `Tables.parquet` resolves a table's schema from one footer on the
  * driver. It must give the frame `spark.read.parquet` gives — schema
  * (names, order, types, nullability, metadata) and rows — on every
  * table the engine reads, without starting a Spark job, and keep
  * Spark's behaviour where it falls back to the inferred read. The
  * tables the pipeline writes are checked in WarehouseContractSpec,
  * which builds them through their real writers.
  */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._
  import ReadParity.{check => assertParity}

  private val fixtures = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"schema parity with the inferred read: the $sf fixture tables and their split copies") {
      val dir = s"/root/testdata/$sf"
      fixtures.foreach { name =>
        val orig = s"$dir/$name.parquet"
        val split = Tables.splitCached(spark, orig)
        Seq(orig, split).distinct.foreach(p =>
          assertParity(spark, p, sameRows = Set("nation", "region", "supplier")(name)))
        if (name != "events")
          assert(Tables.load(spark, dir, name).schema == spark.read.parquet(split).schema)
      }
      // events also goes through the session's nanosAsLong, at either value
      val events = Tables.splitCached(spark, s"$dir/events.parquet")
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val before = spark.conf.getOption(key)
      try Seq("true", "false").foreach { v => spark.conf.set(key, v); assertParity(spark, events) }
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(Tables.load(spark, dir, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    }

  test("a TIMESTAMP(NANOS) column converts under the session's nanosAsLong") {
    val tmp = Files.createTempDirectory("nanos_parity")
    Files.copy(getClass.getResourceAsStream("/events_nanos.parquet"), tmp.resolve("e.parquet"))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val df = assertParity(spark, tmp.toString, sameRows = true)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // with the conf off Spark rejects the column; so does the reader
      spark.conf.set(key, "false")
      val ours = intercept[Exception](Tables.parquet(spark, tmp.toString).schema)
      val spark_ = intercept[Exception](spark.read.parquet(tmp.toString).schema)
      assert(ours.getClass == spark_.getClass)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a directory holding only _SUCCESS fails with Spark's own exception") {
    val dir = Files.createTempDirectory("only_success")
    Files.createFile(dir.resolve("_SUCCESS"))
    val ours = intercept[Exception](Tables.parquet(spark, dir.toString))
    val theirs = intercept[Exception](spark.read.parquet(dir.toString))
    assert(ours.getClass == theirs.getClass, ours)
    val missing = dir.resolve("absent").toString
    assert(intercept[Exception](Tables.parquet(spark, missing)).getClass ==
      intercept[Exception](spark.read.parquet(missing)).getClass)
  }

  test("a table stranded under .old is recovered before the read") {
    val root = Files.createTempDirectory("tables_parquet_old")
    val wh = new Warehouse(spark, root.toString)
    wh.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    Files.move(root.resolve("t"), root.resolve("t.old"))
    val (df, jobs) = ReadParity.jobsDuring(spark) { val r = wh.read("t"); r.schema; r }
    assert(jobs == 0 && rows(df) == Seq(Seq(1, "a"), Seq(2, "b")))
    assert(Files.exists(root.resolve("t")) && !Files.exists(root.resolve("t.old")))
  }

  test("with mergeSchema on, files with different columns merge as before") {
    val dir = Files.createTempDirectory("tables_parquet_merge").toString
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$dir/k=1")
    Seq((2, 2.5)).toDF("a", "c").write.parquet(s"$dir/k=2")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val merged = Tables.parquet(spark, dir)
      assert(merged.schema == spark.read.parquet(dir).schema)
      assert(merged.columns.toSeq == Seq("a", "b", "c", "k"))
      assert(rows(merged) == Seq(Seq(1, "x", null, 1), Seq(2, null, 2.5, 2)))
    } finally spark.conf.unset(key)
    // not merging, both read the first file's footer
    assertParity(spark, dir, sameRows = true)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a", "b", "k"))
  }

  test("the footer comes from the first data file by path, found without listing every partition") {
    import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
    val root = Files.createTempDirectory("first_data_file")
    def touch(rel: String) = {
      val f = root.resolve(rel); Files.createDirectories(f.getParent); Files.createFile(f)
    }
    // an empty and a _SUCCESS-only partition come first; a dir sorts as
    // its name plus "/", so the file "b-c" comes before the dir "b"
    Files.createDirectories(root.resolve("a=0"))
    touch("a=1/_SUCCESS"); touch("a=1/.part.crc")
    Seq("a=2/b/z", "a=2/b-c", "a=2/_b", "a=3/x", "a=4/y").foreach(touch)
    val listed = scala.collection.mutable.ArrayBuffer.empty[String]
    val fs = new RawLocalFileSystem {
      override def listStatus(p: Path): Array[FileStatus] = {
        listed += p.getName; super.listStatus(p)
      }
    }
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val top = fs.getFileStatus(new Path(root.toUri))
    val first = Tables.firstDataFile(fs, top).map(_.getPath.toString)
    assert(first.exists(_.endsWith("/a=2/b-c")), first)
    assert(listed.toSeq == Seq(root.getFileName.toString, "a=0", "a=1", "a=2"))
    // the same file as the lowest path over a full listing, which is what
    // Spark's inference reads
    val all = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(f => Files.isRegularFile(f) &&
        !root.relativize(f).toString.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
      .map(f => new Path(f.toUri).toString)
    assert(first.contains(all.min))
  }

  test("no parquet read in src/main/scala bypasses Tables.parquet") {
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val direct = "\\bread(\\s*\\.\\s*\\w+\\([^()]*\\))*\\s*\\.\\s*(parquet\\s*\\(|format\\s*\\(\\s*\"parquet\")".r
    // the pattern sees through option chains and line breaks
    Seq("spark.read.parquet(p)", "s.read\n  .option(\"a\", \"b\")\n  .parquet(p)",
      "spark.read.format(\"parquet\").load(p)").foreach(c =>
      assert(direct.findFirstIn(c).isDefined, c))
    assert(direct.findFirstIn("spark.read.format(\"jdbc\").load()").isEmpty)
    val files = Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    assert(files.length > 50)
    // the helper itself, up to its first private member, is the one place allowed
    val helper = "(?s)def parquet\\(spark: SparkSession, path: String\\).*?private def ".r
    val hits = files.toSeq.flatMap { f =>
      val code = comments.replaceAllIn(new String(Files.readAllBytes(f), "UTF-8"), "")
      val checked =
        if (f.endsWith("core/Tables.scala")) {
          assert(helper.findFirstIn(code).exists(direct.findFirstIn(_).isDefined))
          helper.replaceFirstIn(code, "")
        } else code
      direct.findAllIn(checked).map(m => s"$f: $m")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
