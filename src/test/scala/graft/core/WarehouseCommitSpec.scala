package graft.core

import graft.SparkSpec
import graft.ops.Aggs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class WarehouseCommitSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String) = {
    val root = Files.createTempDirectory(name).toString
    (root, new Warehouse(spark, root))
  }

  /** The local property `key` of every job `body` starts (null if unset). */
  private def jobTags(key: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))))
    }
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.map(_.orNull)
  }

  /** The listing answer must equal the scan it replaces; on a
    * date-partitioned table it runs no job. */
  private def assertWatermark(wh: Warehouse, table: String,
                              expected: Option[java.sql.Date],
                              listed: Boolean = true): Unit = {
    val scanned =
      if (wh.exists(table)) Aggs.watermark(wh.read(table), "START_DATE") else None
    assert(scanned == expected)
    var got: Option[java.sql.Date] = None
    val jobs = jobTags("graft.test.tag") { got = wh.watermark(table, "START_DATE") }
    assert(got == expected)
    if (listed) assert(jobs.isEmpty, s"$table: the watermark ran ${jobs.size} jobs")
  }

  test("watermark from the partition listing equals the max scan") {
    val (_, wh) = fresh("wh_wm")
    // one date
    wh.overwriteDatePartitions(Seq((1, d("2024-03-05"))).toDF("v", "START_DATE"),
      "one", "START_DATE")
    assertWatermark(wh, "one", Some(d("2024-03-05")))
    // several dates, written out of order over two runs
    wh.overwriteDatePartitions(
      Seq((1, d("2024-03-09")), (2, d("2023-12-31")), (3, d("2024-03-01")))
        .toDF("v", "START_DATE"), "many", "START_DATE")
    wh.overwriteDatePartitions(Seq((4, d("2024-02-10"))).toDF("v", "START_DATE"),
      "many", "START_DATE")
    assertWatermark(wh, "many", Some(d("2024-03-09")))
    // a NULL date lands in __HIVE_DEFAULT_PARTITION__, which max() skips
    wh.overwriteDatePartitions(
      Seq((1, Some(d("2024-01-02"))), (2, None)).toDF("v", "START_DATE"),
      "nulls", "START_DATE")
    assertWatermark(wh, "nulls", Some(d("2024-01-02")))
    wh.overwriteDatePartitions(
      Seq((1, Option.empty[java.sql.Date])).toDF("v", "START_DATE"),
      "only_null", "START_DATE")
    assertWatermark(wh, "only_null", None)
    // missing table
    assertWatermark(wh, "missing", None)
  }

  test("watermark of an empty or unpartitioned table") {
    val (root, wh) = fresh("wh_wm2")
    // empty: written from an empty frame, partitioned and not
    val empty = Seq.empty[(Int, java.sql.Date)].toDF("v", "START_DATE")
    wh.overwrite(empty, "empty_flat")
    assertWatermark(wh, "empty_flat", None, listed = false)
    wh.overwriteDatePartitions(empty, "empty_part", "START_DATE")
    assert(wh.watermark("empty_part", "START_DATE").isEmpty)
    assert(Aggs.watermark(empty, "START_DATE").isEmpty)
    // unpartitioned (the fallback scan), e.g. after forget rewrote it
    wh.overwriteDatePartitions(
      Seq((1, d("2024-05-01")), (2, d("2024-05-03"))).toDF("v", "START_DATE"),
      "fact", "START_DATE")
    assert(wh.forget("fact", "v", Seq(1).toDF("v")) == 1)
    assert(!new java.io.File(s"$root/fact").list().exists(_.startsWith("START_DATE=")))
    assertWatermark(wh, "fact", Some(d("2024-05-03")), listed = false)
  }

  test("replace swaps a table it reads, with no checkpoint and no leftovers") {
    val (root, wh) = fresh("wh_replace")
    wh.overwrite(Seq(1, 2, 3).toDF("v"), "t")
    val before = spark.sparkContext.getPersistentRDDs.size
    wh.replace(wh.read("t").select(($"v" * 10).as("v")), "t")
    assert(wh.read("t").as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(new java.io.File(root).list().toSet == Set("t"))
  }

  test("a table stranded between the swap's two renames is recovered on read") {
    val (root, wh) = fresh("wh_strand")
    wh.overwrite(Seq(1, 2).toDF("v"), "t")
    val live = Paths.get(root, "t")
    // crash after live → .old, with the new state fully staged: the
    // swap is rolled forward
    spark.createDataset(Seq(7, 8, 9)).toDF("v").write.parquet(s"$root/t.staging")
    Files.move(live, Paths.get(root, "t.old"))
    assert(wh.read("t").as[Int].collect().sorted.toSeq == Seq(7, 8, 9))
    assert(new java.io.File(root).list().toSet == Set("t"))
    // crash after live → .old with no committed staging dir: rolled back
    Files.move(live, Paths.get(root, "t.old"))
    assert(wh.exists("t"))
    assert(wh.read("t").as[Int].collect().sorted.toSeq == Seq(7, 8, 9))
  }

  test("commit runs the concurrent write under the caller's local properties") {
    val (_, wh) = fresh("wh_props")
    val sc = spark.sparkContext
    def night(tag: String, k: Int): Seq[String] = {
      sc.setLocalProperty("graft.test.tag", tag)
      try jobTags("graft.test.tag")(wh.commit(replace = Seq("a" -> Seq(1, k).toDF("v")),
        append = Seq("b" -> Seq(k).toDF("v").repartition(2))))
      finally sc.setLocalProperty("graft.test.tag", null)
    }
    // the first commit starts the pool thread, which inherits the
    // caller's properties once; the second reuses it, so only properties
    // captured per submission reach its jobs
    assert(night("night1", 1).forall(_ == "night1"))
    val tags = night("night2", 2)
    assert(wh.read("a").count() == 2 && wh.read("b").count() == 2)
    // both writes ran jobs, and every one of them carries the tag
    assert(tags.size >= 2 && tags.forall(_ == "night2"), tags)
  }
}
