package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer (SURVEY.md §2.1 S8–S12) over a parquet warehouse
  * directory. SQL Server tables become date-partitioned parquet table
  * dirs; the reference's row-level UPDATEs (S10) become whole-table
  * merge-rewrites (see graft.ops.Scd2); its append loops become
  * idempotent per-date partition overwrites — re-running a day replaces
  * exactly that day's partition (dynamic partition overwrite), the
  * property the reference lacks (missed-day reruns acknowledged as
  * future work, reference README.md:37).
  */
final class Warehouse(spark: SparkSession, root: String) {

  private def path(table: String) = s"$root/$table"

  /** S12 — table-exists probe gating run-once bootstraps. Hadoop FS
    * resolved from the path (not java.io.File), so the probe is correct
    * on HDFS/S3 warehouses, not only local ones. A table stranded by an
    * interrupted [[replace]] is recovered first, so a bootstrap gate
    * never mistakes it for a missing table.
    */
  def exists(table: String): Boolean = {
    recoverStranded(table)
    val (fs, p) = hadoopFs(path(table))
    fs.exists(p)
  }

  private def stagingPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table) + ".staging")
  private def oldPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table) + ".old")

  /** Crash recovery for [[replace]]'s rename-rename swap: a failure
    * between the two renames leaves the previous state under `.old` and
    * the fully written new state under `.staging`, with no live path.
    * Entry points that touch the table call this first. The first rename
    * runs only after the staged write committed (its `_SUCCESS` marker
    * is there), so the swap is rolled forward to the staged state; a
    * staging dir without the marker is not trusted and `.old` is rolled
    * back instead. Either way the table is readable again with no manual
    * surgery. Single-writer assumption: the warehouse (like the
    * reference's nightly job) has exactly one writer at a time;
    * concurrent writers would race the swap itself, which no rename
    * protocol on a non-transactional store can fix.
    */
  private def recoverStranded(table: String): Unit = {
    val (fs, live) = hadoopFs(path(table))
    val oldP = oldPath(table)
    if (!fs.exists(live) && fs.exists(oldP)) {
      val stagingP = stagingPath(table)
      if (fs.exists(new org.apache.hadoop.fs.Path(stagingP, "_SUCCESS"))) {
        fs.rename(stagingP, live)
        fs.delete(oldP, true)
      } else fs.rename(oldP, live)
    }
  }

  /** The table as a DataFrame, after recovering a table stranded by an
    * interrupted [[replace]]. The schema comes from one parquet footer
    * read on the driver ([[Tables.parquet]]), so a read starts no Spark
    * job: it costs a listing and a footer read. Partition columns (e.g.
    * `START_DATE` of a date-partitioned table) come from the directory
    * names, as with `spark.read.parquet`.
    */
  def read(table: String): DataFrame = {
    recoverStranded(table)
    Tables.parquet(spark, path(table))
  }

  /** S8 — plain append. */
  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(path(table))

  /** S9 — full overwrite (initial snapshot / SCD-2 merge-rewrite). */
  def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(path(table))

  /** S8 at scale — write partitioned by a date column, dynamically
    * overwriting ONLY the partitions present in `df` (idempotent
    * re-runs; other dates untouched).
    */
  def overwriteDatePartitions(df: DataFrame, table: String,
                              dateCol: String): Unit =
    df.write
      .partitionBy(dateCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path(table))

  /** A9 — incremental watermark: max value of `dateCol`, None when the
    * table doesn't exist yet (bootstrap case) or holds no rows. A table
    * partitioned by `dateCol` answers from its partition listing: the
    * largest `dateCol=` directory name (URL-decoded, skipping the NULL
    * partition `__HIVE_DEFAULT_PARTITION__` and directories without a
    * data file) — no scan, no job, one listing however much history the
    * table holds. Only a table with data but no such directories (e.g.
    * one [[forget]] rewrote unpartitioned) or with a partition value
    * that is not a plain date falls back to the `max` scan
    * ([[graft.ops.Aggs.watermark]]).
    */
  def watermark(table: String, dateCol: String): Option[java.sql.Date] = {
    if (!exists(table)) return None
    val (fs, dir) = hadoopFs(path(table))
    val prefix = s"$dateCol="
    val listing = fs.listStatus(dir).toSeq
    val parts = listing
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => java.net.URLDecoder.decode(
        st.getPath.getName.stripPrefix(prefix), "UTF-8") -> st.getPath)
    val dated = parts.filter(_._1 != "__HIVE_DEFAULT_PARTITION__")
      .map { case (v, p) => scala.util.Try(java.sql.Date.valueOf(v)).toOption -> p }
    def scan = graft.ops.Aggs.watermark(read(table), dateCol)
    if (parts.isEmpty) {
      if (listing.exists(isDataFile)) scan else None
    } else if (dated.exists(_._1.isEmpty)) scan
    else dated.collect { case (Some(d), p) => d -> p }
      .sortBy(-_._1.toLocalDate.toEpochDay)
      .find { case (_, p) => fs.listStatus(p).exists(isDataFile) }
      .map(_._1)
  }

  /** Bucketed external table: pre-shuffled on `bucketCols` so joins and
    * aggregations on those keys read co-located, shuffle-free (the
    * "bucketing for co-located joins" leg of the 100 TB posture — two
    * tables bucketed the same way sort-merge join with zero Exchange).
    * Registered in the session catalog (bucketing metadata lives there);
    * data is plain parquet at the warehouse path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .option("path", path(table))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Read a bucketed table (bucket metadata requires the catalog route,
    * not a raw parquet path read).
    */
  def readBucketed(table: String): DataFrame = spark.table(table)

  /** JDBC sink — the reference's actual warehouse is SQL Server reached
    * over DBI/odbc (`R/_db_connect.R:16-36`, `dbWriteTable`/`dbAppendTable`
    * in `R/_pull_data.R`); this is that leg on Spark's JDBC source.
    * Executors write their partitions concurrently over independent
    * connections — the driver never funnels rows. `batchSize` maps to
    * JDBC addBatch chunking (the knob that matters against a real
    * RDBMS); `numPartitions` caps concurrent connections so a 1000-task
    * stage doesn't open 1000 sessions against one database.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite", batchSize: Int = 10000,
                numPartitions: Int = 8): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("numPartitions", numPartitions)
      .option("truncate", true) // overwrite keeps the DDL, empties rows
      .mode(mode)
      .save()

  /** JDBC source, single-partition — fine for dimension-sized tables
    * (the reference reads its config dims back the same way).
    */
  def readJdbc(url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()

  /** JDBC source, range-partitioned — the 100 TB shape for a big
    * RDBMS-resident fact table: `numPartitions` executors each issue
    * `WHERE partCol BETWEEN …` slices concurrently, so ingest
    * parallelism is bounded by the database, not by one cursor. Spark
    * pushes filters into the remote WHERE clause (JDBC V1 pushdown),
    * so a date-ranged read never ships the whole table.
    */
  def readJdbcPartitioned(url: String, table: String, partCol: String,
                          lower: Long, upper: Long,
                          numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  private def hadoopFs(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Right-to-be-forgotten: delete every row of `table` whose `keyCol`
    * appears in `keys`, returning the number of rows removed. The
    * delete is a broadcast anti-join rewrite — at warehouse scale pair
    * this with date partitioning so only partitions actually holding
    * the keys rewrite; here the single-dir test shape rewrites the
    * table. Crash-safe through [[replace]]: the kept rows are fully
    * staged before the swap, so a failure leaves the original table
    * intact.
    */
  def forget(table: String, keyCol: String, keys: DataFrame): Int = {
    val current = read(table)
    val before = current.count()
    val k = keys.select(col(keyCol)).distinct()
    replace(current.join(broadcast(k), Seq(keyCol), "left_anti"), table)
    (before - read(table).count()).toInt
  }

  // ---- staged writes -------------------------------------------------
  //
  // A rewrite never writes into the directory it replaces: `df` is
  // written whole to `<table>.staging`, then swapped in with two renames
  // (live → `<table>.old`, staging → live). Until the first rename the
  // live table is untouched, so a failed write — or a frame that reads
  // the very table it rewrites — needs no checkpoint to be safe; after
  // it, [[recoverStranded]] completes the swap.

  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Write `df` completely to the table's staging dir. A leftover
    * staging dir from an interrupted run is cleared first; anything
    * else at that path is not ours, so the write refuses it
    * (ErrorIfExists) rather than deleting it.
    */
  private def stage(df: DataFrame, table: String): Unit = {
    dropStaging(table)
    df.write.mode("errorifexists").parquet(stagingPath(table).toString)
  }

  private def dropStaging(table: String): Unit = {
    val (fs, _) = hadoopFs(path(table))
    val p = stagingPath(table)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
  }

  /** Swap the staged dir in: live → `.old`, staging → live, drop `.old`. */
  private def swapIn(table: String): Unit = {
    val (fs, live) = hadoopFs(path(table))
    val stagingP = stagingPath(table)
    val oldP = oldPath(table)
    fs.delete(oldP, true)
    if (fs.exists(live) && !fs.rename(live, oldP))
      throw new java.io.IOException(s"replace: cannot stage out $live")
    if (!fs.rename(stagingP, live)) {
      if (fs.exists(oldP)) fs.rename(oldP, live) // restore
      throw new java.io.IOException(s"replace: cannot swap in $stagingP")
    }
    fs.delete(oldP, true)
  }

  /** Append the staged files: move every data file (and partition dir)
    * of the staging dir into the live table — the whole dir when the
    * table does not exist yet. Part-file names carry the write's job
    * UUID, so they never collide with files already there.
    */
  private def appendStaged(table: String): Unit = {
    val (fs, live) = hadoopFs(path(table))
    val stagingP = stagingPath(table)
    def moveInto(from: org.apache.hadoop.fs.Path,
                 to: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(from).filter(isDataFile).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(to, st.getPath.getName)
        if (st.isDirectory && fs.exists(dst)) moveInto(st.getPath, dst)
        else if (!fs.rename(st.getPath, dst))
          throw new java.io.IOException(s"append: cannot move ${st.getPath} to $dst")
      }
    if (!fs.exists(live)) {
      if (!fs.rename(stagingP, live))
        throw new java.io.IOException(s"append: cannot move $stagingP to $live")
    } else {
      moveInto(stagingP, live)
      fs.delete(stagingP, true)
    }
  }

  /** S9, crash-safe — replace `table` with `df` by a staged write and a
    * rename swap. `df` may read `table` itself: the live files are
    * untouched until `df` is fully written.
    */
  def replace(df: DataFrame, table: String): Unit =
    commit(replace = Seq(table -> df))

  /** Commit several writes as one unit: every write is staged at the
    * same time (all but the first on a pooled thread that carries the
    * caller's Spark local properties — job group, scheduler pool, the
    * tracer's span — as Spark does for broadcasts), and only when all of
    * them have succeeded does the commit touch a live table: first the
    * `append` files are moved in, then the `replace` tables are swapped.
    * A failed write leaves every table as it was. The commit itself is
    * renames only; a crash inside it can land the appends without the
    * swaps (a re-run may append again), never the reverse.
    */
  def commit(replace: Seq[(String, DataFrame)] = Nil,
             append: Seq[(String, DataFrame)] = Nil): Unit = {
    val writes = replace ++ append
    require(writes.nonEmpty, "commit needs at least one write")
    require(writes.map(_._1).distinct.size == writes.size,
      "commit: each table at most once")
    writes.foreach { case (t, _) => recoverStranded(t) }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pending = writes.tail.map { case (t, df) =>
      org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(classic, Warehouse.stagingPool)(stage(df, t))
    }
    val outcomes = scala.util.Try(stage(writes.head._2, writes.head._1)) +:
      pending.map(f => scala.util.Try(f.get()))
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach { e =>
      writes.foreach { case (t, _) => dropStaging(t) }
      throw (e match {
        case x: java.util.concurrent.ExecutionException if x.getCause != null => x.getCause
        case x => x
      })
    }
    append.foreach { case (t, _) => appendStaged(t) }
    replace.foreach { case (t, _) => swapIn(t) }
  }

  /** Retention expiry: drop date partitions older than `keepFrom` from
    * a date-partitioned table (written via [[overwriteDatePartitions]]).
    * Deletes partition DIRECTORIES — no data rewrite, no scan; the
    * operation 100 TB retention jobs must be (a rewrite-based expiry
    * would read the whole table to delete a day). Unparsable partition
    * values (e.g. `__HIVE_DEFAULT_PARTITION__` from NULL dates) are
    * skipped, never fatal. Hadoop FileSystem API, so any warehouse
    * filesystem works, not just local disk. Returns the dropped
    * partition names.
    */
  def expirePartitions(table: String, dateCol: String,
                       keepFrom: java.sql.Date): Seq[String] = {
    val (fs, dir) = hadoopFs(path(table))
    if (!fs.exists(dir)) return Seq.empty
    val prefix = s"$dateCol="
    val dropped = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter { st =>
        val v = java.net.URLDecoder.decode(
          st.getPath.getName.stripPrefix(prefix), "UTF-8")
        scala.util.Try(java.sql.Date.valueOf(v))
          .toOption.exists(_.before(keepFrom))
      }
    dropped.foreach(st => fs.delete(st.getPath, true))
    dropped.map(_.getPath.getName)
  }

  // ---- versioned publish / time travel -------------------------------
  //
  // Poor-man's snapshot isolation for a parquet warehouse, the primitive
  // a corpus-governance layer (graft.ops.Versioning) composes with:
  // every publish writes an IMMUTABLE `v=NNNNN` directory and then swaps
  // a one-line `_CURRENT` pointer file. Readers resolve the pointer once
  // and then scan a directory no writer will ever touch again — so a
  // publish never disturbs an in-flight 100 TB read, rollback is a
  // pointer swap (zero data movement), time-travel reads are just
  // version-dir scans, and expiry is directory deletion (no rewrite).
  // Same single-writer assumption as [[forget]]; the only
  // non-atomic window is the delete+rename pointer swap. A reader that
  // finds no pointer first consults the surviving `_CURRENT.tmp` (a
  // crash inside the swap window leaves it holding the intended target
  // — which after a `rollbackTo` is NOT the newest version) and only
  // then falls back to the newest published version (a pristine table
  // or a pre-tmp crash).

  private def versionDir(table: String, v: Int) =
    new org.apache.hadoop.fs.Path(f"${path(table)}/v=$v%05d")
  private def pointerPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}/_CURRENT")

  /** All published version numbers, ascending. */
  def versions(table: String): Seq[Int] = {
    val (fs, dir) = hadoopFs(path(table))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toInt).toOption)
      .sorted
  }

  /** The pointer target; if the pointer is missing, the intended target
    * recovered from a surviving `_CURRENT.tmp` (crash inside the swap
    * window — after a rollback that target is an OLDER version, so
    * jumping to newest would silently undo the rollback); failing both,
    * the newest published version (pristine table / pre-tmp crash).
    */
  def currentVersion(table: String): Option[Int] = {
    val (fs, _) = hadoopFs(path(table))
    def readInt(p: org.apache.hadoop.fs.Path): Option[Int] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        scala.util.Try(s.toInt).toOption
      }
    val tmp = new org.apache.hadoop.fs.Path(s"${path(table)}/_CURRENT.tmp")
    readInt(pointerPath(table))
      .orElse(readInt(tmp).filter(versions(table).contains))
      .orElse(versions(table).lastOption)
  }

  /** Publish `df` as the next version and move the pointer to it.
    * Returns the new version number.
    */
  def publishVersion(df: DataFrame, table: String): Int = {
    val v = versions(table).lastOption.getOrElse(0) + 1
    df.write.mode("overwrite").parquet(versionDir(table, v).toString)
    setPointer(table, v)
    v
  }

  private def setPointer(table: String, v: Int): Unit = {
    val (fs, _) = hadoopFs(path(table))
    val tmp = new org.apache.hadoop.fs.Path(s"${path(table)}/_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(pointerPath(table), false)
    if (!fs.rename(tmp, pointerPath(table)))
      throw new java.io.IOException(
        s"publish: cannot move pointer for $table to v$v")
  }

  /** Time-travel read of a specific published version. */
  def readVersion(table: String, v: Int): DataFrame =
    Tables.parquet(spark, versionDir(table, v).toString)

  /** Read whatever the pointer currently targets. */
  def readCurrent(table: String): DataFrame =
    readVersion(table, currentVersion(table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no published version for $table")))

  /** Rollback = pointer swap to an existing version; data untouched. */
  def rollbackTo(table: String, v: Int): Unit = {
    require(versions(table).contains(v),
      s"rollbackTo: version $v of $table does not exist")
    setPointer(table, v)
  }

  /** Drop all but the newest `keepLast` versions (the pointer target is
    * always kept, wherever it points). Directory deletes only.
    */
  def expireVersions(table: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "expireVersions: keepLast must be >= 1")
    val vs = versions(table)
    val keep = vs.takeRight(keepLast).toSet ++ currentVersion(table)
    val drop = vs.filterNot(keep)
    val (fs, _) = hadoopFs(path(table))
    drop.foreach(v => fs.delete(versionDir(table, v), true))
    drop
  }
}

object Warehouse {
  /** Threads for [[Warehouse.commit]]'s concurrent staged writes:
    * daemon, created on demand and retired when idle.
    */
  private lazy val stagingPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "warehouse-stage")
      t.setDaemon(true)
      t
    }
}
