package graft.traffic

import org.apache.spark.sql.SparkSession
import graft.core.Warehouse
import graft.ops.Scd2
import graft.sources.ConfigXml

/** §3.4 — the config half's orchestration
  * (reference /root/reference/R/3) Update-Configuration-Nightly.R:10-31
  * nightly, and R/1) Get-Historical-Configuration-Data-RunOnce.R:20-53
  * backfill). Parse snapshot(s) → SCD-2 merge → rewrite dimension,
  * append changelog, committed together. The reference's
  * per-changed-cell UPDATE round trips (its second N+1 pattern) become
  * one set-based merge.
  */
object ConfigNightly {

  val dimTable = "RTMC_CONFIG_HISTORICAL"
  val logTable = "RTMC_CONFIG_CHANGELOG"

  def scdOptions: Scd2.Options = Scd2.Options(
    key = "DETECTOR_NAME",
    attrCols = ConfigXml.schema.fieldNames.toSeq
      .filterNot(Seq("DETECTOR_NAME", "LAST_CHANGE_DATE").contains),
    abandonedCol = Some("DETECTOR_ABANDONED"),
    lastChangeCol = Some("LAST_CHANGE_DATE"))

  /** Nightly: merge one dated snapshot into the warehouse dimension and
    * log the night's changes, as one staged commit
    * ([[Warehouse.commit]]). The merged dimension and the changelog are
    * written at the same time to staging dirs; only when both writes
    * have succeeded are the changelog's files moved into
    * `RTMC_CONFIG_CHANGELOG` and the dimension swapped in by rename. The
    * merge reads the dimension it rewrites, which is safe without a
    * checkpoint because the live files stay untouched until the swap.
    * If either write fails, both tables stay as they were, so a re-run
    * of the night logs its changes exactly once. Bootstraps (S12 gate)
    * if the dimension doesn't exist yet.
    */
  def run(spark: SparkSession, wh: Warehouse, snapshotPath: String): Unit = {
    val asOf = ConfigXml.dateFromPath(snapshotPath).toString
    val snapshot = ConfigXml.readSnapshot(spark, snapshotPath)
    if (!wh.exists(dimTable)) {
      val r = Scd2.history(snapshot, "LAST_CHANGE_DATE", Seq(asOf), scdOptions)
      wh.replace(r.dim, dimTable)
    } else {
      val r = Scd2.merge(wh.read(dimTable), snapshot, asOf, scdOptions)
      wh.commit(replace = Seq(dimTable -> r.dim),
        append = Seq(logTable -> r.changelog))
    }
  }

  /** Backfill: derive the dimension and the full changelog from every
    * `.xml`/`.xml.gz` snapshot listed in `dir` in one pass
    * ([[Scd2.history]]). The listed files are parsed by one
    * executor-parallel scan, and the listing's dates are the snapshot
    * dates, so a snapshot without detector rows still closes every open
    * key. Both tables are replaced as one staged commit: if either
    * write fails, both stay as they were.
    */
  def backfill(spark: SparkSession, wh: Warehouse, dir: String): Unit = {
    val listed = Option(new java.io.File(dir).listFiles()).getOrElse(
      throw new IllegalArgumentException(s"backfill: $dir is not a readable directory"))
    val files = listed.toSeq.filter(f => f.isFile &&
      (f.getName.endsWith(".xml") || f.getName.endsWith(".xml.gz")))
    require(files.nonEmpty, s"backfill: no .xml or .xml.gz snapshot in $dir")
    val dates = files.map(f => ConfigXml.dateFromPath(f.getName).toString)
    val snapshots = ConfigXml.readSnapshots(spark, files.map(_.getPath).mkString(","))
    val r = Scd2.history(snapshots, "LAST_CHANGE_DATE", dates, scdOptions)
    wh.commit(replace = Seq(dimTable -> r.dim, logTable -> r.changelog))
  }
}
