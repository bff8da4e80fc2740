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
      val r = Scd2.replay(Seq(asOf -> snapshot), scdOptions)
      wh.replace(r.dim, dimTable)
    } else {
      val r = Scd2.merge(wh.read(dimTable), snapshot, asOf, scdOptions)
      wh.commit(replace = Seq(dimTable -> r.dim),
        append = Seq(logTable -> r.changelog))
    }
  }

  /** Backfill: fold every snapshot in `dir` (ordered by embedded date)
    * through the merge, then write final dimension + full changelog.
    */
  def backfill(spark: SparkSession, wh: Warehouse, dir: String): Unit = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".xml") || f.getName.endsWith(".xml.gz"))
      .sortBy(f => ConfigXml.dateFromPath(f.getName).toString)
    val snaps = files.toSeq.map { f =>
      ConfigXml.dateFromPath(f.getName).toString ->
        ConfigXml.readSnapshot(spark, f.getPath)
    }
    val r = Scd2.replay(snaps, scdOptions)
    wh.overwrite(r.dim, dimTable)
    wh.overwrite(r.changelog, logTable)
  }
}
