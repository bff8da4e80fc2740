package graft.traffic

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Warehouse

/** §2.11/§3.1 orchestration — the nightly incremental driver
  * (reference /root/reference/R/4) Update-SensorData-Nightly.R:7-18 and
  * Run_Pipline_PullData.R): watermark → date-range plan → per-date
  * pipeline → idempotent partition overwrite.
  *
  * Differences from the reference, by design:
  *  - no day-at-a-time driver loop: the whole date range is ONE job;
  *    Spark parallelizes across (sensor, date) partitions;
  *  - re-runs are idempotent (dynamic partition overwrite), so a missed
  *    night self-heals on the next run — the reference's acknowledged
  *    gap (its README.md:36-37: nightly append, 3-day lag, missed days
  *    unhandled);
  *  - `asOf` is a parameter, not Sys.Date(), for deterministic tests
  *    (SURVEY.md D9).
  */
object Nightly {

  final case class PlanResult(dates: Seq[java.sql.Date])

  /** Plan the dates to (re)process: watermark+1 … asOf−lagDays
    * (3-day upstream availability lag, reference
    * R/4) Update-SensorData-Nightly.R:11). The watermark comes from the
    * fact's `START_DATE=` partition listing ([[Warehouse.watermark]]),
    * so planning runs no Spark job.
    */
  def planDates(wh: Warehouse, factTable: String, asOf: String,
                lagDays: Int = 3, bootstrapDays: Int = 7): Seq[String] = {
    val hi = java.time.LocalDate.parse(asOf).minusDays(lagDays.toLong)
    val lo = wh.watermark(factTable, "START_DATE") match {
      case Some(d) => d.toLocalDate.plusDays(1)
      case None    => hi.minusDays(bootstrapDays.toLong - 1)
    }
    Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi))
      .map(_.toString).toSeq
  }

  /** One nightly run: read the raw 30-sec source for the planned dates
    * and the day−7/day−14 history of each (partition-pruned), run the
    * pull pipeline, overwrite exactly the planned date partitions of
    * RTMC_15MIN.
    */
  def run(spark: SparkSession, wh: Warehouse, raw: DataFrame,
          config: DataFrame, asOf: String, lagDays: Int = 3,
          factTable: String = "RTMC_15MIN"): PlanResult = {
    val dates = planDates(wh, factTable, asOf, lagDays)
    if (dates.isEmpty) return PlanResult(Nil)
    // J9's fill reads the same slot 7 and 14 days before each planned
    // date; the dedup, buckets, rolling mean and P16's day filter are
    // all local to one sensor-day, so no other day is needed
    val needed = dates.map(java.time.LocalDate.parse)
      .flatMap(d => Seq(d, d.minusDays(7), d.minusDays(14))).distinct.sortBy(_.toEpochDay)
    val slice = raw.where(col("date").isin(
      needed.map(d => lit(java.sql.Date.valueOf(d))): _*))
    val fact = SensorIngest.build(slice, config)
      .where(col("START_DATE").between(lit(dates.head), lit(dates.last)))
    // sink cast: NUMERIC(4,1) columns land as DecimalType(4,1) per the
    // §1.1 DDL (exact — the pipeline already rounded to 1 dp)
    wh.overwriteDatePartitions(Schemas.conform(fact, Schemas.rtmc15MinSink),
      factTable, "START_DATE")
    PlanResult(dates.map(java.sql.Date.valueOf))
  }
}
