package graft.traffic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/** The pull half of the pipeline (SURVEY.md §3.1; reference `GetSensor`
  * at /root/reference/R/_pull_data.R:368-719): raw 30-second readings →
  * clean → 15-minute aggregate → impute → `RTMC_15MIN` rows.
  *
  * The reference runs this sensor-at-a-time across 5 forked R workers
  * with per-sensor day−7/day−14 DB lookups (an N+1 pattern). Here the
  * whole flow is ONE declarative DAG with ONE shuffle: the raw readings
  * hash-partition on `sensor` once, and every later step (dedup, 15-min
  * aggregate, sensor-day windows, the history window) clusters on a
  * superset of that key, so Catalyst inserts no further Exchange. The
  * history fill is one window over each sensor's 15-minute slot of the
  * day instead of 2×N point queries. At 100 TB the input is
  * date-partitioned parquet and a night reads only the days it writes
  * plus their day−7/day−14 history (`Nightly.run`).
  */
object SensorIngest {

  /** Steps 3–4 of §3.1: scrub + 15-min aggregation + derived columns.
    * `config` is the detector dimension (DETECTOR_NAME, DETECTOR_FIELD,
    * NODE_NAME, CORRIDOR_ROUTE) — broadcast, it is bounded.
    */
  def aggregate15Min(raw: DataFrame, config: DataFrame): DataFrame = {
    // P11 dedup + P10 impossible-value scrub, on the pipeline's only
    // shuffle: every step below keys on a superset of `sensor`
    val scrubbed = Tidy.replaceImpossible(
      raw.repartition(col("sensor")).dropDuplicates(Seq("sensor", "date", "hour", "min")),
      Map("volume" -> (0.0, Schemas.maxVolumePer30s),
        "occupancy" -> (0.0, Schemas.maxOccupancyPer30s)))

    // D1 compose 30-sec timestamp; D2 floor to 15 min (A1)
    val withTs = scrubbed.withColumn("ts",
      TimeOps.composeTimestamp(col("date"), col("hour"), col("min")))

    val agg = Aggs.timeBucketAgg(withTs, "ts", 900, Seq("sensor"), Seq(
      Numeric.roundAway(Aggs.sumNaRm(col("volume"))).cast("int").as("VOLUME_SUM"),
      Aggs.pctNull(col("volume")).as("VOLUME_PCT_NULL"),
      Numeric.roundAway(Aggs.sumNaRm(col("occupancy"))).cast("int").as("OCCUPANCY_SUM"),
      Aggs.pctNull(col("occupancy")).as("OCCUPANCY_PCT_NULL")),
      bucketName = "START_DATETIME")

    // A2: occupancy share of scan capacity; P12 gated speed via config
    // field length (join replaces the reference's scalar closure)
    val withCfg = agg.join(broadcast(config.select(
      col("DETECTOR_NAME").as("sensor"), col("DETECTOR_FIELD"),
      col("NODE_NAME"), col("CORRIDOR_ROUTE"))), Seq("sensor"), "left")

    withCfg
      .withColumn("occ_pct", col("OCCUPANCY_SUM") / lit(Schemas.scansPer15Min))
      .withColumn("SPEED",
        Tidy.speed(col("VOLUME_SUM"), col("occ_pct"), col("DETECTOR_FIELD")))
      // P16: keep sensor-days with any data; P17: valid timestamp
      .withColumn("__day_any",
        max(col("VOLUME_PCT_NULL") < 100 || col("OCCUPANCY_PCT_NULL") < 100)
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("sensor"), to_date(col("START_DATETIME")))))
      .where(col("__day_any") && col("START_DATETIME").isNotNull)
      .drop("__day_any", "occ_pct", "DETECTOR_FIELD")
      .withColumnRenamed("sensor", "DETECTOR_NAME")
      .withColumn("START_DATE", to_date(col("START_DATETIME")))
  }

  /** Steps 4–5 of §3.1: the imputation chain on the 15-min frame.
    *  1. P13 scale-up: observed sum ÷ non-null share.
    *  2. W1/W2 centered rolling mean (width 5) over the sensor's slots,
    *     filling slots the scale-up left NULL.
    *  3. J9/P14 history fill: NULL-skipping mean of the same 15-min slot
    *     7 and 14 days earlier (one window per sensor and slot of day,
    *     exact because (DETECTOR_NAME, START_DATETIME) is unique after
    *     the 15-min group-by).
    */
  def impute(agg15: DataFrame): DataFrame = {
    val scaled = agg15
      .withColumn("VOLUME_SUM_IMPUTE",
        Tidy.scaleUpImpute(col("VOLUME_SUM"), col("VOLUME_PCT_NULL")))
      .withColumn("OCCUPANCY_SUM_IMPUTE",
        Tidy.scaleUpImpute(col("OCCUPANCY_SUM"), col("OCCUPANCY_PCT_NULL")))

    // W1: rolling mean within the sensor-day (96 slots), edge slots NULL
    val rolled = Seq("VOLUME_SUM_IMPUTE", "OCCUPANCY_SUM_IMPUTE")
      .foldLeft(scaled) { (df, c) =>
        val withRoll = Windows.centeredRollingMean(
          df, Seq("DETECTOR_NAME", "START_DATE"), "START_DATETIME", c, 2, s"__roll_$c")
        Windows.fillFrom(withRoll, c, s"__roll_$c", c, roundTo = Some(0))
          .drop(s"__roll_$c")
      }

    // J9: attach day−7 and day−14 values of the same slot, then P14
    val hist = Windows.periodicLag(rolled, Seq("DETECTOR_NAME"), "START_DATETIME",
      86400, Seq(7, 14), Seq("VOLUME_SUM_IMPUTE", "OCCUPANCY_SUM_IMPUTE"))

    hist
      .withColumn("VOLUME_SUM_IMPUTE", coalesce(col("VOLUME_SUM_IMPUTE"),
        Numeric.roundAway(Tidy.rowMean2(col("VOLUME_SUM_IMPUTE_lag7"), col("VOLUME_SUM_IMPUTE_lag14")))))
      .withColumn("OCCUPANCY_SUM_IMPUTE", coalesce(col("OCCUPANCY_SUM_IMPUTE"),
        Numeric.roundAway(Tidy.rowMean2(col("OCCUPANCY_SUM_IMPUTE_lag7"), col("OCCUPANCY_SUM_IMPUTE_lag14")))))
      .drop("VOLUME_SUM_IMPUTE_lag7", "VOLUME_SUM_IMPUTE_lag14",
        "OCCUPANCY_SUM_IMPUTE_lag7", "OCCUPANCY_SUM_IMPUTE_lag14")
  }

  /** Full pull pipeline: raw 30-sec + config → RTMC_15MIN-shaped frame
    * (SURVEY.md §1.1 contract; fixture FIXTURES.md A5).
    */
  def build(raw: DataFrame, config: DataFrame): DataFrame = {
    val out = impute(aggregate15Min(raw, config))
    out.select(
      col("DETECTOR_NAME"), col("START_DATETIME"), col("START_DATE"),
      col("VOLUME_PCT_NULL"), col("VOLUME_SUM"),
      col("VOLUME_SUM_IMPUTE").cast("int"),
      col("OCCUPANCY_PCT_NULL"), col("OCCUPANCY_SUM"),
      col("OCCUPANCY_SUM_IMPUTE").cast("int"),
      col("SPEED"), col("NODE_NAME"), col("CORRIDOR_ROUTE"))
  }
}
