package graft.traffic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** The analyze half's shared rollup + QAQC (SURVEY.md §3.2 steps 1–4;
  * reference `modeling_node` at /root/reference/R/_analyze_data.R:98-305
  * and `data_comparison` at :308-387 — implementing the *intended*
  * semantics of the commented-out `aggregate()` at :2-30, recording the
  * reference's dead-call bug at :333 rather than reproducing it).
  */
object Rollup {

  /** A4 — detectors per node×config-interval
    * (R/_analyze_data.R:104-112).
    */
  def configNode(config: DataFrame): DataFrame =
    config.groupBy(col("NODE_NAME"), col("CORRIDOR_ROUTE"),
      col("START_DATE"), col("END_DATE"))
      .agg(count(col("DETECTOR_NAME")).as("DETECTOR_NUM"))

  /** A3 — two-level rollup detector→node at `unit` ("hour"|"day")
    * grain (R/_analyze_data.R:121-154): inner per detector×bucket, outer
    * per node×bucket with non-null counts.
    */
  def nodeAggregate(fact: DataFrame, unit: String): DataFrame = {
    val inner = fact
      .withColumn("START_DATETIME", date_trunc(unit, col("START_DATETIME")))
      .groupBy(col("DETECTOR_NAME"), col("NODE_NAME"), col("CORRIDOR_ROUTE"),
        col("START_DATETIME"))
      .agg(sum(col("VOLUME_SUM_IMPUTE")).as("__v"),
        sum(col("OCCUPANCY_SUM_IMPUTE")).as("__o"),
        avg(col("SPEED")).as("__s"))
    inner
      .groupBy(col("NODE_NAME"), col("START_DATETIME"), col("CORRIDOR_ROUTE"))
      .agg(
        sum(col("__v")).as("VOLUME_SUM_IMPUTE"),
        count(col("__v")).as("VOLUME_NUM"),
        sum(col("__o")).as("OCCUPANCY_SUM_IMPUTE"),
        count(col("__o")).as("OCCUPANCY_NUM"),
        avg(col("__s")).as("SPEED"),
        count(col("__s")).as("SPEED_NUM"))
  }

  /** J10 + A5 — attach DETECTOR_NUM by point-in-interval join to the
    * config intervals, then re-group (collapsing multiple matching
    * intervals by summing DETECTOR_NUM, R/_analyze_data.R:157-171).
    */
  def withDetectorNum(nodeAgg: DataFrame, cfgNode: DataFrame): DataFrame = {
    val joined = Joins.intervalJoin(
      nodeAgg, cfgNode.withColumnRenamed("CORRIDOR_ROUTE", "__cr"),
      Seq("NODE_NAME"),
      point = to_date(nodeAgg("START_DATETIME")),
      lo = cfgNode("START_DATE"), hi = cfgNode("END_DATE"))
      .drop("__cr", "START_DATE", "END_DATE")
    joined.groupBy(col("NODE_NAME"), col("START_DATETIME"), col("CORRIDOR_ROUTE"),
      col("VOLUME_SUM_IMPUTE"), col("VOLUME_NUM"),
      col("OCCUPANCY_SUM_IMPUTE"), col("OCCUPANCY_NUM"),
      col("SPEED"), col("SPEED_NUM"))
      .agg(sum(col("DETECTOR_NUM")).as("DETECTOR_NUM"))
  }

  /** QAQC gauntlet (R/_analyze_data.R:35-95). `scale` is 1 for hourly,
    * 24 for daily. Tests:
    *  1. all detectors reporting: VOLUME_NUM == DETECTOR_NUM;
    *  2. node has > 100 rows and median volume ≥ 40·scale;
    *  3. (modeling only) ≥ `minComplete` of expected rows in EVERY
    *     year of `years` in which the node has rows.
    *
    * Test 3 is two windows over the `NODE_NAME` partitions test 2
    * already uses: the per-(node, year) row count, then its per-node
    * minimum share — the same admission as semi-joining
    * [[graft.ops.Aggs.completeKeys]] back, without scanning and
    * aggregating the rollup a second time.
    */
  def qaqc(df: DataFrame, scale: Int, years: Seq[Int] = Nil,
           minComplete: Double = 0.75): DataFrame = {
    val t1 = df.where(col("VOLUME_NUM") === col("DETECTOR_NUM"))
    val t2 = Aggs.withGroupCountMedian(t1, Seq("NODE_NAME"), "VOLUME_SUM_IMPUTE")
      .where(col("n") > 100 && col("med") >= 40 * scale)
      .drop("n", "med")
    if (years.isEmpty) t2
    else {
      val expected = lit(365.0 * 24 / scale)
      val y = year(col("START_DATETIME"))
      // rows outside `years` get a NULL year: their own count group,
      // and a NULL share that min() skips
      val inYear = when(y.isin(years: _*), y)
      t2.withColumn("__y", inYear)
        .withColumn("__pct", when(col("__y").isNotNull,
          count(lit(1)).over(Window.partitionBy(col("NODE_NAME"), col("__y"))) / expected))
        .withColumn("__minpct", min(col("__pct")).over(Window.partitionBy(col("NODE_NAME"))))
        .where(col("__minpct") >= minComplete)
        .drop("__y", "__pct", "__minpct")
    }
  }
}
