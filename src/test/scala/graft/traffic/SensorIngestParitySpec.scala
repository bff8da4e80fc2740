package graft.traffic

import graft.SparkSpec
import graft.ops.{Joins, Numeric, Tidy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

/** The pull pipeline's sensor-clustered pass against the composition it
  * replaced, on the FIXTURES A1 edge cases ([[EdgeRaw]]).
  */
class SensorIngestParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val raw = EdgeRaw(spark)
  private lazy val config = EdgeRaw.config(spark)
  private lazy val agg15 = SensorIngest.aggregate15Min(raw, config)

  private val values = Seq("VOLUME_SUM_IMPUTE", "OCCUPANCY_SUM_IMPUTE")

  /** The history fill as two self-equi-joins on (DETECTOR_NAME,
    * START_DATETIME) shifted by 7 and 14 days, then P14's NULL-skipping
    * mean — the reference for `SensorIngest.impute`'s window. Returns
    * the rolled frame with the attached `_h7`/`_h14` columns too.
    */
  private def joinImpute(agg: DataFrame): (DataFrame, DataFrame) = {
    val scaled = agg
      .withColumn("VOLUME_SUM_IMPUTE",
        Tidy.scaleUpImpute($"VOLUME_SUM", $"VOLUME_PCT_NULL"))
      .withColumn("OCCUPANCY_SUM_IMPUTE",
        Tidy.scaleUpImpute($"OCCUPANCY_SUM", $"OCCUPANCY_PCT_NULL"))
    val rolled = values.foldLeft(scaled) { (df, c) =>
      val withRoll = graft.ops.Windows.centeredRollingMean(
        df, Seq("DETECTOR_NAME", "START_DATE"), "START_DATETIME", c, 2, s"__roll_$c")
      graft.ops.Windows.fillFrom(withRoll, c, s"__roll_$c", c, roundTo = Some(0))
        .drop(s"__roll_$c")
    }
    val h7 = Joins.lagJoin(rolled, Seq("DETECTOR_NAME"), "START_DATETIME",
      7L * 86400, values, "_h7")
    val h14 = Joins.lagJoin(h7, Seq("DETECTOR_NAME"), "START_DATETIME",
      14L * 86400, values, "_h14")
    val out = values.foldLeft(h14) { (df, c) =>
      df.withColumn(c, coalesce(col(c),
        Numeric.roundAway(Tidy.rowMean2(col(c + "_h7"), col(c + "_h14")))))
    }.drop(values.flatMap(c => Seq(c + "_h7", c + "_h14")): _*)
    (h14, out)
  }

  test("history window equals the two lag self-joins row for row (J9/P14)") {
    val (attached, expected) = joinImpute(agg15)
    val got = SensorIngest.impute(agg15)
    val cols = got.columns.toSeq.map(col)
    assert(rows(got.select(cols: _*)) == rows(expected.select(cols: _*)))

    // the fixture reaches every branch of the fill: a NULL slot that
    // finds both history days, only one (either side) and none
    val open = attached.where($"VOLUME_SUM_IMPUTE".isNull)
    def n(c: org.apache.spark.sql.Column) = open.where(c).count()
    val (h7, h14) = ($"VOLUME_SUM_IMPUTE_h7".isNotNull, $"VOLUME_SUM_IMPUTE_h14".isNotNull)
    assert(n(h7 && h14) > 0)
    assert(n(h7 && !h14) > 0)
    assert(n(!h7 && h14) > 0)
    assert(n(!h7 && !h14) > 0)
  }

  test("build runs on one shuffle, on sensor, with no shuffled join") {
    val df = SensorIngest.build(raw, config)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one shuffle:\n$plan")
    shuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "sensor")
      case p => fail(s"shuffle is not hash-partitioned on sensor: $p")
    }
    // the only join left is the broadcast lookup of the bounded detector
    // dimension; the history fill joins nothing
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(joins.size == 1 && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected only the config broadcast join:\n$plan")
  }
}
