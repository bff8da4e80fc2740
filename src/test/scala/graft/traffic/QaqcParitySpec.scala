package graft.traffic

import graft.SparkSpec
import graft.ops.{Aggs, Joins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** QAQC test 3 as windows over the test-2 partitions must admit exactly
  * what the old composition — semi-joining `Aggs.completeKeys` of the
  * same rollup back — admitted, in one scan of the rollup.
  */
class QaqcParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The pre-window composition, kept as the reference. */
  private def oldQaqc(df: DataFrame, scale: Int, years: Seq[Int],
                      minComplete: Double = 0.75): DataFrame = {
    val t2 = Rollup.qaqc(df, scale)
    val inYears = t2.where(year(col("START_DATETIME")).isin(years: _*))
      .withColumn("__y", year(col("START_DATETIME")))
    val keep = Aggs.completeKeys(inYears, Seq("NODE_NAME"), "__y",
      lit(365.0 * 24 / scale), minComplete)
    Joins.semiFilter(t2, keep, Seq("NODE_NAME"))
  }

  /** A node-day rollup: `days(y)` consecutive days from Jan 1 of each
    * year y, volume `vol`, every detector reporting unless `broken`. */
  private def node(name: String, days: Map[Int, Int], vol: Long = 2000,
                   broken: Int = 0): Seq[(String, java.sql.Timestamp, String, Long, Long, Long)] =
    days.toSeq.flatMap { case (y, n) =>
      (0 until n).map { k =>
        val t = java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(y, 1, 1).plusDays(k.toLong).atStartOfDay())
        (name, t, "I-94", vol + k % 7, if (k < broken) 2L else 3L, 3L)
      }
    }

  private lazy val rollup: DataFrame = {
    val data =
      node("complete", Map(2019 -> 365, 2020 -> 366)) ++
      node("half_2020", Map(2019 -> 365, 2020 -> 183)) ++
      node("no_2020_rows", Map(2019 -> 300)) ++          // absent in one year
      node("outside_years", Map(2018 -> 365)) ++
      node("low_volume", Map(2019 -> 365, 2020 -> 366), vol = 10) ++
      node("at_threshold", Map(2019 -> 274, 2020 -> 280)) ++ // 274/365 ≥ .75
      node("below_threshold", Map(2019 -> 273, 2020 -> 365)) ++ // 273/365 < .75
      node("test1_gaps", Map(2019 -> 365, 2020 -> 366), broken = 100) ++
      node("extra_year", Map(2018 -> 10, 2019 -> 365, 2020 -> 300))
    val path = Files.createTempDirectory("qaqc_rollup").resolve("t").toString
    data.toDF("NODE_NAME", "START_DATETIME", "CORRIDOR_ROUTE",
      "VOLUME_SUM_IMPUTE", "VOLUME_NUM", "DETECTOR_NUM")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  test("test 3 as windows admits exactly what the completeKeys semi-join admitted") {
    val years = Seq(2019, 2020)
    val now = Rollup.qaqc(rollup, scale = 24, years = years)
    assert(now.columns.toSeq == rollup.columns.toSeq)
    assert(rows(now) == rows(oldQaqc(rollup, 24, years)))
    assert(now.select($"NODE_NAME").distinct().as[String].collect().toSet ==
      Set("complete", "no_2020_rows", "at_threshold", "extra_year"))
    // other thresholds and a single year move the boundary the same way
    Seq(0.5, 0.8, 0.0).foreach { m =>
      assert(rows(Rollup.qaqc(rollup, 24, years, m)) == rows(oldQaqc(rollup, 24, years, m)), m)
    }
    assert(rows(Rollup.qaqc(rollup, 24, Seq(2020))) == rows(oldQaqc(rollup, 24, Seq(2020))))
  }

  test("test 3 scans the rollup once") {
    def scans(df: DataFrame): Int = {
      df.collect()
      collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size
    }
    val years = Seq(2019, 2020)
    assert(scans(Rollup.qaqc(rollup, scale = 24, years = years)) == 1)
    // the semi-join composition it replaces read the rollup twice
    assert(scans(oldQaqc(rollup, 24, years)) == 2)
  }
}
