package graft.traffic

import graft.SparkSpec
import graft.core.Warehouse
import org.apache.spark.sql.functions._
import java.nio.file.Files

class NightlySpec extends SparkSpec {
  import spark.implicits._

  private def mkRaw(days: Range): org.apache.spark.sql.DataFrame =
    (for {
      day <- days
      slot <- 0 until 2880 by 30 // thin fixture: one reading/15-min slot
    } yield ("100", java.sql.Date.valueOf(f"2020-02-$day%02d"),
      slot / 120, (slot % 120) / 2.0, Some(5), Some(300)))
      .toDF("sensor", "date", "hour", "min", "volume", "occupancy")

  private val config = Seq(("100", 500.0, "N1", "I-94"))
    .toDF("DETECTOR_NAME", "DETECTOR_FIELD", "NODE_NAME", "CORRIDOR_ROUTE")

  test("bootstrap → incremental → idempotent re-run (S8/S12/A9/D9)") {
    val root = Files.createTempDirectory("wh").toString
    val wh = new Warehouse(spark, root)

    // bootstrap: no table → plan trailing 7 days ending asOf−3
    val r1 = Nightly.run(spark, wh, mkRaw(1 to 28), config, "2020-02-15")
    assert(r1.dates.map(_.toString) == (6 to 12).map(d => f"2020-02-$d%02d"))
    assert(wh.read("RTMC_15MIN").count() == 7 * 96)

    // incremental: watermark Feb 12 → plan 13..17 for asOf Feb 20
    val r2 = Nightly.run(spark, wh, mkRaw(1 to 28), config, "2020-02-20")
    assert(r2.dates.map(_.toString) == (13 to 17).map(d => f"2020-02-$d%02d"))
    assert(wh.read("RTMC_15MIN").count() == 12 * 96)

    // nothing new: planning window empty → no-op
    val r3 = Nightly.run(spark, wh, mkRaw(1 to 28), config, "2020-02-20")
    assert(r3.dates.isEmpty)

    // idempotent replay of an already-written window: same row count,
    // partitions replaced not duplicated
    val whReplay = new Warehouse(spark, root)
    val fact = SensorIngest.build(
      mkRaw(1 to 17).where($"date" >= "2020-02-13"), config)
      .where($"START_DATE".between("2020-02-13", "2020-02-17"))
    whReplay.overwriteDatePartitions(
      Schemas.conform(fact, Schemas.rtmc15MinSink), "RTMC_15MIN", "START_DATE")
    assert(wh.read("RTMC_15MIN").count() == 12 * 96)
  }

  // date-partitioned like the nightly source, so the read is pruned
  private lazy val edgeRaw = {
    val dir = Files.createTempDirectory("raw").resolve("raw").toString
    EdgeRaw(spark).write.partitionBy("date").parquet(dir)
    spark.read.parquet(dir)
  }

  /** A night planned over `nDays` dates from `first` writes exactly the
    * rows a build over the whole `[first−14, last]` slice gives them.
    */
  private def assertNightParity(first: String, nDays: Int): Unit = {
    val cfg = EdgeRaw.config(spark)
    val lo = java.time.LocalDate.parse(first)
    val hi = lo.plusDays(nDays - 1L)
    def fullSlice(from: java.time.LocalDate, to: java.time.LocalDate) =
      Schemas.conform(SensorIngest.build(edgeRaw.where($"date".between(
        from.minusDays(14).toString, to.toString)), cfg), Schemas.rtmc15MinSink)
        .where($"START_DATE".between(from.toString, to.toString))
    val wh = new Warehouse(spark, Files.createTempDirectory("wh").toString)
    // watermark on the day before `first`: the night plans first..hi
    val mark = lo.minusDays(1)
    wh.overwriteDatePartitions(fullSlice(mark, mark), "RTMC_15MIN", "START_DATE")
    val r = Nightly.run(spark, wh, edgeRaw, cfg, hi.plusDays(3).toString)
    assert(r.dates.map(_.toString) == (0 until nDays).map(lo.plusDays(_).toString))
    val cols = Schemas.rtmc15MinSink.fieldNames.toSeq.map(col)
    val written = wh.read("RTMC_15MIN")
      .where($"START_DATE".between(lo.toString, hi.toString)).select(cols: _*)
    val expected = fullSlice(lo, hi).select(cols: _*)
    assert(written.count() > 0)
    assert(rows(written) == rows(expected))
  }

  test("1-day night reads only its day and day−7/−14, same rows as the full slice") {
    assertNightParity("2020-01-22", 1)
  }

  test("5-day night reads only its days and their day−7/−14, same rows as the full slice") {
    assertNightParity("2020-01-19", 5)
  }
}
