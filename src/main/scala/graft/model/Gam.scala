package graft.model

import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's per-node GAM stage re-expressed Spark-first
  * (SURVEY.md §2.9, M1–M4; reference /root/reference/R/_analyze_data.R:206-276):
  *
  *  - M1 features: time-of-day seconds (itime), weekday (Sun-first
  *    factor), day-of-year — computed here from epoch seconds in UTC.
  *  - M2 hourly model: volume ~ s(itime, by=weekday) + s(yday) + weekday,
  *    log-link count family (NB2 via method-of-moments alpha).
  *  - M3 daily model: volume ~ s(yday, k=12) + weekday.
  *  - M4 scoring: response-scale prediction, rounded, over a caller-built
  *    timestamp grid.
  *
  * Distribution: per-group data is small (≤ ~17.5k rows hourly), so each
  * group fits locally inside `Dataset.groupByKey(...).flatMapGroups` —
  * the idiomatic typed group-map; groups parallelize across the cluster
  * and nothing ever collects to the driver. Skewed group sizes are
  * bounded by the calendar (2 years of hours), so no salting is needed.
  *
  * Identifiability: B-spline bases sum to 1, collinear with the
  * intercept — the first basis column of every smooth is dropped; a
  * small ridge in the solver handles any residual collinearity.
  */
object Gam {

  final case class Config(
      hourly: Boolean,
      kYday: Int = 8,
      kItime: Int = 8,
      negBin: Boolean = true,
      minRows: Int = 50,
      // smoothing parameter for the second-difference penalty on each
      // smooth's coefficients; used as-is when `lambdaGrid` is empty
      lambda: Double = 1.0,
      // non-empty → per-group GCV selection over this grid (mgcv picks
      // λ by GCV, R/_analyze_data.R:206-225; the grid search is the
      // closed-form-free stand-in), closing SURVEY.md §7 risk 1
      lambdaGrid: Seq[Double] = Nil)

  final case class TrainRow(group: String, carry: String, epochSec: Long, y: Double)
  final case class Prediction(group: String, carry: String, epochSec: Long, yhat: Long)

  private[model] final case class Feats(itime: Int, weekday: Int, yday: Int)

  private[model] def feats(epochSec: Long): Feats = {
    val dt = Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
    Feats(dt.toLocalTime.toSecondOfDay, dt.getDayOfWeek.getValue % 7, // Sun=0..Sat=6
      dt.getDayOfYear)
  }

  /** Design row. Layout: [1, wd1..wd6, ydaySpline(drop first),
    * hourly-only: per-weekday itimeSpline(drop first) × 7].
    */
  private[model] def designRow(f: Feats, cfg: Config,
                               ydaySp: Spline, itimeSp: Spline): Array[Double] = {
    val ydayB = ydaySp.basis(f.yday.toDouble)
    val nY = ydaySp.size - 1
    val nI = if (cfg.hourly) itimeSp.size - 1 else 0
    val p = 1 + 6 + nY + (if (cfg.hourly) 7 * nI else 0)
    val out = new Array[Double](p)
    out(0) = 1.0
    if (f.weekday >= 1) out(f.weekday) = 1.0 // wd 1..6 (Sunday = reference)
    var j = 0
    while (j < nY) { out(1 + 6 + j) = ydayB(j + 1); j += 1 }
    if (cfg.hourly) {
      val itimeB = itimeSp.basis(f.itime.toDouble)
      val base = 1 + 6 + nY + f.weekday * nI
      j = 0
      while (j < nI) { out(base + j) = itimeB(j + 1); j += 1 }
    }
    out
  }

  /** The order a group's rows enter the design in. */
  private val rowOrder: Ordering[TrainRow] = Ordering.by[TrainRow, (Long, String, Double)](
    r => (r.epochSec, r.carry, r.y))(
    Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.Double.TotalOrdering))

  private def splines(cfg: Config): (Spline, Spline) =
    (Spline.uniform(1, 366, cfg.kYday), Spline.uniform(0, 86400, cfg.kItime))

  /** Fit one group's rows. They are sorted by (epochSec, carry, y)
    * first: `Glm`'s X'WX and X'Wz are floating-point sums in row order,
    * so without the sort β could move in its last bits with the order
    * the shuffle delivered the rows in.
    */
  private[model] def fitGroup(unordered: Seq[TrainRow], cfg: Config): Glm.Fit = {
    val rows = unordered.sorted(rowOrder)
    val (ydaySp, itimeSp) = splines(cfg)
    val x = rows.map(r => designRow(feats(r.epochSec), cfg, ydaySp, itimeSp)).toArray
    val y = rows.map(_.y).toArray
    // penalty blocks mirror the design layout: yday smooth, then the 7
    // per-weekday itime smooths (hourly only)
    val nY = ydaySp.size - 1
    val nI = if (cfg.hourly) itimeSp.size - 1 else 0
    val blocks = Seq((1 + 6, nY)) ++
      (if (cfg.hourly) (0 until 7).map(w => (1 + 6 + nY + w * nI, nI)) else Nil)
    if (cfg.lambdaGrid.nonEmpty)
      Glm.fitGcv(x, y, cfg.negBin, blocks, cfg.lambdaGrid).fit
    else
      Glm.fit(x, y, cfg.negBin,
        penalty = Glm.diffPenalty(x(0).length, blocks, cfg.lambda))
  }

  /** Fit one group and score the grid. Pure function — unit-testable
    * without Spark.
    */
  private[model] def fitScoreGroup(rows: Seq[TrainRow], grid: Seq[Long],
                                   cfg: Config): Iterator[Prediction] = {
    if (rows.size < cfg.minRows) return Iterator.empty // QAQC floor
    // the earliest row's carry, not whichever row the shuffle put first
    val first = rows.min(rowOrder)
    val (group, carry) = (first.group, first.carry)
    val fit = fitGroup(rows, cfg)
    val (ydaySp, itimeSp) = splines(cfg)
    grid.iterator.map { t =>
      val yhat = Glm.predict(designRow(feats(t), cfg, ydaySp, itimeSp), fit.beta)
      Prediction(group, carry, t, math.round(yhat))
    }
  }

  /** Distributed fit-and-score: input DataFrame with (groupCol,
    * carryCol, tsCol timestamp, valueCol numeric); output one row per
    * (group, grid timestamp) with the rounded response-scale prediction
    * (`VOLUMN_PREDICTION` — the reference's load-bearing typo is applied
    * by the traffic-facing caller, not here).
    */
  def fitPredict(df: DataFrame, groupCol: String, carryCol: String,
                 tsCol: String, valueCol: String,
                 gridStart: String, gridEnd: String, stepSec: Long,
                 cfg: Config): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t0 = java.time.LocalDateTime.parse(gridStart.replace(' ', 'T'))
      .toEpochSecond(ZoneOffset.UTC)
    val t1 = java.time.LocalDateTime.parse(gridEnd.replace(' ', 'T'))
      .toEpochSecond(ZoneOffset.UTC)
    val grid = (t0 to t1 by stepSec).toSeq

    val typed: Dataset[TrainRow] = df.select(
      col(groupCol).cast("string"),
      coalesce(col(carryCol).cast("string"), lit("")),
      unix_timestamp(col(tsCol)),
      col(valueCol).cast("double"))
      .na.drop()
      .as[(String, String, Long, Double)]
      .map { case (g, c, t, v) => TrainRow(g, c, t, v) }

    typed.groupByKey(_.group)
      .flatMapGroups((_, it) => fitScoreGroup(it.toSeq, grid, cfg))
      .toDF()
      .select(col("group").as(groupCol), col("carry").as(carryCol),
        timestamp_seconds(col("epochSec")).as("PREDICT_TIME"),
        col("yhat").cast("int").as("PREDICTION"))
  }
}
