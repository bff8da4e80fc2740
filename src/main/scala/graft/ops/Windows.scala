package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered/window combinators (SURVEY.md §2.6, W1–W3). */
object Windows {

  /** W1 — centered rolling mean of width `2k+1` rows per key, NULL when
    * the window is incomplete — reproducing data.table
    * `frollapply(x, 5, mean, align="center", na.rm=TRUE)` edge-NA
    * semantics (R/_pull_data.R:486-502): the first/last k slots get NULL,
    * and NULLs inside a full window are skipped (mean of the non-null).
    *
    * `count(lit(1))` counts rows in frame (guard for full window);
    * `avg` already skips NULL values inside the frame.
    */
  def centeredRollingMean(df: DataFrame, keys: Seq[String], orderCol: String,
                          valueCol: String, k: Int, out: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(-k, k)
    df.withColumn(out,
      when(count(lit(1)).over(w) === (2 * k + 1), avg(col(valueCol)).over(w)))
  }

  /** W2 — fill NULLs in `valueCol` from `fillCol` (rolling-mean impute,
    * R/_pull_data.R:497-502), with optional rounding. The rounding
    * engine-parity is an explicit parameter (Numeric parity policy);
    * the default is R parity because the operator reproduces
    * data.table's `round()` (banker's) on the imputed mean.
    */
  def fillFrom(df: DataFrame, valueCol: String, fillCol: String,
               out: String, roundTo: Option[Int] = None,
               parity: Numeric.Parity = Numeric.RParity): DataFrame = {
    val filled = coalesce(col(valueCol), roundTo match {
      case Some(d) => parity.round(col(fillCol), d)
      case None    => col(fillCol)
    })
    df.withColumn(out, filled)
  }

  /** J9 as one window: for each lag `l` in `lags`, attach every
    * `valueCols` column's value from the row exactly `l × periodSec`
    * seconds earlier on the same keys, or NULL when there is no such row
    * (day−7/day−14 history fill, R/_pull_data.R:564-575), as column
    * `<valueCol>_lag<l>`.
    *
    * Rows partition by (keys, epoch mod period) — the same slot of the
    * period — and order by epoch microseconds, so each lag is a
    * `rangeBetween(-l·period, -l·period)` frame holding one row or none.
    * When (keys, tsCol) is unique this equals one [[Joins.lagJoin]] per
    * lag, without the self-joins: the window clusters on a superset of
    * `keys`, so input already partitioned on them adds no shuffle. NULL
    * keys never match, as in the join.
    */
  def periodicLag(df: DataFrame, keys: Seq[String], tsCol: String,
                  periodSec: Long, lags: Seq[Int],
                  valueCols: Seq[String]): DataFrame = {
    val period = periodSec * 1000000L
    val micros = unix_micros(col(tsCol))
    val slot = Window.partitionBy(keys.map(col) :+ pmod(micros, lit(period)): _*)
      .orderBy(micros)
    val keysPresent = keys.map(col(_).isNotNull).reduce(_ && _)
    val lagged = for (l <- lags; c <- valueCols) yield {
      val off = -l * period
      when(keysPresent, first(col(c)).over(slot.rangeBetween(off, off)))
        .as(s"${c}_lag$l")
    }
    df.select(col("*") +: lagged: _*)
  }

  /** Linear gap interpolation (the remaining member of the reference's
    * imputation family): interior NULL runs interpolate linearly between
    * the nearest non-NULL neighbors by ROW POSITION within the ordered
    * partition (position-based, so timestamp ties can't divide by
    * zero); leading/trailing NULLs stay NULL. Two keyed windows — one
    * shuffle on the partition keys, no self-join, no per-gap iteration.
    *
    * The forward neighbor deliberately does NOT use a
    * `(currentRow, unboundedFollowing)` frame: Spark evaluates shrinking
    * frames with `UnboundedFollowingWindowFunctionFrame`, which
    * re-aggregates the whole remaining frame for EVERY row — O(n²) per
    * partition (round 13: q69 billed 69 s at sf0.1 the moment the bench
    * action stopped letting count() prune the windows; 10⁵-row
    * partitions × 10⁵ re-scans). Both neighbor passes are instead
    * RUNNING frames (`unboundedPreceding → currentRow`, the O(n)
    * streaming frame): the forward pass runs `last ignoreNulls` over the
    * REVERSED sort order, which is the same value as `first ignoreNulls`
    * over the remaining rows in forward order. Cost: one extra sort of
    * the already-co-partitioned data, no extra shuffle (both windows
    * partition on the same keys). 69.4 s → sub-second at sf0.1.
    *
    * `orderCols` must order rows deterministically within each key
    * (add a tiebreaker column when the primary order has ties).
    */
  def interpolateLinear(df: DataFrame, keys: Seq[String],
                        orderCols: Seq[String], valueCol: String,
                        out: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val revBack = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rnCol = s"__${out}_rn"
    val mrnCol = s"__${out}_mrn"
    val withRn = df
      .withColumn(rnCol, row_number().over(w))
      .withColumn(mrnCol, when(col(valueCol).isNotNull, col(rnCol)))
    val prevRn = last(col(mrnCol), ignoreNulls = true).over(back)
    val nextRn = last(col(mrnCol), ignoreNulls = true).over(revBack)
    val prevV = last(col(valueCol), ignoreNulls = true).over(back)
    val nextV = last(col(valueCol), ignoreNulls = true).over(revBack)
    withRn.withColumn(out,
      when(col(valueCol).isNotNull, col(valueCol))
        .otherwise(prevV + (nextV - prevV) *
          ((col(rnCol) - prevRn).cast("double") /
            (nextRn - prevRn).cast("double"))))
      .drop(rnCol, mrnCol)
  }

  /** Distributed global running sum (inclusive prefix sum over the total
    * order of `orderCol`) — the scalable form of
    * `sum(x) OVER (ORDER BY o)`, which Spark plans as a SINGLE-partition
    * window (one task owns every row: the classic global-window
    * scale-killer). Classic two-phase prefix sum instead: range-partition
    * by `orderCol`, compute per-partition totals (one tiny row each),
    * prefix-sum those on the driver-sized frame, broadcast the offsets
    * back, and run the running sum per partition in parallel. Every
    * partition works concurrently; the only serial step is over
    * #partitions rows.
    *
    * `orderCol` must be globally unique (range partitioning must not
    * split ties across partitions). The ranged frame is checkpointed:
    * RangePartitioner samples its bounds, so the two consumers must see
    * the same physical partitioning for the offsets to line up.
    */
  def globalRunningSum(df: DataFrame, orderCol: String, valueCol: String,
                       out: String, partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.core.Checkpoints.sessionCk)
    // #partitions rows: the single-partition window here is over a frame
    // that FITS by construction (one row per partition)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__psum"))
      .withColumn("__offset",
        coalesce(sum(col("__psum")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__offset") + sum(col(valueCol)).over(w))
      .drop("__pid", "__offset")
  }

  /** Distributed global row number over an arbitrary total order — the
    * scalable form of `row_number() OVER (ORDER BY ...)`, which Spark
    * plans as a SINGLE-partition window. Same two-phase shape as
    * [[globalRunningSum]]: range-partition on the order key, count rows
    * per partition (one tiny row each), prefix-sum the counts on the
    * driver-sized frame, broadcast the offsets back, and number each
    * partition in parallel.
    *
    * The (orderCols) tuple must be globally unique so range partitioning
    * never splits ties across partitions; append a unique id as the last
    * order column to guarantee it.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column], out: String,
                      partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(graft.core.Checkpoints.sessionCk)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pcount"))
      .withColumn("__offset",
        coalesce(sum(col("__pcount")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__offset") + row_number().over(w).cast("long"))
      .drop("__pid", "__offset")
  }
}
