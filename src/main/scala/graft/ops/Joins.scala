package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join combinators (SURVEY.md §2.5).
  *
  * Scale posture: dimension sides are broadcast (bounded tables — config
  * is a few thousand rows even statewide); fact-to-fact self-joins are
  * equi-joins on (key, timestamp) so they sort-merge/shuffle-hash on the
  * same partitioning and never materialize a cross product.
  */
object Joins {

  /** J10 — point-in-interval join: equi keys + `point BETWEEN lo AND hi`.
    * With a broadcast dimension Catalyst plans BroadcastHashJoin on the
    * equi key with the range as a residual filter — optimal for a
    * bounded dim; no O(n·m) nested loop
    * (R/_analyze_data.R:157-163 `on=.(NODE_NAME, DATE>=START, DATE<=END)`).
    */
  def intervalJoin(fact: DataFrame, dim: DataFrame, equiKeys: Seq[String],
                   point: Column, lo: Column, hi: Column,
                   joinType: String = "inner",
                   broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    val cond = equiKeys.map(k => fact(k) === d(k)).reduceOption(_ && _) match {
      case Some(eq) => eq && point.between(lo, hi)
      case None     => point.between(lo, hi)
    }
    val joined = fact.join(d, cond, joinType)
    // drop the dim-side duplicates of the equi keys
    equiKeys.foldLeft(joined)((j, k) => j.drop(d(k)))
  }

  /** J9 — lag-join: attach values from the same key exactly `lagSec`
    * earlier (day-7/day-14 history fill, R/_pull_data.R:564-575).
    * Implemented as a self-equi-join on (keys, ts) with the right side
    * shifted forward — both sides shuffle on identical keys, so at scale
    * this is one co-partitioned sort-merge join, not an N+1 lookup.
    * Only q08_lag_join still uses it; the pull pipeline's history fill
    * is [[Windows.periodicLag]], which needs no join or extra shuffle.
    */
  def lagJoin(df: DataFrame, keys: Seq[String], tsCol: String, lagSec: Long,
              valueCols: Seq[String], suffix: String): DataFrame = {
    val shifted = df
      .select((keys :+ tsCol).map(col) ++ valueCols.map(col): _*)
      .withColumn(tsCol, col(tsCol) + make_interval(lit(0), lit(0), lit(0),
        lit(0), lit(0), lit(0), lit(lagSec)))
      .select(keys.map(col) ++ Seq(col(tsCol)) ++
        valueCols.map(c => col(c).as(c + suffix)): _*)
    df.join(shifted, keys :+ tsCol, "left")
  }

  /** J4 — calendar × dimension expansion with validity filter
    * (R/_pull_data.R:383-386): cross join a (small) date grid with a
    * dimension, keep dates inside each row's validity interval.
    */
  def expandValidDates(dates: DataFrame, dim: DataFrame, dateCol: String,
                       startCol: String, endCol: String): DataFrame =
    dates.crossJoin(dim)
      .where(col(dateCol).between(col(startCol), col(endCol)))

  /** J5 — rows of `newDf` whose key is absent from `oldDf` (inserts). */
  def newKeys(newDf: DataFrame, oldDf: DataFrame, key: String): DataFrame =
    newDf.join(oldDf.select(key), Seq(key), "left_anti")

  /** J12 — semi-join filter: keep fact rows whose key is in `keys`. */
  def semiFilter(fact: DataFrame, keys: DataFrame, on: Seq[String]): DataFrame =
    fact.join(keys, on, "left_semi")

  /** AS-OF join — the operator Spark lacks natively: for each left row,
    * attach the single most recent right row with rightTs ≤ leftTs on
    * the same keys (LEFT semantics: unmatched left rows keep NULLs).
    *
    * Spark-first composition instead of a custom physical operator: tag
    * and UNION the two sides, then one window per key ordered by
    * (ts, side) carries the latest right payload forward
    * (`last(ignoreNulls)` over an unbounded-preceding frame; right rows
    * sort before left rows at equal ts, so ties match). ONE shuffle on
    * the join keys, each row carried once — no per-left-row range scan,
    * no interval explode, and both inputs can be fact-scale (unlike the
    * broadcast interval join J10, whose dim side must be bounded).
    *
    * `payload` names the right columns to surface (emitted as
    * `asof_<name>`). If the right side has duplicate (keys, rightTs)
    * rows the survivor among them is arbitrary — pre-dedup the right
    * side when that matters (DuckDB/pandas asof implementations share
    * this caveat).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // SQL ASOF equality semantics: a NULL key or NULL timestamp never
    // matches. Unfiltered, window partitioning would group NULL keys
    // together and a NULL right ts would sort first and carry forward.
    val r = right
      .where(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col(rightTs).isNotNull)
      .select(
        keys.map(col) ++ Seq(col(rightTs).cast("timestamp").as("__ts"),
          struct(payload.map(col): _*).as("__p"), lit(0).as("__side")): _*)
    val l = left
      .withColumn("__ts", col(leftTs).cast("timestamp"))
      .withColumn("__p", lit(null).cast(r.schema("__p").dataType))
      .withColumn("__side", lit(1))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"__last.$p").as(s"$prefix$p")): _*)
  }

  /** AS-OF join on the native physical operator
    * ([[graft.plans.AsOfJoinExec]] via [[graft.plans.AsOfJoinStrategy]]
    * — register `GraftExtensions` on the session): same semantics as
    * [[asofJoin]] (latest right row with equal keys and rightTs ≤
    * leftTs; NULL keys/times never match), but planned as a
    * sort-merge-style one-pass partition merge holding one buffered
    * right row, instead of the union-window form. Output is ALL left
    * columns followed by ALL right columns (nullable) — rename the
    * right side's columns first if they collide.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val g = org.apache.spark.sql.graftglue.Glue
    val lp = g.analyzed(left)
    // self-join safety: both sides often derive from ONE scan and then
    // share attribute ids; a generic node can't tell the analyzer's
    // dedup which side its key expressions meant. Re-alias the right
    // output with fresh ids so the two sides never overlap.
    val rp0 = g.analyzed(right)
    val rAliases = rp0.output.map(a => Alias(a, a.name)())
    val rp = Project(rAliases, rp0)
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
             n: String) =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column $n not found in ${out.map(_.name).mkString(", ")}"))
    val rOut = rAliases.map(_.toAttribute)
    g.ofRows(
      left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      graft.plans.AsOfJoinPlan(lp, rp,
        keys.map(attr(lp.output, _)), keys.map(attr(rOut, _)),
        attr(lp.output, leftTs), attr(rOut, rightTs)))
  }

  /** Runtime partition pruning for join shapes Spark's dynamic partition
    * pruning (DPP) cannot cover. DPP fires on EQUI-joins against a
    * partition column (measured on the warehouse path — see PLANS.md
    * round-10: dim-filtered date equi-join reads only the dim's
    * partitions); it does NOT fire when the partition column sits inside
    * a range/interval residual ([[intervalJoin]]'s
    * `point BETWEEN lo AND hi`, J10/J11). For those shapes this helper
    * pre-resolves the SMALL dim side's distinct dates on the driver and
    * pushes them onto the fact's partition column as a literal IN list —
    * static partition pruning the file index applies at planning time,
    * collapsing a decade-wide scan to the dim's dates exactly like DPP
    * would.
    *
    * The collect is bounded by `maxDates` (a date dim is days, not
    * rows): past the guard the fact returns UNFILTERED — pruning is an
    * optimization, never a correctness dependency (same contract as the
    * DSv2 source's residual filters), so an unexpectedly huge dim
    * degrades to the unpruned plan instead of a driver OOM.
    *
    * PRECONDITION (correctness, not optimization): `dimDateCol` must
    * ENUMERATE every fact date the join can match — i.e. the intervals
    * are single-day (`lo == hi == dimDateCol`), or the dim carries one
    * row per covered date. If the dim stores (lo, hi) INTERVALS wider
    * than a day, a fact date inside an interval but absent from
    * `dimDateCol` would be silently dropped — use
    * [[datePruneFromIntervals]], which expands each interval to its
    * covered date set before pruning (round-10 advice).
    */
  def datePruneFromDim(fact: DataFrame, factDateCol: String,
                       dim: DataFrame, dimDateCol: Column,
                       maxDates: Int = 10000): DataFrame = {
    val dates = dim.select(dimDateCol.cast("date").as("__d"))
      .where(col("__d").isNotNull).distinct()
      .limit(maxDates + 1).collect().map(_.getDate(0))
    if (dates.length > maxDates) fact
    else fact.where(col(factDateCol).isin(dates.toIndexedSeq: _*))
  }

  /** [[datePruneFromDim]] for dims that store (lo, hi) VALIDITY
    * INTERVALS: each interval is expanded to its covered date set
    * (`sequence` + `explode`) before the distinct/collect, so a fact
    * date inside an interval but absent from any single dim column is
    * still retained — coverage, not enumeration.
    *
    * Two degrade-to-unpruned guards, both optimization-only: (a) the
    * summed interval span is pre-checked with one tiny aggregate on the
    * (small) dim, so an open-ended validity sentinel (hi = 9999-12-31)
    * bails out BEFORE the explode would materialize megarows, and (b)
    * the expanded distinct date count stays under `maxDates`. Malformed
    * intervals (NULL or lo > hi) match nothing under
    * `point BETWEEN lo AND hi` and are excluded from expansion.
    */
  def datePruneFromIntervals(fact: DataFrame, factDateCol: String,
                             dim: DataFrame, dimLoCol: Column, dimHiCol: Column,
                             maxDates: Int = 10000): DataFrame = {
    val iv = dim.select(dimLoCol.cast("date").as("__lo"),
        dimHiCol.cast("date").as("__hi"))
      .where(col("__lo").isNotNull && col("__hi").isNotNull &&
        col("__lo") <= col("__hi"))
    val span = iv.agg(sum(datediff(col("__hi"), col("__lo")) + 1)).head()
    if (span.isNullAt(0)) fact // no valid intervals: nothing to prune by
    else if (span.getLong(0) > maxDates) fact
    else {
      val dates = iv
        .select(explode(sequence(col("__lo"), col("__hi"))).as("__d"))
        .distinct().collect().map(_.getDate(0))
      fact.where(col(factDateCol).isin(dates.toIndexedSeq: _*))
    }
  }

  /** Band join: all (left, right) pairs with |leftCol − rightCol| ≤ eps.
    * The naive plan is a BroadcastNestedLoopJoin (O(n·m) comparisons —
    * the classic Spark range-join trap); this form buckets both sides
    * at width eps, explodes the RIGHT side to its three adjacent
    * buckets, hash-joins on the bucket key, and applies the exact band
    * predicate as a post-filter. Any qualifying pair sits within one
    * bucket of its partner (floor is monotone: |a−b| ≤ eps ⇒ bucket
    * distance ≤ 1), and each pair meets in exactly ONE bucket (the
    * left side keeps its single home bucket) — no dedup needed.
    *
    * Column names must be disjoint between the two inputs (rename
    * before joining, as with any self-join). For float inputs the
    * candidate bucketing inherits IEEE division semantics; pairs at an
    * exact eps boundary are still decided by the exact post-filter, and
    * integer-valued columns with integer eps are fully exact in every
    * engine.
    *
    * Scale shape: one hash-join shuffle on the band key with 3× fan-out
    * on the right side; skew follows dense value regions (salt the band
    * key if one value dominates).
    */
  def bandJoin(left: DataFrame, right: DataFrame,
               leftCol: String, rightCol: String, eps: Double): DataFrame = {
    require(eps > 0, s"eps must be positive, got $eps")
    val l = left.withColumn("__band", floor(col(leftCol) / eps).cast("long"))
    val r = right
      .withColumn("__rb", floor(col(rightCol) / eps).cast("long"))
      .withColumn("__off", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__band", col("__rb") + col("__off"))
      .drop("__rb", "__off")
    l.join(r, Seq("__band"))
      .where(abs(col(leftCol) - col(rightCol)) <= eps)
      .drop("__band")
  }
}
