package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD-2 dimension maintenance with a cell-level audit log — the
  * reference's signature compound operator (`Track_Config_Change`,
  * R/_pull_data.R:140-322, ~180 LoC of row-at-a-time UPDATEs).
  *
  * Re-expressed set-based: ONE full-outer join old⋈snapshot on the key
  * classifies every row (insert / delete / changed / unchanged); the new
  * dimension state is written whole (parquet is immutable — merge-rewrite
  * replaces the reference's per-cell UPDATE round-trips, its N+1
  * pattern); the changelog is built by unpivoting (old,new) column pairs
  * with `stack` and filtering changed cells. At scale both sides shuffle
  * once on the key — or the snapshot broadcasts when bounded.
  *
  * Reference semantics preserved (SURVEY.md §2.8):
  *  - inserts get (START_DATE=asOf, END_DATE=openEnd, DEACTIVATE=false)
  *    and a "New Detector Added" log row (R/_pull_data.R:152-178);
  *  - keys absent from the snapshot (and not already deactivated) close:
  *    END_DATE=asOf, DEACTIVATE=true, "Detector Removed" log row
  *    (R/_pull_data.R:186-214);
  *  - changed attributes update IN PLACE (no new version row) + one
  *    "Attribute Changed: <COL>" log row per cell (R/_pull_data.R:286-317);
  *  - the `abandoned` column is special (R/_pull_data.R:250-284):
  *    "f"→"t" also closes the row at asOf; "t"→"f" ("unreasonable —
  *    mistakes from MnDOT") closes it at a fixed legacy date.
  *
  * `nullSafeDiff=false` replicates the reference's three-valued `!=`
  * blind spot where value↔NULL transitions are invisible
  * (R/_pull_data.R:233-237); default is the fixed null-safe semantics.
  */
object Scd2 {

  final case class Options(
      key: String,
      attrCols: Seq[String],
      startCol: String = "START_DATE",
      endCol: String = "END_DATE",
      deactivateCol: String = "DEACTIVATE",
      openEnd: String = "2100-01-01",
      abandonedCol: Option[String] = None,
      abandonedRevertEnd: String = "2019-07-31",
      nullSafeDiff: Boolean = true,
      changeCols: ChangelogNames = ChangelogNames(),
      // when set, this dimension column is stamped with asOf on any
      // attribute change (the reference updates LAST_CHANGE_DATE
      // alongside each attribute UPDATE, R/_pull_data.R:286-299)
      lastChangeCol: Option[String] = None)

  final case class ChangelogNames(
      updateDate: String = "Update_Date",
      change: String = "Change",
      oldValue: String = "Old_Value",
      newValue: String = "New_Value",
      lastUpdate: String = "Last_Update_Date")

  final case class Result(dim: DataFrame, changelog: DataFrame)

  /** Historical backfill: fold dated snapshots (oldest first) through
    * `merge`, accumulating the changelog — the set-based replacement
    * for the reference's ~1,423-iteration daily loop
    * (R/1) Get-Historical-Configuration-Data-RunOnce.R:31-52). The very
    * first snapshot bootstraps the dimension (START_DATE = its date,
    * open END_DATE) with no changelog rows, matching the run-once
    * initial load (R/1) Get-…-RunOnce.R:23-28).
    *
    * Each fold step shuffles only the (small) dimension; the
    * accumulated plan is truncated with `localCheckpoint` every
    * `checkpointEvery` steps — without it, the reference's ~1,423 daily
    * snapshots stack 1,423 merges into one logical plan and analysis
    * alone explodes long before execution does.
    */
  def replay(snapshots: Seq[(String, DataFrame)], opts: Options,
             checkpointEvery: Int = 50): Result = {
    require(snapshots.nonEmpty, "replay needs at least one snapshot")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    import org.apache.spark.sql.functions.{lit, to_date}
    val (d0, s0) = snapshots.head
    val init = s0
      .withColumn(opts.startCol, to_date(lit(d0)))
      .withColumn(opts.endCol, to_date(lit(opts.openEnd)))
      .withColumn(opts.deactivateCol, lit(false))
    val empty = emptyChangelog(s0.sparkSession, opts)
    snapshots.tail.zipWithIndex.foldLeft(Result(init, empty)) {
      case (acc, ((day, snap), i)) =>
        val r = merge(acc.dim, snap, day, opts)
        val next = Result(r.dim, acc.changelog.unionByName(r.changelog))
        if ((i + 1) % checkpointEvery == 0)
          Result(next.dim.localCheckpoint(), next.changelog.localCheckpoint())
        else next
    }
  }

  private def emptyChangelog(spark: org.apache.spark.sql.SparkSession,
                             opts: Options): DataFrame = {
    import org.apache.spark.sql.types._
    val cn = opts.changeCols
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField(cn.updateDate, DateType), StructField(cn.change, StringType),
        StructField(opts.key, StringType), StructField(cn.oldValue, StringType),
        StructField(cn.newValue, StringType), StructField(cn.lastUpdate, DateType))))
  }

  /** One merge step: `current` dimension state (unique per key) ⊕ new
    * `snapshot` (key + attrCols) as of date `asOf` (an ISO yyyy-MM-dd).
    *
    * Both outputs are lazy over `current`. When `current` is read from
    * the table the new dimension replaces, write the outputs to staging
    * and swap them in afterwards (`Warehouse.commit`, as
    * `ConfigNightly.run` does) — an in-place overwrite would delete the
    * files the merge is still reading.
    */
  def merge(current: DataFrame, snapshot: DataFrame, asOf: String,
            opts: Options): Result = {
    import opts._
    val asOfD = to_date(lit(asOf))
    val o = current.as("o")
    val n = snapshot.as("n")
    val oc: String => Column = c => col(s"o.$c")
    val nc: String => Column = c => col(s"n.$c")

    val j = o.join(n, oc(key) === nc(key), "full_outer")
      .withColumn("__is_insert", oc(key).isNull)
      .withColumn("__is_delete", nc(key).isNull && !coalesce(oc(deactivateCol), lit(false)))

    def changed(c: String): Column =
      if (nullSafeDiff) !(oc(c) <=> nc(c)) else oc(c) =!= nc(c)

    val abandonedSet = abandonedCol.map { a =>
      changed(a) && oc(a) === "f" && nc(a) === "t"
    }.getOrElse(lit(false))
    val abandonedRevert = abandonedCol.map { a =>
      changed(a) && oc(a) === "t" && nc(a) === "f"
    }.getOrElse(lit(false))
    val matched = oc(key).isNotNull && nc(key).isNotNull

    // merged attribute columns: snapshot wins where present & changed
    val attrOut = attrCols.map { c =>
      when(col("__is_insert"), nc(c))
        .when(matched && changed(c), nc(c))
        .otherwise(oc(c)).as(c)
    }
    val keyOut = coalesce(oc(key), nc(key)).as(key)
    val startOut = when(col("__is_insert"), asOfD).otherwise(oc(startCol)).as(startCol)
    val endOut =
      when(col("__is_insert"), to_date(lit(openEnd)))
        .when(col("__is_delete"), asOfD)
        .when(matched && abandonedSet, asOfD)
        .when(matched && abandonedRevert, to_date(lit(abandonedRevertEnd)))
        .otherwise(oc(endCol)).as(endCol)
    val deactOut =
      when(col("__is_insert"), lit(false))
        .when(col("__is_delete"), lit(true))
        .when(matched && (abandonedSet || abandonedRevert), lit(true))
        .otherwise(oc(deactivateCol)).as(deactivateCol)

    val anyAttrChanged = attrCols.map(c => matched && changed(c))
      .reduceOption(_ || _).getOrElse(lit(false))
    val lastChangeOut = lastChangeCol.toSeq.map { lc =>
      when(col("__is_insert"), asOfD)
        .when(anyAttrChanged, asOfD)
        .otherwise(oc(lc)).as(lc)
    }
    val dim = j.select(
      (keyOut +: attrOut) ++ lastChangeOut :+ startOut :+ endOut :+ deactOut: _*)

    // ---- changelog: one row per insert/delete + one per changed cell ----
    val cn = changeCols
    def logRow(changeLabel: Column, oldV: Column, newV: Column, keyC: Column) =
      Seq(asOfD.as(cn.updateDate), changeLabel.as(cn.change), keyC.as(key),
        oldV.cast("string").as(cn.oldValue), newV.cast("string").as(cn.newValue),
        asOfD.as(cn.lastUpdate))

    val inserts = j.where(col("__is_insert"))
      .select(logRow(lit("New Detector Added"), lit(null), lit(null), nc(key)): _*)
    val deletes = j.where(col("__is_delete"))
      .select(logRow(lit("Detector Removed"), lit(null), lit(null), oc(key)): _*)

    // unpivot (col, old, new) triples for matched rows via stack(n, ...)
    val stackArgs = attrCols.flatMap(c =>
      Seq(lit(c), oc(c).cast("string"), nc(c).cast("string")))
    val cells = j.where(matched)
      .select(oc(key).as(key),
        stack(lit(attrCols.size) +: stackArgs: _*).as(Seq("__col", "__old", "__new")))
    val cellChanged =
      if (nullSafeDiff) !(col("__old") <=> col("__new"))
      else col("__old") =!= col("__new")
    val attrChanges = cells.where(cellChanged)
      .select(logRow(concat(lit("Attribute Changed: "), col("__col")),
        col("__old"), col("__new"), col(key)): _*)

    Result(dim, inserts.unionByName(deletes).unionByName(attrChanges))
  }
}
