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
  * once on the key — or the snapshot broadcasts when bounded. The
  * historical backfill (`history`) derives what folding `merge` over
  * every snapshot would leave in one windowed pass instead.
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

  /** Historical backfill in one pass: the dimension and the whole
    * changelog that folding `merge` over the listed snapshots (oldest
    * first) would leave, derived set-based — the replacement for the
    * reference's ~1,423-iteration daily loop
    * (R/1) Get-Historical-Configuration-Data-RunOnce.R:31-52). The first
    * listed date bootstraps the dimension with no changelog rows, as
    * the run-once initial load does (R/1) Get-…-RunOnce.R:23-28).
    *
    * `snapshots` holds every snapshot's rows (key + attrCols), each
    * tagged with its snapshot date in `dateCol`, one row per key and
    * date; `dates` lists every snapshot (ISO yyyy-MM-dd), including
    * those with no rows, which close every open key. Rows dated
    * outside the listing are ignored. One window partitioned by the
    * key and ordered by date compares each appearance with the key's
    * previous one and with the next listed date (a tiny broadcast
    * table), so the plan and the shuffle are the same whatever the
    * number of snapshots. Merge's rules, per key:
    *  - START_DATE is the first appearance; the attributes are the
    *    last appearance's; a first appearance after the first listed
    *    date logs "New Detector Added";
    *  - an appearance whose value differs null-safely from the previous
    *    appearance logs the cell change and stamps `lastChangeCol`
    *    (else it keeps the first appearance's date);
    *  - a gap is a key missing from the next listed snapshot; the
    *    first gap logs "Detector Removed" at that date unless an
    *    abandoned flip came before it (the key was already closed);
    *  - END_DATE is the last abandoned flip's end (its date for f→t,
    *    `abandonedRevertEnd` for t→f), else the first gap's date, else
    *    `openEnd`; DEACTIVATE is set by any flip or gap.
    */
  def history(snapshots: DataFrame, dateCol: String, dates: Seq[String],
              opts: Options): Result = {
    import opts._
    require(dates.nonEmpty, "history needs at least one snapshot date")
    require(dates.distinct.size == dates.size, "history: each snapshot date listed once")
    require(nullSafeDiff, "history diffs null-safely; nullSafeDiff = false is merge-only")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val days = dates.map(java.sql.Date.valueOf).sortBy(_.getTime)
    val listing = snapshots.sparkSession.createDataFrame(
      days.zip(days.tail.map(Option(_)) :+ None)
        .map { case (d, next) => Row(d, next.orNull, d == days.head) }.asJava,
      StructType(Seq(StructField("__d", DateType), StructField("__next", DateType),
        StructField("__first", BooleanType))))

    val w = Window.partitionBy(key).orderBy("__d")
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev: String => Column = c => col(s"__prev_$c")
    val seen = col("__seen")
    val flipEnd = abandonedCol.map { a =>
      when(prev(a) === "f" && col(a) === "t", col("__d"))
        .when(prev(a) === "t" && col(a) === "f", to_date(lit(abandonedRevertEnd)))
    }.getOrElse(lit(null).cast(DateType))
    val anyAttrChanged = attrCols.map(c => !(prev(c) <=> col(c)))
      .reduceOption(_ || _).getOrElse(lit(false)) && seen

    val rows = snapshots
      .select(col(key) +: attrCols.map(col) :+ to_date(col(dateCol)).as("__d"): _*)
      .join(broadcast(listing), "__d")
      .select(col("*") +: attrCols.map(c => lag(col(c), 1).over(w).as(s"__prev_$c")) :+
        lag(col("__d"), 1).over(w).isNotNull.as("__seen") :+
        lead(col("__d"), 1).over(w).as("__nextSeen"): _*)
      .withColumn("__gapAt",
        when(!(col("__nextSeen") <=> col("__next")), col("__next")))
      .select(col("*"),
        first(col("__d")).over(upTo).as("__start"),
        first(col("__gapAt"), ignoreNulls = true).over(upTo).as("__firstGap"),
        last(flipEnd, ignoreNulls = true).over(upTo).as("__lastFlipEnd"),
        max(when(anyAttrChanged, col("__d"))).over(upTo).as("__lastChange"))

    val lastChangeOut = lastChangeCol.toSeq.map(lc =>
      coalesce(col("__lastChange"), col("__start")).as(lc))
    val dim = rows.where(col("__nextSeen").isNull).select(
      (col(key) +: attrCols.map(col)) ++ lastChangeOut :+
        col("__start").as(startCol) :+
        coalesce(col("__lastFlipEnd"), col("__firstGap"), to_date(lit(openEnd))).as(endCol) :+
        (col("__lastFlipEnd").isNotNull || col("__firstGap").isNotNull).as(deactivateCol): _*)

    // ---- changelog: each row emits its candidate log entries via one
    // stack; a candidate with a NULL date did not happen ----
    val none = lit(null).cast(StringType)
    val isRemoval = col("__gapAt") === col("__firstGap") && col("__lastFlipEnd").isNull
    val candidates =
      Seq(lit("New Detector Added"), none, none,
        when(!seen && !col("__first"), col("__d")),
        lit("Detector Removed"), none, none, when(isRemoval, col("__gapAt"))) ++
      attrCols.flatMap { c =>
        val (o, n) = (prev(c).cast(StringType), col(c).cast(StringType))
        Seq(lit(s"Attribute Changed: $c"), o, n, when(seen && !(o <=> n), col("__d")))
      }
    val cn = changeCols
    val changelog = rows
      .select(col(key), stack(lit(attrCols.size + 2) +: candidates: _*)
        .as(Seq("__change", "__old", "__new", "__at")))
      .where(col("__at").isNotNull)
      .select(col("__at").as(cn.updateDate), col("__change").as(cn.change), col(key),
        col("__old").as(cn.oldValue), col("__new").as(cn.newValue),
        col("__at").as(cn.lastUpdate))

    Result(dim, changelog)
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
