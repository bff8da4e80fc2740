package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Scd2.history` against the fold it replaced: the bootstrap row plus
  * one `Scd2.merge` per later snapshot, compared row for row on seeded
  * random snapshot sequences.
  */
class Scd2HistorySpec extends SparkSpec {
  import spark.implicits._

  private val opts = Scd2.Options(key = "K", attrCols = Seq("LANE", "FIELD", "ABANDONED"),
    abandonedCol = Some("ABANDONED"), lastChangeCol = Some("LAST_CHANGE_DATE"))

  private type Row4 = (String, Option[String], Option[Double], Option[String])

  private def frame(rows: Seq[Row4]): DataFrame = rows.toDF("K", "LANE", "FIELD", "ABANDONED")

  /** The reference: bootstrap the first snapshot, then fold `merge`
    * over the rest, checkpointing the dimension at each step as a
    * driver loop would.
    */
  private def fold(days: Seq[(String, DataFrame)]): Scd2.Result = {
    val (d0, s0) = days.head
    val init = s0
      .withColumn("LAST_CHANGE_DATE", to_date(lit(d0)))
      .withColumn("START_DATE", to_date(lit(d0)))
      .withColumn("END_DATE", to_date(lit(opts.openEnd)))
      .withColumn("DEACTIVATE", lit(false))
    val (dim, logs) = days.tail.foldLeft((init, Seq.empty[DataFrame])) {
      case ((cur, acc), (day, snap)) =>
        val r = Scd2.merge(cur, snap, day, opts)
        (r.dim.localCheckpoint(), acc :+ r.changelog)
    }
    Scd2.Result(dim, logs.reduce(_ unionByName _))
  }

  /** `n` snapshots over `keys` keys: keys drop out and come back, each
    * attribute changes now and then, NULL included, and the abandoned
    * flag moves among f, t and NULL. The snapshot at `emptyAt` has no
    * rows. The fold treats every key on its own, so one sequence over
    * many keys checks as many per-key histories as many sequences would.
    */
  private def sequence(seed: Long, keys: Int, n: Int,
                       emptyAt: Option[Int] = None): Seq[(String, Seq[Row4])] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    var state = Map.empty[String, Row4]
    var day = java.time.LocalDate.of(2021, 3, 1)
    (0 until n).map { i =>
      day = day.plusDays(1L + rnd.nextInt(3))
      val rows = (1 to keys).map(k => s"k$k").flatMap { k =>
        val was = state.getOrElse(k, (k, Some("1"), Some(1.0), Some("f")))
        val now = (k,
          if (rnd.nextDouble() < 0.3) pick(None, Some("1"), Some("2")) else was._2,
          if (rnd.nextDouble() < 0.2) pick(None, Some(1.0), Some(2.5)) else was._3,
          if (rnd.nextDouble() < 0.3) pick(None, Some("f"), Some("t")) else was._4)
        state += k -> now
        if (rnd.nextDouble() < 0.7) Some(now) else None
      }
      day.toString -> (if (emptyAt.contains(i)) Nil else rows)
    }
  }

  test("history equals the merge fold row for row on random sequences, " +
    "including an empty first, middle and last snapshot") {
    val cases = Seq(sequence(1, keys = 40, n = 8), sequence(2, keys = 40, n = 5),
      sequence(3, keys = 6, n = 4, emptyAt = Some(0)),
      sequence(4, keys = 6, n = 5, emptyAt = Some(2)),
      sequence(5, keys = 6, n = 4, emptyAt = Some(3)))
    cases.foreach { seq =>
      val ref = fold(seq.map { case (day, rows) => day -> frame(rows) })
      val all = seq.flatMap { case (day, rows) => rows.map(r => (r, day)) }
        .map { case ((k, l, f, a), day) => (k, l, f, a, day) }
        .toDF("K", "LANE", "FIELD", "ABANDONED", "snap_date")
      val got = Scd2.history(all, "snap_date", seq.map(_._1), opts)
      val clue = seq.toString
      assert(got.dim.columns.toSeq == ref.dim.columns.toSeq, clue)
      assert(got.changelog.columns.toSeq == ref.changelog.columns.toSeq, clue)
      assert(rows(got.dim) == rows(ref.dim), clue)
      assert(rows(got.changelog) == rows(ref.changelog), clue)
    }
  }

  test("history rejects the bug-compatible diff and a date listed twice") {
    val one = frame(Seq(("k1", Some("1"), None, Some("f")))).withColumn("d", lit("2021-03-01"))
    intercept[IllegalArgumentException](
      Scd2.history(one, "d", Seq("2021-03-01"), opts.copy(nullSafeDiff = false)))
    intercept[IllegalArgumentException](
      Scd2.history(one, "d", Seq("2021-03-01", "2021-03-01"), opts))
  }
}
