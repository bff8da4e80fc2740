package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val opts = Scd2.Options(key = "DETECTOR_NAME",
    attrCols = Seq("LANE", "ABANDONED"), abandonedCol = Some("ABANDONED"))

  private def dim(rows: (String, String, String, String, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("DETECTOR_NAME", "LANE", "ABANDONED", "START_DATE", "END_DATE", "DEACTIVATE")
      .withColumn("START_DATE", to_date($"START_DATE"))
      .withColumn("END_DATE", to_date($"END_DATE"))

  private def snap(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("DETECTOR_NAME", "LANE", "ABANDONED")

  test("insert: new key opens a version row + changelog entry (§2.8-1)") {
    val cur = dim(("d1", "L1", "f", "2020-01-01", "2100-01-01", false))
    val r = Scd2.merge(cur, snap(("d1", "L1", "f"), ("d2", "L2", "f")),
      "2020-06-01", opts)
    val d2 = r.dim.where($"DETECTOR_NAME" === "d2").head()
    assert(d2.getAs[java.sql.Date]("START_DATE") == d("2020-06-01"))
    assert(d2.getAs[java.sql.Date]("END_DATE") == d("2100-01-01"))
    assert(!d2.getAs[Boolean]("DEACTIVATE"))
    assert(rows(r.changelog.select($"Change", $"DETECTOR_NAME")) ==
      Seq(Seq("New Detector Added", "d2")))
  }

  test("delete: absent key closes at asOf + changelog (§2.8-2); already-deactivated silent") {
    val cur = dim(
      ("d1", "L1", "f", "2020-01-01", "2100-01-01", false),
      ("dx", "L9", "f", "2019-01-01", "2019-06-01", true))
    val r = Scd2.merge(cur, snap(("d1", "L1", "f")), "2020-06-01", opts)
    val dx = r.dim.where($"DETECTOR_NAME" === "dx").head()
    assert(dx.getAs[java.sql.Date]("END_DATE") == d("2019-06-01")) // untouched
    assert(r.changelog.where($"DETECTOR_NAME" === "dx").count() == 0)
  }

  test("attribute change updates in place + per-cell changelog (§2.8-3)") {
    val cur = dim(("d1", "L1", "f", "2020-01-01", "2100-01-01", false))
    val r = Scd2.merge(cur, snap(("d1", "L2", "f")), "2020-06-01", opts)
    val d1 = r.dim.head()
    assert(d1.getAs[String]("LANE") == "L2")
    assert(d1.getAs[java.sql.Date]("START_DATE") == d("2020-01-01")) // no new version
    assert(rows(r.changelog.select($"Change", $"Old_Value", $"New_Value")) ==
      Seq(Seq("Attribute Changed: LANE", "L1", "L2")))
  }

  test("ABANDONED f→t closes at asOf; t→f closes at legacy date (§2.8 special)") {
    val cur = dim(
      ("d1", "L1", "f", "2020-01-01", "2100-01-01", false),
      ("d2", "L2", "t", "2020-01-01", "2100-01-01", false))
    val r = Scd2.merge(cur, snap(("d1", "L1", "t"), ("d2", "L2", "f")),
      "2020-06-01", opts)
    val m = r.dim.collect().map(x => x.getAs[String]("DETECTOR_NAME") -> x).toMap
    assert(m("d1").getAs[java.sql.Date]("END_DATE") == d("2020-06-01"))
    assert(m("d1").getAs[Boolean]("DEACTIVATE"))
    assert(m("d2").getAs[java.sql.Date]("END_DATE") == d("2019-07-31"))
    assert(m("d2").getAs[Boolean]("DEACTIVATE"))
  }

  test("nullSafeDiff=true logs value↔NULL transitions; =false replicates ref blind spot") {
    val cur = dim(("d1", null, "f", "2020-01-01", "2100-01-01", false))
    val sNew = snap(("d1", "L1", "f"))
    val fixed = Scd2.merge(cur, sNew, "2020-06-01", opts)
    assert(fixed.changelog.count() == 1)
    val bugCompat = Scd2.merge(cur, sNew, "2020-06-01", opts.copy(nullSafeDiff = false))
    assert(bugCompat.changelog.count() == 0) // NA != value → NA → dropped (R)
  }

  test("history of 120 lane-flip snapshots: every flip logged, and the plan " +
    "does not grow with the number of snapshots") {
    // alternating lane flips per day → every snapshot after the first
    // logs a change for d1, none for d2
    def history(n: Int) = {
      val days = (1 to n).map(i =>
        java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong - 1).toString)
      val frame = days.zipWithIndex.flatMap { case (day, i) =>
        Seq(("d1", if ((i + 1) % 2 == 0) "L1" else "L2", "f", day), ("d2", "L3", "f", day))
      }.toDF("DETECTOR_NAME", "LANE", "ABANDONED", "snap_date")
      Scd2.history(frame, "snap_date", days, opts)
    }
    def planSize(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    val (r120, r95) = (history(120), history(95))
    assert(planSize(r120.dim) == planSize(r95.dim))
    assert(planSize(r120.changelog) == planSize(r95.changelog))
    assert(r120.changelog.where($"DETECTOR_NAME" === "d1").count() == 119)
    assert(r120.changelog.where($"DETECTOR_NAME" === "d2").count() == 0)
    assert(r120.dim.count() == 2)
  }

  test("property: after random snapshot sequence, exactly one row per key and " +
    "active keys stay open (scalacheck)") {
    val keys = Seq("a", "b", "c", "d")
    val laneGen = Gen.oneOf("L1", "L2", "L3")
    val snapGen = for {
      present <- Gen.someOf(keys).suchThat(_.nonEmpty)
      lanes <- Gen.listOfN(present.size, laneGen)
    } yield present.zip(lanes).map { case (k, l) => (k, l, "f") }.toSeq
    val seqGen = Gen.listOfN(3, snapGen)

    // plain scalacheck sampling with fixed seeds (no scalatestplus bridge
    // in the offline cache) — deterministic across runs
    (1 to 5).foreach { trial =>
      val snaps = seqGen.apply(Gen.Parameters.default, Seed(trial.toLong)).get
      val init = dim() // empty current state
      val o = opts
      val finalState = snaps.zipWithIndex.foldLeft(init) { case (cur, (s, i)) =>
        Scd2.merge(cur, snap(s: _*), f"2020-0${i + 1}%d-01", o).dim
      }
      val perKey = finalState.groupBy($"DETECTOR_NAME").count()
        .select($"count").as[Long].collect()
      assert(perKey.forall(_ == 1L)) // in-place updates: one row per key
      // keys present in EVERY snapshot were never deleted → open & active.
      // (A key that vanishes and reappears stays closed: the reference
      // never reactivates, R/_pull_data.R:186-199.)
      val alwaysKeys = snaps.map(_.map(_._1).toSet).reduce(_ intersect _)
      finalState.collect().foreach { r =>
        val k = r.getAs[String]("DETECTOR_NAME")
        if (alwaysKeys.contains(k)) {
          assert(!r.getAs[Boolean]("DEACTIVATE"))
          assert(r.getAs[java.sql.Date]("END_DATE") == d("2100-01-01"))
        }
      }
    }
  }
}
