package graft.ops

import graft.SparkSpec
import graft.traffic.{EdgeRaw, Schemas, SensorIngest}
import org.apache.spark.sql.functions._

/** SURVEY.md §5 property tests beyond the per-operator specs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private lazy val completeRaw = (for {
    day <- 1 to 3
    slot <- 0 until 2880
  } yield ("s1", java.sql.Date.valueOf(f"2020-03-$day%02d"),
    slot / 120, (slot % 120) / 2.0, Some(4 + slot % 3), Some(250)))
    .toDF("sensor", "date", "hour", "min", "volume", "occupancy")

  private lazy val config = Seq(("s1", 500.0, "N1", "I-94"))
    .toDF("DETECTOR_NAME", "DETECTOR_FIELD", "NODE_NAME", "CORRIDOR_ROUTE")

  test("imputation idempotence: impute on complete data is a no-op") {
    val agg = SensorIngest.aggregate15Min(completeRaw, config)
    val once = SensorIngest.impute(agg)
    assert(once.where($"VOLUME_SUM_IMPUTE" =!= $"VOLUME_SUM").count() == 0)
    assert(once.where($"OCCUPANCY_SUM_IMPUTE" =!= $"OCCUPANCY_SUM").count() == 0)
  }

  test("15-min aggregation is partition-count invariant") {
    // complete data, then the FIXTURES A1 edge cases (NULL days and runs,
    // half-empty buckets, missing history, duplicates)
    for ((raw, cfg) <- Seq(completeRaw -> config, EdgeRaw(spark) -> EdgeRaw.config(spark))) {
      val a = SensorIngest.build(raw.repartition(1), cfg)
      val b = SensorIngest.build(raw.repartition(13), cfg)
      assert(rows(a) == rows(b))
    }
  }

  test("Retry.until: stops at first valid result, bounded attempts (S4)") {
    var calls = 0
    val r = graft.sources.Retry.until[Int](5, sleepMs = 0)(_ > 2) { () =>
      calls += 1; calls
    }
    assert(r == 3 && calls == 3)
    calls = 0
    val exhausted = graft.sources.Retry.until[Int](5, sleepMs = 0)(_ > 99) { () =>
      calls += 1; calls
    }
    assert(exhausted == 5 && calls == 5) // last result returned
  }

  test("Scd2.replay folds snapshots; changelog replays to final state") {
    val opts = Scd2.Options(key = "K", attrCols = Seq("V"))
    val snaps = Seq(
      ("a", "1", "2020-01-01"), ("b", "1", "2020-01-01"),
      ("a", "2", "2020-01-02"), ("c", "1", "2020-01-02"),
      ("a", "2", "2020-01-03"), ("c", "2", "2020-01-03")).toDF("K", "V", "day")
    val r = Scd2.history(snaps, "day",
      Seq("2020-01-01", "2020-01-02", "2020-01-03"), opts)
    // final dim state
    val dim = r.dim.collect().map(x =>
      x.getAs[String]("K") -> (x.getAs[String]("V"), x.getAs[Boolean]("DEACTIVATE"))).toMap
    assert(dim("a") == ("2", false))
    assert(dim("b")._2 == true)  // removed on day 2
    assert(dim("c") == ("2", false))
    // changelog completeness: 1 insert + 1 delete + 2 attr changes
    val byChange = r.changelog.groupBy($"Change").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byChange("New Detector Added") == 1L)
    assert(byChange("Detector Removed") == 1L)
    assert(byChange("Attribute Changed: V") == 2L)
    // SCD-2 invariant: exactly one row per key
    assert(r.dim.groupBy($"K").count().where($"count" > 1).count() == 0)
  }

  test("saltedAgg equals plain aggregation (sum/count under skew)") {
    val df = (1 to 10000).map(i => (if (i % 100 == 0) "rare" else "hot", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
    val salted = Skew.saltedAgg(df, Seq("k"), salts = 8,
      Seq(sum($"v").as("s"), count(lit(1)).as("n")),
      Seq(sum($"s").as("s"), sum($"n").as("n")))
    assert(rows(plain) == rows(salted))
  }

  test("saltedJoin equals plain join (inner and left, hot-key fact side)") {
    val fact = (1 to 5000).map(i =>
      (if (i % 50 == 0) i % 7 else 0, i.toDouble)) // key 0 is ~98% of rows
      .toDF("k", "v")
    val dim = (0 to 5).map(k => (k, s"dim_$k")).toDF("k", "name") // key 6 unmatched
    for (jt <- Seq("inner", "left")) {
      val plain = fact.join(dim, Seq("k"), jt)
      val salted = Skew.saltedJoin(fact, dim, Seq("k"), salts = 8, joinType = jt)
      assert(rows(plain) == rows(salted), s"joinType=$jt")
    }
  }

  test("salted ops reject non-positive salts with a clear error") {
    val df = Seq(("a", 1.0)).toDF("k", "v")
    for (s <- Seq(0, -3)) {
      intercept[IllegalArgumentException] {
        Skew.saltedAgg(df, Seq("k"), s, Seq(sum($"v").as("s")), Seq(sum($"s").as("s")))
      }
      intercept[IllegalArgumentException] {
        Skew.saltedJoin(df, df, Seq("k"), s)
      }
    }
  }

  test("minhashDedup invariants on a random templated corpus: one decision " +
    "per doc, reps never increase, fixpoint mapping is idempotent") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector.fill(40)((1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    // templated corpus: a few base templates + mutated copies (the
    // near-dup-heavy shape real crawls have)
    val templates = Vector.fill(6)(Vector.fill(30)(vocab(rnd.nextInt(vocab.size))))
    val docs = (0 until 120).map { i =>
      val t = templates(i % templates.size)
      val mutated = t.map(w => if (rnd.nextInt(10) == 0) vocab(rnd.nextInt(vocab.size)) else w)
      (i.toLong, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    val out = Dedup.minhashDedup(docs, "text", "doc_id", shingleN = 3,
      numHashes = 32, bands = 16, threshold = 0.5, propagationRounds = -1)
      .select($"doc_id", $"rep_id", $"is_dup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 120 && out.map(_._1).distinct.length == 120) // one per doc
    val rep = out.map(t => t._1 -> t._2).toMap
    assert(out.forall { case (id, r, _) => r <= id })          // reps never increase
    assert(out.forall { case (_, r, _) => rep(r) == r })       // idempotent at fixpoint
    assert(out.forall { case (id, r, dup) => dup || r == id }) // non-dups keep themselves
  }

  test("bandJoin equals the quadratic definition on random data " +
    "(boundaries, negatives, duplicates)") {
    val rnd = new scala.util.Random(1107)
    // values on a 0.25 grid so |a-b| == eps boundaries occur OFTEN
    val l = (0 until 80).map(i => (i.toLong, (rnd.nextInt(41) - 20) * 0.25))
      .toDF("lid", "lv")
    val r = (0 until 90).map(i => (i.toLong, (rnd.nextInt(41) - 20) * 0.25))
      .toDF("rid", "rv")
    for (eps <- Seq(0.25, 0.5, 1.0)) {
      val got = rows(Joins.bandJoin(l, r, "lv", "rv", eps).select($"lid", $"rid"))
      val want = rows(l.crossJoin(r).where(abs($"lv" - $"rv") <= eps)
        .select($"lid", $"rid"))
      assert(got == want, s"eps=$eps: ${got.size} vs ${want.size}")
    }
  }

  test("winsorize invariants on random groups: bounds respected, " +
    "interior untouched, count preserved") {
    val rnd = new scala.util.Random(2211)
    val df = (0 until 300).map(i =>
      (s"g${i % 4}", rnd.nextDouble() * 100 - 50)).toDF("g", "v")
    val out = Tidy.winsorize(df, $"g", $"v", 0.10, 0.90)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(out.length == 300)
    out.groupBy(_._1).foreach { case (_, grp) =>
      val clamped = grp.map(_._3)
      val lo = clamped.min; val hi = clamped.max
      grp.foreach { case (_, v, w) =>
        assert(w >= lo && w <= hi)
        if (v >= lo && v <= hi) assert(w == v) // interior values untouched
      }
      // clamp bounds are attained (something actually clamps at p10/p90)
      assert(grp.count(t => t._3 == lo) >= grp.count(t => t._2 < lo))
    }
  }

  test("connectedComponents on a random graph equals union-find") {
    val rnd = new scala.util.Random(3313)
    val es = (0 until 120).map(_ =>
      (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
    val got = Graph.connectedComponents(es.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r0 = find(p); parent(x) = r0; r0 }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map { n =>
      val root = find(n)
      n -> nodes.filter(m => find(m) == root).min
    }.toMap
    assert(got == want)
  }
}
