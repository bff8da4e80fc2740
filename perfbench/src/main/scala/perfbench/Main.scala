package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.{Checkpoints, Scratch, Sessions, Warehouse}
import graft.model.Gam
import graft.queries.Registry
import graft.traffic.{Compare, ConfigNightly, Nightly, Rollup, Schemas}

/** One timed operation of a pass: a night, an analyze program or a query. */
final case class Op(name: String, seconds: Double, ok: Boolean, error: String)

final case class Pass(kind: String, dir: String, wall: Double, ops: Seq[Op])

/** The benchmark's JVM side. It builds the session the way the engine's
  * own board does, runs one workload as a closed loop of passes through
  * the engine's public entry points, and writes what it measured as
  * JSON for perfbench/run.py (which generates the inputs and checks
  * the outputs).
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds S
  *             --trace 0|1 --cores N --check K/N --out FILE
  *
  * `--check K/N` checks the board queries whose mix index is K mod N.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val w: Workload = workload match {
      case "pull_nightly"   => new PullNightly(inputs)
      case "analyze_model"  => new AnalyzeModel(inputs)
      case "operator_board" =>
        val Array(k, n) = a.getOrElse("check", "0/1").split("/").map(_.toInt)
        new OperatorBoard(inputs, k, n)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Json

    // set-up, five times: the first from JVM start (cold), the others
    // after stopping the session, so the median is a warm set-up; set-up
    // ends before the first timed call
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStart.toDouble else System.currentTimeMillis().toDouble
      spark = Sessions.local(cores)
      setups += (System.currentTimeMillis() - t0) / 1000.0
    }
    out.nums("setup_s", setups.toSeq)

    val passes = ArrayBuffer.empty[Pass]
    var n = 0
    def runPass(kind: String, t: Tracer): Pass = {
      n += 1
      val dir = s"$work/pass_$n"
      new java.io.File(dir).mkdirs()
      t.attach(spark)
      val p = t.span("pass")(w.pass(spark, t, dir, kind))
      t.detach()
      passes += p
      p
    }

    // the workload's one-off warm-up, the last part of set-up; a traced
    // run always warms up, so its traced pass is not the JVM's first
    val warmUps = if (trace) w.warmUpPasses.max(1) else w.warmUpPasses
    for (_ <- 0 until warmUps) runPass("warmup", new Tracer(false, None))

    if (!trace) {
      val t0 = System.nanoTime()
      while (passes.count(_.kind == "timed") == 0 || (System.nanoTime() - t0) / 1e9 < seconds)
        runPass("timed", new Tracer(false, None))
    } else {
      val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val tr = new Tracer(true, w.rawDir)
      val traced = runPass("traced", tr)
      val plain2 = runPass("untraced", new Tracer(false, None))
      val root = tr.spans.find(_.name == "pass").get
      layers ++= Layers.spark(tr, root, cores)
      layers ++= w.layers(tr)
      // the overhead compares the traced pass with the untraced one after it
      layers("trace.overhead_s") = traced.wall - plain2.wall
      Spans.write(tr, s"$work/spans_local$cores.json")
      if (w.singleCoreBaseline) {
        spark.stop()
        spark = Sessions.local(1)
        val tr1 = new Tracer(true, w.rawDir)
        val single = runPass("traced_local1", tr1)
        Spans.write(tr1, s"$work/spans_local1.json")
        layers("spark.parallel_speedup") = single.wall / traced.wall
      }
      out.obj("layers", layers.toSeq)
    }

    out.num("warmup_s", passes.filter(_.kind == "warmup").map(_.wall).sum)
    out.num("peak_rss_mb", Rss.peakMb())
    out.passes(passes.toSeq)
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.render())
  }
}

/** Bench's engine reset, through public calls only: drain parked
  * checkpoint handles and scratch dirs, unpersist every persisted RDD,
  * drop cached Datasets, and let the context cleaner run. */
object Engine {
  def reset(spark: SparkSession): Unit = {
    Checkpoints.releaseSessionSnapshots()
    Scratch.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Time `body` as one operation; a thrown error is recorded, not raised. */
  def op(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(name, (System.nanoTime() - t0) / 1e9, ok = true, "") }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false, String.valueOf(e.getMessage))
    }
  }
}

object Rss {
  /** The process's resident high-water mark (VmHWM), in MiB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

trait Workload {
  /** Raw-input directory whose scans the tracer counts, if any. */
  def rawDir: Option[String] = None
  /** Whether the traced run also measures a single-core pass. */
  def singleCoreBaseline: Boolean = true
  /** Untimed passes run once, after the set-ups, to warm the JIT. */
  def warmUpPasses: Int = 0
  def pass(spark: SparkSession, t: Tracer, dir: String, kind: String): Pass
  def layers(t: Tracer): Map[String, Double]
}

/** The pull half as the scheduler runs it: config backfill, the
  * `Nightly.run` bootstrap and catch-up legs, then K incremental nights,
  * each a `ConfigNightly.run` on that night's snapshot followed by a
  * 1-day `Nightly.run` against the merged dimension. */
final class PullNightly(inputs: String) extends Workload {
  private val plan = Json.parseFlat(s"$inputs/plan.json")
  private val nights = plan("nights").toInt
  override def rawDir: Option[String] = Some(s"$inputs/raw")

  def pass(spark: SparkSession, t: Tracer, dir: String, kind: String): Pass = {
    val wh = new Warehouse(spark, s"$dir/wh")
    val raw = spark.read.parquet(s"$inputs/raw")
    def dim = wh.read(ConfigNightly.dimTable)
    val t0 = System.nanoTime()
    val ops = ArrayBuffer.empty[Op]
    ops += Engine.op("config_backfill")(t.span("traffic.config_backfill")(
      ConfigNightly.backfill(spark, wh, s"$inputs/config_backfill")))
    ops += Engine.op("bootstrap")(t.span("traffic.nightly.bootstrap")(
      Nightly.run(spark, wh, raw, dim, plan("asof_bootstrap"))))
    ops += Engine.op("catchup")(t.span("traffic.nightly.catchup")(
      Nightly.run(spark, wh, raw, dim, plan("asof_catchup"))))
    for (k <- 1 to nights) {
      ops += Engine.op(s"night_$k")(t.span("night") {
        t.span("traffic.config_nightly")(
          ConfigNightly.run(spark, wh, s"$inputs/config_nightly/${plan(s"snapshot_$k")}"))
        t.span("traffic.nightly")(Nightly.run(spark, wh, raw, dim, plan(s"asof_$k")))
      })
    }
    Pass(kind, dir, (System.nanoTime() - t0) / 1e9, ops.toSeq)
  }

  def layers(t: Tracer): Map[String, Double] = Layers.pull(t)
}

/** The analyze half as the reference's three programs, each reading the
  * warehouse: modeling_node(hour) → RTMC_PREDICT_HOUR,
  * modeling_node(day) → RTMC_PREDICT_DAY, data_comparison(hour) →
  * VOLUME_DIFF. Each modeling program persists its QAQC'd node rollup
  * before the GAM fit, so rollup and model time separate. */
final class AnalyzeModel(inputs: String) extends Workload {
  private val plan = Json.parseFlat(s"$inputs/plan.json")
  private val trainEnd = plan("train_end")
  private val trainYears = plan("train_years").split(",").map(_.toInt).toSeq

  def pass(spark: SparkSession, t: Tracer, dir: String, kind: String): Pass = {
    import org.apache.spark.sql.functions.col
    val src = new Warehouse(spark, s"$inputs/wh")
    val wh = new Warehouse(spark, s"$dir/wh")
    def fact = src.read("RTMC_15MIN")
    def cfgNode = Rollup.configNode(src.read(ConfigNightly.dimTable))

    def modelingNode(unit: String, scale: Int, table: String, out: String,
                     cfg: Gam.Config): Unit = {
      t.span("traffic.rollup") {
        val agg = Rollup.withDetectorNum(
          Rollup.nodeAggregate(fact.where(col("START_DATE") < trainEnd), unit), cfgNode)
        wh.overwrite(Rollup.qaqc(agg, scale, trainYears), table)
      }
      t.span("model.gam") {
        val preds = Compare.predictions(wh.read(table), cfg.hourly,
          plan(s"grid_start_$unit"), plan(s"grid_end_$unit"), cfg)
        wh.overwrite(Schemas.conform(preds, Schemas.predict), out)
      }
    }

    val t0 = System.nanoTime()
    val ops = Seq(
      Engine.op("modeling_node_hour")(t.span("program.modeling_node_hour")(
        modelingNode("hour", 1, "RTMC_NODE_HOUR", "RTMC_PREDICT_HOUR",
          Gam.Config(hourly = true)))),
      Engine.op("modeling_node_day")(t.span("program.modeling_node_day")(
        modelingNode("day", 24, "RTMC_NODE_DAY", "RTMC_PREDICT_DAY",
          Gam.Config(hourly = false, kYday = 12)))),
      Engine.op("data_comparison_hour")(t.span("program.data_comparison_hour")(
        t.span("traffic.compare") {
          val actual = Rollup.qaqc(Rollup.withDetectorNum(
            Rollup.nodeAggregate(fact.where(col("START_DATE") >= trainEnd), "hour"),
            cfgNode), 1)
          wh.overwrite(Compare.volumeDiff(actual, wh.read("RTMC_PREDICT_HOUR")),
            "VOLUME_DIFF")
        })))
    Pass(kind, dir, (System.nanoTime() - t0) / 1e9, ops)
  }

  def layers(t: Tracer): Map[String, Double] = Layers.analyze(t)
}

/** A fixed query mix from the registry in a warmed, long-lived session:
  * noop sink, engine reset after every query. The set-up's warm-up pass
  * runs the whole mix once, untimed, and writes the output of every N-th
  * query (from the K-th on) for the oracle compare instead of consuming
  * it; consecutive seeds check consecutive slices, so any N seeds check
  * the whole mix. */
final class OperatorBoard(inputs: String, checkK: Int, checkN: Int) extends Workload {
  val mix: Seq[String] = Seq(
    // traffic operators on TPC-H-shaped tables
    "q12_two_level_rollup", "q21_scd2_dim", "q50_gam_hourly", "q52_volume_diff",
    // relational rows and the plans-layer join rules
    "q01_pricing_summary", "q114_band_join", "q139_asof_native",
    // the ops/expressions hot spots
    "q35_minhash_neardups", "q48_contamination", "q59_similarity_join",
    "q85_incremental_dedup")
  private val checked = mix.zipWithIndex.collect { case (q, i) if i % checkN == checkK => q }
  private val tables = s"$inputs/tables"
  private lazy val queries = Registry.queries
  override def singleCoreBaseline: Boolean = false
  override def warmUpPasses: Int = 1

  def pass(spark: SparkSession, t: Tracer, dir: String, kind: String): Pass = {
    val check = kind == "warmup"
    if (check) {
      val oracle = Registry.oracleSql
      val j = new Json
      // every checked query with its oracle SQL ("" when it has none)
      j.strs("checked", checked.map(q => q -> oracle.getOrElse(q, "")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/checked.json"), j.render())
    }
    val t0 = System.nanoTime()
    val ops = mix.map { q =>
      val o = Engine.op(q)(t.span(s"queries.$q") {
        val df = t.span("construct")(queries(q)(spark, tables))
        if (check && checked.contains(q)) df.write.mode("overwrite").parquet(s"$dir/$q")
        else Registry.consume(q, df)
      })
      Engine.reset(spark)
      o
    }
    Pass(kind, dir, (System.nanoTime() - t0) / 1e9, ops)
  }

  def layers(t: Tracer): Map[String, Double] = Layers.board(t, mix)
}
