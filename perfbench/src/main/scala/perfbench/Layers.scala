package perfbench

/** Per-layer metrics of one traced pass, computed from its tracer. */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Largest max/median task-time ratio over the stages whose tasks ran
    * under the given spans; only stages with at least two tasks and
    * 100 ms of task time count, so millisecond jitter is not skew. */
  private def skew(t: Tracer, spans: Set[Int]): Double =
    t.stages.values.filter(st => spans(st.span) && st.taskMs.size >= 2 &&
      st.taskMs.sum >= 100).map { st =>
      val med = median(st.taskMs.map(_.toDouble).toSeq).max(1.0)
      st.taskMs.max / med
    }.maxOption.getOrElse(1.0)

  /** Seconds of the span covered by no job of its subtree, and the
    * seconds covered by jobs that started before the span's last write. */
  private def driverAndEager(t: Tracer, s: Span): (Double, Double) = {
    val ids = t.subtree(s.id)
    val js = t.jobs.values.filter(j => ids(j.span)).toSeq
    val covered = Tracer.covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    val lastWrite = t.execs.filter(e => ids(e.span) && e.isWrite).map(_.id).maxOption
    val eagerJobs = lastWrite match {
      case Some(w) => js.filter(j => j.execId != w && j.startMs <=
        js.filter(_.execId == w).map(_.startMs).minOption.getOrElse(Double.MaxValue))
      case None => js
    }
    val eager = Tracer.covered(eagerJobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    ((s.endMs - s.startMs - covered) / 1000, eager / 1000)
  }

  private def named(t: Tracer, name: String): Seq[Span] = t.spans.filter(_.name == name).toSeq

  private def jobsUnder(t: Tracer, s: Span): Int = {
    val ids = t.subtree(s.id)
    t.jobs.values.count(j => ids(j.span))
  }

  private def execsUnder(t: Tracer, ss: Seq[Span]): Seq[ExecRec] = {
    val ids = ss.flatMap(s => t.subtree(s.id)).toSet
    t.execs.filter(e => ids(e.span)).toSeq
  }

  /** Engine-wide counters of the pass rooted at `pass`. */
  def spark(t: Tracer, pass: Span, cores: Int): Map[String, Double] = {
    val ids = t.subtree(pass.id)
    val st = t.stages.values.filter(s => ids(s.span)).toSeq
    val ex = t.execs.filter(e => ids(e.span)).toSeq
    val mb = 1024.0 * 1024.0
    val taskS = st.map(_.runMs).sum / 1000.0
    val writes = ex.filter(_.isWrite)
    Map(
      "spark.jobs" -> t.jobs.values.count(j => ids(j.span)).toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.taskMs.size).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.core_util" -> taskS / (pass.seconds * cores),
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> st.map(_.spill).sum / mb,
      "spark.task_skew" -> skew(t, ids),
      "spark.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "spark.plan_s" -> ex.map(_.planMs).sum / 1000,
      "spark.peak_storage_mb" -> t.storagePeak / mb,
      "core.warehouse.write_s" -> writes.map(_.durationS).sum,
      "core.warehouse.files_written" -> writes.map(_.writeFiles).sum.toDouble,
      "core.warehouse.mb_written" -> writes.map(_.writeBytes).sum / mb,
      "plans.exchange_nodes" -> ex.map(_.exchanges).sum.toDouble,
      "plans.sort_nodes" -> ex.map(_.sorts).sum.toDouble,
      "plans.window_nodes" -> ex.map(_.windows).sum.toDouble,
      "plans.smj_nodes" -> ex.map(_.smjs).sum.toDouble)
  }

  /** The pull half: per-night means over the incremental nights, and the
    * backfill legs' write rate. */
  def pull(t: Tracer): Map[String, Double] = {
    val nights = named(t, "traffic.nightly")
    val cfg = named(t, "traffic.config_nightly")
    val nightDE = nights.map(driverAndEager(t, _))
    val nightEx = execsUnder(t, nights)
    val legs = named(t, "traffic.nightly.bootstrap") ++ named(t, "traffic.nightly.catchup")
    val legRows = execsUnder(t, legs).filter(_.isWrite).map(_.writeRows).sum
    Map(
      "traffic.nightly.s" -> mean(nights.map(_.seconds)),
      "traffic.nightly.jobs" -> mean(nights.map(jobsUnder(t, _).toDouble)),
      "traffic.nightly.driver_s" -> mean(nightDE.map(_._1)),
      "traffic.nightly.eager_s" -> mean(nightDE.map(_._2)),
      "traffic.nightly.read_per_written" ->
        nightEx.map(_.rawRows).sum.toDouble /
          nightEx.filter(_.isWrite).map(_.writeRows).sum.max(1L),
      "traffic.backfill.sensor_days_per_s" ->
        (legRows / 96.0) / legs.map(_.seconds).sum.max(1e-9),
      "traffic.config_nightly.s" -> mean(cfg.map(_.seconds)),
      "traffic.config_nightly.jobs" -> mean(cfg.map(jobsUnder(t, _).toDouble)),
      "traffic.config_nightly.driver_s" -> mean(cfg.map(driverAndEager(t, _)._1)))
  }

  /** The analyze half: rollup, GAM and compare spans summed over the
    * chain's three programs. */
  def analyze(t: Tracer): Map[String, Double] = {
    val gam = named(t, "model.gam")
    val compare = named(t, "traffic.compare")
    Map(
      "traffic.rollup.s" -> named(t, "traffic.rollup").map(_.seconds).sum,
      "traffic.compare.s" -> compare.map(_.seconds).sum,
      "traffic.compare.rows" ->
        execsUnder(t, compare).filter(_.isWrite).map(_.writeRows).sum.toDouble,
      "model.gam.s" -> gam.map(_.seconds).sum,
      "model.gam.prediction_rows" ->
        execsUnder(t, gam).filter(_.isWrite).map(_.writeRows).sum.toDouble,
      "model.gam.task_skew" -> skew(t, gam.flatMap(s => t.subtree(s.id)).toSet))
  }

  /** The operator board: each query's time, jobs and construction time
    * (the registry call, before the terminal noop write). */
  def board(t: Tracer, names: Seq[String]): Map[String, Double] = {
    val per = names.flatMap { n =>
      named(t, s"queries.$n").headOption.toSeq.flatMap { s =>
        val construct = t.spans.filter(c => c.parent == s.id && c.name == "construct")
          .map(_.seconds).sum
        Seq(s"queries.$n.s" -> s.seconds,
          s"queries.$n.jobs" -> jobsUnder(t, s).toDouble,
          s"queries.$n.construct_s" -> construct)
      }
    }.toMap
    val total = names.flatMap(n => per.get(s"queries.$n.s")).sum
    val construct = names.flatMap(n => per.get(s"queries.$n.construct_s")).sum
    per + ("queries.construct_frac" -> (if (total > 0) construct / total else 0.0))
  }
}
