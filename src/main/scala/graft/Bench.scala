package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Drop all engine state a finished query can leave behind, so the next
    * timed query starts from a clean block manager.
    *
    * Rounds 5 and 6 each produced a phantom "regression" (r5 q12: 1.57 s
    * vs 0.27 s real; r6 q108: 7.99 s vs 0.74 s real) caused by
    * accumulated `localCheckpoint` blocks from earlier heavy queries
    * (graph/PQ/sampling) pinning the block manager: the memory pressure
    * was billed to whichever query ran next. `localCheckpoint` registers
    * its RDD as persistent, so unpersisting everything in
    * `getPersistentRDDs` releases those blocks deterministically;
    * `clearCache` drops any Dataset-level cache entries; the GC nudge
    * lets ContextCleaner reclaim broadcast/shuffle state whose references
    * just died with the query plan.
    */
  private def resetEngineState(spark: SparkSession): Unit = {
    // drain handles parked by Checkpoints.sessionCk first (they become
    // no-ops once the sweep below has unpersisted their RDDs, but the
    // queue itself must not grow for the run's life)
    graft.core.Checkpoints.releaseSessionSnapshots()
    // same safe point for scratch runs: the finished query's terminal
    // action has run, so its export dirs have no live lazy readers and
    // may age out of the grace window instead of pinning forever
    graft.core.Scratch.releaseAll()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** The timed passes of one board row, in seconds; a pass that throws
    * is logged and left out.
    *
    * Steady-state protocol: each query runs twice with a full engine
    * reset after every execution; the reported time is the min of the
    * two passes. One pass alone conflates a query's plan cost with
    * whatever JIT/allocator pressure the previous 100+ queries left
    * behind; min-of-two after reset measures the plan.
    */
  private[graft] def timePasses(name: String, reset: => Unit)(run: => Unit): Seq[Double] = {
    def pass(): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { run; true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      reset
      if (ok) Some(dt) else None
    }
    val first = (1 to 2).flatMap(_ => pass())
    // short rows carry the protocol's whole noise envelope (13
    // same-commit sub-second queries once differed >1.5x), and the
    // 2-pass rule under-warms string/hash-heavy rows — they need 4-5
    // executions to reach C2 steady state (PLANS round-15) — so rows
    // under 1.5 s get TWO extra passes
    if (first.nonEmpty && first.min < 1.5) first ++ (1 to 2).flatMap(_ => pass())
    else first
  }

  /** One board's bookings: the min time of every row with at least one
    * successful pass, and the names of the rows that failed every pass.
    * A failed row has no time: it is listed in `errors` only, never
    * booked as 0.0 s in `queries` or `total`, so a crash cannot read as
    * a speed-up in a row-by-row comparison.
    */
  private[graft] final case class Board(queries: Seq[(String, Double)],
                                        errors: Seq[String]) {
    def total: Double = queries.map(_._2).sum
  }

  private[graft] def book(passes: Seq[(String, Seq[Double])]): Board =
    Board(passes.collect { case (q, ts) if ts.nonEmpty => q -> ts.min },
      passes.collect { case (q, ts) if ts.isEmpty => q })

  /** 1-minute load average via the JMX OS bean (portable; /proc-free).
    * None when the platform reports a negative sentinel.
    */
  private def readLoad1(): Option[Double] = {
    val v = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (v < 0) None else Some(v)
  }

  def main(args: Array[String]): Unit = {
    val loadAtStart = readLoad1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // benches must run under the same pinned runtime-replan trio the
    // engine sessions use (skew split / bloom / DPP — Sessions scaladoc)
    graft.core.Sessions.engineConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new GraftExtensions().registerOn(spark)
    // absorb JVM/codegen/scan warm-up so per-query timings are
    // steady-state; q139 additionally loads the custom-operator path
    // (AsOfJoinExec + its projections) whose first-use class loading
    // would otherwise be billed to one query
    Seq("q01_pricing_summary", "q139_asof_native").foreach(q =>
      SparkEntry.queries.get(q)
        .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => }))
    resetEngineState(spark)
    // Box-drift reference rows (r15 verdict #4): two cheap, plan-stable
    // queries timed min-of-6 against a FIXED fixture dir regardless of
    // the bench's own sfDir, stamped into the artifact as `ref_rows`.
    // Cross-round and x1-vs-x100 total comparisons can then normalize
    // for box speed by a field comparison instead of the manual
    // isolated-re-measurement archaeology the r15 +19.5% swing needed
    // (PLANS round-15: the q01/q12 min-of-6 method, now automated).
    val refDir = sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "/root/testdata/sf0.1")
    val refRows: Seq[(String, Double)] =
      if (!new java.io.File(refDir).isDirectory) Seq.empty
      else Seq("q01_pricing_summary", "q12_two_level_rollup").flatMap { q =>
        SparkEntry.queries.get(q).flatMap { fn =>
          val ts = (1 to 6).flatMap { _ =>
            val t0 = System.nanoTime()
            val ok = try { graft.queries.Registry.consume(q, fn(spark, refDir)); true }
              catch { case _: Throwable => false }
            val dt = (System.nanoTime() - t0) / 1e9
            resetEngineState(spark)
            if (ok) Some(dt) else None
          }
          if (ts.nonEmpty) Some(q -> ts.min) else None
        }
      }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timePasses(name, resetEngineState(spark)) {
        graft.queries.Registry.consume(name, fn(spark, sfDir))
      }
    }
    val board = book(results)
    // Output contract, rebuilt for round 12 (verdict nit #1: the single
    // ~2 KB timing line outgrew the harness's 2000-byte output tail —
    // front-truncation shipped BENCH_r11.json with `parsed: null`).
    // Two artifacts now:
    //   1. BENCH_FULL.json (cwd = repo root under sbt): the COMPLETE
    //      per-query map, every name in full, 3-decimal times. The
    //      driver's round-end commit picks it up; judges and
    //      tools/compare_bench.py read it.
    //   2. ONE stdout line, budgeted to ~1400 bytes so line + sbt's
    //      trailing "[success]" always fit the tail TOGETHER: full
    //      schema (metric/unit/queries/errors/sf/value), but "queries"
    //      carries only the SLOWEST rows that fit the budget, plus
    //      queries_omitted + queries_file pointers. Slowest-first
    //      maximizes the information density of what survives — the
    //      sub-0.5 s tail rows are the ones a summary can afford to
    //      drop, and the full map is one file away.
    // Locale.ROOT (advice r14): default-locale %f renders 3,31 on
    // comma-decimal locales and the artifact stops parsing as JSON.
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def f2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // env-supplied paths are interpolated into the artifact: a quote or
    // backslash in SPARK_GRAFT_{SF,REF}_DIR must not produce an
    // unparseable BENCH_FULL.json (r16 advice — same care the
    // Locale.ROOT pins apply to numbers)
    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"'           => "\\\""
        case '\\'          => "\\\\"
        case c if c < ' '  => String.format("\\u%04x", Int.box(c.toInt))
        case c             => c.toString
      } + "\""
    def short(k: String): String = k.takeWhile(_ != '_').stripPrefix("q")
    // a collided short name would merge two distinct queries into one
    // indistinguishable key: keep the full name for any prefix that is
    // not unique across the registry
    val ambiguous = results.groupBy(r => short(r._1)).collect {
      case (s, g) if g.size > 1 => s
    }.toSet
    def key(k: String): String = if (ambiguous(short(k))) k else short(k)
    // full names here: failures should be rare, and an ambiguous short
    // name in the error list would hide WHICH variant failed
    val errNames = board.errors.map(k => "\"" + k + "\"")
    val errs = errNames.mkString("[", ",", "]")
    // the stdout line gets a CAPPED error list (advice round-12: a long
    // failure list would drive the query budget negative and the
    // skeleton itself past the 2000-byte tail — the exact front-
    // truncation failure the split artifact exists to prevent); the
    // full list is always in BENCH_FULL.json
    val errsShort = errNames.take(8).mkString("[", ",", "]")
    val errsOmitted = (errNames.size - 8).max(0)
    // measurement protocol, stamped INSIDE the artifact (verdict #6:
    // cross-round comparisons kept needing tribal knowledge of which
    // numbers were cold vs warm-min). r13 re-bases the action to
    // noop-for-all — see Registry.consume.
    val protocol = """"protocol":"action=noop-all;reps=min-of-2(+2 if <1.5s);engine-reset-each-pass;cold-jvm;ref-rows-min-of-6""""
    // box load stamped INSIDE the artifact (verdict r13 #7): a board
    // taken right after a 14-minute test suite reads 1.4x slower than a
    // quiet-box one, and without the load1 stamps that difference kept
    // needing out-of-band explanation the way cold-vs-warm once did.
    // loadAtStart is sampled BEFORE the warm-up queries run (method
    // entry), loadAtEnd right here after the timed passes.
    val loadAtEnd = readLoad1()
    // commit SHA stamped INSIDE the artifact (verdict r14 #7: the
    // "same-commit ×1/×100 boards" claim was verifiable only via git
    // archaeology). A dirty tree gets "-dirty" so a board taken over
    // uncommitted edits can't masquerade as reproducible.
    val commit: String = try {
      def run(cmd: String*): String = {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        p.waitFor()
        if (p.exitValue() == 0) out else ""
      }
      val sha = run("git", "rev-parse", "--short", "HEAD")
      if (sha.isEmpty) "unknown"
      // tracked-file changes only (stray untracked logs/scratch must not
      // brand a reproducible board as dirty), and the bench's own output
      // artifact is excluded — a ×1 run must not mark the paired ×100
      // run dirty just by writing BENCH_FULL.json
      else if (run("git", "status", "--porcelain", "--untracked-files=no",
        "--", ".", ":(exclude)BENCH_FULL.json").nonEmpty) sha + "-dirty"
      else sha
    } catch { case _: Exception => "unknown" }
    val refJson = refRows
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val loadJson =
      s""""commit":"$commit",""" +
      s""""load1_start":${loadAtStart.map(f2).getOrElse("null")},""" +
      s""""load1_end":${loadAtEnd.map(f2).getOrElse("null")},""" +
      s""""ref_dir":${jsonStr(refDir)},"ref_rows":$refJson"""
    val total = board.total
    val fullQs = board.queries.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","unit":"sec","n_queries":${results.size},$protocol,$loadJson,""" +
      s""""queries":$fullQs,"errors":$errs,"sf":${jsonStr(sfDir)},"value":${f3(total)}}"""
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json")
    try java.nio.file.Files.writeString(fullPath, fullJson + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}") }
    val slowestFirst = board.queries.sortBy(-_._2)
      .map { case (k, v) => "\"" + key(k) + "\":" + f2(v) }
    // ONE skeleton builder serves both the budget measurement and the
    // final print (review round-12: two hand-maintained copies of the
    // JSON skeleton would let a future field edit silently re-break the
    // 2000-byte tail guarantee). "value" placed last: even if some
    // wrapper truncates the front, the headline total survives.
    def shortLine(queriesJson: String, omitted: Int): String =
      s"""{"metric":"total","unit":"sec","n_queries":${results.size},$protocol,$loadJson,""" +
        s""""queries":$queriesJson,"queries_omitted":$omitted,""" +
        s""""queries_file":"BENCH_FULL.json","errors":$errsShort,""" +
        s""""errors_omitted":$errsOmitted,""" +
        s""""sf":${jsonStr(sfDir)},"value":${f3(total)}}"""
    val budget = 1400 - shortLine("{}", board.queries.size).length
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    slowestFirst.foreach { entry =>
      if (used + entry.length + 1 <= budget) { kept += entry; used += entry.length + 1 }
    }
    println(shortLine(kept.mkString("{", ",", "}"), board.queries.size - kept.size))
    spark.stop()
  }
}
