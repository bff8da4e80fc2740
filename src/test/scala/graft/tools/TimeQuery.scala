package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Test-scoped measurement harness (NOT graded surface — lives under
  * src/test): time registry queries in isolation with the same engine
  * reset protocol as `graft.Bench`, and optionally dump the formatted
  * physical plan. Used for the PLANS.md plan-evidence entries and the
  * time-vs-sf scaling probes.
  *
  * Usage (sbt): Test/runMain graft.tools.TimeQuery <sfDir> [-explain]
  *              [-reps N] [-rules N] q104_pagerank q145_ivfpq_ann ...
  *
  * `-rules N` prints, per query, the N Catalyst rules (analyzer and
  * optimizer) that took the most time over its timed reps, from
  * `RuleExecutor`'s global metering.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("-explain")
    val reps = args.sliding(2).collectFirst {
      case Array("-reps", n) => n.toInt }.getOrElse(2)
    val topRules = args.sliding(2).collectFirst {
      case Array("-rules", n) => n.toInt }.getOrElse(0)
    val names = args.drop(1).filterNot(_.startsWith("-"))
      .filterNot(a => a.forall(_.isDigit))
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      // SPARK_GRAFT_SHUFFLE: the partitions-proportional-to-data lever
      // for large-scale probes (AQE coalesces the excess away on small
      // inputs, so oversizing is safe — the 100-TB posture)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // probe timings must run under the SAME pinned runtime-replan trio
    // as Bench/Verify (review round-12: a Spark default flip here would
    // silently diverge PLANS.md probe evidence from board evidence)
    graft.core.Sessions.engineConfs.foreach { case (k, v) =>
      builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new graft.GraftExtensions().registerOn(spark)
    // SPARK_GRAFT_CONF="k=v,k2=v2" — runtime confs for probe variants
    // (e.g. graft.graph.compactStorage=true for memory-bound scales)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    def reset(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      if (explain) {
        println(s"==== $name plan ====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        reset()
      }
      RuleExecutor.resetMetrics()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // same per-query action as Bench: noop-sink materialization of
        // EVERY row (r13 re-base — see Registry.consume)
        graft.queries.Registry.consume(name, fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        reset()
        dt
      }
      println(f"TIME $name sf=$sfDir cold=${times.head}%.3f " +
        f"min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
      if (topRules > 0) printRules(name, reps, topRules)
    }
    spark.stop()
  }

  /** The `n` rules with the most total time in `RuleExecutor`'s dump
    * (one line per rule, `name effective / total effRuns / runs`, times
    * in ns, sorted by total time, descending). */
  private def printRules(name: String, reps: Int, n: Int): Unit = {
    val lines = RuleExecutor.dumpTimeSpent().linesIterator
      .dropWhile(!_.startsWith("Rule ")).drop(1)
      .map(_.trim.split("\\s+")).filter(_.length == 7).take(n).toSeq
    val total = RuleExecutor.getCurrentMetrics().time / 1e9
    println(f"RULES $name over $reps reps: total=$total%.3f s")
    lines.foreach { case Array(rule, _, _, ns, _, _, runs) =>
      println(f"  ${ns.toLong / 1e9}%8.3f s  $runs%6s runs  $rule")
    }
  }
}
