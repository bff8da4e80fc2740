package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and listener events: epoch milliseconds, with
  * sub-millisecond resolution taken from the monotonic timer. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, startMs: Double) {
  var endMs: Double = Double.NaN
  def seconds: Double = (endMs - startMs) / 1000.0
}

final class JobRec(val span: Int, val execId: Long, val startMs: Double) {
  var endMs: Double = startMs
}

final class StageRec(val span: Int) {
  val taskMs = ArrayBuffer.empty[Long]
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var failedTasks = 0
}

/** What one finished query execution did, read from its final plan. */
final class ExecRec(val funcName: String) {
  var id = -1L
  var planMs = 0.0
  var exchanges = 0
  var sorts = 0
  var windows = 0
  var smjs = 0
  var isWrite = false
  var writeFiles = 0L
  var writeBytes = 0L
  var writeRows = 0L
  var rawRows = 0L
  var durationS = 0.0
  var span = -1
}

/** Spans around the benchmark's own calls into the engine, plus a
  * SparkListener (jobs, stages, tasks, storage) and a
  * QueryExecutionListener (planning time, final plan shape, write
  * statistics). Jobs are attributed to the innermost open span through
  * a thread-local job property; executions through their jobs.
  *
  * Disabled, `span` only runs its body: the untraced runs pay nothing. */
final class Tracer(val enabled: Boolean, rawDir: Option[String]) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var spark: SparkSession = _

  // listener state, written from the listener thread
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val execs = ArrayBuffer.empty[ExecRec]
  // the execution whose QueryExecutionListener callback ran last; its
  // SQLExecutionEnd event follows on the same listener queue
  private var lastExec: ExecRec = _
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L

  private val PropKey = "perfbench.span"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), Clock.nowMs)
      spans += s
      stack = s.id :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endMs = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(PropKey, prev)
      }
    }

  private object listener extends SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(PropKey))).map(_.toInt).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(spanOf(e.properties), exec, e.time.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(spanOf(e.properties)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(-1))
      if (e.reason != Success) st.failedTasks += 1
      st.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        if (lastExec != null) { lastExec.id = end.executionId; lastExec = null }
      }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        storageNow -= blocks.getOrElse(key, 0L)
        if (info.storageLevel.isValid) {
          blocks(key) = info.memSize + info.diskSize
          storageNow += info.memSize + info.diskSize
        } else blocks.remove(key)
        storagePeak = storagePeak.max(storageNow)
      }
    }
  }

  private object shape extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case x => x }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)

    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val r = new ExecRec(funcName)
      r.durationS = durationNs / 1e9
      r.planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      scala.util.Try(shape.nodes(qe.executedPlan)).getOrElse(Nil).foreach { n =>
        n.getClass.getSimpleName match {
          case "ShuffleExchangeExec" => r.exchanges += 1
          case "SortExec"            => r.sorts += 1
          case "WindowExec"          => r.windows += 1
          case "SortMergeJoinExec"   => r.smjs += 1
          case _                     =>
        }
        n match {
          case w: DataWritingCommandExec =>
            val m = w.cmd.metrics
            r.isWrite = true
            r.writeFiles += m.get("numFiles").map(_.value).getOrElse(0L)
            r.writeBytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
            r.writeRows += m.get("numOutputRows").map(_.value).getOrElse(0L)
          case s: FileSourceScanExec if rawDir.exists(d =>
              s.relation.location.rootPaths.exists(_.toString.contains(d))) =>
            r.rawRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
      Tracer.this.synchronized { execs += r; lastExec = r }
    }
  }

  /** Attach to a (new) session. Only an enabled tracer listens. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      // the QueryExecutionListener bus must sit before our SparkListener
      // on the shared queue, so register (and so create) it first
      s.listenerManager.register(qeListener)
      s.sparkContext.addSparkListener(listener)
    }
  }

  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Deliver every pending event, then map executions to spans. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val spanOfExec = jobs.values.filter(_.execId >= 0)
        .map(j => j.execId -> j.span).toMap
      execs.foreach(e => if (e.span < 0) e.span = spanOfExec.getOrElse(e.id, -1))
    }
  }

  /** Span ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(s => go(s.id)).foldLeft(Set(id))(_ ++ _)
    go(root)
  }
}

object Tracer {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (curHi.isNaN || a > curHi) {
          if (!curHi.isNaN) total += curHi - curLo
          curLo = a; curHi = b
        } else curHi = curHi.max(b)
      }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }
}
