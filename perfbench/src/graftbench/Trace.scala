package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of one layer's work inside one operation. Times are epoch
  * milliseconds (the clock Spark's listener events use). Parents are not
  * stored: a span's parent is the smallest span of the same operation that
  * encloses it, derived when the run ends.
  */
final case class Span(name: String, layer: String, opId: Long, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** What the listeners saw during one traced operation. */
final class OpTrace {
  var analysisMs, optimizationMs, planningMs = 0.0
  var plans = 0
  var jobs, stages, tasks, emptyTasks = 0L
  var taskMs = 0.0
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var rowsScanned = 0L
}

/** Spans plus Spark, SQL and streaming listeners. Everything is recorded
  * only while `on` is set; the listeners stay registered for the whole run
  * so that a traced and an untraced cycle run the same listener code path
  * apart from the recording itself.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile private var currentOp = -1L

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.Map[Long, OpTrace]()
  val streamProgress = mutable.ArrayBuffer[Map[String, Long]]()
  private val stageOp = mutable.Map[Int, Long]()
  private val jobStartMs = mutable.Map[Int, (Long, Double)]()

  private def traceOf(op: Long): OpTrace = synchronized(ops.getOrElseUpdate(op, new OpTrace))
  def addSpan(s: Span): Unit = synchronized(spans += s)

  def beginOp(id: Long): Unit = { currentOp = id }
  def endOp(): Unit = {
    if (on) org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    currentOp = -1L
  }

  /** A span around one call the benchmark makes into a layer. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || currentOp < 0) body
    else {
      val op = currentOp
      val t0 = nowMs
      try body finally addSpan(Span(name, layer, op, t0, nowMs))
    }

  private def opOfJob(props: java.util.Properties): Long = {
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    if (g != null && g.startsWith("op-")) g.stripPrefix("op-").toLong else currentOp
  }

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val op = opOfJob(e.properties)
      if (op >= 0) synchronized {
        jobStartMs(e.jobId) = (op, e.time.toDouble)
        e.stageIds.foreach(stageOp(_) = op)
        traceOf(op).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartMs.remove(e.jobId).foreach { case (op, t0) =>
        addSpan(Span(s"job ${e.jobId}", "exec", op, t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => traceOf(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val t = traceOf(op)
        t.tasks += 1
        t.taskMs += e.taskInfo.duration.toDouble
        val m = e.taskMetrics
        if (m != null) {
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            t.emptyTasks += 1
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on && currentOp >= 0) record(currentOp, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (on && currentOp >= 0) record(currentOp, qe)
  }

  private def record(op: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val scanned = scanRows(qe.executedPlan)
    synchronized {
      val t = traceOf(op)
      t.plans += 1
      t.rowsScanned += scanned
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach { s =>
          val ms = (s.endTimeMs - s.startTimeMs).toDouble
          p match {
            case "analysis" => t.analysisMs += ms
            case "optimization" => t.optimizationMs += ms
            case _ => t.planningMs += ms
          }
          addSpan(Span(p, "driver", op, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      }
    }
  }

  /** Sum of `numOutputRows` over the scan leaves of an executed plan. */
  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case r: ReusedExchangeExec => 0L
    case leaf if leaf.children.isEmpty && leaf.nodeName.contains("Scan") =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum +
      other.subqueries.map(scanRows).sum
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) synchronized {
        streamProgress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  spark.sparkContext.addSparkListener(execListener)
  spark.listenerManager.register(sqlListener)
  spark.streams.addListener(streamListener)

  /** The spans of one operation in start order, each with the index of
    * its parent: the smallest span that encloses it (-1 for the root). */
  def tree(opId: Long): IndexedSeq[(Span, Int)] = {
    val mine = synchronized(spans.filter(_.opId == opId).toIndexedSeq)
      .sortBy(s => (s.startMs, -s.ms))
    mine.indices.map { i =>
      val s = mine(i)
      val encl = mine.indices.filter { j =>
        j < i && mine(j).startMs <= s.startMs && s.endMs <= mine(j).endMs
      }
      (s, if (encl.isEmpty) -1 else encl.minBy(j => (mine(j).ms, -j)))
    }
  }

  /** Each layer's self time in one operation: its spans' time minus the
    * time their child spans cover. */
  def selfTimes(opId: Long): Map[String, Double] = {
    val t = tree(opId)
    t.indices.map { i =>
      val kids = t.indices.filter(t(_)._2 == i).map(k => (t(k)._1.startMs, t(k)._1.endMs))
      t(i)._1.layer -> (t(i)._1.ms - covered(kids))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def jobSpans(opId: Long): Seq[Span] =
    synchronized(spans.filter(s => s.opId == opId && s.layer == "exec").toList)
}
