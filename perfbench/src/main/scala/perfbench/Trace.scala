package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.{ListenerBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a benchmark call into a graft layer. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, op: Long) {
  def durNs: Long = endNs - startNs
}

/** Work Spark did on behalf of one benchmark span, summed over its jobs,
  * stages and tasks, plus what the finished queries' plans reported. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var taskNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planNs = 0L
  var filesRead = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; taskNs += o.taskNs; gcMs += o.gcMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; planNs += o.planNs; filesRead += o.filesRead
  }
}

/** Spans around every benchmark call into a layer, and the Spark work each
  * span caused. Disabled (the untraced run), `span` is a plain call: no
  * listener is registered and nothing is recorded.
  *
  * Attribution: each span sets the Spark local property
  * [[Tracer.SpanProp]] to its index, so every job started under it — on
  * the client thread or on threads it spawns, such as a streaming query's
  * — carries the span in its properties. The innermost open span wins.
  * Finished queries reach the [[QueryExecutionListener]] asynchronously;
  * the client is single-threaded, so closing a span drains the listener
  * bus and gives the span every query that finished inside it. Span
  * indices are the order spans opened in. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private val work = mutable.HashMap.empty[Int, Work]
  private var curOp = 0L
  private val sc: SparkContext = spark.sparkContext

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val finished = new ConcurrentLinkedQueue[QueryExecution]
  private val pending = new ConcurrentLinkedQueue[(Int, Work)]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s >= 0) {
        e.stageIds.foreach(id => stageSpan.put(id, s))
        val w = new Work; w.jobs = 1; pending.add(s -> w)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      if (s >= 0) { val w = new Work; w.stages = 1; pending.add(s -> w) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (s >= 0 && m != null) {
        val w = new Work
        w.taskNs = m.executorRunTime * 1000000L
        w.gcMs = m.jvmGCTime
        w.bytesRead = m.inputMetrics.bytesRead
        w.recordsRead = m.inputMetrics.recordsRead
        w.bytesWritten = m.outputMetrics.bytesWritten
        w.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
        w.spillBytes = m.diskBytesSpilled + m.memoryBytesSpilled
        pending.add(s -> w)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      finished.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def beginOp(id: Long): Unit = curOp = id

  /** Forget everything recorded so far (set-up and warm-up spans). */
  def clear(): Unit = if (enabled) {
    ListenerBus.drain(sc)
    finished.clear(); pending.clear(); stageSpan.clear()
    spans.clear(); work.clear()
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.size
      spans += null
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      open.push((idx, name, System.nanoTime()))
      sc.setLocalProperty(Tracer.SpanProp, idx.toString)
      try f
      finally {
        val (_, _, start) = open.pop()
        val end = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProp, prev)
        val parent = open.headOption.map(_._1).getOrElse(-1)
        spans(idx) = Span(name, start, end, parent, curOp)
        drain(idx)
      }
    }

  /** Credits everything the listeners saw so far: jobs to the span in
    * their properties, queries to the span being closed — the innermost
    * one open when they finished, since child spans drain on close. */
  private def drain(idx: Int): Unit = {
    ListenerBus.drain(sc)
    var qe = finished.poll()
    while (qe != null) {
      val w = new Work
      w.planNs = Tracer.planningNs(qe)
      w.filesRead = Tracer.filesRead(qe)
      workOf(idx).add(w)
      qe = finished.poll()
    }
    var q = pending.poll()
    while (q != null) { workOf(q._1).add(q._2); q = pending.poll() }
  }

  private def workOf(i: Int): Work = work.getOrElseUpdate(i, new Work)

  def allSpans: Seq[Span] = spans.toSeq.filter(_ != null)
  def allSpansIndexed: Seq[(Int, Span)] =
    spans.toSeq.zipWithIndex.collect { case (s, i) if s != null => i -> s }

  /** Work caused directly under span `i` (not under its child spans). */
  private def workAt(i: Int): Work = work.getOrElse(i, new Work)

  /** Work of each span including its descendants' work. */
  def workWithChildren(): Map[Int, Work] = {
    val out = mutable.HashMap.empty[Int, Work]
    // children close (and are recorded) before their parents, but indices
    // are opening order: walk from the last-opened span back
    spans.indices.reverse.foreach { i =>
      val s = spans(i)
      if (s != null) {
        val w = out.getOrElseUpdate(i, new Work)
        w.add(workAt(i))
        if (s.parent >= 0) out.getOrElseUpdate(s.parent, new Work).add(w)
      }
    }
    out.toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def close(): Unit = if (enabled) {
    ListenerBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Analysis + optimization + planning time from the query's tracker. */
  def planningNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L

  /** "number of files read" summed over the scans of the final plan,
    * including adaptive query stages and subqueries. */
  def filesRead(qe: QueryExecution): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other =>
        other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }
}
