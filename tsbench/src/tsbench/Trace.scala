package tsbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The one counter the untraced run carries: executor CPU summed over
  * finished tasks (excludes JIT, GC, RocksDB and idle driver threads). */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** A timed interval: name, start and end in `System.nanoTime` units, and
  * the span that caused it (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

final case class TaskRec(stage: Int, start: Long, end: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, inBytes: Long, inRows: Long, shWrite: Long, shRead: Long,
    fetchWaitMs: Long, spill: Long)
final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int])
final case class QeRec(end: Long, phases: Seq[(String, Long, Long)], plan: Map[String, Long],
    scanMs: Long)
final case class ProgressRec(at: Long, rows: Long, durations: Map[String, Long],
    stateRowsTotal: Long, stateRowsUpdated: Long, stateMem: Long, stateCommitMs: Long,
    stateUpdateMs: Long, flushMs: Long, sstBytes: Long)

/** Traced-run recorder: spans around the benchmark's own calls, plus
  * Spark's public listeners (jobs, stages, tasks, query executions with
  * their Catalyst phase times and final plans, streaming progress). Kept
  * in memory; written out when the run ends. Listener times arrive as
  * epoch milliseconds and are mapped onto the span clock. */
final class Tracer(spark: SparkSession) {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromMs(ms: Long): Long = ms * 1000000L + offsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val parent = synchronized(stack.headOption.getOrElse(-1))
    val id = synchronized { val i = spans.size; spans += Span(i, parent, name, System.nanoTime(), -1); i }
    synchronized { stack = id :: stack }
    try body
    finally synchronized {
      spans(id) = spans(id).copy(end = System.nanoTime())
      stack = stack.tail
    }
  }

  /** A span recorded after the fact, e.g. by another thread. */
  def record(name: String, start: Long, end: Long): Unit = synchronized {
    spans += Span(spans.size, -1, name, start, end)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += JobRec(e.jobId, fromMs(e.time), -1, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = fromMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        Tracer.this.synchronized(stageSpans += ((i.stageId, fromMs(s), fromMs(c))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val rec = TaskRec(e.stageId, fromMs(e.taskInfo.launchTime), fromMs(e.taskInfo.finishTime),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      Tracer.this.synchronized(tasks += rec)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      note(qe)
  }

  private def note(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (k, p) => (k, fromMs(p.startTimeMs), fromMs(p.endTimeMs)) }
    val nodes = Tracer.finalNodes(qe.executedPlan)
    def cnt(f: SparkPlan => Boolean): Long = nodes.count(f).toLong
    val plan = Map(
      "exchanges" -> cnt(_.isInstanceOf[ShuffleExchangeLike]),
      "sorts" -> cnt(_.isInstanceOf[SortExec]),
      "windows" -> cnt(_.isInstanceOf[WindowExec]),
      "broadcasts" -> cnt(_.isInstanceOf[BroadcastExchangeLike]),
      "reused_exchanges" -> cnt(_.isInstanceOf[ReusedExchangeExec]))
    val scanMs = nodes.filter(_.nodeName.startsWith("Scan"))
      .flatMap(_.metrics.get("scanTime")).map(_.value).sum
    val rec = QeRec(System.nanoTime(), phases, plan, scanMs)
    synchronized(qes += rec)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val at = fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val rec = ProgressRec(at, p.numInputRows, durations,
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
        custom("rocksdbCommitFlushLatency"), custom("rocksdbSstFileSize"))
      Tracer.this.synchronized(progress += rec)
    }
  }

  private var installed = false

  /** Attaches the listeners; [[uninstall]] detaches them, so a traced run
    * can alternate traced and untraced stretches and measure the cost. */
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  /** Catalyst analysis runs when a builder creates its DataFrame, before
    * the action's own query execution; record it from the frame. */
  def noteAnalysis(df: org.apache.spark.sql.DataFrame): Unit = {
    val phases = df.queryExecution.tracker.phases.toSeq.map { case (k, p) =>
      (k, fromMs(p.startTimeMs), fromMs(p.endTimeMs)) }
    val rec = QeRec(System.nanoTime(), phases, Map.empty, 0L)
    synchronized(qes += rec)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Jobs, stages and Catalyst phases as spans, each under the innermost
    * benchmark span that contains its start. */
  def allSpans(): Seq[Span] = synchronized {
    val own = spans.toIndexedSeq.filter(_.end >= 0)
    def owner(t: Long): Int = own.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
    val out = mutable.ArrayBuffer.from(own)
    def add(parent: Int, name: String, s: Long, e: Long): Int = {
      val i = out.size; out += Span(i, parent, name, s, e); i
    }
    val jobIds = mutable.Map.empty[Int, Int]
    jobs.filter(_.end >= 0).foreach { j =>
      val jid = add(owner(j.start), "job", j.start, j.end)
      j.stages.foreach(st => jobIds(st) = jid)
    }
    stageSpans.foreach { case (st, s, e) => add(jobIds.getOrElse(st, owner(s)), "stage", s, e) }
    qes.foreach(q => q.phases.foreach { case (k, s, e) => add(owner(s), s"catalyst.$k", s, e) })
    out.toSeq
  }
}

object Tracer {
  /** Nodes of the executed plan, looking through AQE to its final plan
    * and through query stages to what they ran. */
  def finalNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case s: QueryStageExec => finalNodes(s.plan)
    case w: V2TableWriteExec => w +: finalNodes(w.query)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children ++ p.subqueries).flatMap(finalNodes)
  }

  /** Self time of each span (its duration minus the part its children
    * cover), summed per span name, in ms. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start - covered(cs, s.start, s.end)) / 1e6
      }.sum
    }
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** JVM totals since start: GC time, JIT compile time, peak RSS. */
  def jvm(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val hwm = try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
    Map("jvm.gc_ms" -> gc.toDouble, "jvm.jit_ms" -> jit.toDouble, "jvm.peak_rss_mb" -> hwm)
  }
}
