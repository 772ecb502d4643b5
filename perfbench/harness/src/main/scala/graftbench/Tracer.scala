package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call made by the benchmark: `op` is the closed-loop op it
  * belongs to (-1 outside the timed loop), `parent` the index of the
  * enclosing span (-1 for a root). Times are epoch nanoseconds. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Per-stage task totals, summed from `StageInfo.taskMetrics`. */
final case class StageTotals(tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                             inputBytes: Long, outputBytes: Long,
                             shuffleReadBytes: Long, shuffleWriteBytes: Long,
                             spillBytes: Long)

final class JobRec(val id: Int, val op: Int, val group: String, val streamQuery: String,
                   val start: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Everything the traced run measures from outside the program: spans
  * around the benchmark's own calls, a `SparkListener` (jobs, stages,
  * task metrics), a `QueryExecutionListener` (Catalyst phase times from
  * `QueryExecution.tracker`) and a `StreamingQueryListener` (micro-batch
  * progress). All of it stays in memory until the run ends.
  *
  * With tracing off, [[span]] is a plain call and no listener is
  * registered, so the untraced run measures the program alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext

  /** The op the client thread is running; jobs started while it is set
    * are attributed to it when they carry no op job group of their own
    * (stream micro-batches and helper threads do not inherit it). */
  @volatile var currentOp: Int = -1

  private val spans = new java.util.ArrayList[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()
  /** (phase start epoch ms, summed phase ms) per finished query execution. */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      val op = Some(group).filter(_.startsWith("op-"))
        .map(_.stripPrefix("op-").toInt).getOrElse(currentOp)
      val rec = new JobRec(e.jobId, op, group, prop("sql.streaming.queryId").getOrElse(""),
        e.time, e.stageIds)
      jobs.put(e.jobId, rec)
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
      jobsEnded.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageTotals(i.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planning.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait (bounded) until every started job has ended and the listener
    * bus has delivered the stage completions that follow. */
  def drain(): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + 5000L
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Time `f` as a span named `name` (a no-op wrapper when tracing is off). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val idx = spans.synchronized { spans.add(null); spans.size - 1 }
      stack.set(idx :: stack.get())
      val t0 = System.nanoTime() + Tracer.epochOffsetNs
      try f
      finally {
        val t1 = System.nanoTime() + Tracer.epochOffsetNs
        stack.set(stack.get().tail)
        spans.synchronized { spans.set(idx, Span(name, t0, t1, parent, currentOp)) }
      }
    }

  /** Run `f` as op `id`: its jobs carry the op's job group. */
  def inOp[A](id: Int, kind: String)(f: => A): A = {
    currentOp = id
    try inGroup(s"op-$id")(f)
    finally currentOp = -1
  }

  /** Run `f` with its jobs tagged as job group `group`. */
  def inGroup[A](group: String)(f: => A): A = {
    if (enabled) sc.setJobGroup(group, group, interruptOnCancel = false)
    try f
    finally if (enabled) sc.clearJobGroup()
  }

  /** The jobs of `group` once the listener bus has delivered their ends
    * (and so the stage completions posted before them); waits at most
    * 5 s. */
  def awaitGroup(group: String): Seq[JobRec] = {
    def mine = jobs.values.asScala.filter(_.group == group).toSeq
    val deadline = System.currentTimeMillis() + 5000L
    while ({ val m = mine; m.isEmpty || m.exists(_.end < 0) } &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    mine
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.asScala.toList.filter(_ != null))

  def jobsOf(op: Int): Seq[JobRec] = jobs.values.asScala.filter(_.op == op).toSeq

  def stageTotalsOfJob(j: JobRec): Seq[StageTotals] =
    j.stageIds.flatMap(s => Option(stages.get(s)))

  /** Summed span durations (ms) per name, and self time: the part of
    * each span that no child span covers. */
  def spanSummary(): Map[String, (Int, Double, Double)] = {
    // parent links index the unfiltered list
    val spansByIdx = spans.synchronized(spans.asScala.toIndexedSeq)
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[Span]]
    spansByIdx.foreach { s =>
      if (s != null && s.parent >= 0)
        children.getOrElseUpdate(s.parent, mutable.ArrayBuffer()) += s
    }
    val out = mutable.Map.empty[String, (Int, Double, Double)]
    spansByIdx.zipWithIndex.foreach { case (s, i) =>
      if (s != null) {
        val kids = children.getOrElse(i, Nil).map(k => (k.start, k.end))
        val covered = Tracer.unionLength(kids.toSeq, s.start, s.end)
        val dur = (s.end - s.start) / 1e6
        val self = (s.end - s.start - covered) / 1e6
        val (n, d, sf) = out.getOrElse(s.name, (0, 0.0, 0.0))
        out(s.name) = (n + 1, d + dur, sf + self)
      }
    }
    out.toMap
  }
}

object Tracer {
  /** Offset that turns `System.nanoTime` into epoch nanoseconds, so
    * spans line up with listener event times (epoch ms). */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
