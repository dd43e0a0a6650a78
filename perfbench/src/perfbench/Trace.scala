package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are epoch milliseconds, the clock Spark's
  * listener events carry. Job spans are recorded with `kind = "job"`.
  */
final case class Span(id: Long, name: String, parent: Long, start: Double, end: Double,
                      kind: String = "call") {
  def dur: Double = end - start
}

/** Task-level totals of one stage, summed on the listener-bus thread. */
final class StageAgg {
  var tasks, tasksFailed = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
}

final case class JobRec(id: Int, span: Long, start: Long, stages: Seq[Int],
                        @volatile var end: Long = -1L, @volatile var ok: Boolean = true)

/** Catalyst phase times of one action, from its QueryExecution tracker. */
final case class PhaseRec(at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** In-memory tracer. Spans nest workload op → graft call → sink; Spark
  * jobs are attributed to the innermost open span through the
  * `perfbench.span` local property. Nothing is recorded unless
  * [[enable]] was called: with tracing off, [[span]] only runs its body.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val ids = new AtomicLong(0L)
  private val stack = mutable.Stack[Long](0L)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()
  private val started, ended = new AtomicInteger(0)
  @volatile private var lastEventMs = 0L
  private var on = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.stageIds))
      started.incrementAndGet(); lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
      ended.incrementAndGet(); lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.tasksFailed += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      phases.add(PhaseRec(at, ms("analysis"), ms("optimization"), ms("planning")))
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Waits until the listener bus has delivered the events of every job
    * seen so far, then detaches the listeners.
    */
  def disable(): Unit = if (on) {
    quiesce()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  private def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (started.get != ended.get || System.currentTimeMillis() - lastEventMs < 150))
      Thread.sleep(10)
  }

  /** Runs `body` as a span named `name` under the innermost open span. */
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.top
      val prev = sc.getLocalProperty(Trace.Key)
      sc.setLocalProperty(Trace.Key, id.toString)
      stack.push(id)
      val start = nowMs
      try body
      finally {
        stack.pop()
        sc.setLocalProperty(Trace.Key, prev)
        spans += Span(id, name, parent, start, nowMs)
      }
    }

  /** Every span plus one span per job, for the trace file and the layer split. */
  def allSpans: Seq[Span] =
    spans.toSeq ++ jobs.values.asScala.toSeq.filter(_.end >= 0).map(j =>
      Span(-j.id - 1L, s"job ${j.id}", j.span, j.start.toDouble, j.end.toDouble, "job"))

  /** Writes spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","kind":"${s.kind}","parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val Key = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, reach); val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}
