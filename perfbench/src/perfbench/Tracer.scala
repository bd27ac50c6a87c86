package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark made into a layer. */
final case class Span(id: Int, name: String, parent: Int, runId: String, start: Long, end: Long,
    startMs: Long, endMs: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Work Spark did on behalf of one span, summed over its jobs, tasks
  * and executed plans. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var taskRunNs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var planNs = 0L
  var joinRows = 0L

  def add(o: SpanWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskRunNs += o.taskRunNs; taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    planNs += o.planNs; joinRows += o.joinRows
  }
}

/** Outside-in tracer. The benchmark opens a span around each call it
  * makes into a layer; the span id rides a Spark local property, so
  * every job, stage and task started inside the call carries it. A
  * SparkListener and a QueryExecutionListener, registered only when
  * tracing is on, fold the jobs, task metrics and executed plans into
  * the innermost open span. Spans stay in memory and are written out
  * once, when the run ends.
  *
  * The tracer is single-threaded on the driver side: spans nest
  * strictly, as the workloads call layers from one thread.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1

  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** (planning start, wall ms; planning ns; join rows) per executed query. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var drainSpan = -1
  @volatile private var drained = false

  /** Time spent in the tracer itself: listener callbacks (on the
    * listener bus thread) plus span bookkeeping (on the driver thread). */
  private val costNs = new java.util.concurrent.atomic.AtomicLong()
  private def costed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    costNs.addAndGet(System.nanoTime() - t0)
  }
  def overheadSeconds: Double = costNs.get / 1e9

  private def workOf(span: Int): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = costed {
      spanOf(e.properties).foreach { s =>
        workOf(s).synchronized(workOf(s).jobs += 1)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (Option(jobSpan.get(e.jobId)).contains(drainSpan)) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = costed {
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          val w = workOf(s)
          w.synchronized {
            w.tasks += 1
            w.taskRunNs += m.executorRunTime * 1000000L
            w.taskCpuNs += m.executorCpuTime
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            w.outputBytes += m.outputMetrics.bytesWritten
            w.outputRecords += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = costed {
      val phases = qe.tracker.phases
      phases.get("planning").foreach { p =>
        plans.add((p.startTimeMs, phases.values.map(_.durationMs).sum * 1000000L,
          joinRows(qe.executedPlan)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  /** Run `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val c0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    costNs.addAndGet(start - c0)
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, runId, start, end, startMs, System.currentTimeMillis())
      sc.setLocalProperty(SpanKey, prev)
      costNs.addAndGet(System.nanoTime() - end)
    }
  }

  private var finished = false

  /** Wait until the listener bus has delivered every event of the jobs
    * run so far (a marker job's end is seen only after all earlier
    * events on the same queue), then attribute each executed query's
    * planning time and join rows to the innermost span open when its
    * physical planning started. The plan listener sees no local
    * properties, so wall time is the only link; at millisecond grain. */
  def finish(): Unit = if (!finished) {
    finished = true
    drainSpan = nextId
    drained = false
    span("trace.drain")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // SQL execution-end events ride the listener manager's own queue
    spans.filterInPlace(_.id != drainSpan)
    plans.asScala.foreach { case (at, planNs, joins) =>
      spans.filter(s => s.startMs <= at && at <= s.endMs).maxByOption(_.start).foreach { s =>
        val w = workOf(s.id)
        w.planNs += planNs
        w.joinRows += joins
      }
    }
  }

  def stop(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  def all: Seq[Span] = spans.toSeq

  /** Work attributed to `span` alone (not its children). */
  def ownWork(span: Int): SpanWork = Option(work.get(span)).getOrElse(new SpanWork)

  /** Work of `span` and all its descendants. */
  def totalWork(span: Int): SpanWork = {
    val acc = new SpanWork
    val kids = spans.groupBy(_.parent)
    def go(s: Int): Unit = { acc.add(ownWork(s)); kids.getOrElse(s, Nil).foreach(k => go(k.id)) }
    go(span)
    acc
  }

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** One JSON object per span, for the trace file. */
  def toJsonLines: Seq[String] = spans.sortBy(_.start).map { s =>
    val w = ownWork(s.id)
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)},""" +
      s""""jobs":${w.jobs},"tasks":${w.tasks},"task_cpu_s":${w.taskCpuNs / 1e9},""" +
      s""""shuffle_write_b":${w.shuffleWriteBytes},"spill_b":${w.spillBytes},""" +
      s""""output_b":${w.outputBytes},"output_rows":${w.outputRecords},""" +
      s""""plan_s":${w.planNs / 1e9},"join_rows":${w.joinRows}}"""
  }.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Summed `numOutputRows` of every join operator in an executed plan,
    * looking through adaptive plans, query stages and write commands. */
  def joinRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case q: QueryStageExec => joinRows(q.plan)
    case p =>
      val own =
        if (p.nodeName.contains("Join")) p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        else 0L
      own + p.children.map(joinRows).sum
  }
}
