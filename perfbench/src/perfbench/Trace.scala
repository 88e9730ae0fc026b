package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans plus Spark counters, recorded from outside graft.
  *
  * A span is (name, start, end, parent, run id), kept in memory and
  * written out when the run ends. While a span is open its id rides on
  * the SparkContext local property [[Tracer.SpanKey]], so every job is
  * attributed to the span that was active when it started. Jobs the
  * benchmark itself adds (materializing a lazy stage, counting LSH
  * candidates, draining the listener bus) run under their own job
  * groups; see [[counters]] for which counts they are left out of.
  *
  * When tracing is off, [[span]], [[materialize]] and [[extra]] only
  * run their body, and no listener is attached. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis() * 1000000L
  /** Wall clock in ns, on the same base as Spark's event times. */
  def now(): Long = wall0 + (System.nanoTime() - nano0)

  final case class Span(id: Int, name: String, parent: Int, run: Int, start: Long, var end: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Intervals of benchmark-added work, whose query planning is not counted. */
  private val benchIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stack: List[Span] = Nil
  private var fencesIssued = 0
  val rec = new Recorder
  private var on = false
  var run = 0

  def enabled: Boolean = on

  def setEnabled(b: Boolean): Unit = if (b != on) {
    on = b
    if (b) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
    else { fence(force = true); sc.removeSparkListener(rec); spark.listenerManager.unregister(rec) }
  }

  def span[T](name: String)(f: => T): T = if (!on) f else {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, now(), 0L)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f finally {
      s.end = now()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def group[T](g: String)(f: => T): T = {
    val t0 = now()
    sc.setJobGroup(g, g)
    try f finally { sc.clearJobGroup(); benchIntervals += ((t0, now())) }
  }

  /** Compute a persisted frame now, so the next layer's span holds only
    * its own work. Untraced runs leave it lazy. */
  def materialize(df: DataFrame): DataFrame = {
    if (on) group(Materialize)(df.count())
    df
  }

  /** Read every row and column of a lazy frame now: a full parse of a
    * file source, which `count()` may skip. Untraced runs leave it lazy. */
  def scan(df: DataFrame): DataFrame = {
    if (on) group(Materialize)(df.queryExecution.toRdd.foreach(_ => ()))
    df
  }

  /** Benchmark-side measurements (not part of the workload). */
  def extra[T](f: => T): T = if (on) group(Extra)(f) else f

  /** Wait until the listener has seen every event posted so far: run a
    * marker job and wait for its end event (the bus is FIFO). */
  def fence(force: Boolean = false): Unit = if (on || force) {
    fencesIssued += 1
    group(Fence)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (rec.fenceEnds.get < fencesIssued && System.nanoTime() < deadline) Thread.sleep(1)
  }

  // ---- summaries ---------------------------------------------------------

  final case class Counters(jobs: Int, stages: Int, tasks: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, runMs: Long, cpuNs: Long)

  private def spanOf(j: rec.Job): Option[Span] = j.span.flatMap(i => spans.lift(i))

  /** The run's jobs, with or without those that materialize a stage. */
  private def counted(runId: Int, withMaterialize: Boolean): Seq[rec.Job] = rec.synchronized {
    rec.jobs.filter { j =>
      (j.group.isEmpty || (withMaterialize && j.group.contains(Materialize))) &&
        spanOf(j).exists(_.run == runId)
    }.toList
  }

  /** Counters of the run's jobs whose span name satisfies `p`. Job,
    * stage and task counts leave out every job the benchmark added;
    * bytes and task times keep the materializing jobs, which do the
    * stage's own (otherwise lazy) work. */
  def counters(runId: Int, p: String => Boolean = _ => true): Counters = rec.synchronized {
    def stagesOf(js: Seq[rec.Job]) = js.filter(j => spanOf(j).exists(s => p(s.name)))
      .flatMap(_.stageIds).flatMap(rec.stages.get)
    val own = counted(runId, withMaterialize = false).filter(j => spanOf(j).exists(s => p(s.name)))
    val st = stagesOf(own)
    val work = stagesOf(counted(runId, withMaterialize = true))
    Counters(own.size, st.size, st.map(_.tasks.toLong).sum, work.map(_.shuffleWrite).sum,
      work.map(_.shuffleRead).sum, work.map(_.spill).sum, work.map(_.runMs).sum, work.map(_.cpuNs).sum)
  }

  def spanSeconds(runId: Int, p: String => Boolean): Double =
    spans.filter(s => s.run == runId && p(s.name)).map(s => (s.end - s.start) / 1e9).sum

  /** Wall time of a run's root span not covered by any job (driver-local
    * work: training loops, collects' driver side, planning). */
  def driverSeconds(runId: Int, root: Span): Double = rec.synchronized {
    val iv = rec.jobs.filter(j => j.group != Some(Fence) && spanOf(j).exists(_.run == runId))
      .map(j => (math.max(j.start, root.start), math.min(j.end, root.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (root.end - root.start - covered) / 1e9
  }

  /** Longest over median task of the run's slowest stage. */
  def taskSkew(runId: Int): Double = rec.synchronized {
    val st = counted(runId, withMaterialize = true).flatMap(_.stageIds).flatMap(rec.stages.get)
    if (st.isEmpty) 0.0 else {
      val slow = st.maxBy(_.durMs)
      val d = rec.taskDur.getOrElse(slow.id, mutable.ArrayBuffer.empty[Long]).sorted
      if (d.isEmpty) 0.0 else d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
    }
  }

  /** Catalyst phase time of queries that started inside the interval,
    * minus those the benchmark itself issued. */
  def planSeconds(from: Long, until: Long): Double = rec.synchronized {
    rec.plans.filter { case (st, _) =>
      st >= from && st <= until && !benchIntervals.exists { case (a, b) => st >= a && st <= b }
    }.map(_._2).sum / 1e9
  }

  def spansJson(): String = Json.value(spans.map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var upto = s.start
    kids.foreach { case (a, b) =>
      val a1 = math.max(a, upto)
      if (b > a1) { covered += b - a1; upto = b }
    }
    val c = counters(s.run, _ == s.name)
    Json.Raw(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> (s.end - s.start - covered) / 1e9,
      "jobs" -> c.jobs, "stages" -> c.stages, "shuffle_write_bytes" -> c.shuffleWrite))
  })
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Materialize = "perfbench.materialize"
  val Extra = "perfbench.extra"
  val Fence = "perfbench.fence"
}

/** Spark listener and query-execution listener feeding [[Tracer]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, span: Option[Int], group: Option[String], start: Long,
      var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, durMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  val taskDur = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** (first phase start, summed phase time), ns. */
  val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  val fenceEnds = new AtomicInteger(0)
  private val byId = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val j = Job(e.jobId, p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt),
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))), e.time * 1000000L,
      e.time * 1000000L, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized(byId.get(e.jobId)).foreach { j =>
      synchronized(j.end = e.time * 1000000L)
      if (j.group.contains(Tracer.Fence)) fenceEnds.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      val dur = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
      stages(i.stageId) = Stage(i.stageId, i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, dur)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskDur.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min * 1000000L, ph.map(_.durationMs).sum * 1000000L))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
