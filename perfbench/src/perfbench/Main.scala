package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark; `perfbench/run.py` is the entry point.
  *
  *   probe --cores N --work DIR
  *       start a session, print READY, exit (one `setup_s` sample)
  *   run --workload W --seed N --seconds S --trace 0|1 --cores N --work DIR --result FILE
  *       start a session, print READY, generate the inputs, then run
  *       the workload closed-loop (one execution at a time, each checked
  *       before the next starts) for S seconds and write FILE
  *   selftest --work DIR
  *       generator determinism and corrupted-output checks (no Spark) */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    args.head match {
      case "probe" =>
        session(a("cores").toInt, work)
        ready()
        Runtime.getRuntime.halt(0)
      case "run" => run(a, work)
      case "selftest" => SelfTest.run(work)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
  }

  def session(cores: Int, work: Path): SparkSession =
    GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  private def ready(): Unit = { println("READY"); System.out.flush() }

  def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble

  def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** CPU seconds this process has used. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  final case class Exec(k: Int, traced: Boolean, wall: Double, failures: Seq[String],
      loadBefore: Double, loadAfter: Double, gc: Double, ownCpus: Double)

  private def run(a: Map[String, String], work: Path): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val budget = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionStart = (System.nanoTime() - t0) / 1e9
    ready()
    val inputs = work.resolve("inputs")
    val manifest = Inputs.generate(workload, seed, inputs)
    val w: Workload = workload match {
      case "frame_ops" => new FrameOps(spark, inputs, seed)
      case "curate" => new Curate(spark, inputs, seed, cores)
    }
    val tr = new Tracer(spark)
    val codecs = if (traced) Some(CodecKernels.run(w.codecPayload.take(CodecPayloadBytes))) else None

    val execs = ArrayBuffer.empty[Exec]
    def execute(traceIt: Boolean): Exec = {
      tr.setEnabled(traceIt)
      tr.run = execs.size
      val load0 = loadavg()
      val gc0 = gcSeconds()
      val cpu0 = cpuSeconds()
      val t = System.nanoTime()
      val fails =
        try tr.span("exec")(w.execute(tr))
        catch { case e: Throwable => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t) / 1e9
      val e = Exec(execs.size, traceIt, wall, fails, load0, loadavg(), gcSeconds() - gc0,
        (cpuSeconds() - cpu0) / wall)
      if (traceIt) tr.fence()
      execs += e
      fails.take(5).foreach(f => System.err.println(s"perfbench: execution ${e.k} failed: $f"))
      e
    }

    // Closed loop: the first (cold) execution, unmeasured warm-up
    // executions (the JIT keeps speeding executions up for several more),
    // then measured executions until the time budget is spent. A traced
    // run alternates untraced and traced executions so their ratio is the
    // tracing overhead.
    val first = execute(traceIt = false)
    val warmupEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmupEnd || execs.size <= WarmupExecutions) execute(traceIt = false)
    val measuredFrom = execs.size
    w.callLatencies.foreach(_.clear())
    val start = System.nanoTime()
    val hardStop = start + (MaxSeconds * 1e9).toLong
    def warm = execs.filter(_.k >= measuredFrom)
    def elapsed = (System.nanoTime() - start) / 1e9
    def need = if (traced) warm.count(_.traced) < MinMeasured || warm.count(!_.traced) < MinMeasured
               else warm.size < MinMeasured
    while ((elapsed < budget || need) && System.nanoTime() < hardStop) {
      execute(traceIt = traced && (execs.size - measuredFrom) % 2 == 0)
    }
    tr.setEnabled(false)

    val plain = warm.filter(!_.traced)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tailPct = 0.0
    var opSamples = 0
    if (!traced) {
      val runS = Stats.median(plain.map(_.wall).toSeq)
      val ops = w.callLatencies.map(_.toSeq).getOrElse(plain.map(_.wall).toSeq)
      val (p, tail) = Stats.tail(ops)
      tailPct = p
      opSamples = ops.size
      metrics ++= Seq("first_run_s" -> first.wall, "run_s" -> runS, "rows_per_s" -> w.rows / runS,
        "op_p50_s" -> Stats.median(ops), "op_tail_s" -> tail, "peak_rss_mb" -> peakRssMb())
    } else {
      val tracedRuns = warm.filter(_.traced)
      val perRun = tracedRuns.map { e =>
        val root = tr.spans.find(s => s.run == e.k && s.name == "exec").get
        val c = tr.counters(e.k)
        val taskRun = c.runMs / 1e3
        w.layerMetrics(tr, e.k) ++ Map(
          "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
          "spark.tasks" -> c.tasks.toDouble, "spark.plan_s" -> tr.planSeconds(root.start, root.end),
          "spark.driver_s" -> tr.driverSeconds(e.k, root), "spark.task_run_s" -> taskRun,
          "spark.task_cpu_s" -> c.cpuNs / 1e9, "spark.core_busy_frac" -> taskRun / (e.wall * cores),
          "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6, "spark.shuffle_read_mb" -> c.shuffleRead / 1e6,
          "spark.spill_mb" -> c.spill / 1e6, "spark.task_skew" -> tr.taskSkew(e.k), "spark.gc_s" -> e.gc)
      }
      perRun.flatMap(_.keys).distinct.foreach(k => metrics(k) = Stats.median(perRun.map(_.getOrElse(k, 0.0)).toSeq))
      metrics ++= codecs.get.metrics
      metrics("session.start_s") = sessionStart
      metrics("trace.overhead_frac") =
        Stats.median(tracedRuns.map(_.wall).toSeq) / Stats.median(plain.map(_.wall).toSeq) - 1
    }

    val failed = execs.count(_.failures.nonEmpty)
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "correct" -> (failed == 0), "attempted" -> execs.size, "failed" -> failed,
      "metrics" -> metrics.toMap,
      "op_tail_percentile" -> tailPct, "op_samples" -> opSamples,
      "manifest" -> Json.Raw(manifest.toJson),
      "codec_failures" -> codecs.map(_.failures).getOrElse(Nil),
      "executions" -> execs.map { e =>
        Json.Raw(Json.obj("k" -> e.k, "traced" -> e.traced, "wall_s" -> e.wall, "ok" -> e.failures.isEmpty,
          "failures" -> e.failures.take(20), "loadavg_before" -> e.loadBefore, "loadavg_after" -> e.loadAfter,
          "nproc" -> cores, "contended" -> (math.max(e.loadBefore, e.loadAfter) > cores),
          "own_cpus" -> e.ownCpus, "gc_s" -> e.gc))
      },
      "spans" -> Json.Raw(if (traced) tr.spansJson() else "[]"))
    Files.write(Paths.get(a("result")), result.getBytes(UTF_8))
    w.close()
    spark.stop()
  }

  /** Bytes of the workload's text payload the codec kernels run on. */
  val CodecPayloadBytes: Int = 1 << 20
  /** Unmeasured warm-up after the first execution: at least this long
    * and at least this many executions. */
  val WarmupSeconds = 6.0
  val WarmupExecutions = 2
  /** Fewest measured executions (of each kind, in a traced run) a run makes. */
  val MinMeasured = 3
  /** Upper bound on the measured loop, so a run ends within its time limit. */
  val MaxSeconds = 60.0
}
