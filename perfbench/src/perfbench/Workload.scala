package perfbench

import scala.collection.mutable.ArrayBuffer

/** One benchmark workload. An execution goes from the workload's input
  * to a checked result; it returns the failed checks (empty when the
  * output is correct). */
trait Workload {
  /** Input rows, the base of `rows_per_s`. */
  def rows: Long
  /** Per-call latencies of the user-visible calls of this workload, or
    * None when the whole execution is the one call a user waits on. */
  def callLatencies: Option[ArrayBuffer[Double]] = None
  def execute(tr: Tracer): Seq[String]
  /** Per-layer metrics of traced execution `runId` (after a fence). */
  def layerMetrics(tr: Tracer, runId: Int): Map[String, Double]
  /** The text payload the codec kernels are timed on. */
  def codecPayload: Array[Byte]
  def close(): Unit = ()

  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def mb(bytes: Long): Double = bytes / 1e6

  /** Jobs and shuffle MB of the spans whose names start with `prefix`. */
  protected def layerCounters(tr: Tracer, runId: Int, layer: String): Map[String, Double] = {
    val c = tr.counters(runId, _.startsWith(layer + "."))
    Map(s"$layer.jobs" -> c.jobs.toDouble, s"$layer.shuffle_mb" -> mb(c.shuffleWrite + c.shuffleRead))
  }

  protected def relClose(a: Double, b: Double, tol: Double): Boolean =
    a == b || math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))
}
