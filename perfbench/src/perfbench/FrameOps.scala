package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, max, min, sum}

import graft.api.GraftFrame
import graft.sources.CsvOptions

/** `frame_ops`: the paper's functional stratum. `read_csv` of the
  * header-less A-F integer CSV, `apply(myadd, axis=1)`, the nine
  * reductions and one `groupby().agg`, each its own action. */
final class FrameOps(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  import FrameOps._

  private val ref = Reference(Inputs.csvRows(seed))
  val rows: Long = Inputs.CsvRows
  private val calls = ArrayBuffer.empty[Double]
  override def callLatencies: Option[ArrayBuffer[Double]] = Some(calls)
  lazy val codecPayload: Array[Byte] = {
    val files = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
    files.flatMap(p => java.nio.file.Files.readAllBytes(p))
  }

  private val opts = CsvOptions(header = false, names = Inputs.CsvCols)
  private val reductions = Seq("all", "any", "sum", "prod", "max", "min", "count", "mean", "std")

  def execute(tr: Tracer): Seq[String] = {
    import spark.implicits._
    def call[T](span: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val out = tr.span(span)(f)
      calls += seconds(t0)
      out
    }
    // read_csv itself runs only schema inference; the traced run also
    // parses every row here, so the sources span holds a full parse
    val gf = call("sources.csv_read") {
      val g = GraftFrame.read_csv(spark, dir.toString, opts)
      tr.scan(g.df)
      g
    }
    val applied = call("reduce.apply") {
      gf.apply[Double](myadd).toDF("v")
        .agg(sum("v"), count(lit(1)), min("v"), max("v")).collect().head
    }
    val reduced = reductions.map { op =>
      op -> call(s"reduce.$op") {
        (op match {
          case "all" => gf.all()
          case "any" => gf.any()
          case "sum" => gf.sum()
          case "prod" => gf.select("F").prod()
          case "max" => gf.max()
          case "min" => gf.min()
          case "count" => gf.countNonNull()
          case "mean" => gf.mean()
          case "std" => gf.std()
        }).df.collect().head
      }
    }.toMap
    val grouped = call("reduce.groupby") {
      gf.groupby("E").agg("A" -> "sum", "B" -> "max", "C" -> "mean", "D" -> "count").df.collect()
    }
    tr.span("check")(check(applied, reduced, grouped))
  }

  def check(applied: Row, reduced: Map[String, Row], grouped: Array[Row]): Seq[String] = {
    val f = ArrayBuffer.empty[String]
    def num(r: Row, c: String): Option[Double] =
      Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue)
    def exact(what: String, got: Any, want: Any): Unit =
      if (got != want) f += s"$what: got $got, want $want"
    def close(what: String, got: Option[Double], want: Double): Unit =
      if (!got.exists(g => relClose(g, want, FloatTol))) f += s"$what: got $got, want $want"

    close("apply sum", Some(applied.getDouble(0)), ref.applySum)
    exact("apply count", applied.getLong(1), rows)
    close("apply min", Some(applied.getDouble(2)), ref.applyMin)
    close("apply max", Some(applied.getDouble(3)), ref.applyMax)
    Inputs.CsvCols.zipWithIndex.foreach { case (c, i) =>
      val st = ref.cols(i)
      exact(s"all $c", reduced("all").getAs[Any](c), st.all)
      exact(s"any $c", reduced("any").getAs[Any](c), st.any)
      exact(s"sum $c", num(reduced("sum"), c).map(_.toLong), Some(st.sum))
      exact(s"max $c", num(reduced("max"), c).map(_.toLong), Some(st.max))
      exact(s"min $c", num(reduced("min"), c).map(_.toLong), Some(st.min))
      exact(s"count $c", num(reduced("count"), c).map(_.toLong), Some(st.count))
      close(s"mean $c", num(reduced("mean"), c), st.mean)
      close(s"std $c", num(reduced("std"), c), st.std)
    }
    exact("prod F", num(reduced("prod"), "F"), Some(ref.prodF))
    val got = grouped.map { r =>
      Option(r.getAs[Any]("E")).map(_.asInstanceOf[Number].longValue) ->
        (r.getAs[Number]("sum_A").longValue, r.getAs[Number]("max_B").longValue,
          r.getAs[Number]("mean_C").doubleValue, r.getAs[Number]("count_D").longValue)
    }.toMap
    exact("groupby keys", got.keySet, ref.groups.keySet)
    ref.groups.foreach { case (k, (s, mx, mean, n)) =>
      got.get(k).foreach { case (gs, gmx, gmean, gn) =>
        exact(s"groupby $k sum_A", gs, s)
        exact(s"groupby $k max_B", gmx, mx)
        close(s"groupby $k mean_C", Some(gmean), mean)
        exact(s"groupby $k count_D", gn, n)
      }
    }
    f.toSeq
  }

  def layerMetrics(tr: Tracer, runId: Int): Map[String, Double] = {
    val c = tr.counters(runId, _.startsWith("sources."))
    val r = tr.counters(runId, _.startsWith("reduce."))
    Map("sources.csv_read_s" -> tr.spanSeconds(runId, _ == "sources.csv_read"),
      "sources.jobs" -> c.jobs.toDouble,
      "reduce.jobs" -> r.jobs.toDouble) ++
      (("apply" +: reductions) :+ "groupby").map(op => s"reduce.${op}_s" -> tr.spanSeconds(runId, _ == s"reduce.$op"))
  }
}

object FrameOps {
  /** Relative tolerance for float results (sums of doubles, mean, std). */
  val FloatTol = 1e-9

  /** The reference's `myadd(row, a=2, b=1.5) = row.sum() + a + b`,
    * skipping nulls as pandas' `row.sum()` does. */
  val myadd: Row => Double = { r =>
    var s = 0.0
    var i = 0
    while (i < r.length) {
      if (!r.isNullAt(i)) s += r.get(i).asInstanceOf[Number].doubleValue
      i += 1
    }
    s + 2 + 1.5
  }

  final case class ColStats(sum: Long, max: Long, min: Long, count: Long, mean: Double,
      std: Double, all: Boolean, any: Boolean)

  /** Expected results, computed in plain Scala from the generated rows. */
  final case class Reference(rows: Array[Inputs.CsvRow]) {
    val cols: IndexedSeq[ColStats] = Inputs.CsvCols.indices.map { c =>
      val v = rows.flatMap(_(c))
      val n = v.length
      val mean = v.map(_.toDouble).sum / n
      val std = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      ColStats(v.sum, v.max, v.min, n, mean, std, v.forall(_ != 0), v.exists(_ != 0))
    }
    val prodF: Double = rows.flatMap(_(5)).map(_.toDouble).product
    private val applied = rows.map(r => r.flatten.map(_.toDouble).sum + 3.5)
    val applySum: Double = applied.sum
    val applyMin: Double = applied.min
    val applyMax: Double = applied.max
    /** groupby E: (sum A, max B, mean C, count D), null E is its own group. */
    val groups: Map[Option[Long], (Long, Long, Double, Long)] = rows.groupBy(_(4)).map { case (k, rs) =>
      val c = rs.flatMap(_(2))
      k -> (rs.flatMap(_(0)).sum, rs.flatMap(_(1)).max, c.map(_.toDouble).sum / c.length,
        rs.flatMap(_(3)).length.toLong)
    }
  }
}
