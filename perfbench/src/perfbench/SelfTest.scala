package perfbench

import java.nio.file.Path

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Tests of the benchmark itself, run without Spark:
  * the generator is deterministic in its seed, and each workload's
  * output check accepts a correct output and flags a corrupted one. */
object SelfTest {
  private var passed = 0

  private def expect(what: String)(cond: Boolean): Unit = {
    if (!cond) throw new AssertionError(s"selftest failed: $what")
    passed += 1
  }

  def run(work: Path): Unit = {
    determinism(work)
    frameOpsCheck(work.resolve("a-frame_ops"))
    curateCheck(work.resolve("a-curate"))
    println(s"selftest: $passed checks passed")
  }

  private def determinism(work: Path): Unit =
    Seq("frame_ops", "curate").foreach { w =>
      val a = Inputs.generate(w, 7, work.resolve(s"a-$w"))
      val b = Inputs.generate(w, 7, work.resolve(s"b-$w"))
      val c = Inputs.generate(w, 8, work.resolve(s"c-$w"))
      expect(s"$w: same seed, same digest")(a == b)
      expect(s"$w: other seed, other digest")(a.digest != c.digest)
      expect(s"$w: input bytes recorded")(a.inputBytes > 0 && a.rows > 0)
      if (w == "curate") {
        expect("curate: word table recorded")(a.distinctWords > 0 && a.bpePath == "local")
        expect("curate: planted copies recorded")(a.exactCopies > 0 && a.nearCopies > 0 && a.lowQuality > 0)
      }
    }

  private def frameOpsCheck(dir: Path): Unit = {
    val w = new FrameOps(null, dir, 7)
    val ref = FrameOps.Reference(Inputs.csvRows(7))
    def row(schema: StructType, vals: Any*): Row = new GenericRowWithSchema(vals.toArray, schema)
    def cols(t: DataType) = StructType(Inputs.CsvCols.map(StructField(_, t)))
    val applied = Row(ref.applySum, Inputs.CsvRows.toLong, ref.applyMin, ref.applyMax)
    def reduced(sumA: Long) = Map(
      "all" -> row(cols(BooleanType), ref.cols.map(_.all): _*),
      "any" -> row(cols(BooleanType), ref.cols.map(_.any): _*),
      "sum" -> row(cols(LongType), (sumA +: ref.cols.tail.map(_.sum)): _*),
      "prod" -> row(StructType(Seq(StructField("F", DoubleType))), ref.prodF),
      "max" -> row(cols(LongType), ref.cols.map(_.max): _*),
      "min" -> row(cols(LongType), ref.cols.map(_.min): _*),
      "count" -> row(cols(LongType), ref.cols.map(_.count): _*),
      "mean" -> row(cols(DoubleType), ref.cols.map(_.mean): _*),
      "std" -> row(cols(DoubleType), ref.cols.map(_.std): _*))
    val gs = StructType(Seq("E" -> LongType, "sum_A" -> LongType, "max_B" -> LongType,
      "mean_C" -> DoubleType, "count_D" -> LongType).map { case (n, t) => StructField(n, t) })
    val grouped = ref.groups.toArray.map { case (k, (s, m, mean, n)) => row(gs, k.orNull, s, m, mean, n) }
    expect("frame_ops: correct output passes")(w.check(applied, reduced(ref.cols(0).sum), grouped).isEmpty)
    expect("frame_ops: corrupted sum flagged")(w.check(applied, reduced(ref.cols(0).sum + 1), grouped).nonEmpty)
    val badMean = grouped.updated(0, row(gs, grouped(0).toSeq.updated(3, grouped(0).getDouble(3) * (1 + 1e-6)): _*))
    expect("frame_ops: corrupted groupby mean flagged")(w.check(applied, reduced(ref.cols(0).sum), badMean).nonEmpty)
  }

  private def curateCheck(dir: Path): Unit = {
    val cores = 4
    val w = new Curate(null, dir, 7, cores)
    val corpus = Inputs.corpus(7)
    val docs = corpus.docs.map(d => (d.id, d.text)).toSeq
    val verdicts = corpus.docs.map(d => d.id -> CurateReference.gopher(d.text)).toMap
    expect("curate: reference drops every planted low-quality doc")(corpus.lowQuality.forall(verdicts(_).contains(false)))
    val pairRef = CurateReference.similarPairs(docs, Curate.Threshold)
    val inPair = pairRef.keySet.flatMap { case (a, b) => Set(a, b) }
    expect("curate: reference pairs every planted exact copy")(corpus.exactCopies.forall(inPair))
    // a correct output, built from the references
    val dropped = verdicts.collect { case (id, v) if !v.getOrElse(true) => id }.toArray
    val kept = docs.map(_._1).toSet -- dropped
    val pairs = pairRef.keySet.filter { case (a, b) => kept(a) && kept(b) }.toArray.sorted
    val survivors = docs.filter(d => kept(d._1) && !CurateReference.clusterLosers(pairs).contains(d._1))
    val counts = CurateReference.bpeTokenCounts(survivors, Curate.Merges)
    def census(count: Long => Long) = survivors.map(_._1).groupBy(_ % cores).toSeq.flatMap { case (shard, ids) =>
      var acc = 0L
      ids.sorted.map { id =>
        val n = count(id)
        val bin = acc / Curate.Budget
        acc += n
        (id, n, shard, bin)
      }
    }.toArray
    val good = census(counts)
    val stages = (docs.length.toLong, docs.map(_._2.length.toLong).sum, dropped)
    def flags(stage: String, c: Array[(Long, Long, Long, Long)], st: (Long, Long, Array[Long]) = stages,
        ps: Array[(Long, Long)] = pairs) = w.check(c, st, ps).exists(_.startsWith(stage))
    expect("curate: correct output passes")(w.check(good, stages, pairs).isEmpty)
    val near = pairs.find { case (a, b) => pairRef((a, b)) < 1.0 }.get
    expect("curate: missed near-duplicate pair flagged")(flags("dedup pairs", good, ps = pairs.filterNot(_ == near)))
    val far = (docs(1)._1, docs(2)._1)
    expect("curate: pair below the threshold flagged")(flags("dedup pairs", good, ps = pairs :+ far))
    val copy = corpus.exactCopies.find(kept).get
    expect("curate: surviving exact copy flagged")(flags("dedup", good :+ ((copy, 100L, copy % cores, 0L))))
    val decided = verdicts.collectFirst { case (id, Some(true)) => id }.get
    expect("curate: quality verdict against the reference flagged")(
      flags("quality", good, st = stages.copy(_3 = dropped :+ decided)))
    val off = survivors(7)._1
    expect("curate: token count off by one flagged")(
      flags("tokenize", census(id => counts(id) + (if (id == off) 1 else 0))))
    expect("curate: wrong bin flagged")(flags("pack", good.updated(5, good(5).copy(_4 = good(5)._4 + 1))))
    expect("curate: census change across executions flagged")(
      flags("census", census(id => counts(id) + (if (id == off) 1 else 0))))
  }
}
