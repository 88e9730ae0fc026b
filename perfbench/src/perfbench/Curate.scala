package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, collect_list, count, length, lit, pmod, sum, when}

import graft.api.GraftFrame
import graft.operators.{Bpe, Dedup, Pipeline, WebArchive}

/** `curate`: gzipped WARC blobs → `warc_ingest` → Gopher quality
  * filter → MinHash near-dup drop → BPE train + token counts →
  * `packSequences` → census. Each stage's output is persisted, as a
  * pipeline whose stages feed several consumers would be; the traced
  * run also materializes it before the next stage starts. */
final class Curate(spark: SparkSession, dir: Path, seed: Long, nproc: Int) extends Workload {
  import Curate._

  private val corpus = Inputs.corpus(seed)
  val rows: Long = corpus.docs.length
  private val textChars = corpus.docs.iterator.map(_.text.length.toLong).sum
  private val warcBytes = Files.list(dir).toArray.map(p => Files.size(p.asInstanceOf[Path])).sum
  lazy val codecPayload: Array[Byte] = corpus.docs.map(_.text).mkString("\n").getBytes(UTF_8)

  // plain-Scala references, computed once from the generated corpus
  private val texts = corpus.docs.iterator.map(d => d.id -> d.text).toMap
  private val gopherRef = corpus.docs.iterator.map(d => d.id -> CurateReference.gopher(d.text)).toMap
  private val pairRef = CurateReference.similarPairs(corpus.docs.map(d => (d.id, d.text)).toSeq, Threshold)
  /** BPE reference counts of the last deduplicated doc set seen. */
  private var tokenRef: (Set[Long], Map[Long, Long]) = (Set.empty, Map.empty)

  final case class Outcome(ingested: Long, qualityKept: Long, dupPairs: Long, finalKept: Long, tokens: Long)
  private val outcomes = mutable.HashMap.empty[Int, Outcome]
  private var firstCensus: Option[Int] = None
  private var candidatePairs: Option[Long] = None
  private var wordTable: Option[Long] = None

  def execute(tr: Tracer): Seq[String] = {
    import spark.implicits._
    val blobs = spark.read.format("binaryFile").load(dir.toString).select(col("content").as("data"))
    val docs = tr.span("ingest.warc")(tr.materialize(WebArchive.warcIngest(blobs).persist()))
    val quality = tr.span("quality") {
      tr.materialize(new GraftFrame(docs).with_gopher_quality("txt").df
        .select("doc_id", "txt", "gopher_keep").persist())
    }
    val kept = quality.where(col("gopher_keep")).select("doc_id", "txt")
    val pairs = tr.span("dedup.pairs") {
      tr.materialize(Dedup.nearDupMinHash(kept, "doc_id", "txt", Threshold).persist())
    }
    val deduped = tr.span("dedup.drop")(tr.materialize(Dedup.dropNearDuplicates(kept, "doc_id", pairs).persist()))
    val merges = tr.span("tokenize.train")(Bpe.train(deduped, "txt", Merges))
    val counts = tr.span("tokenize.encode") {
      tr.materialize(Bpe.tokenCounts(deduped, "doc_id", "txt", merges).persist())
    }
    val packed = tr.span("pack") {
      tr.materialize(Pipeline.packSequences(counts.withColumn("shard", pmod(col("doc_id"), lit(nproc.toLong))),
        "n_tokens", Budget, "doc_id", Seq("shard")).persist())
    }
    val (census, stages) = tr.span[(Array[(Long, Long, Long, Long)], (Long, Long, Array[Long]))]("census") {
      (packed.select(col("doc_id"), col("n_tokens"), col("shard"), col("bin"))
        .as[(Long, Long, Long, Long)].collect(),
        quality.agg(count(lit(1)), sum(length(col("txt"))), collect_list(when(!col("gopher_keep"), col("doc_id"))))
          .as[(Long, Long, Array[Long])].collect().head)
    }
    if (tr.enabled && candidatePairs.isEmpty) tr.span("bench.extra") {
      tr.extra {
        candidatePairs = Some(Dedup.lshCandidatePairs(kept, "doc_id", "txt").count())
        wordTable = Some(Bpe.wordFreqs(deduped, "txt").count())
      }
    }
    val failures = tr.span("check") {
      val pairRows = pairs.select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
      outcomes(tr.run) = Outcome(stages._1, stages._1 - stages._3.length, pairRows.length, census.length,
        census.map(_._2).sum)
      check(census, stages, pairRows)
    }
    Seq(packed, counts, deduped, pairs, quality, docs).foreach(_.unpersist(blocking = true))
    failures
  }

  /** One execution's outputs against the plain-Scala references:
    * ingest returns every doc with its generated text; the quality
    * verdict of every doc the Gopher reference decides matches it; the
    * dedup pairs are exactly the reference's pairs among the
    * quality-kept docs (so every planted exact copy and every near copy
    * at or above the threshold is caught, and nothing below it); the
    * output is the kept docs minus the reference's cluster losers; each
    * doc's token count is the reference BPE count; each bin is its
    * shard's running token sum over the budget; and the census equals
    * the first execution's. */
  def check(census: Array[(Long, Long, Long, Long)], stages: (Long, Long, Array[Long]),
      pairs: Array[(Long, Long)]): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    def diff[T](what: String, got: Set[T], want: Set[T]): Unit = {
      val (extra, missing) = (got -- want, want -- got)
      if (extra.nonEmpty || missing.nonEmpty)
        f += s"$what: ${extra.size} unexpected (${extra.take(3).mkString(", ")}), " +
          s"${missing.size} missing (${missing.take(3).mkString(", ")})"
    }
    val (ingested, chars, dropped) = stages
    if (ingested != rows) f += s"ingest: $ingested docs, want $rows"
    if (chars != textChars) f += s"ingest: $chars text chars, want $textChars"
    val kept = texts.keySet -- dropped
    val wrong = gopherRef.collect { case (id, Some(keep)) if keep != kept(id) => id }
    if (wrong.nonEmpty) f += s"quality: ${wrong.size} verdicts differ from the Gopher reference (${wrong.take(3).mkString(", ")})"
    val wantPairs = pairRef.keySet.filter { case (a, b) => kept(a) && kept(b) }
    diff("dedup pairs", pairs.toSet, wantPairs)
    val survivors = kept -- CurateReference.clusterLosers(wantPairs)
    val ids = census.iterator.map(_._1).toSet
    if (ids.size != census.length) f += "census: duplicate doc ids"
    diff("dedup output", ids, survivors)
    val copies = ids.intersect(corpus.exactCopies)
    if (copies.nonEmpty) f += s"dedup: ${copies.size} planted exact copies survived"
    if (tokenRef._1 != survivors)
      tokenRef = (survivors, CurateReference.bpeTokenCounts(survivors.toSeq.map(id => (id, texts(id))), Merges))
    val badCounts = census.filter { case (id, n, _, _) => !tokenRef._2.get(id).contains(n) }
    if (badCounts.nonEmpty) f += s"tokenize: ${badCounts.length} token counts differ from the BPE reference " +
      s"(doc ${badCounts.head._1}: ${badCounts.head._2}, want ${tokenRef._2.get(badCounts.head._1)})"
    census.groupBy(_._3).foreach { case (shard, rs) =>
      var acc = 0L
      rs.sortBy(_._1).foreach { case (id, n, _, bin) =>
        if (bin != acc / Budget) f += s"pack: doc $id in shard $shard has bin $bin, want ${acc / Budget}"
        acc += n
      }
    }
    val digest = java.util.Arrays.hashCode(census.sortBy(_._1).flatMap { case (a, b, c, d) => Array(a, b, c, d) })
    firstCensus match {
      case None => firstCensus = Some(digest)
      case Some(d) => if (d != digest) f += "census differs from the first execution's"
    }
    f.toSeq
  }

  def layerMetrics(tr: Tracer, runId: Int): Map[String, Double] = {
    val o = outcomes(runId)
    val span = (n: String) => tr.spanSeconds(runId, _ == n)
    val ingestS = span("ingest.warc")
    val encodeS = span("tokenize.encode")
    val cand = candidatePairs.getOrElse(0L).toDouble
    Map(
      "ingest.s" -> ingestS,
      "ingest.mb_per_s" -> mb(warcBytes) / ingestS,
      "quality.s" -> span("quality"),
      "quality.kept_frac" -> o.qualityKept.toDouble / o.ingested,
      "dedup.pairs_s" -> span("dedup.pairs"),
      "dedup.drop_s" -> span("dedup.drop"),
      "dedup.candidate_pairs" -> cand,
      "dedup.dup_pairs" -> o.dupPairs.toDouble,
      "dedup.precision" -> (if (cand > 0) o.dupPairs / cand else 0.0),
      "dedup.dropped" -> (o.qualityKept - o.finalKept).toDouble,
      "tokenize.train_s" -> span("tokenize.train"),
      "tokenize.encode_s" -> encodeS,
      "tokenize.word_table" -> wordTable.getOrElse(0L).toDouble,
      "tokenize.tokens_per_s" -> o.tokens / encodeS,
      "pack.s" -> span("pack")) ++
      Seq("ingest", "dedup", "tokenize").flatMap(l => layerCounters(tr, runId, l))
  }
}

object Curate {
  /** Shingle-Jaccard threshold of the near-dup drop. */
  val Threshold = 0.8
  /** BPE merges learned per execution. */
  val Merges = 32
  /** Token budget of one packed sequence. */
  val Budget = 2048
}
