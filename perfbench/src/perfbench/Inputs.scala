package perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded input generator. Everything here is plain Scala and JDK code:
  * no Spark and no graft encoder touches the bytes a workload reads, so
  * a change to graft cannot change its own inputs.
  *
  * Sizes are fixed; the seed only changes content. */
object Inputs {
  val CsvRows = 120000
  val CsvFiles = 8
  val CsvCols: Seq[String] = Seq("A", "B", "C", "D", "E", "F")
  val NullRate = 0.02

  val CurateDocs = 5000
  val WarcShards = 16
  val ExactCopyRate = 0.08
  val NearCopyRate = 0.06
  val LowQualityRate = 0.10

  /** One generated CSV row; `None` is an empty (null) field. */
  type CsvRow = Array[Option[Long]]

  final case class Doc(id: Long, text: String)

  /** What a run read, recorded next to its results. */
  final case class Manifest(
      workload: String,
      seed: Long,
      digest: String,
      inputBytes: Long,
      rows: Long,
      distinctWords: Long,
      exactCopies: Int,
      nearCopies: Int,
      lowQuality: Int,
      wordTableBound: Int) {
    def bpePath: String =
      if (distinctWords == 0) "none" else if (distinctWords <= wordTableBound) "local" else "distributed"
    def toJson: String = Json.obj(
      "workload" -> workload, "seed" -> seed, "digest" -> digest,
      "input_bytes" -> inputBytes, "rows" -> rows, "distinct_words" -> distinctWords,
      "planted_exact_copies" -> exactCopies, "planted_near_copies" -> nearCopies,
      "planted_low_quality" -> lowQuality, "bpe_word_table_bound" -> wordTableBound,
      "bpe_training_path" -> bpePath)
  }

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ---- frame_ops: header-less integer CSV, columns A-F ------------------

  /** Column F is the `prod` column: mostly 1, a few -1 and at most 40
    * twos, so its product stays finite and exact in a double. */
  def csvRows(seed: Long): Array[CsvRow] = {
    val r = rng(seed, 1L)
    var twos = 0
    Array.fill(CsvRows) {
      val f = {
        val u = r.nextDouble()
        if (u < 0.0001 && twos < 40) { twos += 1; 2L } else if (u < 0.0011) -1L else 1L
      }
      val vals = Array[Long](r.nextInt(1000), r.nextInt(1000), r.nextInt(1000) - 500,
        1 + r.nextInt(1000), r.nextInt(10), f)
      vals.map(v => if (r.nextDouble() < NullRate) None else Some(v))
    }
  }

  private def csvBytes(rows: Array[CsvRow], from: Int, until: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder((until - from) * 24)
    var i = from
    while (i < until) {
      val row = rows(i)
      var c = 0
      while (c < row.length) {
        if (c > 0) sb.append(',')
        row(c).foreach(v => sb.append(v))
        c += 1
      }
      sb.append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  // ---- text corpora ------------------------------------------------------

  private val Stopwords = Seq("the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
    "with", "as", "was", "on", "be", "by", "this", "have", "are", "from")
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
    "t", "v", "w", "z", "br", "ch", "st", "tr", "pl", "gr", "sh")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")

  val VocabSize = 20000

  /** Zipf(1.07) over a 20k-word vocabulary whose head is English
    * stopwords (the Gopher rule needs two of them per document) and
    * whose tail is seeded pronounceable words. */
  final class Vocab(seed: Long) {
    private val r = rng(seed, 2L)
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet[String](Stopwords: _*)
      while (seen.size < VocabSize) {
        val n = 1 + r.nextInt(3)
        val sb = new StringBuilder
        (0 until n).foreach { _ => sb.append(Onsets(r.nextInt(Onsets.length))).append(Vowels(r.nextInt(Vowels.length))) }
        if (r.nextInt(3) == 0) sb.append(Onsets(r.nextInt(12)))
        seen += sb.toString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](words.length)
      var acc = 0.0
      var i = 0
      while (i < c.length) { acc += 1.0 / math.pow(i + 1, 1.07); c(i) = acc; i += 1 }
      c
    }
    def sample(rr: SplittableRandom): String = {
      val u = rr.nextDouble() * cdf(cdf.length - 1)
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      words(lo)
    }
    def text(rr: SplittableRandom, nTokens: Int): Array[String] = Array.fill(nTokens)(sample(rr))
  }

  final case class Corpus(docs: Array[Doc], exactCopies: Set[Long], nearCopies: Set[Long],
      lowQuality: Set[Long])

  /** The `curate` corpus: originals of 50-90 tokens, plus planted exact
    * copies, near copies (3% of tokens substituted) and low-quality
    * documents (too short, hashtag spam, or one phrase repeated). */
  def corpus(seed: Long): Corpus = {
    val v = new Vocab(seed)
    val r = rng(seed, 3L)
    // exact planted counts, at seeded positions after the first 51 docs
    // (so every copy has earlier originals to copy from)
    val kinds = Array.fill(CurateDocs)(0)
    val slots = (51 until CurateDocs).toArray
    var i = slots.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t; i -= 1 }
    val counts = Seq(ExactCopyRate, NearCopyRate, LowQualityRate).map(x => math.round(x * CurateDocs).toInt)
    var at = 0
    counts.zipWithIndex.foreach { case (n, k) => slots.slice(at, at + n).foreach(kinds(_) = k + 1); at += n }
    val originals = mutable.ArrayBuffer.empty[Array[String]]
    val docs = Array.tabulate(CurateDocs) { i =>
      val toks: Array[String] = kinds(i) match {
        case 1 => originals(r.nextInt(originals.size))
        case 2 => originals(r.nextInt(originals.size)).map(w => if (r.nextDouble() < 0.03) v.sample(r) else w)
        case 3 =>
          r.nextInt(3) match {
            case 0 => v.text(r, 20 + r.nextInt(26))
            case 1 => v.text(r, 80).zipWithIndex.map { case (w, j) => if (j % 4 == 0) "#" + w else w }
            case _ => val phrase = v.text(r, 6); Array.fill(15)(phrase).flatten
          }
        case _ => val t = v.text(r, 50 + r.nextInt(41)); originals += t; t
      }
      Doc(i.toLong, toks.mkString(" "))
    }
    def ids(k: Int) = kinds.indices.filter(kinds(_) == k).map(_.toLong).toSet
    Corpus(docs, ids(1), ids(2), ids(3))
  }

  /** Distinct lower-cased whitespace tokens: the word table `Bpe.train`
    * builds before it picks its training path. */
  def distinctWords(docs: Iterable[Doc]): Long = {
    val s = mutable.HashSet.empty[String]
    docs.foreach(d => d.text.toLowerCase.split("\\s+").foreach(w => if (w.nonEmpty) s += w))
    s.size.toLong
  }

  // ---- WARC / WET framing (ISO 28500), JDK gzip members -------------------

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream(b.length / 3 + 64)
    val gz = new GZIPOutputStream(bo)
    gz.write(b); gz.close()
    bo.toByteArray
  }

  def warcRecord(warcType: String, id: Long, contentType: String, payload: Array[Byte]): Array[Byte] = {
    val head = s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Record-ID: <urn:uuid:$warcType-$id>\r\n" +
      s"WARC-Target-URI: https://example.com/doc/$id\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
      s"Content-Type: $contentType\r\nContent-Length: ${payload.length}\r\n\r\n"
    val bo = new ByteArrayOutputStream(head.length + payload.length + 4)
    bo.write(head.getBytes(ISO_8859_1)); bo.write(payload); bo.write("\r\n\r\n".getBytes(ISO_8859_1))
    bo.toByteArray
  }

  /** An HTML page whose extracted text is exactly `text`; every third
    * body is sent with `Content-Encoding: gzip`, as crawled servers do. */
  def httpResponse(d: Doc): Array[Byte] = {
    val html = ("<html><head><style>p { margin: 0; }</style></head><body><p>" + d.text +
      "</p><script>var n = 1;</script></body></html>").getBytes(UTF_8)
    val (enc, body) = if (d.id % 3 == 0) ("Content-Encoding: gzip\r\n", gzip(html)) else ("", html)
    val head = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n$enc" +
      s"Content-Length: ${body.length}\r\n\r\n"
    head.getBytes(ISO_8859_1) ++ body
  }

  // ---- generation entry point --------------------------------------------

  def generate(workload: String, seed: Long, dir: Path): Manifest = {
    Files.createDirectories(dir)
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    def emit(name: String, b: Array[Byte]): Unit = {
      val os = new FileOutputStream(dir.resolve(name).toFile)
      try os.write(b) finally os.close()
      md.update(name.getBytes(UTF_8)); md.update(b)
      bytes += b.length
    }
    def hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    val bound = graft.operators.Bpe.SmallWordTableBound
    workload match {
      case "frame_ops" =>
        val rows = csvRows(seed)
        val per = (rows.length + CsvFiles - 1) / CsvFiles
        (0 until CsvFiles).foreach { f =>
          emit(f"part-$f%05d.csv", csvBytes(rows, f * per, math.min(rows.length, (f + 1) * per)))
        }
        Manifest(workload, seed, hex, bytes, rows.length, 0, 0, 0, 0, bound)
      case "curate" =>
        val c = corpus(seed)
        (0 until WarcShards).foreach { s =>
          val bo = new ByteArrayOutputStream()
          c.docs.iterator.filter(_.id % WarcShards == s).foreach { d =>
            bo.write(gzip(warcRecord("response", d.id, "application/http; msgtype=response", httpResponse(d))))
          }
          emit(f"warc-$s%05d.warc.gz", bo.toByteArray)
        }
        Manifest(workload, seed, hex, bytes, c.docs.length, distinctWords(c.docs),
          c.exactCopies.size, c.nearCopies.size, c.lowQuality.size, bound)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }
}
