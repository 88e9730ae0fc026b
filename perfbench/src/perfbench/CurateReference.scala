package perfbench

import scala.collection.mutable

/** Reference results of the `curate` stages in plain Scala: no Spark and
  * no graft code, each written from the published rule the stage
  * implements. The `curate` check compares graft's outputs with these,
  * so a stage that silently does less work fails the check. */
object CurateReference {
  /** Lower-cased whitespace tokens. */
  def words(text: String): Array[String] = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)

  // ---- quality: the Gopher rules (Rae et al. 2021, table A1) -----------

  private val GopherStopwords = Set("the", "be", "to", "of", "and", "that", "have", "with")
  /** A ratio within this share of its threshold is too close to call. */
  val Margin = 0.01

  /** The Gopher verdict of one document: `Some(false)` when a rule fails
    * by more than [[Margin]], `None` when no rule does but a ratio lies
    * within [[Margin]] of its threshold (the check then accepts either
    * verdict), else `Some(true)`. Counts are compared exactly. The
    * n-gram rules count every occurrence and divide by the text's
    * length, as the Gopher paper states them. */
  def gopher(text: String): Option[Boolean] = {
    val t = words(text)
    val n = t.length
    val stop = t.iterator.filter(GopherStopwords).toSet.size
    if (n < 50 || n > 100000 || stop < 2) return Some(false)
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    val distinct = lines.distinct
    val lineChars = lines.map(_.length).sum
    val chars = text.length.toDouble
    // (length, occurrences) of each distinct k-gram
    def grams(k: Int): Seq[(Int, Int)] = t.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      .groupBy(identity).toSeq.map { case (g, gs) => (g.length, gs.size) }
    // (value, threshold, value must be at most the threshold)
    val rules = Seq(
      (t.map(_.length).sum.toDouble / n, 3.0, false),
      (t.map(_.length).sum.toDouble / n, 10.0, true),
      ("#|\\.\\.\\.".r.findAllMatchIn(text).size.toDouble / n, 0.1, true),
      (lines.count(l => "-*•‣▪".contains(l.head)).toDouble / lines.length, 0.9, true),
      (lines.count(_.endsWith("...")).toDouble / lines.length, 0.3, true),
      (t.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / n, 0.8, false),
      ((lines.length - distinct.length).toDouble / lines.length, 0.3, true),
      ((lineChars - distinct.map(_.length).sum).toDouble / lineChars, 0.2, true),
      (grams(2).map { case (len, c) => len.toLong * c }.max / chars, 0.2, true),
      (grams(5).collect { case (len, c) if c > 1 => len.toLong * c }.sum / chars, 0.15, true))
    val close = rules.filter { case (v, thr, _) => math.abs(v - thr) <= Margin * thr }
    val clear = rules.filterNot(close.contains)
    if (!clear.forall { case (v, thr, atMost) => if (atMost) v <= thr else v >= thr }) Some(false)
    else if (close.nonEmpty) None
    else Some(true)
  }

  // ---- dedup: near-duplicate pairs --------------------------------------

  /** Distinct word 3-shingles of a text. */
  def shingles(text: String, n: Int = 3): Set[String] =
    words(text).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Every pair `(a, b)`, `a < b`, of documents whose shingle sets have
    * Jaccard at least `t`, with that Jaccard: an exact prefix-filtered
    * self-join (Bayardo et al. 2007). Shingles are ordered rarest first;
    * two sets with Jaccard at least t share one of the first
    * |x| − ⌈t·|x|⌉ + 1 shingles of each, so only those are indexed, and
    * every candidate is verified exactly. Empty sets match nothing. */
  def similarPairs(docs: Seq[(Long, String)], t: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, text) => (id, shingles(text)) }.filter(_._2.nonEmpty).toArray
    val df = mutable.HashMap.empty[String, Int]
    sets.foreach(_._2.foreach(g => df(g) = df.getOrElse(g, 0) + 1))
    val rarestFirst = Ordering.by[String, (Int, String)](g => (df(g), g))
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val out = Map.newBuilder[(Long, Long), Double]
    sets.indices.foreach { i =>
      val (id, s) = sets(i)
      val prefix = s.size - math.ceil(t * s.size - 1e-9).toInt + 1
      val cands = mutable.HashSet.empty[Int]
      s.toArray.sorted(rarestFirst).iterator.take(prefix).foreach { g =>
        val posting = index.getOrElseUpdate(g, mutable.ArrayBuffer.empty[Int])
        cands ++= posting
        posting += i
      }
      cands.foreach { j =>
        val (other, o) = sets(j)
        val inter = s.count(o.contains)
        val jac = inter.toDouble / (s.size + o.size - inter)
        if (jac >= t) out += (math.min(id, other), math.max(id, other)) -> jac
      }
    }
    out.result()
  }

  /** The documents a near-dup drop removes: every member of a
    * pair-connected cluster except its smallest id. */
  def clusterLosers(pairs: Iterable[(Long, Long)]): Set[Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }.filter(m => find(m) != m).toSet
  }

  // ---- tokenize: byte-pair encoding (Sennrich et al. 2016) -------------

  /** Apply one merge to a symbol sequence, left to right, until no
    * adjacent (left, right) is left. */
  private def merge(syms: Array[String], l: String, r: String): Array[String] = {
    var cur = syms
    var again = true
    while (again) {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == l && cur(i + 1) == r) { out += l + r; i += 2 }
        else { out += cur(i); i += 1 }
      }
      again = out.length < cur.length
      cur = out.toArray
    }
    cur
  }

  /** BPE token count of each document with `k` merges learned on these
    * documents. A word is its characters plus `</w>`; each round merges
    * the adjacent pair with the highest frequency-weighted count, ties
    * going to the smaller "left right" string; a document's count is
    * the sum of its words' symbol counts. */
  def bpeTokenCounts(docs: Seq[(Long, String)], k: Int): Map[Long, Long] = {
    val freq = mutable.HashMap.empty[String, Long]
    docs.foreach { case (_, text) => words(text).foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1) }
    var table = freq.toArray.map { case (w, f) => (w, w.map(_.toString).toArray :+ "</w>", f) }
    (0 until k).foreach { _ =>
      val counts = mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (_, syms, f) =>
        syms.sliding(2).filter(_.length == 2).foreach(p => counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f)
      }
      val ((l, r), _) = counts.minBy { case ((a, b), c) => (-c, a + " " + b) }
      table = table.map { case (w, syms, f) => (w, merge(syms, l, r), f) }
    }
    val len = table.iterator.map { case (w, syms, _) => w -> syms.length.toLong }.toMap
    docs.map { case (id, text) => id -> words(text).map(len).sum }.toMap
  }
}
