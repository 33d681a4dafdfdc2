package graft.ops

import java.util.regex.Pattern

import scala.collection.mutable

/** Every per-document signal of the q360 curation decision, computed in
  * one pass over a document's text. Each signal restates one relational
  * board entry exactly, and those entries stay its parity oracles:
  *
  *  - `c4Kept`: [[C4Clean.clean]] over q338's page ([[c4Page]]);
  *  - `gopherKept`: [[GopherQuality.stats]] over the raw text (q339);
  *  - `lmBucket`: q343's integer surprisal against a reference bigram
  *    model ([[BigramModel]]), None under two LM words;
  *  - `ttrPpm`, `bptPpm`: q354's type/token ratio and q355's self-entropy
  *    over `\s`-split lower-cased tokens, None for a token-less document;
  *  - `qualityPass`: q19's length/letter/hallucination predicate;
  *  - `score` and `decision`: q360's integer composite and its cutoffs.
  *
  * Two string operations keep Spark's semantics rather than Java's:
  * `trim` strips only U+0020 ([[spaceTrim]]), and the lower-cased text is
  * taken as an input, computed by the caller with Spark's `lower`, so the
  * case mapping of non-ASCII letters cannot drift between the kernel and
  * its oracles. */
object CurationSignals {

  /** q343's reference slice: doc_id % 5 = 0 below this id, so the model
    * reads at most LmRefIdCap / 5 documents at any corpus size. */
  val LmRefIdCap = 500L
  /** q343's frozen bits-per-bigram cutoffs (ppm): below LmHeadCut is
    * head, below LmTailCut middle, else tail. */
  val LmHeadCut = 4610000L
  val LmTailCut = 4750000L

  /** q360's healthy type/token band and minimum self-entropy (ppm). */
  val TtrLo = 300000L
  val TtrHi = 900000L
  val MinBpt = 1000000L

  /** The reference's hallucination regex, verbatim (pa.py:291-294). Kept to
    * RE2-compatible constructs so the DuckDB twin matches semantics. */
  val HallucinationRegex = "\\[.*?\\]|\\(.*?\\)|thanks for watching|thank you for watching"

  private val Hallucination = Pattern.compile(HallucinationRegex)
  private val Whitespace = Pattern.compile("\\s+")

  final case class Signals(docId: Long, c4Kept: Boolean, gopherKept: Boolean,
                           lmBucket: Option[String], ttrPpm: Option[Long],
                           bptPpm: Option[Long], qualityPass: Boolean,
                           score: Long, decision: String)

  /** The output column names, in [[Signals]] field order. */
  val Columns = Seq("doc_id", "c4_kept", "gopher_kept", "lm_bucket",
    "ttr_ppm", "bpt_ppm", "quality_pass", "score", "decision")

  /** q343's add-one-smoothed bigram model: bigram counts C(p,w), context
    * counts C(p) and the reference vocabulary size V. A bigram costs
    * ⌊log2(C(p)+V)⌋ − ⌊log2(C(p,w)+1)⌋ whole bits. */
  final class BigramModel private (pairs: Map[String, Long],
                                   contexts: Map[String, Long],
                                   vocab: Long) extends Serializable {

    /** q343's bucket of a document's LM words, None under two words. */
    def bucket(ws: Array[String]): Option[String] =
      if (ws.length < 2) None
      else {
        var total = 0L
        var i = 0
        while (i + 1 < ws.length) {
          total += bits(contexts.getOrElse(ws(i), 0L) + vocab) -
            bits(pairs.getOrElse(ws(i) + " " + ws(i + 1), 0L) + 1L)
          i += 1
        }
        val ppm = total * 1000000L / (ws.length - 1)
        Some(if (ppm < LmHeadCut) "head" else if (ppm < LmTailCut) "middle" else "tail")
      }
  }

  object BigramModel {
    /** Trains on the lower-cased texts of the reference slice; as in
      * q343, documents under two LM words add neither bigrams nor
      * vocabulary. */
    def fit(refLower: Iterable[String]): BigramModel = {
      val pairs = mutable.HashMap.empty[String, Long]
      val contexts = mutable.HashMap.empty[String, Long]
      val vocab = mutable.HashSet.empty[String]
      refLower.foreach { t =>
        val ws = lmWords(t)
        if (ws.length >= 2) {
          vocab ++= ws
          var i = 0
          while (i + 1 < ws.length) {
            val pw = ws(i) + " " + ws(i + 1)
            pairs(pw) = pairs.getOrElse(pw, 0L) + 1L
            contexts(ws(i)) = contexts.getOrElse(ws(i), 0L) + 1L
            i += 1
          }
        }
      }
      new BigramModel(pairs.toMap, contexts.toMap, vocab.size.toLong)
    }
  }

  /** ⌊log2 x⌋ as `length(bin(x)) − 1`, so bits(0) = 0 as in SQL. */
  def bits(x: Long): Long = math.max(0, 63 - java.lang.Long.numberOfLeadingZeros(x)).toLong

  /** q343's words: the maximal runs of a-z in lower-cased text. */
  def lmWords(lower: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lower.length) {
      if (isAz(lower.charAt(i))) {
        val start = i
        while (i < lower.length && isAz(lower.charAt(i))) i += 1
        out += lower.substring(start, i)
      } else i += 1
    }
    out.toArray
  }

  private def isAz(c: Char): Boolean = c >= 'a' && c <= 'z'

  /** Spark's `trim`: strips U+0020 only, not tabs or newlines. */
  def spaceTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** Spark's `split(s, '\\s+')`: Java's split with no limit, so a leading
    * tab or newline yields a leading empty token. */
  def wsSplit(s: String): Array[String] = Whitespace.split(s, -1)

  /** q338's page: the document's words in six-word lines with a cycling
    * terminal mark, plus the hazards injected on doc_id % 13 / 11 / 7. */
  def c4Page(id: Long, text: String): String = {
    val ws = text.split(" ")
    val nL = (ws.length + 5) / 6
    (0 until nL).map { i =>
      val base = ws.slice(i * 6, math.min((i + 1) * 6, ws.length)).mkString(" ")
      val extra =
        if (i == 0 && id % 13 == 0) " javascript"
        else if (i == 1 && id % 11 == 0) " lorem ipsum"
        else if (i == 2 && id % 7 == 0) " {"
        else ""
      val term = (i % 3) match { case 0 => "."; case 1 => ""; case _ => "!" }
      base + extra + term
    }.mkString("\n")
  }

  /** q19's predicate: more than two whitespace tokens after trim, an
    * ASCII letter, and no hallucination pattern in the lower-cased text. */
  private def qualityPass(text: String, lower: String): Boolean =
    wsSplit(spaceTrim(text)).length > 2 &&
      text.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) &&
      !Hallucination.matcher(lower).find()

  /** q354's ttr_ppm and q355's bpt_ppm, both None without tokens. */
  private def lexical(lower: String): (Option[Long], Option[Long]) = {
    val toks = wsSplit(spaceTrim(lower)).filter(_.nonEmpty)
    val n = toks.length.toLong
    if (n == 0L) (None, None)
    else {
      val counts = mutable.HashMap.empty[String, Long]
      toks.foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1L)
      val totalBits = counts.valuesIterator.map(c => c * (bits(n) - bits(c))).sum
      (Some(counts.size * 1000000L / n), Some(totalBits * 1000000L / n))
    }
  }

  /** All signals of one document; `lower` is Spark's `lower(text)`. */
  def signals(id: Long, text: String, lower: String, lm: BigramModel): Signals = {
    val c4 = C4Clean.clean(c4Page(id, text)).pageKept
    val gopher = GopherQuality.stats(text).kept
    val bucket = lm.bucket(lmWords(lower))
    val (ttr, bpt) = lexical(lower)
    val quality = qualityPass(text, lower)
    val score =
      (bucket match { case Some("head") => 3L; case Some("middle") => 2L; case _ => 0L }) +
        (if (c4) 2L else 0L) + (if (gopher) 2L else 0L) + (if (quality) 1L else 0L) +
        (if (ttr.exists(t => t >= TtrLo && t <= TtrHi)) 1L else 0L) +
        (if (bpt.exists(_ >= MinBpt)) 1L else 0L)
    val decision = if (score >= 7) "keep" else if (score >= 4) "review" else "drop"
    Signals(id, c4, gopher, bucket, ttr, bpt, quality, score, decision)
  }
}
