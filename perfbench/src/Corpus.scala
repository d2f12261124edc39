package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** One row of the generated `documents` table (the schema of the
  * program's `documents.parquet`).
  */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The seeded text corpus the `mr_sql` and `mr_api` workloads run on.
  *
  * Words are drawn from a Zipf-like (s = 1.05) distribution over a
  * vocabulary of [[Vocab]] words; document lengths are log-normal
  * around [[MedianTokens]] tokens. Word r is the bijective base-26
  * spelling of r, so frequent words are short, except that two fixed
  * ranks spell "hash" and "join" so the grep job's phrase occurs.
  * Tokens are separated by single spaces, so splitting on `\s+` and on
  * ' ' agree. Every document depends only on (seed, doc_id).
  */
object Corpus {
  val Vocab = 200000
  val MedianTokens = 60.0
  val Langs = Array("en", "de", "es", "fr", "zh")
  val GrepPattern = "hash join"

  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1.0, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private lazy val words: Array[String] = Array.tabulate(Vocab) {
    case 29 => "hash"
    case 30 => "join"
    case r =>
      val sb = new StringBuilder
      var n = r + 1
      while (n > 0) { n -= 1; sb.append(('a' + n % 26).toChar); n /= 26 }
      sb.reverse.toString
  }

  def doc(seed: Long, id: Long): Doc = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id + 1) * 0xBF58476D1CE4E5B9L)
    val n = math.min(2000, math.max(3, math.exp(math.log(MedianTokens) + 0.8 * gaussian(rnd)).toInt))
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      var k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      if (k < 0) k = -k - 1
      sb.append(words(math.min(k, Vocab - 1)))
      i += 1
    }
    val text = sb.toString
    Doc(id, text, Langs(rnd.nextInt(Langs.length)), s"src${id % 20}", text.length.toLong)
  }

  private def gaussian(rnd: java.util.SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  def generate(seed: Long, nDocs: Int): Array[Doc] = Array.tabulate(nDocs)(i => doc(seed, i.toLong))

  /** Text rendering for the `mr_api` map input: one "doc_id<TAB>text" line per document. */
  def line(d: Doc): String = s"${d.doc_id}\t${d.text}"

  def parseLine(l: String): (Long, String) = {
    val tab = l.indexOf('\t')
    (l.substring(0, tab).toLong, l.substring(tab + 1))
  }

  def tokens(text: String): Iterator[String] = text.split(' ').iterator.filter(_.nonEmpty)
}

/** An order-independent fingerprint of a result: row count plus the
  * wrapping sum of a 64-bit hash of each row's canonical string, and
  * an order-dependent fold for results whose order is their contract.
  */
final class RowHash {
  var rows = 0L
  var sum = 0L
  var ordered = 0L

  def add(canonical: String): Unit = {
    val h = (MurmurHash3.stringHash(canonical, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(canonical, 0x2bd1e995) & 0xffffffffL)
    rows += 1
    sum += h
    ordered = ordered * 1000003L + h
  }

  def addRow(r: Row): Unit = add(RowHash.canon(r.toSeq))

  def hex: String = f"$sum%016x"
}

object RowHash {
  /** Canonical text of a value as Spark returns it in a `Row`. */
  def canon(v: Any): String = v match {
    case null => "\u2205"
    case r: Row => canon(r.toSeq)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}

/** Plain single-threaded Scala versions of the `mr_*` jobs over the
  * generated documents: the reference every Spark result is checked
  * against, and a box-health control (it touches no program code).
  */
object Reference {
  /** Fingerprint of each job's expected result, keyed by job name. */
  def compute(docs: Array[Doc]): Map[String, RowHash] = {
    val counts = mutable.HashMap.empty[String, Long]
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val perDoc = new RowHash
    val grep = new RowHash
    val pattern = java.util.regex.Pattern.compile(Corpus.GrepPattern)
    docs.foreach { d =>
      val inDoc = mutable.HashMap.empty[String, Long]
      Corpus.tokens(d.text).foreach { w =>
        counts(w) = counts.getOrElse(w, 0L) + 1
        inDoc(w) = inDoc.getOrElse(w, 0L) + 1
      }
      inDoc.foreach { case (w, c) =>
        perDoc.add(RowHash.canon(Seq(d.doc_id, w, c)))
        postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty[Long]) += d.doc_id
      }
      if (pattern.matcher(d.text).find()) grep.add(RowHash.canon(Seq(d.doc_id, d.lang, d.source)))
    }
    val wc = new RowHash
    val wcLines = new RowHash
    counts.foreach { case (w, c) => wc.add(RowHash.canon(Seq(w, c))); wcLines.add(s"$w $c") }
    val index = new RowHash
    val indexLines = new RowHash
    postings.foreach { case (w, ids) =>
      val joined = ids.sorted.mkString(",")
      index.add(RowHash.canon(Seq(w, joined, ids.size.toLong)))
      indexLines.add(s"$w $joined")
    }
    val sorted = new RowHash
    docs.sortBy(d => (d.lang, -d.n_chars, d.doc_id))
      .foreach(d => sorted.add(RowHash.canon(Seq(d.doc_id, d.lang, d.n_chars))))
    Map("wordcount" -> wc, "sqlWordcount" -> perDoc, "invertedIndex" -> index,
      "grep" -> grep, "sortDocs" -> sorted,
      "mr_wordcount" -> wcLines, "mr_inverted_index" -> indexLines,
      "assoc_wordcount" -> wcLines)
  }
}
