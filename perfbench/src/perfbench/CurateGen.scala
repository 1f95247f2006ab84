package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

/** One generated document (the `documents` table's columns). */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** Seeded curation corpus. Ordinary documents are English-shaped text:
  * pseudo-words of 3 to 7 letters (so every 8-character shingle spans
  * a word boundary) mixed with ~20 % stopwords, which passes the Gopher
  * gate. Planted among them:
  *   - ~11 % gate failures: too short, no required stopword, or mostly
  *     numeric tokens;
  *   - ~5 % exact copies of an earlier document's text;
  *   - ~3 % lightly edited copies of an earlier held-out benchmark
  *     document (`doc_id % 97 = 0`), which decontamination quarantines.
  */
object CurateGen {
  private val stop = Array("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
  private val letters = "bcdfghklmnprstvz"
  private val vowels = "aeiou"

  private def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val len = 3 + r.nextInt(5)
      val w = (0 until len).map(i =>
        if (i % 2 == 0) letters(r.nextInt(letters.length))
        else vowels(r.nextInt(vowels.length))).mkString
      if (!stop.contains(w)) out += w
    }
    out.toArray
  }

  def generate(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val vocab = vocabulary(r, 4000)
    def word(): String = vocab(r.nextInt(vocab.length))
    def prose(len: Int): Seq[String] = {
      val ws = Seq.fill(len)(if (r.nextInt(5) == 0) stop(r.nextInt(stop.length)) else word())
      // two required stopwords at random positions: the gate's rule
      ws.updated(r.nextInt(len), "the").updated(r.nextInt(len), "of")
    }
    val docs = new mutable.ArrayBuffer[Doc](n)
    val plain = new mutable.ArrayBuffer[Int]()
    for (id <- 0 until n) {
      val bench = id % 97 == 0
      // the first 200 documents are plain prose: the copy kinds below
      // always find an original
      val kind = if (bench || id < 200) 99 else r.nextInt(100)
      val text = kind match {
        case k if k < 4 => prose(10 + r.nextInt(15)).mkString(" ")
        case k if k < 8 => Seq.fill(40 + r.nextInt(40))(word()).mkString(" ")
        case k if k < 11 =>
          Seq.fill(40 + r.nextInt(40))(
            if (r.nextInt(3) == 0) word() else (10000 + r.nextInt(90000)).toString)
            .mkString(" ")
        case k if k < 16 => docs(plain(r.nextInt(plain.size))).text
        case k if k < 19 =>
          val b = docs(97 * r.nextInt(id / 97 + 1)).text.split(" ")
          b.updated(r.nextInt(b.length), word()).mkString(" ")
        case _ => prose(40 + r.nextInt(50)).mkString(" ")
      }
      if (kind >= 19 && !bench) plain += id
      docs += Doc(id, text, if (r.nextInt(10) == 0) "de" else "en", s"src${r.nextInt(4)}")
    }
    docs.toIndexedSeq
  }
}

/** `CurateMain`'s expected outcome computed in plain Scala: the Gopher
  * gate, benchmark exclusion, keep-first exact dedup, 8-character
  * shingle overlap (>= 0.5 of a document's distinct shingles found in
  * the benchmark documents' shingles) and the md5 split buckets.
  */
object CurateOracle {
  final case class Outcome(
      total: Long, gatePassed: Long, gated: Long,
      split: Map[Long, String], nToks: Map[Long, Long], source: Map[Long, String]) {
    /** (split, source) -> (docs, tokens), the report's rows. */
    def report: Map[(String, String), (Long, Long)] =
      split.toSeq.groupBy { case (id, sp) => (sp, source(id)) }
        .map { case (k, ids) => k -> ((ids.size.toLong, ids.map(i => nToks(i._1)).sum)) }
  }

  private val required = Seq("the", "a", "of", "to", "and")

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, RoundingMode.HALF_UP).toDouble

  def passesGate(tokens: Array[String]): Boolean = {
    val n = tokens.length
    n >= 30 && n <= 100000 && {
      val mean = round4(tokens.map(_.length.toLong).sum.toDouble / n)
      val alpha = round4(tokens.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / n)
      mean >= 3 && mean <= 10 && alpha >= 0.8 &&
      required.count(w => tokens.contains(w)) >= 2
    }
  }

  private def md5(bytes: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    md.update(bytes, from, len)
    md.digest()
  }

  /** Distinct 28-bit md5 prefixes of every 8-character window (one
    * window for shorter texts). Texts here are ASCII: chars are bytes.
    */
  def shingles(text: String): Set[Long] = {
    val b = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (0 to math.max(b.length - 8, 0)).map { i =>
      val d = md5(b, i, math.min(8, b.length - i))
      ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
    }.toSet
  }

  def bucket(id: Long): Long = {
    val hex = md5(id.toString.getBytes("UTF-8"), 0, id.toString.length)
      .map(x => f"${x & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 7), 16) % 100
  }

  def outcome(docs: Seq[Doc], benchBudget: Long): Outcome = {
    val isBench = (d: Doc) => d.id % 97 == 0 && d.id < benchBudget
    val toks = docs.map(d => d.id -> d.text.toLowerCase.split("\\s+").filter(_.nonEmpty)).toMap
    val passed = docs.filter(d => passesGate(toks(d.id)))
    val gated = passed.filterNot(isBench)
    val survivors = gated.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val benchShingles = docs.filter(isBench).flatMap(d => shingles(d.text)).toSet
    val split = survivors.map { d =>
      val hs = shingles(d.text)
      val contaminated = hs.count(benchShingles).toDouble / hs.size >= 0.5
      val b = bucket(d.id)
      d.id -> (if (contaminated) "quarantined" else if (b < 80) "train"
        else if (b < 90) "val" else "test")
    }.toMap
    Outcome(docs.size, passed.size, gated.size, split,
      survivors.map(d => d.id -> toks(d.id).length.toLong).toMap,
      survivors.map(d => d.id -> d.source).toMap)
  }
}
