package graft.functions

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import graft.QueryHarness.spark

/** Property-based parity for the round-7 native kernels: handpicked
  * edges pin what the author thought of; a few hundred adversarial
  * random inputs pin what they didn't. Each property batches its
  * samples into ONE DataFrame compare (a per-sample Spark job would
  * take minutes), and failures surface the offending input.
  */
class KernelPropertySpec extends AnyFunSuite {
  import spark.implicits._

  // strings biased toward the nasty corners: ASCII whitespace runs,
  // unicode spaces (NBSP, ideographic), combining marks, sigma-final
  // contexts, emoji (surrogate pairs in JVM strings), and plain words
  private val charGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumStr.map(_.take(4)),
    3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", ""),
    1 -> Gen.oneOf(" ", "　", " "), // NOT Java \s
    1 -> Gen.oneOf("Σ", "σ", "ς", "İ", "ß", "Ω"),
    1 -> Gen.oneOf("日本", "中文", "한국", "é", "ü"),
    1 -> Gen.oneOf("😀", "🎲", "🜚"),
    1 -> Gen.const(""))
  private val textGen: Gen[String] =
    Gen.listOfN(12, charGen).map(_.mkString)

  private def samples(n: Int, g: Gen[String]): Seq[String] = {
    val seed = org.scalacheck.rng.Seed(42L)
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed), seed)) {
      case (_, s) =>
        val next = s.next
        (g.pureApply(Gen.Parameters.default, next), next)
    }.map(_._1).take(n).toSeq
  }

  test("WsTokens == filter(split(lower)) on 400 adversarial strings") {
    val df = samples(400, textGen).toDF("text")
    val bad = df
      .withColumn("a",
        expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')"))
      .withColumn("b", WsTokens(col("text")))
      .withColumn("ar",
        expr("filter(split(text, '\\\\s+'), x -> x <> '')"))
      .withColumn("br", WsTokens(col("text"), lowered = false))
      .where(col("a") =!= col("b") || col("ar") =!= col("br"))
      .select("text", "a", "b", "ar", "br")
      .collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
  }

  /** The builtin composition GopherStats replaced (the DuckDB-pinned
    * x10 features) — evaluated with ANSI off, where a division by zero
    * reads NULL as in the oracle.
    */
  private def composedGopher(df: org.apache.spark.sql.DataFrame) = {
    val reqStop = Seq("the", "a", "of", "to", "and")
    df.withColumn("toks", WsTokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("mean_tok_len",
        round(length(concat_ws("", col("toks"))).cast("long")
          / col("n_toks"), 4))
      .withColumn("alpha_frac",
        round(size(regexp_extract_all(
          concat(lit(" "), concat_ws(" ", col("toks"))),
          lit("(?:^| )[^ a-z]*+[a-z][^ ]*+"), lit(0)))
          / col("n_toks"), 4))
      .withColumn("n_req_stop",
        reqStop.map(w =>
          when(array_contains(col("toks"), w), 1).otherwise(0))
          .reduce(_ + _))
      .withColumn("pass",
        (col("n_toks").between(30, 100000) &&
          col("mean_tok_len").between(3, 10) &&
          col("alpha_frac") >= 0.8 && col("n_req_stop") >= 2)
          .cast("int"))
      .drop("toks")
  }

  // words for gate-shaped texts: the required stopwords in any case,
  // prose, digit-only and very long tokens, and the unicode corners
  // (NBSP inside a token, Greek final sigma, Turkish dotted I)
  private val wordGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("the", "The", "a", "A", "of", "OF", "to", "To", "and",
      "AND", "then", "an", "off", "tot", "andy"),
    8 -> Gen.alphaStr.map(_.take(9)),
    2 -> Gen.numStr.map(_.take(12)),
    1 -> Gen.alphaNumStr.map(w => w * (1 + 300 / (w.length + 1))),
    1 -> Gen.oneOf("ΣΟΦΟΣ", "ΟΔΟΣ", "σοφός", "İstanbul", "İ", "ß",
      "a\u00a0b", "THE\u00a0A", "日本", "😀", "é", "Ω"))
  private val sepGen: Gen[String] =
    Gen.oneOf(" ", " ", " ", "  ", "\t", "\n", "\u000b", "\f", "\r",
      " \t\n\u000b\f\r ")
  // prose that mostly passes the gate: 30+ short words, stopwords
  private val proseWordGen: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("the", "The", "a", "of", "TO", "and"),
    6 -> Gen.chooseNum(3, 8).flatMap(Gen.listOfN(_, Gen.alphaChar))
      .map(_.mkString),
    1 -> wordGen)
  private val gateTextGen: Gen[String] = for {
    prose <- Gen.oneOf(true, false)
    n <- if (prose) Gen.chooseNum(28, 70) else Gen.chooseNum(0, 60)
    ws <- Gen.listOfN(n, if (prose) proseWordGen else wordGen)
    seps <- Gen.listOfN(n + 1, sepGen)
  } yield seps.head + ws.zip(seps.tail).map { case (w, p) => w + p }.mkString

  test("GopherStats == the composed x10 builtins on 400 gate-shaped " +
      "and adversarial strings") {
    val edges = Seq("", " ", " \t\n\u000b\f\r ", "\u00a0", "THE",
      "ΣΑΣ ΟΔΟΣ Σ", "İ İİ i̇", "1234567890 " * 40,
      ("x" * 5000 + " the a ") * 3)
    val texts = edges ++ samples(300, gateTextGen) ++ samples(100, textGen)
    val fields = GopherStats.schema.fieldNames.toSeq
    val icuKey = org.apache.spark.sql.internal.SQLConf
      .ICU_CASE_MAPPINGS_ENABLED.key
    val (ansi, icu) =
      (spark.conf.get("spark.sql.ansi.enabled"), spark.conf.get(icuKey))
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      for (useIcu <- Seq("true", "false"); codegen <- Seq(false, true)) {
        spark.conf.set(icuKey, useIcu)
        val base = texts.toDF("text")
        // a local relation's projection is folded interpreted; above
        // an exchange the kernel runs in generated code
        val df = if (codegen) base.repartition(2) else base
        val both = composedGopher(df)
          .withColumn("k", GopherStats(col("text")))
        val bad = both
          .where(!fields.map(f => col(f) <=> col(s"k.$f")).reduce(_ && _))
          .select(col("text") +: fields.map(col) :+ col("k"): _*)
          .collect()
        assert(bad.isEmpty, s"icu=$useIcu codegen=$codegen mismatches: " +
          bad.take(3).mkString("; "))
        assert(both.where(col("pass") === 1).count() > 20,
          "the sample must hold texts that pass the gate")
      }
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      spark.conf.set(icuKey, icu)
    }
  }

  test("GopherStats reads an empty or blank text as NULL ratios and " +
      "pass 0 under ANSI mode") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val got = try Seq("", " \t\n\u000b\f\r ").toDF("text")
      .repartition(1)
      .select(GopherStats(col("text")).as("k"))
      .select("k.*").collect().toSeq
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(got.map(_.toSeq) == Seq.fill(2)(Seq(0, null, null, 0, 0)))
  }

  test("SortedIntersectCount == size(array_intersect) on random sorted sets") {
    val arrGen = Gen.listOf(Gen.chooseNum(0L, 40L))
      .map(_.distinct.sorted)
    val seed = org.scalacheck.rng.Seed(7L)
    val pairs = Iterator.iterate(
      ((arrGen.pureApply(Gen.Parameters.default, seed),
        arrGen.pureApply(Gen.Parameters.default, seed.next)), seed)) {
      case (_, s) =>
        val n1 = s.next; val n2 = n1.next
        ((arrGen.pureApply(Gen.Parameters.default, n1),
          arrGen.pureApply(Gen.Parameters.default, n2)), n2)
    }.map(_._1).take(300).toSeq
    val df = pairs.toDF("a", "b")
    val bad = df
      .withColumn("builtin", expr("size(array_intersect(a, b))"))
      .withColumn("native", SortedIntersectCount(col("a"), col("b")))
      .where(col("builtin") =!= col("native"))
      .collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
  }
}
