package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.QueryHarness.{spark, sf0001}

class FunctionsSpec extends AnyFunSuite {

  test("MinhashSignature equals the composed-builtins pipeline (codegen path)") {
    val a = graft.llm.DedupQueries.sigsBuiltin(spark, sf0001)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        r.getAs[collection.Seq[Long]](1).mkString("_"))
    // d2 emits the '_'-joined string form (driver-comparator friendly)
    val b = graft.llm.DedupQueries.queries("d2_minhash_signatures")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(a.toSeq == b.toSeq)
  }

  test("LongArraySum / LongArrayJoin equal their builtin-lambda twins") {
    import spark.implicits._
    val rows = Seq(
      Seq(1L, 2L, 3L),
      Seq(-5L, 0L, 1L << 60, 7L),
      Seq(42L),
      Seq.empty[Long])
    val df = rows.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "a")
    val got = df.select(col("id"),
      LongArraySum(col("a")).as("s"),
      LongArrayJoin(col("a"), "_").as("j")).orderBy("id").collect()
    val want = df.select(col("id"),
      expr("aggregate(a, 0L, (acc, x) -> acc + x)").as("s"),
      expr("array_join(transform(a, x -> CAST(x AS STRING)), '_')").as("j"))
      .orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // null array propagates like the builtins
    val nul = df.sparkSession.sql(
      "SELECT CAST(NULL AS ARRAY<BIGINT>) AS a")
    assert(nul.select(LongArraySum(col("a")),
      LongArrayJoin(col("a"), "_")).head.toSeq == Seq(null, null))
  }

  test("SortedTokenDigest equals the composed-builtins chain") {
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), WsTokens(col("text")).as("toks"))
    // degenerate arrays: empty, single, duplicates, unicode,
    // binary-order-sensitive pairs ("Z" < "a" in UTF8 order)
    val extra = spark.sql(
      """SELECT CAST(array() AS ARRAY<STRING>) AS toks
        |UNION ALL SELECT array('one')
        |UNION ALL SELECT array('b', 'a', 'b', 'a')
        |UNION ALL SELECT array('Z', 'a', '0', 'é', '日')
        |UNION ALL SELECT array('aa', 'a', 'a a')""".stripMargin)
    Seq(df.select(col("toks")), extra).foreach { t =>
      val got = t.select(SortedTokenDigest(col("toks"))).collect()
        .map(_.getString(0)).toSeq
      val want = t.select(
        md5(array_join(array_sort(array_distinct(col("toks"))), " ")
          .cast("binary"))).collect().map(_.getString(0)).toSeq
      assert(got == want)
    }
  }

  test("WordPixelsDhash equals the composed-builtins chain") {
    import spark.implicits._
    // corpus rows + degenerate/unicode shapes: empty, single word,
    // >65 words (truncation), consecutive/trailing spaces (empty
    // tokens), multi-byte first chars, supplementary plane
    val extra = Seq("", "word", ("w " * 80).trim, "a  b ", " lead",
      "日本語 テキスト です", "héllo wörld", "𝄞clef note")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").as[String].collect().toSeq ++ extra
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
    val builtin = df
      .withColumn("p", expr(
        "transform(slice(concat(split(text, ' '), " +
          "array_repeat('', 65)), 1, 65), " +
          "t -> IF(t = '', 0, " +
          "(length(t) * 31 + ascii(substring(t, 1, 1))) % 256))"))
      .select(col("id"),
        expr("aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
          "IF(element_at(p, i + 1) < element_at(p, i + 2), " +
          "shiftleft(1L, i), 0L))").as("lo"),
        expr("aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
          "IF(element_at(p, i + 33) < element_at(p, i + 34), " +
          "shiftleft(1L, i), 0L))").as("hi"))
      .orderBy("id").collect().map(_.toSeq)
    val native = df
      .withColumn("ph", WordPixelsDhash(col("text")))
      .select(col("id"), col("ph.lo"), col("ph.hi"))
      .orderBy("id").collect().map(_.toSeq)
    assert(native.toSeq == builtin.toSeq)
  }

  test("ShingleHashes equals the composed-builtins pipeline on documents") {
    import graft.llm.DedupQueries
    val builtinExpr =
      """array_distinct(transform(
        |  sequence(0, greatest(length(text) - 8, 0)),
        |  i -> CAST(conv(substr(md5(substring(text, i + 1, 8)), 1, 7), 16, 10) AS BIGINT)))"""
        .stripMargin
    val docs = graft.Tables.documents(spark, sf0001)
    val a = docs.selectExpr("doc_id", s"$builtinExpr AS hs")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[collection.Seq[Long]](1).toSeq)
    val b = docs.select(col("doc_id"),
        ShingleHashes(col("text")).as("hs"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[collection.Seq[Long]](1).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("ShingleHashes edge cases match the builtin pipeline") {
    import spark.implicits._
    // empty, shorter than width, exactly width, repeated shingles
    // (distinct-order), multi-byte chars (substring is code-point based)
    val texts = Seq("", "abc", "abcdefgh", "abcdefghabcdefghabcdefgh",
      "héllo wörld ünïcode tëxt", "日本語のテキストです、これは長い",
      "aaaaaaaaaaaaaaaaaaaa")
    val df = texts.toDF("text")
    val a = df.selectExpr(
      """array_distinct(transform(
        |  sequence(0, greatest(length(text) - 8, 0)),
        |  i -> CAST(conv(substr(md5(substring(text, i + 1, 8)), 1, 7), 16, 10) AS BIGINT))) AS hs"""
        .stripMargin).collect().map(_.getAs[collection.Seq[Long]](0).toSeq)
    val b = df.select(ShingleHashes(col("text")).as("hs"))
      .collect().map(_.getAs[collection.Seq[Long]](0).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("all native expressions are SQL-callable after register") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  size(winnow_fingerprint('abcdefghijklmnop')) AS nfp,
        |  pol_line_parse('5 TB1 3').game_win AS win,
        |  pol_line_parse('5 TB1 3').type_code AS tc,
        |  int_array_l1(char_hist('abc'), char_hist('abd')) AS l1""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) >= 1)
    assert(r.getLong(2) == 8L)
    assert(r.getString(3) == "TB1")
    // one substitution: histogram L1 = 2 (c −1, d +1)
    assert(r.getInt(4) == 2)
  }

  test("shingle_hashes registered for SQL via GraftExtensions.register") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql("SELECT shingle_hashes('abcdefghi') AS hs").collect()(0)
    val expect = spark.sql(
      """SELECT array_distinct(transform(
        |  sequence(0, greatest(length('abcdefghi') - 8, 0)),
        |  i -> CAST(conv(substr(md5(substring('abcdefghi', i + 1, 8)), 1, 7), 16, 10) AS BIGINT))) AS hs"""
        .stripMargin).collect()(0)
    assert(r.getAs[collection.Seq[Long]]("hs") == expect.getAs[collection.Seq[Long]]("hs"))
  }

  test("WinnowFingerprint equals the posexplode + window formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, sf0001)
    val sh = docs
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, greatest(length(text) - 8, 0)),
          |  i -> CAST(conv(substr(md5(substring(text, i + 1, 8)), 1, 7), 16, 10) AS BIGINT))"""
          .stripMargin)))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, 3)
    val a = sh.withColumn("fp", min(col("h")).over(w))
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_fp"), min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"), sum_distinct(col("fp")).as("sum_fp"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val b = docs
      .select(col("doc_id"), WinnowFingerprint(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"),
        expr("aggregate(fps, 0L, (acc, x) -> acc + x)").as("sum_fp"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(a.toSeq == b.toSeq)
  }

  test("WinnowFingerprint edge cases: short text, ties, repeats") {
    import spark.implicits._
    // short (single shrunken window), all-equal hashes, long repeats
    val texts = Seq("", "ab", "abcdefgh", "aaaaaaaaaaaaaaaa",
      "abcdefghijklmnopqrstuvwxyz")
    val got = texts.toDF("text")
      .select(WinnowFingerprint(col("text")).as("fps"))
      .collect().map(_.getAs[collection.Seq[Long]](0).toSeq)
    // brute-force expectation from the builtin hash stream
    val raw = texts.toDF("text").selectExpr(
      """transform(sequence(0, greatest(length(text) - 8, 0)),
        |  i -> CAST(conv(substr(md5(substring(text, i + 1, 8)), 1, 7), 16, 10) AS BIGINT)) AS h"""
        .stripMargin).collect().map(_.getAs[collection.Seq[Long]](0).toSeq)
    val expect = raw.map { h =>
      h.indices.map(i => h.slice(i, math.min(i + 4, h.length)).min).distinct
    }
    assert(got.toSeq == expect.toSeq)
  }

  test("DotProduct is bit-identical to the zip_with/aggregate left fold") {
    val t = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .limit(200)
    val joined = t.as("a").crossJoin(t.as("b")).limit(2000)
    val cmp = joined.select(
      DotProduct(col("a.e"), col("b.e")).as("fast"),
      graft.llm.SimilarityQueries.dotBuiltin("a.e", "b.e").as("ref"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("driver-side hyperplane constants equal the md5 SQL formulation") {
    val b = 3
    val sql = (0 until 64).map { j =>
      spark.sql(
        s"""SELECT CAST(conv(substr(md5(concat('$b', '_', $j)), 1, 7), 16, 10)
           |AS BIGINT) / 134217728.0D - 1.0D AS v""".stripMargin)
        .collect()(0).getDouble(0)
    }
    val jvm = graft.llm.SimilarityQueries.hyperplane(b).toSeq
    assert(sql == jvm)
  }

  import graft.pol.PolParser

  test("PolLineParse equals the split/try_cast formulation on space-separated lines") {
    import spark.implicits._
    val lines = Seq("5 TB1", "7 TB1 3", "-4 TF1", "+9 T 2", "xx TB1",
      "5.0 TB2", "12 34 56 78", "", "   ", "42", "1 zz xx", "0 T -7",
      "007 T", "1_0 T", "9223372036854775807 T", "-9223372036854775808 T",
      "99999999999999999999 T", "- T", "+ T", "5 T 2.5")
    val df = lines.toDF("value")
    val (w1, t1) = PolParser.parseLineBuiltin(col("value"))
    val (w2, t2) = PolParser.parseLine(col("value"))
    val a = df.select(w1.as("w"), t1.as("t")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    val b = df.select(w2.as("w"), t2.as("t")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(a.toSeq == b.toSeq)
  }

  test("PolLineParse keeps tab-led lines like Python's line.split()") {
    import spark.implicits._
    val df = Seq("\t5 TB1", " \t 7\tTB2\t3", "\n").toDF("value")
    val (w, t) = PolParser.parseLine(col("value"))
    val got = df.select(w.as("w"), t.as("t")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    // python: '\t5 TB1'.split() -> ['5','TB1']; ' \t 7\tTB2\t3' -> 7+3
    assert(got.toSeq == Seq(
      (Some(5L), Some("TB1")), (Some(10L), Some("TB2")), (None, None)))
  }

  test("PolLineWin equals PolLineParse's game_win and the split/try_cast formulation") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spaced = Seq("5 TB1", "7 TB1 3", "-4 TF1", "+9 T 2", "xx TB1",
      "5.0 TB2", "12 34 56 78", "", "   ", "42", "1 zz xx", "0 T -7",
      "007 T", "1_0 T", "9223372036854775807 T", "-9223372036854775808 T",
      "99999999999999999999 T", "- T", "+ T", "5 T 2.5",
      "-9223372036854775808", "9223372036854775808", "+", "-", "007",
      "1 T -9223372036854775808", "1 T 9223372036854775808", "é 5", "5 é 3")
    val tabLed = Seq("\t5 TB1", " \t 7\tTB2\t3", "\n", "\t\t-3\t\tT\t4", "\f8\u000BT\r1")
    // the documented wrap: win + a third column past Long's range wraps
    // (the composed form's ANSI `+` throws instead)
    val wrap = Seq("9223372036854775807 T 1", "-9223372036854775808 T -1")
    val schema = StructType(Seq(StructField("value", StringType)))
    // a local relation (folded on the driver, interpreted) and one RDD
    // partition (generated code, fallback off so compile errors show)
    def frames(lines: Seq[String]) = Seq(lines.toDF("value"), spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(Row(_)), 1), schema))
    def wins(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(c).collect().map(r => Option(r.get(0))).toSeq
    val (builtin, _) = PolParser.parseLineBuiltin(col("value"))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      frames(spaced ++ tabLed ++ wrap).foreach { df =>
        assert(wins(df, PolLineParse.win(col("value"))) ==
          wins(df, PolLineParse(col("value")).getField("game_win")))
      }
      frames(spaced).foreach { df =>
        assert(wins(df, PolLineParse.win(col("value"))) == wins(df, builtin))
      }
      // tab-led lines are where the trim/split form differs from Python
      frames(tabLed ++ wrap).foreach { df =>
        assert(wins(df, PolLineParse.win(col("value"))) == Seq(Some(5L), Some(10L), None,
          Some(1L), Some(9L), Some(Long.MinValue), Some(Long.MaxValue)))
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("MinhashSignature interpreted eval equals codegen") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val coeffs = graft.llm.Hashing.minhashCoeffs(16)
    val e = MinhashSignature(
      Literal.create(Seq(7L, 99L, 12345L), ArrayType(LongType)),
      coeffs.map(_._1).toArray, coeffs.map(_._2).toArray,
      graft.llm.Hashing.MinhashP)
    val out = e.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    // brute-force expectation
    val expect = coeffs.map { case (a, b) =>
      Seq(7L, 99L, 12345L).map(h => (a * h + b) % graft.llm.Hashing.MinhashP).min
    }
    assert(out == expect)
  }

  test("minhash_signature registered for SQL via GraftExtensions.register") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT minhash_signature(array(7L, 99L, 12345L)) AS sig").collect()(0)
    val coeffs = graft.llm.Hashing.minhashCoeffs(16)
    val expect = coeffs.map { case (a, b) =>
      Seq(7L, 99L, 12345L).map(h => (a * h + b) % graft.llm.Hashing.MinhashP).min
    }
    assert(r.getAs[collection.Seq[Long]]("sig").toSeq == expect)
  }

  /** perPool's (rtp, volatility, hit_frequency, size) for `parsed`'s
    * one pool, and the plain-Scala oracle's for `wins` under the same
    * lookup.
    */
  private def perPoolVsOracle(parsed: org.apache.spark.sql.DataFrame,
      wins: => Seq[Long], poolId: String) = {
    import graft.pol.PolJobOracle
    val lookup = "src/test/resources/lookup/game_lookup.csv"
    val dim = graft.pol.GameLookup.fromCsv(spark, lookup)
    val r = graft.pol.PoolMetrics.perPool(parsed, dim).collect().head
    val got = (Seq("rtp", "volatility", "hit_frequency").map(f =>
      Option(r.getAs[java.lang.Double](f)).map(_.doubleValue)), r.getAs[Long]("size"))
    val ws = wins
    val bet = PolJobOracle.resolve(poolId, PolJobOracle.lookup(
      java.nio.file.Paths.get(lookup))).headOption.map(_.bet)
    val (rtp, vol, hit) = PolJobOracle.metrics(ws, bet)
    (got, (Seq(rtp, vol, hit), ws.size.toLong))
  }

  test("perPool equals the plain-Scala oracle on random pools") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val winGen = Gen.frequency(
      (5, Gen.const(0L)), (3, Gen.choose(1L, 50L)), (1, Gen.choose(51L, 100000L)))
    val winsGen = Gen.listOfN(500, winGen)
    (0 until 3).foreach { i =>
      val wins = winsGen(Gen.Parameters.default, Seed(1000L + i)).get
      val parsed = wins.toDF("game_win")
        .withColumn("type_code", lit("TB1"))
        .withColumn("relative_path", lit("Pool_6371_1.pol"))
        .withColumn("file_name", lit("Pool_6371_1.pol"))
        .withColumn("folder_path", lit(""))
        .withColumn("parent_folder", lit(""))
        .repartition(7) // force multi-partition partial aggregation
      val (got, want) = perPoolVsOracle(parsed, wins, "6371")
      assert(got._1.forall(_.nonEmpty), s"no metrics for seed $i")
      assert(got == want, s"seed $i")
    }
  }

  test("one-pass VolatilityAgg matches the two-pass golden path on samples") {
    val path = "/root/reference/samples/pools2/0201/Pool_0201_294.pol"
    val parsed = graft.pol.PolParser.read(spark, path)
    val (got, want) = perPoolVsOracle(parsed, graft.pol.PolJobOracle.wins(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)), "0201")
    assert(got == want)
  }

  test("WsTokens equals the filter(split(lower)) builtin tree") {
    val builtin = "filter(split(lower(text), '\\\\s+'), x -> x <> '')"
    val builtinRaw = "filter(split(text, '\\\\s+'), x -> x <> '')"
    // the whole corpus, both variants
    val docs = graft.Tables.documents(spark, sf0001)
    val bad = docs
      .withColumn("a", expr(builtin))
      .withColumn("b", WsTokens(col("text")))
      .withColumn("ar", expr(builtinRaw))
      .withColumn("br", WsTokens(col("text"), lowered = false))
      .where(col("a") =!= col("b") || col("ar") =!= col("br"))
      .count()
    assert(bad == 0L)
    // edges: empty, all-whitespace, leading/trailing/runs, every
    // ASCII \s char, NBSP (NOT \s in Java's default regex — stays
    // inside a token), multibyte text, Greek capital sigma in final
    // and medial position (Spark's lower() is per-codepoint — no
    // final-sigma contextual rule — and the kernel goes through the
    // same CollationSupport entry point; the PROPERTY spec is what
    // caught the String.toLowerCase divergence on string-final Σ)
    import spark.implicits._
    val edges = Seq("", " ", "  \t\n\f\r ", "a", " a ", "A  B",
      "café  Über", "a b", "ΣΟΦΟΣ Σx",
      "tab\tsep", "nl\nsep", "cr\rsep", "mix \t\r\n end")
      .toDF("text")
    val badEdges = edges
      .withColumn("a", expr(builtin))
      .withColumn("b", WsTokens(col("text")))
      .withColumn("ar", expr(builtinRaw))
      .withColumn("br", WsTokens(col("text"), lowered = false))
      .where(col("a") =!= col("b") || col("ar") =!= col("br"))
      .count()
    assert(badEdges == 0L)
  }

  test("TokenRepStats counts equal the lambda/explode formulation") {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, sf0001)
      .select(col("text")).as[String].take(120).toSeq ++
      Seq("", " ", "a", "a a", "a b a b", "x x x x x", "a b c",
        "dup dup dup word", "\t\n", "one")
    val df = texts.toDF("text")
      .withColumn("toks",
        expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')"))
    val builtin = df.select(
      size(col("toks")).as("n"),
      size(array_distinct(col("toks"))).as("ndist"),
      expr("""IF(size(toks) < 2, 0, size(toks) - 1)""").as("nbig"),
      expr(
        """IF(size(toks) < 2, 0, size(array_distinct(
          |  transform(sequence(0, size(toks) - 2),
          |    i -> concat(toks[i], ' ', toks[i + 1])))))""".stripMargin)
        .as("ndistbig"),
      expr(
        """IF(size(toks) = 0, 0, array_max(transform(
          |  array_distinct(toks),
          |  t -> size(filter(toks, x -> x = t)))))""".stripMargin)
        .as("maxc"))
    val native = df.select(TokenRepStats(col("toks")).as("st"))
      .select(col("st.n").as("n"), col("st.ndist").as("ndist"),
        col("st.nbig").as("nbig"), col("st.ndistbig").as("ndistbig"),
        col("st.maxc").as("maxc"))
    assert(builtin.collect().map(_.toSeq).toSeq ==
      native.collect().map(_.toSeq).toSeq)
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted sets") {
    // the d8 verify kernel's builtin twin, over every candidate-doc
    // pair shape the corpus produces (plus empty/disjoint edges)
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        sort_array(ShingleHashes(col("text"))).as("hs"))
      .limit(40)
    val pairs = docs.as("a").crossJoin(docs.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.hs").as("ha"), col("b.hs").as("hb"))
    val rows = pairs
      .withColumn("builtin", expr("size(array_intersect(ha, hb))"))
      .withColumn("native", SortedIntersectCount(col("ha"), col("hb")))
      .where(col("builtin") =!= col("native"))
      .count()
    assert(rows == 0L)
    // edges: empty vs non-empty, identical, fully disjoint
    val edge = spark.sql(
      """SELECT
        |  size(array_intersect(a, b)) AS builtin,
        |  a, b
        |FROM VALUES
        |  (array(1L,2L,3L), array(2L,3L,9L)),
        |  (CAST(array() AS array<bigint>), array(1L)),
        |  (array(5L), array(5L)),
        |  (array(1L,2L), array(3L,4L))
        |AS t(a, b)""".stripMargin)
      .withColumn("native", SortedIntersectCount(col("a"), col("b")))
      .collect()
    edge.foreach(r => assert(r.getAs[Int]("builtin") == r.getAs[Int]("native")))
  }
}
