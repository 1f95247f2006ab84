package graft.pol

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.QueryHarness.spark

/** Property tests (SURVEY §5.3): parser totality, metric invariants,
  * JSON round-trip, classification truth table. Deterministic — cases
  * are drawn from ScalaCheck generators with fixed seeds.
  */
class PropertySpec extends AnyFunSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, lit}

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  val lineGen: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.choose(-1000L, 1000L).flatMap(v =>
      Gen.oneOf("TB1", "TB2", "TF1", "xx").map(t => s"$v $t")),
    Gen.choose(-1000L, 1000L).flatMap(v =>
      Gen.choose(-100L, 100L).map(e => s"$v TB1 $e")),
    Gen.alphaStr.map(_.take(19)),
    Gen.const(""),
    Gen.const("   "),
    Gen.const("12 34 56 78 90"))

  test("parser is total and matches python-int line semantics") {
    val cases = samples(Gen.listOfN(200, lineGen), 5)
    cases.foreach { lines =>
      val df = lines.toDF("value")
        .withColumn("relative_path", lit("f"))
        .withColumn("file_name", lit("f.pol"))
        .withColumn("folder_path", lit(""))
        .withColumn("parent_folder", lit(""))
      val got = PolParser.parse(df).select("game_win")
        .collect().map(_.getLong(0)).toSeq
      val expected = lines.flatMap { l =>
        val parts = l.trim.split("\\s+").filter(_.nonEmpty)
        parts.headOption.flatMap(_.toLongOption).map { v =>
          v + (if (parts.length >= 3) parts(2).toLongOption.getOrElse(0L) else 0L)
        }
      }
      assert(got == expected)
    }
  }

  test("native kernels match builtins on random unicode text") {
    import org.apache.spark.sql.functions.col
    // mixed ASCII / 2-byte / 3-byte / 4-byte (surrogate-pair) chars and
    // whitespace — exercises the code-point offset walk
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', '\n')),
      (2, Gen.oneOf('é', 'ü', 'ß', '中', '語', ' ')),
      (1, Gen.const(new String(Character.toChars(0x1F600)))))
    val textGen = Gen.listOfN(30, charGen).map(_.mkString)
    val texts = samples(Gen.listOfN(50, textGen), 4).flatten
    val df = texts.toDF("text")
    val builtinHs =
      """array_distinct(transform(
        |  sequence(0, greatest(length(text) - 8, 0)),
        |  i -> CAST(conv(substr(md5(substring(text, i + 1, 8)), 1, 7), 16, 10) AS BIGINT)))"""
        .stripMargin
    val a = df.selectExpr(s"$builtinHs AS hs").collect()
      .map(_.getAs[collection.Seq[Long]](0).toSeq)
    val b = df.select(graft.functions.ShingleHashes(col("text")).as("hs"))
      .collect().map(_.getAs[collection.Seq[Long]](0).toSeq)
    assert(a.toSeq == b.toSeq)
    // PolLineParse vs the python-split model
    val (win, tc) = PolParser.parseLine(col("value"))
    val got = texts.toDF("value").select(win.as("w"), tc.as("t")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    val expected = texts.map { l =>
      val parts = l.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
      val v0 = parts.headOption.flatMap(_.toLongOption)
      (v0.map(_ + (if (parts.length >= 3)
        parts(2).toLongOption.getOrElse(0L) else 0L)),
        if (parts.length >= 2) Some(parts(1)) else None)
    }
    assert(got.map(g => (g._1, g._2)).toSeq ==
      expected.map(e => (e._1.map(_.asInstanceOf[Any]),
        e._2.map(_.asInstanceOf[Any]))).toSeq)
    // the allocation-free game_win equals PolLineParse's on every corpus
    (texts ++ samples(Gen.listOfN(200, lineGen), 5).flatten).toDF("value")
      .select(win.as("w"),
        graft.functions.PolLineParse(col("value")).getField("game_win").as("p"))
      .collect().foreach(r => assert(r.get(0) == r.get(1), r))
  }

  test("classification: exactly one tag branch per pool_type") {
    val typeGen: Gen[String] = Gen.oneOf(
      Gen.const("395"),
      Gen.choose(0L, 999999999L).map(_.toString),
      Gen.const(null: String))
    val types = samples(typeGen, 200)
    val df = types.zipWithIndex
      .map { case (t, i) => (i, Option(t)) }.toDF("id", "pool_type")
    val (tag, isFlat, maxMult) = PoolMetrics.classify(col("pool_type"))
    df.select(col("pool_type"), tag.as("tag"), isFlat.as("is_flat"),
        maxMult.as("mm")).collect().foreach { r =>
      val t = Option(r.getAs[String]("pool_type"))
      val tg = r.getAs[collection.Seq[String]]("tag").toSeq
      t match {
        case None => assert(tg == Seq("UNKNOWN"))
        case Some("395") => assert(tg == Seq("GAB", "PFB"))
        case Some(s) if s.length > 4 && s.startsWith("5") =>
          assert(tg == Seq("PFB"))
        case Some(_) => assert(tg == Seq("REG"))
      }
      t match {
        case Some(s) if s.length > 4 && s.startsWith("4") =>
          assert(r.getAs[Int]("is_flat") == 1)
          assert(r.getAs[String]("mm") == s.takeRight(4))
        case _ =>
          assert(r.getAs[Int]("is_flat") == 0)
          assert(r.getAs[String]("mm") == null)
      }
    }
  }

  test("json render/splitTopLevel round-trip for hostile keys and values") {
    import PoolJsonSink._
    val strGen = Gen.listOfN(10,
      Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('"', '\\', '\n', '\t', ' ', '/', '{', '}', '[', ',')))
      .map(_.mkString)
    samples(Gen.listOfN(5, Gen.zip(strGen, strGen)), 20).foreach { kvs =>
      val uniq = kvs.toMap.toSeq
      def esc(k: String) = k.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case c => c.toString
      }
      val text = uniq.map { case (k, v) =>
        "  \"" + esc(k) + "\": " +
          render(JObj(Seq("v" -> JStr(v), "a" -> JArr(Seq(JLong(1))))), 2)
      }.mkString("{\n", ",\n", "\n}")
      val parsed = splitTopLevel(text)
      assert(parsed.map(_._1) == uniq.map(_._1))
      // values survive a re-emit verbatim
      val rebuilt = parsed.map { case (k, raw) => "  \"" + esc(k) + "\": " + raw }
        .mkString("{\n", ",\n", "\n}")
      assert(rebuilt == text)
    }
  }

  test("volatility zero for constant wins; rtp/hit invariants hold") {
    val df = Seq.fill(100)(250L).toDF("game_win")
      .withColumn("type_code", lit("TB1"))
      .withColumn("relative_path", lit("Pool_6371_1.pol"))
      .withColumn("file_name", lit("Pool_6371_1.pol"))
      .withColumn("folder_path", lit(""))
      .withColumn("parent_folder", lit(""))
    val dim = GameLookup.fromCsv(spark, "src/test/resources/lookup/game_lookup.csv")
    val r = PoolMetrics.perPool(df, dim).collect().head
    assert(r.getAs[Double]("volatility") == 0.0)
    assert(r.getAs[Double]("rtp") == 2500.0) // 250/10 per spin
    assert(r.getAs[Double]("hit_frequency") == 100.0)
  }

  test("upsert idempotence under random re-processing subsets") {
    import java.nio.file.Files
    val dim = GameLookup.fromCsv(spark, "src/test/resources/lookup/game_lookup.csv")
    val parsed = PolParser.read(spark, "src/test/resources/pol")
    val docs = PoolMetrics.documents(
      PoolMetrics.perPool(parsed, dim), Some("2026-01-01T00:00:00+00:00"))
      .orderBy("pool_name").collect().toSeq
    val tmp = Files.createTempDirectory("prop")
    val out = tmp.resolve("all.json")
    PoolJsonSink.upsert(docs, out)
    val full = Files.readString(out)
    samples(Gen.someOf(docs.indices), 10).foreach { subset =>
      PoolJsonSink.upsert(subset.toSeq.sorted.map(docs), out)
      assert(Files.readString(out) == full,
        s"re-upserting subset $subset changed the file")
    }
  }
}
