package graft.pol

import org.scalatest.funsuite.AnyFunSuite
import graft.QueryHarness.spark
import org.apache.spark.sql.functions._

class GameLookupSpec extends AnyFunSuite {
  lazy val dim = GameLookup.fromCsv(spark, "src/test/resources/lookup/fallback_lookup.csv")

  def resolve(ids: String*): Map[String, (Double, Seq[String], Double)] = {
    import spark.implicits._
    val pools = ids.toDF("pool_id")
    GameLookup.resolved(dim, pools).collect().map { r =>
      r.getAs[String]("pool_id") ->
        ((r.getAs[Double]("min_bet"),
          r.getAs[collection.Seq[String]]("game_ids").toSeq,
          r.getAs[Double]("max_win_factor")))
    }.toMap
  }

  test("stage 1: exact match wins") {
    val m = resolve("0300")
    assert(m("0300") == ((5.0, Seq("100"), 111.0)))
  }

  test("stage 2: leading zeros stripped from the file id; multi-game order preserved") {
    val m = resolve("0301")
    assert(m("0301") == ((7.0, Seq("201", "202"), 222.0)))
  }

  test("stage 3: dim id zero-padded to 4") {
    val m = resolve("0042")
    assert(m("0042") == ((9.0, Seq("300"), 333.0)))
  }

  test("all-zero id strips to '0' (lstrip('0') or '0')") {
    val m = resolve("0000")
    assert(m("0000") == ((3.0, Seq("400"), 444.0)))
  }

  test("miss resolves to nothing (null ladder downstream)") {
    assert(resolve("9999").isEmpty)
  }

  test("exact match takes precedence over pad when both could apply") {
    // '42' exact-matches dim '42' at stage 1; stage 3 (pad to 0042)
    // must not fire for other dims
    val m = resolve("42")
    assert(m("42")._2 == Seq("300"))
  }

  /** A dimension whose rows pin the edge cases of the staged fallback:
    * the first row of pool 0500 has an empty Bet, pool 0600's first
    * row has no Game_id, and dim id 77 matches pool 0077 at stage 2
    * (de-zeroed file id) and again at stage 3 (zero-padded dim id),
    * while dim id 077 matches it at stage 3 only.
    */
  private lazy val edgeDim = {
    val csv = java.nio.file.Files.createTempFile("graft_lookup_edges", ".csv")
    java.nio.file.Files.writeString(csv,
      """Game,Game_id,Pool_id,Bet,Max_win_factor
        |NoBet,500,0500,,555
        |WithBet,501,0500,8,
        |NoGameId,,0600,4,
        |After,601,0600,6,
        |Both,700,77,2,777
        |PadOnly,701,077,3,
        |""".stripMargin)
    GameLookup.fromCsv(spark, csv.toString)
  }

  /** pool_id → (min_bet, game_ids, max_win_factor), nulls kept. */
  private def resolveEdges(ids: Option[String]*)
      : Map[Option[String], (Option[Double], Seq[String], Option[Double])] = {
    import spark.implicits._
    GameLookup.resolved(edgeDim, ids.toDF("pool_id")).collect().map { r =>
      def d(c: String) = Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)
      Option(r.getAs[String]("pool_id")) ->
        ((d("min_bet"), r.getAs[collection.Seq[String]]("game_ids").toSeq,
          d("max_win_factor")))
    }.toMap
  }

  test("min_bet and max_win_factor come from the first matching row, even when empty") {
    assert(resolveEdges(Some("0500")) ==
      Map(Some("0500") -> ((None, Seq("500", "501"), Some(555.0)))))
  }

  test("a null Game_id stays in game_ids, in workbook order") {
    assert(resolveEdges(Some("0600")) ==
      Map(Some("0600") -> ((Some(4.0), Seq(null, "601"), None))))
  }

  test("a dim row matching at stages 2 and 3 is taken once, from stage 2") {
    assert(resolveEdges(Some("0077")) ==
      Map(Some("0077") -> ((Some(2.0), Seq("700"), Some(777.0)))))
  }

  test("null and unknown pool ids resolve to nothing") {
    assert(resolveEdges(None, Some("1234"), None) == Map.empty)
    assert(resolveEdges(None, Some("0500"), Some("1234"), Some("0500")).keySet ==
      Set(Some("0500")))
  }

  /** Spark's own CSV read, normalized as the driver reader normalizes:
    * the test oracle for [[GameLookup.fromCsv]].
    */
  private def sparkCsvRows(path: String): Seq[Seq[Any]] = {
    val raw = spark.read.option("header", "true").csv(path)
    val withMwf =
      if (raw.columns.contains("Max_win_factor")) raw
      else raw.withColumn("Max_win_factor", lit(null).cast("string"))
    withMwf.select(col("Game"), col("Game_id").cast("string"),
        col("Pool_id").cast("string"), col("Bet").cast("double"),
        col("Max_win_factor").cast("double"))
      .collect().map(_.toSeq).toSeq
  }

  /** The driver reader's rows in `row_idx` order, with `row_idx`
    * checked to be the file-order index.
    */
  private def driverRows(path: String): Seq[Seq[Any]] = {
    val rows = GameLookup.fromCsv(spark, path).collect().toSeq
    assert(rows.map(_.getAs[Long]("row_idx")) == rows.indices.map(_.toLong))
    rows.map(_.toSeq.dropRight(1))
  }

  test("the driver CSV reader equals Spark's CSV read on every lookup fixture") {
    val dir = new java.io.File("src/test/resources/lookup")
    val csvs = dir.listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    assert(csvs.map(_.getName).contains("quirks_lookup.csv"))
    csvs.foreach { f =>
      assert(driverRows(f.getPath) == sparkCsvRows(f.getPath), f.getName)
    }
    // quoted comma, empty Bet, blank line, missing trailing column,
    // CRLF line ends; Spark's CSV escape is `\`, not a doubled quote,
    // so a field quoted that way is kept as written
    assert(driverRows("src/test/resources/lookup/quirks_lookup.csv") == Seq(
      Seq("Cash, Inc", "10", "0100", 2.5, 100.0),
      Seq("NoBet", "11", "0101", null, 200.0),
      Seq("Short", "12", "0102", 4.0, null),
      Seq("\"Say \"\"hi\"\"\"", "13", "0103", 1.0, null)))
  }

  test("the lookup CSV loads from a file: URI") {
    val f = new java.io.File("src/test/resources/lookup/fallback_lookup.csv")
    assert(driverRows(f.getAbsoluteFile.toURI.toString) == driverRows(f.getPath))
  }

  test("loadFromRoot probes the reference's three candidate locations") {
    // etl/transform.py:43-47: repo root, then config/, then data/
    val src = java.nio.file.Paths.get(
      "src/test/resources/lookup/game_lookup.csv")
    for (sub <- Seq("", "config", "data")) {
      val root = java.nio.file.Files.createTempDirectory("graft_lookup")
      val dir = if (sub.isEmpty) root else
        java.nio.file.Files.createDirectory(root.resolve(sub))
      java.nio.file.Files.copy(src, dir.resolve("game_id_to_pools.csv"))
      val got = GameLookup.loadFromRoot(spark, root.toString)
      assert(got.count() > 0, s"location '$sub' did not resolve")
    }
    // earlier location wins when several exist
    val root = java.nio.file.Files.createTempDirectory("graft_lookup")
    java.nio.file.Files.createDirectory(root.resolve("config"))
    java.nio.file.Files.copy(src, root.resolve("game_id_to_pools.csv"))
    java.nio.file.Files.write(
      root.resolve("config").resolve("game_id_to_pools.csv"),
      "Game,Game_id,Pool_id,Bet\n".getBytes)
    assert(GameLookup.loadFromRoot(spark, root.toString).count() > 0)
    // and a miss reports every probed path
    val empty = java.nio.file.Files.createTempDirectory("graft_lookup")
    val e = intercept[RuntimeException](
      GameLookup.loadFromRoot(spark, empty.toString))
    assert(e.getMessage.contains("config/") && e.getMessage.contains("data/"))
  }
}
