package graft.pol

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.QueryHarness.spark

class PoolJsonSinkSpec extends AnyFunSuite {
  import PoolJsonSink._

  def docsFor(root: String): Seq[org.apache.spark.sql.Row] = {
    val dim = GameLookup.fromCsv(spark, "src/test/resources/lookup/game_lookup.csv")
    val parsed = PolParser.read(spark, root)
    PoolMetrics.documents(
      PoolMetrics.perPool(parsed, dim), Some("2026-01-01T00:00:00+00:00"))
      .orderBy("pool_name").collect().toSeq
  }

  test("render matches python json.dump(indent=2) layout") {
    val j = JObj(Seq(
      "name" -> JStr("a\"b"),
      "vals" -> JArr(Seq(JLong(1), JDouble(2.5))),
      "none" -> JNull,
      "empty" -> JArr(Nil),
      "nested" -> JObj(Seq("x" -> JDouble(94.0)))))
    val expected =
      """{
        |  "name": "a\"b",
        |  "vals": [
        |    1,
        |    2.5
        |  ],
        |  "none": null,
        |  "empty": [],
        |  "nested": {
        |    "x": 94.0
        |  }
        |}""".stripMargin
    assert(render(j) == expected)
  }

  test("upsert writes valid JSON keyed by posix path; second upsert is idempotent") {
    val tmp = Files.createTempDirectory("sink")
    val out = tmp.resolve("all_pools_data.json")
    val docs = docsFor("src/test/resources/pol")
    val n = upsert(docs, out)
    assert(n == docs.size)
    val first = Files.readString(out)
    upsert(docs, out)
    assert(Files.readString(out) == first, "upsert not idempotent")
    // parseable by the splitter and by Spark's JSON reader
    val entries = splitTopLevel(first)
    assert(entries.map(_._1).toSet ==
      docs.map(_.getAs[org.apache.spark.sql.Row]("metadata")
        .getAs[String]("source_file")).toSet)
  }

  test("upsert preserves untouched entries verbatim and appends new keys") {
    val tmp = Files.createTempDirectory("sink")
    val out = tmp.resolve("all_pools_data.json")
    Files.writeString(out,
      """{
        |  "legacy/one.pol": {
        |    "pool_name": "one.pol",
        |    "weird_extra_field": [1, 2, {"deep": "x,y}"}]
        |  }
        |}""".stripMargin)
    val docs = docsFor("src/test/resources/pol")
    upsert(docs, out)
    val text = Files.readString(out)
    assert(text.contains("\"legacy/one.pol\""))
    assert(text.contains("\"weird_extra_field\": [1, 2, {\"deep\": \"x,y}\"}]"))
    val keys = splitTopLevel(text).map(_._1)
    assert(keys.head == "legacy/one.pol", "existing key order not preserved")
    assert(keys.size == docs.size + 1)
  }

  test("scalar UNKNOWN tag serialized as string, not array") {
    val tmp = Files.createTempDirectory("sink")
    // a file whose name has no pool_type segment -> null pool_type
    Files.writeString(tmp.resolve("orphan.pol"), "5 TB1\n7 TB2\n")
    val docs = docsFor(tmp.toString)
    val out = tmp.resolve("out.json")
    upsert(docs, out)
    val text = Files.readString(out)
    assert(text.contains("\"tag\": \"UNKNOWN\""))
  }

  test("csv sink writes header + one row per document") {
    val tmp = Files.createTempDirectory("csv").toString + "/out"
    val docs = docsFor("src/test/resources/pol")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs), docs.head.schema)
    writeCsv(df, tmp)
    val csv = spark.read.option("header", "true").csv(tmp)
    assert(csv.count() == docs.size)
    assert(csv.columns.contains("hit_frequency"))
  }
}
