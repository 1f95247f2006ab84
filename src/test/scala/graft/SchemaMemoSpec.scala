package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Tables.load schema memo (round 12): schema inference costs
  * ~70–90 ms per `spark.read.parquet` construction vs ~7 ms with a
  * supplied schema (ReadOverheadProbe), and the catalog constructs
  * relations hundreds of times per run — so `load` memoizes the
  * INFERRED SCHEMA under the table's content fingerprint
  * ([[graft.util.Artifacts]]). Metadata
  * only: rows still come from the parquet scan on every evaluation.
  * This spec pins (1) supplied-schema equivalence — `load` yields the
  * same schema and rows as a direct inferred read; (2) invalidation —
  * rewriting the table re-infers instead of serving the stale schema.
  */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = QueryHarness.spark
  private val sf = "/root/testdata/sf0.001"

  test("load ≡ direct inferred read (schema and rows)") {
    for (t <- Seq("documents", "lineitem", "events", "embeddings")) {
      if (t == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val direct = spark.read.parquet(s"$sf/$t.parquet")
      val memoed = Tables.load(spark, sf, t)
      assert(memoed.schema == direct.schema, s"$t schema")
      val a = direct.count()
      val b = memoed.count()
      assert(a == b, s"$t rows")
    }
  }

  test("a rewritten table re-infers instead of serving the stale schema") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_schemamemo_").toFile.toString
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val s1 = Tables.schemaOf(spark, dir, "documents")
    assert(s1.fieldNames.toSeq == Seq("id", "v"))
    // rewrite with a different schema; bump mtimes so the per-file
    // (path, length, mtime) fingerprint cannot collide
    Seq((1L, "a", 2.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    new java.io.File(s"$dir/documents.parquet").listFiles()
      .foreach(f => f.setLastModified(f.lastModified() + 5000))
    val s2 = Tables.schemaOf(spark, dir, "documents")
    assert(s2.fieldNames.toSeq == Seq("id", "v", "w"),
      "member-file change must re-key the memo")
  }
}
