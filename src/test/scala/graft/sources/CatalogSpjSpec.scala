package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark

/** Name-based storage-partitioned join: two catalog tables sharing a
  * bucket count must join with ZERO exchanges from plain
  * `a JOIN b USING (k)` SQL — the `bucket(n, key)` partitioning
  * resolving through the catalog's own bucket function. The
  * engine-face SPJ needed the `__pt` conjunct and a Scala helper;
  * the catalog face needs nothing but the join.
  */
class CatalogSpjSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh = java.nio.file.Files
    .createTempDirectory("cspj_wh").toString
  spark.conf.set("spark.sql.catalog.gsp", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gsp.warehouse", wh)

  test("plain SQL join of two catalog tables elides both exchanges") {
    spark.sql("CREATE TABLE gsp.default.a (k BIGINT, av STRING) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='8')")
    spark.sql("CREATE TABLE gsp.default.b (k BIGINT, bv DOUBLE) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='8')")
    spark.sql("INSERT INTO gsp.default.a " +
      "SELECT id, concat('a', id) FROM range(0, 4000)")
    spark.sql("INSERT INTO gsp.default.b " +
      "SELECT id, id * 2.0 FROM range(0, 4000) WHERE id % 3 != 0")

    // save/restore: QueryHarness.spark is shared across suites
    val prevBucketing =
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        """SELECT a.k, a.av, b.bv
          |FROM gsp.default.a a JOIN gsp.default.b b USING (k)"""
          .stripMargin)
      val shuffles = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"name-based SPJ must elide all exchanges:\n" +
          j.queryExecution.executedPlan)
      val got = j.select("k", "bv").as[(Long, Double)]
        .collect().sortBy(_._1)
      val want = (0L until 4000L).filter(_ % 3 != 0)
        .map(i => (i, i * 2.0))
      assert(got.toSeq == want)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      prevBucketing match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
    spark.sql("DROP TABLE gsp.default.a")
    spark.sql("DROP TABLE gsp.default.b")
  }

  test("bucket function: magic invokes equal produceResult; NULL keys match the writer") {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val fL = new GraftBoundBucket(LongType)
    Seq(0L, 1L, 42L, -7L, 1234567890123L).foreach { k =>
      assert(fL.invoke(16, k) ==
        fL.produceResult(org.apache.spark.sql.catalyst.InternalRow(16, k)))
    }
    val fS = new GraftBoundBucket(StringType)
    Seq("", "a", "digest-abc").map(UTF8String.fromString).foreach { k =>
      assert(fS.invoke(16, k) ==
        fS.produceResult(org.apache.spark.sql.catalyst.InternalRow(16, k)))
    }
    // NULL key: hash expressions skip null children, leaving the
    // seed — the function must agree with the writer's xxhash64
    val nullBucket = fL.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(16, null))
    val writerNull = spark.sql(
      "SELECT pmod(xxhash64(CAST(NULL AS BIGINT)), 16L)").head.getLong(0)
    assert(nullBucket == writerNull,
      s"NULL placement drift: function=$nullBucket writer=$writerNull")
  }

  test("the bucket function itself matches stored placement") {
    spark.sql("CREATE TABLE gsp.default.c (k BIGINT, v STRING) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='16')")
    spark.sql("INSERT INTO gsp.default.c " +
      "SELECT id, concat('v', id) FROM range(0, 2000)")
    // evaluate the catalog function against the engine-face stored
    // __pt for every row — bit-identical placement or SPJ would lie
    val stored = spark.read.format("graft")
      .load(s"$wh/default/c")
      .selectExpr("k", "__pt",
        "pmod(xxhash64(k), 16L) AS recomputed")
    assert(stored.where($"__pt" =!= $"recomputed").isEmpty)
    val f = new GraftBoundBucket(org.apache.spark.sql.types.LongType)
    stored.select("k", "__pt").as[(Long, Long)].collect().take(50)
      .foreach { case (k, pt) =>
        val got = f.produceResult(
          org.apache.spark.sql.catalyst.InternalRow(16, k))
        assert(got == pt, s"k=$k: function=$got stored=$pt")
      }
    spark.sql("DROP TABLE gsp.default.c")
  }
}
