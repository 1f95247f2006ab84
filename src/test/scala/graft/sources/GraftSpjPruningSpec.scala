package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Planning-time pruning for the graft path / catalog scan: a key
  * point lookup opens ONE bucket, zone-map range predicates skip
  * files, and every pruned plan still returns exactly the filtered
  * rows (predicates re-apply above the scan — pruning is an
  * optimization, never a semantics bet).
  */
class GraftSpjPruningSpec extends AnyFunSuite {
  import spark.implicits._

  private def partitions(df: org.apache.spark.sql.DataFrame)
      : Seq[GraftBucketPartition] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map(_.asInstanceOf[GraftBucketPartition])
    }.flatten

  test("key equality prunes to one bucket; result exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("spj_prune").toString
    val df = (1L to 20000L).map(i => (i, s"v$i", i % 100))
      .toDF("k", "v", "g")
    PoolJsonSink.overwritePartitioned(spark, dir, df, col("k"), 16)

    val q = GraftSpj.read(spark, dir).where(col("k") === 777L)
    val nonEmpty = partitions(q).count(_.files.nonEmpty)
    assert(nonEmpty == 1,
      s"point lookup should open 1 bucket, opened $nonEmpty")
    assert(q.select("v").as[String].collect().toSeq == Seq("v777"))
  }

  test("long-range zone maps skip files; results exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("spj_prune2").toString
    // ingest-ordered column `seq`, pre-clustered by range with the
    // optimized write opted out (the zone-map discipline: a writer
    // that clusters its task layout keeps per-file ranges tight)
    val df = (1L to 20000L).map(i => (i, i, s"p${i / 5000}"))
      .toDF("k", "seq", "src")
      .repartitionByRange(4, col("seq"))
    PoolJsonSink.upsertPartitioned(spark, dir, df, col("k"), 8,
      statsCols = Seq("seq"), optimizedWrite = false)
    val all = partitions(GraftSpj.read(spark, dir))
      .map(_.files.size).sum
    val q = GraftSpj.read(spark, dir)
      .where(col("seq") >= 15001L && col("seq") <= 16000L)
    val kept = partitions(q).map(_.files.size).sum
    assert(kept < all, s"zone maps should skip files: $kept of $all")
    assert(q.count() == 1000L)
  }

  test("graft-spj versionAsOf reads the pinned snapshot") {
    val dir = java.nio.file.Files
      .createTempDirectory("spj_tt").toString
    PoolJsonSink.overwritePartitioned(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), col("k"), 8)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), col("k"), 8)
    val now = spark.read.format("graft").load(dir)
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(now.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    val v1 = spark.read.format("graft")
      .option("versionAsOf", "1").load(dir)
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(v1.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("catalog point lookup by name is bucket-pruned") {
    val wh = java.nio.file.Files
      .createTempDirectory("spj_prune_wh").toString
    spark.conf.set("spark.sql.catalog.gp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gp.warehouse", wh)
    spark.sql("CREATE TABLE gp.default.t (k BIGINT, v STRING) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='16')")
    spark.sql("INSERT INTO gp.default.t SELECT id, concat('v', id) " +
      "FROM range(1, 20001)")
    val q = spark.sql("SELECT v FROM gp.default.t WHERE k = 777")
    val nonEmpty = partitions(q).count(_.files.nonEmpty)
    assert(nonEmpty == 1,
      s"catalog point lookup should open 1 bucket, opened $nonEmpty")
    assert(q.as[String].collect().toSeq == Seq("v777"))
    spark.sql("DROP TABLE gp.default.t")
  }
}
