package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Storage-partitioned join through `format("graft")`: two keyed
  * tables sharing nBuckets must join with ZERO shuffle of either side
  * (the 100 TB fact⋈fact case the v1 relation cannot plan), and the
  * result must equal the plain (shuffling) join.
  */
class GraftSpjJoinSpec extends AnyFunSuite {
  import spark.implicits._

  private val n = 8

  private def mkTables(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_spj").toString
    val (la, lb) = (s"$root/a", s"$root/b")
    val a = (1L to 500L).map(i => (i, s"left-$i", i % 7)).toDF("k", "av", "ag")
    // right side misses some keys and brings its own payload
    val b = (1L to 500L).filter(_ % 3 != 0)
      .map(i => (i, i * 10.0)).toDF("k", "bv")
    PoolJsonSink.overwritePartitioned(spark, la, a, col("k"), n)
    PoolJsonSink.overwritePartitioned(spark, lb, b, col("k"), n)
    (la, lb)
  }

  test("spj join result equals the plain join, with zero exchange") {
    val (la, lb) = mkTables()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = GraftSpj.join(spark, la, lb, "k", "k")
        .select(col("k"), col("av"), col("bv"))
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"SPJ must elide all exchanges, found ${shuffles.size}:\n$plan")
      val got = joined.as[(Long, String, Double)].collect().sortBy(_._1)
      val want = (1L to 500L).filter(_ % 3 != 0)
        .map(i => (i, s"left-$i", i * 10.0))
      assert(got.toSeq == want)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("empty buckets pad partition values so sparse tables still align") {
    val root = java.nio.file.Files.createTempDirectory("graft_spj2").toString
    // 2 keys across 8 buckets: most buckets empty on both sides
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "av")
    val b = Seq((2L, 2.0), (99L, 9.0)).toDF("k", "bv")
    PoolJsonSink.overwritePartitioned(spark, s"$root/a", a, col("k"), n)
    PoolJsonSink.overwritePartitioned(spark, s"$root/b", b, col("k"), n)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = GraftSpj.join(spark, s"$root/a", s"$root/b", "k", "k")
        .select(col("av"), col("bv"))
      assert(j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
      assert(j.as[(String, Double)].collect().toSeq == Seq(("y", 2.0)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("runtime IN filter on __pt empties pruned buckets' partitions") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val (la, _) = mkTables()
    val schema = GraftSpjTable.tableSchema(la)
    val scan = new GraftSpjScanBuilder(la, schema).build()
      .asInstanceOf[GraftSpjScan]
    val before = scan.planInputPartitions()
      .map(_.asInstanceOf[GraftBucketPartition]).count(_.files.nonEmpty)
    assert(before == n, "500 spread keys touch every bucket")
    scan.filter(Array(new Predicate("IN",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("__pt"),
        Expressions.literal(2L), Expressions.literal(5L)))))
    val after = scan.planInputPartitions()
      .map(_.asInstanceOf[GraftBucketPartition])
    assert(after.length == n,
      "pruning must never change the partition-value set (SPJ alignment)")
    assert(after.count(_.files.nonEmpty) == 2)
    assert(scan.lastRuntimePruned == n - 2)
  }

  test("a selective dim join prunes fact buckets at runtime (DPP)") {
    val (la, lb) = mkTables()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // dim side filtered to 3 keys -> at most 3 of 8 fact buckets
      // can match; the rest must go unopened
      val l = GraftSpj.read(spark, la)
      val r = GraftSpj.read(spark, lb).where(col("k").isin(7L, 8L, 9L))
      val j = l.join(r.hint("broadcast"),
        l("__pt") === r("__pt") && l("k") === r("k"))
        .select(l("k"), col("av"), col("bv"))
      val got = j.collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(7L, 8L))  // 9 % 3 == 0: absent right-side
      val scans = j.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[GraftSpjScan] => b.scan.asInstanceOf[GraftSpjScan]
      }
      val pruned = scans.map(_.lastRuntimePruned)
      assert(pruned.exists(_ >= n - 3),
        s"expected a runtime-pruned fact scan, got pruned counts $pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the manifest records the merge key; maintenance preserves it; " +
      "the change feed defaults to it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_keycol")
      .toString + "/t"
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    PoolJsonSink.upsertPartitioned(spark, dir, df, col("k"), n)
    assert(PoolJsonSink.readManifest(dir).flatMap(_.keyCol)
      == Some("k"))
    // delete + compaction must carry the recorded key forward
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq(3L).toDF("k"), col("k"))
    PoolJsonSink.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    assert(PoolJsonSink.readManifest(dir).flatMap(_.keyCol)
      == Some("k"))
    // change-feed read WITHOUT the changeKey option
    val changes = spark.read.format("graft")
      .option("changesFrom", 1).load(dir)
    assert(changes.where(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSeq == Seq(3L))
  }

  test("column pruning reaches the spj parquet reader") {
    val (la, _) = mkTables()
    val one = GraftSpj.read(spark, la).select("av")
    assert(one.schema.fieldNames.toSeq == Seq("av"))
    assert(one.count() == 500)
  }
}
