package graft.pol

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryHarness.spark
import graft.sources.GraftChanges

/** The change feed `format("graft")` serves must (1) classify per-KEY
  * changes exactly — insert / delete / update_preimage+postimage —
  * while planning only the buckets whose manifest file sets changed,
  * (2) drop rows that live in a rewritten bucket but did not change,
  * (3) collapse intermediate churn on the append stream's endpoint
  * diff, (4) null-fill columns added after a row was written, and (5)
  * deliver each version exactly once through a checkpointed stream.
  */
class ChangeFeedSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_cdf")
      .resolve("tbl").toString

  /** Versions (`from`, `to`] of the feed, by path. */
  private def changes(dir: String, from: Long, to: Long): DataFrame =
    spark.read.format("graft")
      .option("changesFrom", from.toString).option("changesTo", to.toString)
      .option("changeKey", "k").load(dir)

  private def rows(df: DataFrame): Set[(String, String, String, Long)] =
    df.select("k", "payload", GraftChanges.ChangeTypeCol,
        GraftChanges.CommitVersionCol)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSet

  test("insert / update pre+post / delete classification per version") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1a"), ("b", "v1b"), ("c", "v1c")).toDF("k", "payload"),
      col("k"), nBuckets = 4)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("b", "v2b"), ("d", "v2d")).toDF("k", "payload"),
      col("k"), nBuckets = 4)
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("a").toDF("k"), col("k"), nBuckets = 4)

    val v12 = changes(dir, 1, 2)
    assert(rows(v12) == Set(
      ("b", "v1b", "update_preimage", 2L),
      ("b", "v2b", "update_postimage", 2L),
      ("d", "v2d", "insert", 2L)))

    val v23 = changes(dir, 2, 3)
    assert(rows(v23) == Set(("a", "v1a", "delete", 3L)))

    // per-version over the whole range = union of the step diffs
    val v13 = changes(dir, 1, 3)
    assert(rows(v13) == rows(v12) ++ rows(v23))

    // genesis replay: version 1's snapshot arrives as inserts
    val v01 = changes(dir, 0, 1)
    assert(rows(v01) == Set(
      ("a", "v1a", "insert", 1L),
      ("b", "v1b", "insert", 1L),
      ("c", "v1c", "insert", 1L)))
  }

  test("unchanged rows in a rewritten bucket produce no change row") {
    val dir = freshTable()
    // nBuckets = 1: every key lives in the single bucket, so ANY
    // upsert rewrites the bucket holding all keys — only the actually
    // touched key may appear in the feed
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "x"), ("b", "y"), ("c", "z")).toDF("k", "payload"),
      col("k"), nBuckets = 1)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("b", "y2")).toDF("k", "payload"), col("k"), nBuckets = 1)
    val ch = changes(dir, 1, 2)
    assert(rows(ch) == Set(
      ("b", "y", "update_preimage", 2L),
      ("b", "y2", "update_postimage", 2L)))
    // ...and a re-upsert of an IDENTICAL row is a no-op in the feed
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("c", "z")).toDF("k", "payload"), col("k"), nBuckets = 1)
    assert(changes(dir, 2, 3).isEmpty)
  }

  test("version diff reads only buckets whose file sets changed") {
    val dir = freshTable()
    val base = (0 until 64).map(i => (s"key$i", s"v$i")).toDF("k", "payload")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 16)
    val touched = PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key7", "v7b")).toDF("k", "payload"), col("k"), nBuckets = 16)
    val m1 = PoolJsonSink.readManifestAt(dir, 1)
    val m2 = PoolJsonSink.readManifestAt(dir, 2)
    assert(GraftChanges.changedBuckets(m1, m2) == touched.sorted)
    assert(GraftChanges.changedBuckets(m1, m1).isEmpty)
    // the scan plans one partition per changed bucket, nothing more
    assert(GraftChanges.planRange(dir, 1, 2).length == touched.size)
    assert(rows(changes(dir, 1, 2)) == Set(
      ("key7", "v7", "update_preimage", 2L),
      ("key7", "v7b", "update_postimage", 2L)))
  }

  test("durable cursor delivers each version exactly once") {
    // the cursor is the stream's checkpoint: each AvailableNow run
    // delivers the versions committed since the last run, one per batch
    val dir = freshTable()
    val cursor = java.nio.file.Files.createTempDirectory("graft_cdf_cur")
      .resolve("cursor").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1")).toDF("k", "payload"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("b", "v2")).toDF("k", "payload"), col("k"), nBuckets = 2)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      Set[(String, String, String, Long)]]()
    def processNewVersions(): Seq[Set[(String, String, String, Long)]] = {
      seen.clear()
      spark.readStream.format("graft")
        .option("changeKey", "k").option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) => seen.add(rows(df)); () }
        .option("checkpointLocation", cursor)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }

    assert(processNewVersions() == Seq(
      Set(("a", "v1", "insert", 1L)),
      Set(("b", "v2", "insert", 2L))))

    // nothing new → nothing delivered
    assert(processNewVersions().isEmpty)

    // a new commit delivers ONLY its own delta
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("a").toDF("k"), col("k"), nBuckets = 2)
    assert(processNewVersions() == Seq(Set(("a", "v1", "delete", 3L))))
  }

  test("endpoint mode collapses intermediate churn") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1")).toDF("k", "payload"), col("k"), nBuckets = 2)
    // churn: b inserted then deleted, a rewritten twice
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v2"), ("b", "tmp")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("b").toDF("k"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v4")).toDF("k", "payload"), col("k"), nBuckets = 2)

    // the append stream's batch is the ENDPOINT diff of its version
    // range: one post-image per surviving key, and b's insert+delete
    // cancel (a per-version batch would fail the stream on the delete)
    val wh = java.nio.file.Files.createTempDirectory("graft_cdf_wh")
    spark.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE gcdf.default.churn USING graft LOCATION '$dir'")
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Set[(String, String)]]()
    spark.readStream.option("startingVersion", "1")
      .table("gcdf.default.churn")
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.add(df.as[(String, String)].collect().toSet); ()
      }
      .option("checkpointLocation", wh.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq == Seq(Set(("a", "v4"))))

    // the per-version feed keeps every step
    assert(changes(dir, 1, 4).count() == 6) // a: 2 update pairs; b: insert + delete
  }

  test("SQL face: format(\"graft\") changesFrom/changesTo/changeKey") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1"), ("b", "v1b")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v2")).toDF("k", "payload"), col("k"), nBuckets = 2)
    val df = spark.read.format("graft")
      .option("changesFrom", "1").option("changeKey", "k").load(dir)
    assert(rows(df) == Set(
      ("a", "v1", "update_preimage", 2L),
      ("a", "v2", "update_postimage", 2L)))
    // changesTo pins the upper bound mid-history
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("b").toDF("k"), col("k"), nBuckets = 2)
    val bounded = spark.read.format("graft")
      .option("changesFrom", "1").option("changesTo", "2")
      .option("changeKey", "k").load(dir)
    assert(bounded.where(col(GraftChanges.CommitVersionCol) > 2).isEmpty)
  }

  test("additive schema evolution diffs old rows as null in new column") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1")).toDF("k", "payload"), col("k"), nBuckets = 1)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v2", 9L)).toDF("k", "payload", "score"),
      col("k"), nBuckets = 1)
    val ch = changes(dir, 1, 2)
      .orderBy(GraftChanges.ChangeTypeCol)
      .select("k", "payload", "score", GraftChanges.ChangeTypeCol)
      .collect()
    assert(ch.length == 2)
    val pre = ch.find(_.getString(3) == "update_preimage").get
    val post = ch.find(_.getString(3) == "update_postimage").get
    assert(pre.isNullAt(2) && pre.getString(1) == "v1")
    assert(post.getLong(2) == 9L && post.getString(1) == "v2")
  }
}
