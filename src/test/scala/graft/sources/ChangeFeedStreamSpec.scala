package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** The change feed as a Structured Streaming source: every committed
  * version is a micro-batch, offsets are versions checkpointed by the
  * engine, and a restarted stream resumes exactly where it left off —
  * the platform loop's read side (t6's foreachBatch merge is the
  * write side).
  */
class ChangeFeedStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def drain(table: String, ckpt: String, sink: String): Unit = {
    val q = spark.readStream.format("graft")
      .option("changeKey", "k")
      .load(table)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def sinkRows(sink: String): Set[(String, String, String, Long)] =
    spark.read.parquet(sink)
      .select("k", "payload", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet

  test("streams each committed version as a micro-batch and resumes") {
    val table = freshDir("graft_cfs") + "/tbl"
    val ckpt = freshDir("graft_cfs_ckpt")
    val sink = freshDir("graft_cfs_sink")

    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("a", "v1a"), ("b", "v1b")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("a", "v2a"), ("c", "v2c")).toDF("k", "payload"),
      col("k"), nBuckets = 2)

    drain(table, ckpt, sink)
    assert(sinkRows(sink) == Set(
      ("a", "v1a", "insert", 1L),
      ("b", "v1b", "insert", 1L),
      ("a", "v1a", "update_preimage", 2L),
      ("a", "v2a", "update_postimage", 2L),
      ("c", "v2c", "insert", 2L)))

    // nothing new: a re-run appends nothing
    drain(table, ckpt, sink)
    assert(sinkRows(sink).size == 5)

    // two more commits while the stream is DOWN; the restarted stream
    // picks up exactly the missed versions from its checkpoint
    PoolJsonSink.deletePartitioned(spark, table,
      Seq("b").toDF("k"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("d", "v4d")).toDF("k", "payload"), col("k"), nBuckets = 2)
    drain(table, ckpt, sink)
    assert(sinkRows(sink) == Set(
      ("a", "v1a", "insert", 1L),
      ("b", "v1b", "insert", 1L),
      ("a", "v1a", "update_preimage", 2L),
      ("a", "v2a", "update_postimage", 2L),
      ("c", "v2c", "insert", 2L),
      ("b", "v1b", "delete", 3L),
      ("d", "v4d", "insert", 4L)))
  }

  test("a consumer that fails on a version gets that version again, " +
    "and nothing before it, after a restart") {
    val table = freshDir("graft_cfs4") + "/tbl"
    val ckpt = freshDir("graft_cfs4_ckpt")
    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("a", "v1a")).toDF("k", "payload"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("b", "v2b")).toDF("k", "payload"), col("k"), nBuckets = 2)

    val crashOn = new java.util.concurrent.atomic.AtomicLong(2L)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def run(): Unit = spark.readStream.format("graft")
      .option("changeKey", "k").option("maxVersionsPerTrigger", "1")
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val versions = df.select("_commit_version").as[Long].collect().toSet
        if (versions.contains(crashOn.get())) sys.error("consumer crash")
        seen.add(versions); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

    import scala.jdk.CollectionConverters._
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(seen.asScala.toSeq == Seq(Set(1L)))

    // version 3 lands while the stream is down; the restart re-delivers
    // the failed version 2, then 3, and never version 1 again
    PoolJsonSink.deletePartitioned(spark, table,
      Seq("a").toDF("k"), col("k"), nBuckets = 2)
    crashOn.set(-1L)
    seen.clear()
    run()
    assert(seen.asScala.toSeq == Seq(Set(2L), Set(3L)))
  }

  test("startingVersion skips history (latest-style subscription)") {
    val table = freshDir("graft_cfs2") + "/tbl"
    val ckpt = freshDir("graft_cfs2_ckpt")
    val sink = freshDir("graft_cfs2_sink")

    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("a", "v1a")).toDF("k", "payload"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, table,
      Seq(("b", "v2b")).toDF("k", "payload"), col("k"), nBuckets = 2)

    val q = spark.readStream.format("graft")
      .option("changeKey", "k").option("startingVersion", "1")
      .load(table)
      .writeStream.outputMode("append")
      .format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    assert(sinkRows(sink) == Set(("b", "v2b", "insert", 2L)))
  }

  test("maxVersionsPerTrigger paces catch-up into per-version batches") {
    val table = freshDir("graft_cfs3") + "/tbl"
    val ckpt = freshDir("graft_cfs3_ckpt")
    for (i <- 1 to 3)
      PoolJsonSink.upsertPartitioned(spark, table,
        Seq((s"k$i", s"v$i")).toDF("k", "payload"), col("k"), nBuckets = 2)

    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft")
      .option("changeKey", "k").option("maxVersionsPerTrigger", "1")
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add((id, df.count())); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    // 3 backlog versions, 1 per trigger: 3 batches of 1 insert each
    assert(batches.asScala.toSeq.sortBy(_._1).map(_._2) == Seq(1L, 1L, 1L))
  }
}
