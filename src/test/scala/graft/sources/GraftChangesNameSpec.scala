package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Streaming (and batch) BY NAME: the `.changes` sub-table resolves
  * through the catalog, serves the change feed as a DSv2 micro-batch
  * stream with version offsets, and its rows are pinned to the test
  * oracle ([[ChangeFeedOracle.readTableChanges]]) — same schema, same
  * classification, same versions.
  */
class GraftChangesNameSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_chwh").toString
  spark.conf.set("spark.sql.catalog.gch", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gch.warehouse", wh)

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mkTable(name: String): String = {
    spark.sql(s"CREATE TABLE gch.default.$name (k STRING, payload STRING) " +
      "USING graft TBLPROPERTIES ('key'='k', 'nbuckets'='2')")
    s"$wh/default/$name"
  }

  private def commits(dir: String): Unit = {
    // v2: 2 inserts; v3: update a + insert c; v4: delete b
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v1a"), ("b", "v1b")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "v2a"), ("c", "v2c")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("b").toDF("k"), col("k"), nBuckets = 2)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame)
      : Set[(String, String, String, Long)] =
    df.select("k", "payload", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet

  test("batch read by name matches the v1 derived feed exactly") {
    val dir = mkTable("t1")
    commits(dir)
    val byName = spark.read.table("gch.default.t1.changes")
    val v1 = ChangeFeedOracle.readTableChanges(
      spark, dir, 0L, PoolJsonSink.readManifest(dir).get.version, col("k"))
    assert(byName.schema.fieldNames.toSeq == v1.schema.fieldNames.toSeq)
    assert(asSet(byName) == asSet(v1))
    assert(asSet(byName).nonEmpty)
    // the CREATE TABLE empty commit is v1; data commits are 2..4
    assert(asSet(byName).map(_._4) == Set(2L, 3L, 4L))
  }

  test("startingVersion skips the already-consumed prefix") {
    val dir = mkTable("t2")
    commits(dir)
    val tail = spark.read.option("startingVersion", "3")
      .table("gch.default.t2.changes")
    val v1 = ChangeFeedOracle.readTableChanges(
      spark, dir, 3L, PoolJsonSink.readManifest(dir).get.version, col("k"))
    assert(asSet(tail) == asSet(v1))
    assert(asSet(tail).map(_._4) == Set(4L))
  }

  test("readStream.table streams every version and resumes from " +
    "its checkpoint after a restart") {
    val dir = mkTable("t3")
    commits(dir)
    val ckpt = freshDir("graft_chn_ckpt")
    val sink = freshDir("graft_chn_sink")
    def drain(): Unit = {
      val q = spark.readStream
        .table("gch.default.t3.changes")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val expected = Set(
      ("a", "v1a", "insert", 2L),
      ("b", "v1b", "insert", 2L),
      ("a", "v1a", "update_preimage", 3L),
      ("a", "v2a", "update_postimage", 3L),
      ("c", "v2c", "insert", 3L),
      ("b", "v1b", "delete", 4L))
    assert(asSet(spark.read.parquet(sink)) == expected)

    // idempotent drain: nothing new, nothing appended
    drain()
    assert(asSet(spark.read.parquet(sink)) == expected)

    // a commit while the stream is down resumes from the checkpoint
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("d", "v5d")).toDF("k", "payload"), col("k"), nBuckets = 2)
    drain()
    assert(asSet(spark.read.parquet(sink)) ==
      expected + (("d", "v5d", "insert", 5L)))
  }

  test("maxVersionsPerTrigger shapes the batches: one committed " +
    "version per micro-batch") {
    val dir = mkTable("t6")
    commits(dir) // head = 4 (create + three data commits)
    val ckpt = freshDir("graft_chn_adm_ckpt")
    // record each batch's DISTINCT versions — the per-batch contract
    // itself, not a global aggregate a re-batching bug could fake
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    val q = spark.readStream
      .option("maxVersionsPerTrigger", "1")
      .table("gch.default.t6.changes")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        perBatch.put(id, batch.select("_commit_version")
          .distinct().collect().map(_.getLong(0)).toSet)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val batches = perBatch.asScala.values.filter(_.nonEmpty).toSeq
    // three data commits -> three non-empty batches of EXACTLY one
    // version each, covering versions 2..4 with no overlap
    assert(batches.length == 3, s"got $batches")
    assert(batches.forall(_.size == 1), s"multi-version batch: $batches")
    assert(batches.flatten.toSet == Set(2L, 3L, 4L))
  }

  test("per-bucket partitions: one input partition per changed bucket " +
    "per version step") {
    val dir = mkTable("t4")
    commits(dir)
    val head = PoolJsonSink.readManifest(dir).get.version
    val parts = GraftChanges.planRange(dir, 0L, head)
    // every partition belongs to exactly one version and carries only
    // that step's bucket files
    assert(parts.nonEmpty)
    val byVersion = parts.map(_.asInstanceOf[GraftChangesPartition])
      .groupBy(_.version)
    assert(byVersion.keySet.subsetOf((1L to head).toSet))
    // the delete commit (v4) touched one key -> exactly one changed
    // bucket -> exactly one partition
    assert(byVersion(4L).length == 1)
  }

  test("unchanged rows in rewritten buckets do not restate") {
    val dir = mkTable("t5")
    // both keys land in the same table; rewriting one key's bucket
    // re-writes the OTHER key's row bytes into the new file too when
    // they share a bucket — the diff must stay silent about it
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "x"), ("b", "y"), ("c", "z")).toDF("k", "payload"),
      col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", "x2")).toDF("k", "payload"), col("k"), nBuckets = 2)
    val head = PoolJsonSink.readManifest(dir).get.version
    val last = spark.read.option("startingVersion", (head - 1).toString)
      .table("gch.default.t5.changes")
    assert(asSet(last) == Set(
      ("a", "x", "update_preimage", head),
      ("a", "x2", "update_postimage", head)))
  }
}
