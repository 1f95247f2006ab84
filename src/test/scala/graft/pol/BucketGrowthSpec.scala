package graft.pol

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark

/** Bucket-count lifecycle: the manifest RECORDS the table's bucket
  * count and every write path trusts it over the caller's parameter
  * (a mismatched caller must not silently read the wrong buckets and
  * duplicate keys), and [[PoolJsonSink.splitBuckets]] grows the count
  * online — bucket-local (pmod(h, n·f) mod n == pmod(h, n)), one CAS
  * commit, time travel intact, and invisible to the change feed.
  */
class BucketGrowthSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_grow")
      .resolve("tbl").toString

  test("manifest-recorded bucket count wins over a mismatched caller") {
    val dir = freshTable()
    val base = (0 until 200).map(i => (s"k$i", 0L)).toDF("k", "v")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 8)
    assert(PoolJsonSink.readManifest(dir).get.nBuckets.contains(8))

    // a caller wired with the WRONG count: upsert, merge, delete must
    // all still land on the right buckets (no duplicated keys, no
    // missed deletes)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("k3", 1L), ("knew", 1L)).toDF("k", "v"), col("k"),
      nBuckets = 32)
    PoolJsonSink.mergeDelta(spark, dir,
      Seq(("k5", 10L)).toDF("k", "v"), col("k"), nBuckets = 5)(
      _.groupBy("k").agg(sum(col("v")).as("v")))
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("k7").toDF("k"), col("k"), nBuckets = 64)

    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got.size == 200) // 200 + 1 insert - 1 delete, no dup keys
    assert(got("k3") == 1L && got("knew") == 1L && got("k5") == 10L)
    assert(!got.contains("k7"))
    assert(PoolJsonSink.readManifest(dir).get.nBuckets.contains(8))
  }

  test("splitBuckets doubles the count bucket-locally and atomically") {
    val dir = freshTable()
    val base = (0 until 300).map(i => (s"key$i", i.toLong)).toDF("k", "v")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 4)
    val before = PoolJsonSink.readManifest(dir).get

    assert(PoolJsonSink.splitBuckets(spark, dir, col("k")) == 8)
    val after = PoolJsonSink.readManifest(dir).get
    assert(after.version == before.version + 1)
    assert(after.nBuckets.contains(8))
    // bucket-local: every new bucket id maps back to its old id mod 4
    assert(after.buckets.keySet.forall(b => b >= 0 && b < 8))
    // same rows, same count, row-count stat intact
    assert(PoolJsonSink.tableRowCount(dir).contains(300L))
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got.size == 300 && got("key7") == 7L)
    // placement agrees with the NEW bucketExpr for every row
    val misplaced = PoolJsonSink.readTable(spark, dir)
      .where(col("__pt") =!= PoolJsonSink.bucketExpr(col("k"), 8))
      .count()
    assert(misplaced == 0)

    // time travel: the pre-split layout is still readable
    assert(PoolJsonSink.readTableAsOf(spark, dir, before.version)
      .count() == 300)

    // subsequent merges use the stored 8 (caller still says 4):
    // only the split-level buckets of the delta's keys are touched
    val touched = PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key7", -7L)).toDF("k", "v"), col("k"), nBuckets = 4)
    assert(touched.size == 1)
    assert(PoolJsonSink.readTable(spark, dir)
      .where(col("k") === "key7").select("v").as[Long].head() == -7L)
  }

  test("a split is invisible to the change feed") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 50).map(i => (s"k$i", i.toLong)).toDF("k", "v"),
      col("k"), nBuckets = 2)
    PoolJsonSink.splitBuckets(spark, dir, col("k"))
    def changes(from: Long, to: Long) = spark.read.format("graft")
      .option("changesFrom", from.toString).option("changesTo", to.toString)
      .option("changeKey", "k").load(dir)
    assert(changes(1, 2).isEmpty)
    // and a post-split upsert feeds normally
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("k1", -1L)).toDF("k", "v"), col("k"), nBuckets = 4)
    val ch = changes(2, 3)
      .select(graft.sources.GraftChanges.ChangeTypeCol).as[String]
      .collect().sorted
    assert(ch.toSeq == Seq("update_postimage", "update_preimage"))
  }
}
