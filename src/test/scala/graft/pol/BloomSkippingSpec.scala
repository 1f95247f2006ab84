package graft.pol

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark

/** Per-file bloom-filter sidecars (the Delta bloom-filter-index
  * movement): a point lookup on a bloom-indexed high-cardinality
  * column must open ~1 data file regardless of table size — byte-range
  * zone maps cannot skip on uniformly distributed digests (every
  * file's [min,max] spans the whole space), which is exactly the read
  * a dedup/provenance pipeline runs constantly.
  */
class BloomSkippingSpec extends AnyFunSuite {

  private def manifest(dir: String): PoolJsonSink.TableManifest =
    PoolJsonSink.readManifest(dir).get

  /** digest-shaped key: hex md5 of the id — uniform, adversarial for
    * min/max pruning. */
  private def digest(i: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"doc$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def freshTable(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom")
      .resolve("table").toString
    // 3 batches → ≥3 files per touched bucket, all carrying uniform
    // digests (no batch is zone-map-prunable from another)
    (0 until 3).foreach { b =>
      val rows = (b * 200 until (b + 1) * 200)
        .map(i => (digest(i), s"payload_$i")).toDF("k", "payload")
      // non-optimized writer: accumulates several files per bucket,
      // the layout bloom pruning has to win against
      PoolJsonSink.upsertPartitioned(spark, dir, rows, col("k"),
        nBuckets = 4, bloomCols = Seq("k"), optimizedWrite = false)
    }
    dir
  }

  test("bloom point lookup opens ~1 file where zone maps open all") {
    val dir = freshTable()
    val m = manifest(dir)
    assert(m.bloomCols == Seq("k"))
    // every data file has its sidecar
    m.files.foreach { rel =>
      assert(new File(dir, s"$rel.bloom-k").isFile,
        s"missing bloom sidecar for $rel")
    }
    // zone maps are BLIND on uniform digests: byte-range pruning for a
    // present key keeps (nearly) every file; bloom pruning keeps ~1
    val probe = digest(123)
    val zoned = PoolJsonSink.pruneFilesBinaryEq(m, "k",
      probe.getBytes("UTF-8"))
    val bloomed = PoolJsonSink.pruneFilesBloomEq(dir, m, "k", probe)
    assert(zoned.size > 3, s"fixture too weak: zone maps already " +
      s"prune to ${zoned.size}")
    assert(bloomed.size < zoned.size,
      s"bloom pruned nothing: ${bloomed.size} of ${zoned.size}")
    assert(bloomed.size <= 2, s"expected ~1 file, got ${bloomed.size}")
    // the pruned read is EXACT
    val got = spark.read.format("graft").load(dir)
      .where(col("k") === probe)
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(got == Seq("payload_123"))
  }

  test("absent keys: bloom prunes (almost) everything, result empty") {
    val dir = freshTable()
    val m = manifest(dir)
    val absent = (1000 until 1020).map(digest)
    val totalKept = absent.map(
      PoolJsonSink.pruneFilesBloomEq(dir, m, "k", _).size).sum
    // 3% FPP per (file, key): 20 keys × |files| probes keep well under
    // 20% of the unpruned volume (deterministic — the filters and keys
    // are fixed, so this is a stable property, not a flaky sample)
    assert(totalKept <= (absent.size * m.files.size) / 5,
      s"bloom barely pruning: kept $totalKept of " +
        s"${absent.size * m.files.size} probes")
    absent.foreach { k =>
      assert(spark.read.format("graft").load(dir)
        .where(col("k") === k).isEmpty)
    }
  }

  test("maintenance carries the bloom index: compaction and plain " +
    "merges sidecar their new files; vacuum reclaims dead sidecars " +
    "with their data files") {
    import spark.implicits._
    val dir = freshTable()
    // a maintenance writer that doesn't know about blooms (no
    // bloomCols argument): the manifest's recorded index must win
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq((digest(42), "merged_42")).toDF("k", "payload"), col("k"))
    val m1 = manifest(dir)
    assert(m1.bloomCols == Seq("k"), "bloomCols lost by plain upsert")
    m1.files.foreach { rel =>
      assert(new File(dir, s"$rel.bloom-k").isFile,
        s"post-merge file $rel missing its sidecar")
    }
    // compaction rewrites fat buckets — new files must carry sidecars
    PoolJsonSink.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    val m2 = manifest(dir)
    m2.files.foreach { rel =>
      assert(new File(dir, s"$rel.bloom-k").isFile,
        s"post-compact file $rel missing its sidecar")
    }
    // lookup still exact after maintenance
    assert(spark.read.format("graft").load(dir)
      .where(col("k") === digest(42))
      .select("payload").collect().map(_.getString(0)).toSeq ==
      Seq("merged_42"))
    // vacuum: dead data files AND their sidecars go; live sidecars stay
    val dead = m1.files.toSet -- m2.files.toSet
    assert(dead.nonEmpty)
    PoolJsonSink.vacuum(dir, retainVersions = 1)
    dead.foreach { rel =>
      assert(!new File(dir, rel).exists())
      assert(!new File(dir, s"$rel.bloom-k").exists(),
        s"orphan sidecar survived vacuum: $rel.bloom-k")
    }
    m2.files.foreach { rel =>
      assert(new File(dir, s"$rel.bloom-k").isFile,
        s"live sidecar deleted by vacuum: $rel.bloom-k")
    }
  }
}
