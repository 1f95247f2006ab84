package graft.pol

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark

/** Manifest-level data skipping: per-file LONG min/max harvested from
  * parquet footers at write time, so a range read prunes files BEFORE
  * opening any of them — the Delta/Iceberg zone-map primitive, on top
  * of the bucket pruning the key hash already provides. Ingest-ordered
  * batches (each carrying a disjoint sequence range) are the classic
  * shape: reading one range must open only that batch's files.
  */
class DataSkippingSpec extends AnyFunSuite {
  import spark.implicits._

  private def table(): String =
    java.nio.file.Files.createTempDirectory("graft_skip")
      .resolve("tbl").toString

  test("range read opens only the files whose zone map intersects") {
    val dir = table()
    // 4 ingest batches with disjoint seq ranges (time-ordered ingest)
    (0 until 4).foreach { b =>
      val rows = (0 until 100)
        .map(i => (s"k${b * 100 + i}", (b * 100 + i).toLong))
        .toDF("k", "seq")
      // a writer relying on zone-map layout OPTS OUT of the optimized
      // write: the bucket-repartition would merge every batch's range
      // into one file per bucket and leave min/max spanning everything
      PoolJsonSink.upsertPartitioned(spark, dir, rows, col("k"),
        nBuckets = 4, statsCols = Seq("seq"), optimizedWrite = false)
    }
    val m = PoolJsonSink.readManifest(dir).get
    assert(m.stats.nonEmpty, "footer stats must land in the manifest")
    // batch 2's range: only files overlapping [210, 260] get opened
    val sel = PoolJsonSink.pruneFilesLongRange(m, "seq", 210, 260)
    assert(sel.nonEmpty && sel.size < m.files.size,
      s"pruning must drop files: ${sel.size} of ${m.files.size}")
    sel.foreach { f =>
      val PoolJsonSink.LongStat(mn, mx) = m.stats(f)("seq")
      assert(mx >= 210 && mn <= 260, s"$f [$mn,$mx] outside range")
    }
    // and the pruned read equals the full-scan filter
    val pruned = spark.read.format("graft").load(dir)
      .where(col("seq").between(210, 260))
      .select("k", "seq").as[(String, Long)].collect().toSet
    val full = PoolJsonSink.readTable(spark, dir)
      .where(col("seq").between(210, 260))
      .select("k", "seq").as[(String, Long)].collect().toSet
    assert(pruned == full && pruned.size == 51)
  }

  test("stats columns carry forward through maintenance and compaction") {
    val dir = table()
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 50).map(i => (s"k$i", i.toLong)).toDF("k", "seq"),
      col("k"), nBuckets = 2, statsCols = Seq("seq"))
    // later writes do NOT restate statsCols — the column set carries
    (0 until 3).foreach { b =>
      PoolJsonSink.upsertPartitioned(spark, dir,
        (0 until 20).map(i => (s"k${50 + b * 20 + i}",
          (50 + b * 20 + i).toLong)).toDF("k", "seq"),
        col("k"), nBuckets = 2)
    }
    PoolJsonSink.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    PoolJsonSink.vacuum(dir)
    val m = PoolJsonSink.readManifest(dir).get
    // every live file (all fresh from compaction) has seq stats
    m.files.foreach { f =>
      assert(m.stats.get(f).exists(_.contains("seq")),
        s"compacted file $f lost its zone map")
    }
    // no stale stats for vacuumed files
    assert(m.stats.keySet.subsetOf(m.files.toSet))
    val got = spark.read.format("graft").load(dir)
      .where(col("seq").between(0, 109))
      .count()
    assert(got == 110)
  }

  test("string zone maps prune equality reads on source-clustered files") {
    val dir = table()
    // data CLUSTERED by the skip column before the write (repartition
    // by source → every staged file is task×bucket = single-source):
    // the same layout discipline o6's z-order demonstrates — zone maps
    // only prune what the physical layout separates
    val rows = (for {
      src <- Seq("arxiv", "github", "wiki"); i <- 0 until 100
    } yield (s"${src}_doc$i", src)).toDF("k", "source")
      .repartition(3, col("source"))
    // clustered-writer discipline: optimizedWrite = false keeps the
    // caller's source-clustered task layout in the staged files
    PoolJsonSink.upsertPartitioned(spark, dir, rows, col("k"),
      nBuckets = 4, statsCols = Seq("source"), optimizedWrite = false)
    val m = PoolJsonSink.readManifest(dir).get
    // string stats landed as byte-range zone maps
    assert(m.files.exists(f =>
      m.stats.get(f).exists(_.get("source").exists(
        _.isInstanceOf[PoolJsonSink.BinStat]))),
      "string zone maps must land in the manifest")
    val sel = PoolJsonSink.pruneFilesBinaryEq(m, "source",
      "github".getBytes("UTF-8"))
    assert(sel.nonEmpty && sel.size < m.files.size,
      s"string pruning must drop files: ${sel.size} of ${m.files.size}")
    // pruned read equals the full-scan filter
    val pruned = spark.read.format("graft").load(dir)
      .where(col("source") === "github")
      .select("k").as[String].collect().toSet
    val full = PoolJsonSink.readTable(spark, dir)
      .where(col("source") === "github")
      .select("k").as[String].collect().toSet
    assert(pruned == full && pruned.size == 100)
    // a value outside every zone map opens nothing
    assert(PoolJsonSink.pruneFilesBinaryEq(m, "source",
      "zzz".getBytes("UTF-8")).isEmpty)
  }

  test("files without stats are read, never skipped") {
    val dir = table()
    // first write WITHOUT stats, second WITH
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("a", 5L)).toDF("k", "seq"), col("k"), nBuckets = 2)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("b", 500L)).toDF("k", "seq"), col("k"), nBuckets = 2,
      statsCols = Seq("seq"))
    val m = PoolJsonSink.readManifest(dir).get
    // range far from the stats-less file's value: that file must
    // still be selected (no stats -> cannot prove absence)
    val sel = PoolJsonSink.pruneFilesLongRange(m, "seq", 0, 10)
    val statsless = m.files.filterNot(f =>
      m.stats.get(f).exists(_.contains("seq")))
    assert(statsless.nonEmpty && statsless.forall(sel.contains))
    val got = spark.read.format("graft").load(dir)
      .where(col("seq").between(0, 10))
      .select("k").as[String].collect().toSet
    assert(got == Set("a"))
  }

  test("clustered compaction tightens zone maps so range reads skip") {
    val dir = table()
    // rows arrive shuffled: every file's seq zone map spans ~the whole
    // domain, so a narrow range read must open everything
    val base = scala.util.Random.shuffle((0L until 4000L).toVector)
      .map(i => (s"k$i", i)).toDF("k", "seq")
      .repartition(8)
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"),
      nBuckets = 2, statsCols = Seq("seq"))
    val m0 = PoolJsonSink.readManifest(dir).get
    val before = PoolJsonSink.pruneFilesLongRange(m0, "seq", 100, 150)
    assert(before.size == m0.files.size) // nothing skippable

    // OPTIMIZE layout pass: range-sort each bucket on seq, split into
    // ~500-row files — per-file zone maps now cover narrow ranges
    PoolJsonSink.compactPartitions(spark, dir,
      clusterBy = Seq("seq"), targetRecordsPerFile = 500L)
    val m1 = PoolJsonSink.readManifest(dir).get
    val after = PoolJsonSink.pruneFilesLongRange(m1, "seq", 100, 150)
    assert(m1.files.size >= 8) // clustering kept multiple files
    assert(after.size <= 2, // one narrow file per touched bucket
      s"expected <=2 files for a 50-wide range, got ${after.size} " +
        s"of ${m1.files.size}")
    // and the clustered read returns exactly the range
    assert(spark.read.format("graft").load(dir)
      .where(col("seq").between(100, 150))
      .count() == 51)
  }

  test("tableRowCount answers count(*) from the manifest alone") {
    val dir = table()
    val base = (0 until 100).map(i => (s"k$i", i.toLong)).toDF("k", "seq")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 4)
    assert(PoolJsonSink.tableRowCount(dir).contains(100L))
    // upsert: 3 updates (no growth) + 2 inserts
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("k1", -1L), ("k2", -2L), ("k3", -3L), ("new1", 0L),
        ("new2", 0L)).toDF("k", "seq"), col("k"), nBuckets = 4)
    assert(PoolJsonSink.tableRowCount(dir).contains(102L))
    // deletes shrink it; compaction must not change it
    PoolJsonSink.deletePartitioned(spark, dir,
      Seq("k1", "new1").toDF("k"), col("k"), nBuckets = 4)
    assert(PoolJsonSink.tableRowCount(dir).contains(100L))
    PoolJsonSink.compactPartitions(spark, dir, maxFilesPerPartition = 1)
    assert(PoolJsonSink.tableRowCount(dir).contains(100L))
    assert(PoolJsonSink.readTable(spark, dir).count() == 100L)
  }
}
