package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pol.PoolJsonSink

/** Measures the bloom-sidecar trade at scale: write-path overhead
  * (upsert with vs without `bloomCols`) and point-lookup cost (bloom-
  * pruned read vs full committed-table scan) on a digest-keyed table
  * — the workload byte-range zone maps cannot prune at all.
  *
  * Usage: BloomProbe [nRows] [workDir]   (defaults 2M, tmp dir)
  */
object BloomProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_bloom_probe").toString)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val commits = 4
    def batch(c: Int) = spark.range(c * nRows / commits,
        (c + 1) * nRows / commits)
      .select(md5(concat(lit("k"), col("id"))).as("k"), col("id").as("v"))

    def load(dir: String, bloom: Boolean): Double =
      (0 until commits).map { c =>
        time(PoolJsonSink.upsertPartitioned(spark, dir, batch(c),
          col("k"), nBuckets = 64,
          bloomCols = if (bloom) Seq("k") else Nil))._2
      }.sum

    val plainDir = s"$work/plain"
    val bloomDir = s"$work/bloom"
    val tPlain = load(plainDir, bloom = false)
    val tBloom = load(bloomDir, bloom = true)
    val m = PoolJsonSink.readManifest(bloomDir).get
    val sidecarBytes = m.files.map { rel =>
      new java.io.File(bloomDir, s"$rel.bloom-k").length()
    }.sum
    val dataBytes = m.files.map(rel =>
      new java.io.File(bloomDir, rel).length()).sum
    println(f"write: plain $tPlain%.1f s, bloom $tBloom%.1f s " +
      f"(+${(tBloom / tPlain - 1) * 100}%.0f%%); files=${m.files.size}; " +
      f"sidecars ${sidecarBytes / 1e6}%.1f MB vs data ${dataBytes / 1e6}%.1f MB")

    def digestOf(i: Long): String = {
      val row = spark.range(i, i + 1)
        .select(md5(concat(lit("k"), col("id"))).as("k")).head
      row.getString(0)
    }
    val present = Seq(1L, nRows / 3, nRows - 2).map(digestOf)
    val absent = Seq(nRows + 5, nRows + 77).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"absent$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString)

    def lookups(tag: String): Unit = {
      val mm = PoolJsonSink.readManifest(bloomDir).get
      (present ++ absent).foreach { k =>
        val cand = PoolJsonSink.pruneFilesBloomEq(bloomDir, mm, "k", k)
        val (rows, tb) = time(
          spark.read.format("graft").load(bloomDir)
            .where(col("k") === k).count())
        val (_, tf) = time(
          PoolJsonSink.readTable(spark, bloomDir)
            .where(col("k") === k).count())
        println(f"[$tag] lookup ${k.take(12)}… rows=$rows files=${cand.size}/" +
          f"${mm.files.size} bloom $tb%.2f s vs full-scan $tf%.2f s")
      }
    }
    lookups("fresh")
    // steady state: OPTIMIZE to ~1 file/bucket — right-sized filters
    val (_, tc) = time(PoolJsonSink.compactPartitions(spark, bloomDir,
      maxFilesPerPartition = 1))
    val m2 = PoolJsonSink.readManifest(bloomDir).get
    val sc2 = m2.files.map(rel =>
      new java.io.File(bloomDir, s"$rel.bloom-k").length()).sum
    val db2 = m2.files.map(rel =>
      new java.io.File(bloomDir, rel).length()).sum
    println(f"compacted in $tc%.1f s: files=${m2.files.size}; " +
      f"sidecars ${sc2 / 1e6}%.1f MB vs data ${db2 / 1e6}%.1f MB")
    lookups("compacted")
    spark.stop()
  }
}
