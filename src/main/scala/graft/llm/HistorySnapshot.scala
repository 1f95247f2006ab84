package graft.llm

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pol.PoolJsonSink

/** The persisted all-time-corpus digest snapshot that incremental
  * dedup (d11) and streaming ingest dedup (t9) read instead of
  * recomputing scan + digest + distinct over the history on every run
  * or micro-batch.
  *
  * This is the reference's processed-files-ledger semantics
  * (`etl/extract.py:161-211` — computed once, carried forward) applied
  * to content digests, stored in the engine's own transactional store:
  * a digest-keyed manifest table (atomic CAS commit, bucket-pruned
  * reads) plus a bloom sketch over the digest prefix keys, sized from
  * the MEASURED digest count — a fixed-size sketch silently degrades
  * to fp-rate ~1 once the history outgrows it, turning the map-side
  * prefilter back into the full history shuffle it exists to avoid
  * (correctness always survives via the exact join; the perf contract
  * is what sizing protects).
  *
  * Maintenance-window model: [[forCorpus]] builds the snapshot once
  * per corpus content — a directory artifact ([[graft.util.Artifacts]])
  * keyed by the documents table's fingerprint — and is a cheap read
  * thereafter; a rewritten corpus names a new snapshot. Between
  * rebuilds a deployment folds the window's newly-accepted digests in
  * via [[appendDigests]], an idempotent keyed upsert through the
  * manifest CAS. Per-batch ingest cost against the snapshot is
  * O(batch + touched buckets): the batch's digests hash to a bounded
  * bucket set, only those bucket files are read, and the sketch
  * rejects provably-new docs before any join at all.
  */
object HistorySnapshot {

  /** Bag-of-words content digest (md5 over the sorted distinct token
    * set) — the normalization that catches token-reshuffled
    * boilerplate byte-exact md5 misses. Shared by d11 and t9; the
    * DuckDB oracles reproduce it bit-for-bit.
    */
  // native kernel (round-8 audit): the builtin chain's array_sort
  // lambda is CodegenFallback and dragged every digest projection
  // (d11 × 3, t9's ingest path) interpreted; parity with
  // md5(array_join(array_sort(array_distinct(toks)), ' ')) is
  // pinned in FunctionsSpec
  val digestExpr: Column = graft.functions.SortedTokenDigest(
    graft.functions.WsTokens(col("text")))

  /** 60-bit BIGINT prefix of the digest — the bloom/bucket key (join
    * keys must be fixed-width integers, never hex strings).
    */
  val bkExpr: Column = expr(
    "CAST(conv(substr(digest, 1, 15), 16, 10) AS BIGINT)")

  /** c2's deterministic corpus split key (md5-of-doc_id percent 100):
    * bucket < 90 is "history", >= 90 is "today's batch".
    */
  val splitBucketExpr: Column = expr(
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 100")

  /** Bucket count for the digest table, sized from the measured
    * digest count (~64k digests per bucket file): a fixed count is
    * wrong at BOTH ends — 64 buckets over 4k digests is 64 tiny
    * files of open-cost overhead, 64 buckets over 1e10 digests makes
    * "touched buckets" a synonym for "the whole table". The chosen
    * count is pinned per table (stored beside it); a window rebuild
    * re-sizes it as the history grows.
    */
  private[llm] def bucketsFor(nDigests: Long): Int = {
    val want = nDigests / 65536L
    var b = 4
    while (b < want && b < 4096) b <<= 1
    b
  }

  case class Snapshot(
      tableDir: String,
      sketch: Option[Array[Byte]],
      nDigests: Long,
      nBuckets: Int) {

    /** The snapshot rows holding any of `digests`' buckets — the
      * bucket-pruned read an exact verify joins against. The collect
      * is driver-side and bounded by `nBuckets`.
      */
    def touchedDigests(s: SparkSession, digests: DataFrame): DataFrame = {
      val touched = digests
        .select(PoolJsonSink.bucketExpr(col("digest"), nBuckets)
          .as("__b"))
        .distinct().collect().map(_.getLong(0)).toSeq
      PoolJsonSink.readBuckets(s, tableDir, touched).select("digest")
    }

    /** Map-side membership prefilter: false ⇒ provably not in
      * history (bloom has no false negatives); true ⇒ verify exactly.
      * An empty history (no sketch) rejects everything.
      */
    def mightContain(bk: Column): Column =
      sketch.fold(lit(false))(bf =>
        graft.functions.BloomSketch.mightContain(bf, bk))
  }

  /** Sketch sizing: expected items from the measured count with 2×
    * headroom (a window's worth of growth before the next rebuild),
    * floored so tiny histories don't get degenerate sketches.
    */
  private[llm] def sketchItems(nDigests: Long): Long =
    math.max(2L * nDigests, 1024L)

  /** Resolve (building if this corpus content has no snapshot yet)
    * the history digest snapshot for corpus directory `d`.
    */
  def forCorpus(s: SparkSession, d: String): Snapshot = {
    val root = graft.util.Artifacts.dir("hist_snap",
        graft.util.Artifacts.key(Seq(s"$d/documents.parquet"))) { staging =>
      val tableDir = new File(staging, "digests").toString
      val history = graft.Tables.documents(s, d)
        .withColumn("bucket", splitBucketExpr)
        .where(col("bucket") < 90)
        .withColumn("digest", digestExpr)
        .withColumn("bk", bkExpr)
        .select("digest", "bk")
        .distinct()
        .localCheckpoint() // one digest pass feeds count AND write
      val n = history.count()
      val nBuckets = bucketsFor(n)
      PoolJsonSink.upsertPartitioned(s, tableDir, history, col("digest"),
        nBuckets = nBuckets)
      // sketch from the COMMITTED table, sized by the measured count
      if (n > 0)
        Files.write(new File(staging, "sketch").toPath,
          PoolJsonSink.readTable(s, tableDir)
            .agg(graft.functions.BloomSketch
              .build(col("bk"), sketchItems(n)).as("bf"))
            .head.getAs[Array[Byte]]("bf"))
      Files.write(new File(staging, "count").toPath,
        s"$n $nBuckets".getBytes(StandardCharsets.UTF_8))
    }
    val counts = new String(
      Files.readAllBytes(new File(root, "count").toPath),
      StandardCharsets.UTF_8).trim.split(' ')
    val sketchFile = new File(root, "sketch")
    val sketch =
      if (sketchFile.isFile) Some(Files.readAllBytes(sketchFile.toPath))
      else None
    Snapshot(new File(root, "digests").toString, sketch,
      counts(0).toLong, counts(1).toInt)
  }

  /** Fold a window's newly-accepted digests into the snapshot table —
    * the incremental maintenance write (idempotent: the key IS the
    * digest). The sketch is NOT updated in place (blooms only grow);
    * the window rebuild refreshes it, and until then new digests are
    * sketch-misses that the exact join still resolves correctly.
    */
  def appendDigests(s: SparkSession, snap: Snapshot,
      digests: DataFrame): Seq[Long] =
    PoolJsonSink.upsertPartitioned(s, snap.tableDir,
      digests.select(col("digest"), bkExpr.as("bk")),
      col("digest"), nBuckets = snap.nBuckets)
}
