package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque BINARY columns with a
  * typed metadata struct, plus a partition-wise feature-extraction
  * stage.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * deterministic stub ([[StubDecoder]]) — but everything Spark-side is
  * real and tested: the binary column, the metadata schema, the
  * mapPartitions batch shape (the Scala analog of a `mapInPandas`
  * batch UDF: one iterator in, one iterator out, zero per-row JVM
  * boundary crossings), and the partitioning story (features computed
  * partition-local, no shuffle).
  */
object MultimodalQueries {
  import graft.Tables.documents

  /** Deterministic stand-in for a media decoder: byte-level features
    * that a real implementation would replace with pixel/sample data.
    */
  object StubDecoder {
    /** "Decode" a payload into (n_bytes, first, last, checksum mod 1e6). */
    def features(payload: Array[Byte]): (Long, Int, Int, Long) = {
      if (payload.isEmpty) (0L, -1, -1, 0L)
      else {
        var sum = 0L
        var i = 0
        while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
        (payload.length.toLong, payload(0) & 0xff,
          payload(payload.length - 1) & 0xff, sum % 1000000L)
      }
    }
  }

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("first_byte", IntegerType),
    StructField("last_byte", IntegerType),
    StructField("checksum", LongType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1 — binary payload + typed metadata struct, all columnar
    // expressions (octet length, digest, format tag).
    "m1_multimodal_meta" -> ((s, d) =>
      documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("digest"),
          when(col("doc_id") % 3 === 0, "image/jpeg")
            .when(col("doc_id") % 3 === 1, "audio/wav")
            .otherwise("video/mp4").as("media_type"))
        .orderBy("doc_id")),

    // M3 — frame sampling + resize over the binary payload: every
    // `stride` bytes take a `frameLen`-byte frame, right-pad short
    // frames to the fixed size (the resize analog). Pure columnar
    // array expressions — the batch shape a video pipeline needs
    // (payload → bounded frame list → per-frame features).
    "m3_frame_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("frames", expr(
          """transform(sequence(0, CAST(greatest(length(text) - 1, 0) / 64 AS INT)),
            |  i -> rpad(substring(text, i * 64 + 1, 16), 16, '.'))"""
            .stripMargin))
        .select(col("doc_id"),
          size(col("frames")).as("n_frames"),
          md5(concat_ws("", col("frames"))).as("frames_digest"),
          expr("frames[0]").as("first_frame"))
        .orderBy("doc_id")),

    // M4 — cross-media frame-level dedup: the x11 span-mining shape
    // applied to the BINARY frame axis — every sampled frame (m3's
    // stride/pad contract) is digested, frames appearing in MORE THAN
    // ONE document are the duplicate set (near-identical intros,
    // watermarks, silence padding — what video/audio dedup actually
    // hunts), and each doc reports its shared-frame fraction. Scale:
    // frame explode is map-side (factor len/64); the only shuffles
    // are digest-keyed (16-byte BINARY keys, the d1 discipline) and
    // the dup set re-join is shuffle-hash — frames of a 100 TB video
    // corpus never broadcast.
    "m4_frame_dedup" -> ((s, d) => {
      val frames = documents(s, d)
        .withColumn("frame", explode(expr(
          """transform(sequence(0, CAST(greatest(length(text) - 1, 0) / 64 AS INT)),
            |  i -> rpad(substring(text, i * 64 + 1, 16), 16, '.'))"""
            .stripMargin)))
        .select(col("doc_id"), unhex(md5(col("frame"))).as("fh"))
      val dup = frames.groupBy("fh")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .where(col("mn") =!= col("mx")).select("fh")
      val perDoc = frames.groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"))
      val shared = frames.hint("shuffle_hash")
        .join(dup.hint("shuffle_hash"), Seq("fh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_frames"))
      // per-doc sides are corpus-sized: the stats roll-up join is
      // shuffle-hash pinned like the dup-set join above (the audit
      // rejects broadcasting anything containing the frame explode)
      perDoc.hint("shuffle_hash")
        .join(shared.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_dup_frames"), lit(0L)).as("n_dup_frames"),
          round(coalesce(col("n_dup_frames"), lit(0L)) / col("n_frames"), 4)
            .as("dup_frac"))
        .orderBy("doc_id")
    }),

    // M5 — perceptual-hash near-dup: the image analog of the d7→d8
    // chain every multimodal corpus runs. The DECODE+RESIZE stage is
    // the charter's deterministic stub — a 65-"pixel" thumbnail
    // derived one pixel per token ((numChars·31 + first code point)
    // mod 256 — code POINTS, matching the ascii/length builtins),
    // so a small local edit moves one pixel, exactly the regime
    // perceptual hashes are built for — and everything downstream is
    // the REAL pipeline: dHash (adjacent-pixel gradient bits, robust
    // to global brightness unlike aHash) packed into two 32-bit
    // halves (n11's layout — keeps shiftleft(1L,63) sign-wrap out of
    // the cross-engine contract), Hamming-banded LSH blocking (4
    // bands × 16 bits: any pair within Hamming 3 shares a band by
    // pigeonhole; the ≤6 reported here is the standard approximate
    // LSH recall contract, like d7), d7's hot-bucket cap (binds on
    // the testdata: the sub-33-token docs' all-zero hi bands form a
    // 200+-doc bucket that would quadratically explode), and exact
    // Hamming verify computed INSIDE the pair join projection so
    // dedup ships (id, id, int), never signatures. Scale: sigs are
    // 16 B/doc, the band explode is ×4 map-side, every shuffle is
    // bucket- or id-keyed, nothing corpus-sized broadcasts.
    "m5_phash_dedup" -> ((s, d) => {
      // d7's serving-time discipline (round-10 verdict item 3): the
      // cap sheds recall silently when band buckets saturate — warn
      // once per corpus, naming the family's re-dials
      maybeWarnPhashRecall(s, d)
      val cap = phashCap(s)
      val bands = phashBandRel(s, d, phashBands(s))
      val narrow = bands.groupBy("bucket").count()
        .where(col("count") <= cap).select("bucket")
      // both sides corpus-derived: shuffle-hash pinned (size
      // estimation cannot see past the explode — the d7 discipline)
      val capped = bands.hint("shuffle_hash")
        .join(narrow.hint("shuffle_hash"), Seq("bucket"))
      capped.as("a").hint("shuffle_hash")
        .join(capped.as("b").hint("shuffle_hash"),
          col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("CAST(bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi)" +
            " AS BIGINT)").as("hamming"))
        .dropDuplicates("doc_a", "doc_b")
        .where(col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    }),

    // M6 — frame-containment retrieval: for a bounded PROBE set of
    // media docs, find the corpus docs sharing the most sampled
    // frames — the "which videos contain this clip" query every
    // video-dedup pipeline serves, and the m-family's retrieval
    // analog of n15 (probe relation in, per-probe top-k out). Frames
    // are m3/m4's stride/pad contract digested to BIGINTs (x11's
    // 8-byte-shuffle lesson; the oracle re-derives the same conv so
    // digests match bit-exactly). Scale: probe frames are bounded
    // (|probes|·frames/doc) and BROADCAST into the corpus frame
    // stream — the corpus explodes map-side and nothing corpus-sized
    // broadcasts; the (probe, doc) overlap counts partial-aggregate
    // map-side; the per-probe top-5 is the bounded native aggregate,
    // so the final exchange ships |probes|·5 rows.
    "m6_frame_containment" -> ((s, d) => {
      val frameExpr = expr(
        """transform(sequence(0, CAST(greatest(length(text) - 1, 0) / 64 AS INT)),
          |  i -> CAST(conv(substr(md5(rpad(substring(text, i * 64 + 1, 16), 16, '.')), 1, 15), 16, 10) AS BIGINT))"""
          .stripMargin)
      val isProbe = col("doc_id") % 10 === 0 && col("doc_id") < 5000
      val frames = documents(s, d)
        .withColumn("fh", explode(frameExpr))
        .select(col("doc_id"), col("fh"))
      val probeFrames = frames.where(isProbe)
        .select(col("doc_id").as("probe_id"), col("fh")).distinct()
      val nProbe = probeFrames.groupBy("probe_id")
        .agg(count(lit(1)).as("n_pf"))
      val shared = frames.where(!isProbe).distinct()
        .join(broadcast(probeFrames), Seq("fh"))
        .groupBy("probe_id", "doc_id")
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(nProbe), Seq("probe_id"))
        .select(col("probe_id"), col("doc_id"),
          round(col("n_shared") / col("n_pf"), 6).as("containment"))
        .groupBy("probe_id")
        .agg(graft.functions.NativeTopK
          .topNeighbors(5, col("containment"), col("doc_id")).as("top"))
        .select(col("probe_id"), posexplode(col("top")))
        .select(col("probe_id"), (col("pos") + 1).as("rk"),
          col("col.id").as("doc_id"),
          col("col.score").as("containment"))
        .orderBy("probe_id", "rk")
    }),

    // M7 — CROSS-MODAL retrieval: TEXT probes against the embeddings
    // corpus through the trained IVF-PQ index — the CLIP-recipe join
    // every multimodal curation pipeline runs (caption → nearest
    // images, query → nearest clips). The text ENCODER is the
    // charter's deterministic stub (m5's discipline — fake encode,
    // real plumbing): the hashing-trick bag-of-words embedding
    // (token → 28-bit md5 hash → mod-64 bucket → count histogram), a
    // real featurization recipe whose production replacement is a
    // model call with the same (doc → fixed-dim float vector)
    // signature. Everything downstream is the REAL serving path:
    // probes route map-side to their nprobe coarse cells (literal
    // centroids), per-(probe, cell) residual ADC LUTs broadcast into
    // the codes-only index scan (16 B/row — no float embedding is
    // ever read), and the bounded native top-k ships |probes|·10
    // rows. Scale: the probe set is budget-bounded (≤500 docs at any
    // corpus size); the encoder's nested HOFs evaluate interpreted,
    // which is irrelevant on a bounded relation — the corpus-sized
    // side stays inside whole-stage codegen (n16's plan).
    // Verification assumes DEFAULT serving dials (graft.ann.nprobe=2,
    // graft.pq.k=8) — the oracle bakes them in, like the n-queries.
    "m7_crossmodal_retrieval" -> ((s, d) => {
      // same serving-time advisory as n16/n17: cross-modal retrieval
      // runs the identical approximate path, so default dials over a
      // merged-cell index deserve the same loud warning
      SimilarityQueries.maybeWarnRecall(s, d)
      SimilarityQueries.adcTop10(
        SimilarityQueries.batchAdcScoredFor(s, d,
          encodedTextProbes(s, d), excludeVecProbes = false))
    }),

    // M8 — the COMPLETE cross-modal recipe (n17's composition over
    // text probes): m7's codes-only ADC pass shortlists top-C vectors
    // per text probe, and ONLY the |probes|·C shortlisted floats are
    // read back for the exact-cosine re-rank — at 100 TB the float
    // index is touched at shortlist scale, never corpus scale. Probes
    // with a zero encoder vector are dropped on both sides (no cosine
    // exists for them); everything else is m7's plumbing.
    // Verification assumes DEFAULT serving dials (graft.ann.nprobe=2,
    // graft.pq.k=8, graft.ann.rerank_c=50) — the oracle bakes them in.
    "m8_crossmodal_rerank" -> ((s, d) => {
      SimilarityQueries.maybeWarnRecall(s, d)
      // qnorm derives from the MATERIALIZED qe arrays (see
      // encodedTextProbes); probes with a zero encoder vector are
      // dropped on both sides — no cosine exists for them
      val probes = encodedTextProbes(s, d)
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct(col("qe"), col("qe"))))
        .where(col("qnorm") > 0)
      SimilarityQueries.crossModalRerankTop10(s, d, probes)
    }),

    // M2 — partition-wise feature extraction through the stub decoder:
    // the mapPartitions batch shape of a media pipeline (real plumbing,
    // fake decode).
    "m2_multimodal_features" -> ((s, d) => {
      val enc = org.apache.spark.sql.Encoders.row(featureSchema)
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .mapPartitions { it =>
          it.map { r =>
            val (n, f, l, c) = StubDecoder.features(r.getAs[Array[Byte]]("payload"))
            Row(r.getAs[Long]("doc_id"), n, f, l, c)
          }
        }(enc)
        .orderBy("doc_id")
    })
  )

  /** m7/m8's deterministic stub text encoder, materialized: the
    * budget-gated documents (≤500 at any corpus size) become
    * hashing-trick bag-of-words embeddings — token → 28-bit md5 hash
    * (the d5/d11 cross-engine hash) → mod-64 bucket → count
    * histogram as DOUBLEs. The localCheckpoint barrier is
    * load-bearing twice over: (1) the encoder's interpreted HOF tree
    * evaluates ONCE per probe instead of once per downstream
    * reference, and (2) no later conjunct (m8's qnorm filter) can be
    * merged by CombineFilters into the budget filter, where it would
    * run per row-group-admitted row — measured 47.8-86.7 s for 500
    * probes at the 4M corpus in exactly that trap (SCALING.md round
    * 9). Shared by m7, m8, and M8Probe so the recipe cannot
    * desynchronize; the oracles replay it in SQL.
    */
  /** m5's banded relation: (doc_id, lo, hi, bucket), `nb` Hamming
    * bands of 64/nb bits over the packed dHash (bucket id carries the
    * band index in the high bits). At the default nb=4 this is
    * bit-identical to the original inline expr (4 × 16-bit bands:
    * pigeonhole guarantees any pair within Hamming 3 shares a band).
    * The pixel + dHash stage is ONE native kernel (the three-HOF
    * builtin chain, pinned as its twin in FunctionsSpec, was
    * CodegenFallback across four corpus-sized projections — round-8
    * audit). Shared by the m5 miner and the occupancy census.
    */
  private[graft] def phashBandRel(
      s: SparkSession, d: String, nb: Int): DataFrame = {
    require(nb >= 2 && nb % 2 == 0 && 64 % nb == 0,
      s"phash bands must be an even divisor of 64, got $nb")
    val w = 64 / nb
    val half = nb / 2
    val mask = (1L << w) - 1
    val bandCols = (0 until nb).map { i =>
      val src = if (i < half) col("lo") else col("hi")
      val sh = (i % half) * w
      (shiftright(src, sh).bitwiseAND(lit(mask))) + lit(i.toLong * (mask + 1))
    }
    documents(s, d)
      .withColumn("ph", graft.functions.WordPixelsDhash(col("text")))
      .select(col("doc_id"),
        col("ph.lo").as("lo"), col("ph.hi").as("hi"))
      .select(col("doc_id"), col("lo"), col("hi"),
        explode(array(bandCols: _*)).as("bucket"))
  }

  /** m5's dials: `graft.phash.bands` (default 4 — MORE, narrower
    * bands raise the pigeonhole recall guarantee to Hamming ≤ nb−1
    * while shrinking each band's value space to 2^(64/nb), widening
    * buckets) and `graft.phash.bucket_cap` (default 16, binds on the
    * testdata's sub-33-token all-zero-band blob). Verification
    * assumes the defaults, like every family's dials.
    */
  private[graft] def phashBands(s: SparkSession): Int =
    s.conf.getOption("graft.phash.bands").map(_.toInt).getOrElse(4)
  private[graft] def phashCap(s: SparkSession): Int =
    s.conf.getOption("graft.phash.bucket_cap").map(_.toInt).getOrElse(16)

  /** m5's warn threshold, calibrated to ITS family's healthy band the
    * way d7's 10% was: the testdata corpus sheds 19–23% at the
    * default cap BY DESIGN (the sub-33-token docs' all-zero hi bands
    * are one boilerplate blob the cap exists to shed — CensusProbe,
    * round 11), so d7's 10% would false-positive on every healthy
    * run. A majority of banded rows over-cap is the collapse regime.
    */
  private[graft] val PhashShedWarnFraction = 0.5

  private val phashRecallWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val advisoryLog =
    org.slf4j.LoggerFactory.getLogger("graft.phash.advisory")

  /** m5's occupancy census at DEFAULT dials (4 bands, cap 16) —
    * [[LshCensus]] over the Hamming-band bucket relation.
    */
  private[graft] def phashOccupancy(
      s: SparkSession, d: String): LshCensus.Occupancy =
    LshCensus.occupancy("occ_phash_b4_v1", s"$d/documents.parquet",
      16L, DedupQueries.PairBudgetPerRow)(
      phashBandRel(s, d, 4).select("bucket"))

  /** m5's recall advisory (the d7/d9 contract for the pHash family):
    * fires once per (corpus, process) when the default cap sheds ≥
    * the warn fraction of banded rows, naming the re-dials.
    * Advisory-only; failures skip the warning, never the query.
    */
  private[graft] def maybeWarnPhashRecall(
      s: SparkSession, d: String): Boolean = {
    val dialed = s.conf.getOption("graft.phash.bands").isDefined ||
      s.conf.getOption("graft.phash.bucket_cap").isDefined
    val fire = !dialed &&
      (try phashOccupancy(s, d).shedFraction >= PhashShedWarnFraction
      catch { case scala.util.control.NonFatal(e) =>
        advisoryLog.warn(s"phash recall advisory skipped for $d: $e")
        false })
    if (fire) {
      val occ = phashOccupancy(s, d)
      Advisories.record("phash_band_cap", d, occ.shedFraction,
        (if (occ.capRec > 16L)
          s"graft.phash.bucket_cap=${occ.capRec} (linear pair envelope)"
        else "exact dedup pre-pass (m4/d1) first") +
          "; or graft.phash.bands=2",
        fingerprint =
          graft.util.Artifacts.fingerprint(s"$d/documents.parquet"))
    }
    if (fire && phashRecallWarned.add(d)) {
      val occ = phashOccupancy(s, d)
      advisoryLog.warn(
        f"pHash Hamming-band bucket cap (default 16) is shedding " +
          f"${occ.shedFraction * 100}%.1f%% of banded rows over $d " +
          f"(${occ.nOverCap} of ${occ.nBuckets} buckets over-cap, " +
          f"widest ${occ.maxWidth}) - perceptual near-dup recall " +
          "degrades silently in this regime. Re-dials: " +
          (if (occ.capRec > 16L)
            f"set graft.phash.bucket_cap=${occ.capRec} (largest cap " +
              "inside the linear pair envelope on this corpus's " +
              "census), or "
          else
            "no cap inside the linear pair envelope recovers the " +
              "shed mass (near-identical boilerplate media - run an " +
              "exact dedup pre-pass, m4/d1, first), or ") +
          "set graft.phash.bands=2 (32-bit bands: narrower buckets " +
          "at a Hamming <= 1 pigeonhole guarantee). " +
          "Verification oracles assume the default dials.")
    }
    fire
  }

  private[graft] def encodedTextProbes(
      s: SparkSession, d: String): DataFrame = {
    val isProbe = col("doc_id") % 10 === 0 && col("doc_id") < 5000
    // Histogram by AGGREGATION, not by 64 filter() passes: the
    // original `transform(sequence(0,63), i -> size(filter(hts, …)))`
    // inlined the token-hash subtree into every lambda, so the
    // interpreted HOF stack re-tokenized + re-md5'd each probe 64×
    // (measured 1.5–3.4 s of m7/m8/t13's cost at sf0.1 — M8Probe).
    // Here each token hashes ONCE (codegen'd md5), a (probe, bucket)
    // count aggregates map-side, and the 64-wide qe array rebuilds
    // from the counts map in a final bounded projection (≤500 probe
    // rows — the only interpreted HOFs left run there). explode_outer
    // + the null-filtered collect keep zero-token probes as all-zero
    // vectors, exactly the filter() semantics. Values are integer
    // counts cast to double — bit-identical to the oracle's unrolled
    // form.
    val counts = documents(s, d).where(isProbe)
      .select(col("doc_id").as("probe_id"),
        explode_outer(graft.functions.WsTokens(col("text"))).as("tok"))
      .select(col("probe_id"),
        when(col("tok").isNotNull, Hashing.hash28(col("tok")) % 64)
          .as("b"))
      .groupBy("probe_id", "b")
      .agg(count(col("b")).as("c"))
    counts.groupBy("probe_id")
      .agg(map_from_entries(
        expr("collect_list(CASE WHEN b IS NOT NULL " +
          "THEN struct(b, c) END)")).as("m"))
      .select(col("probe_id"),
        expr("transform(sequence(0, 63), " +
          "i -> CAST(coalesce(element_at(m, CAST(i AS BIGINT)), 0) " +
          "AS DOUBLE))").as("qe"))
      .localCheckpoint()
  }

  val oracle: Map[String, String] = Map(
    "m1_multimodal_meta" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m3_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    [rpad(substr(text, i * 64 + 1, 16), 16, '.')
        |     FOR i IN range(CAST(greatest(length(text) - 1, 0) // 64 AS BIGINT) + 1)]
        |      AS frames
        |  FROM documents)
        |SELECT doc_id, len(frames) AS n_frames,
        |  md5(list_reduce(frames, (a, b) -> a || b)) AS frames_digest,
        |  frames[1] AS first_frame
        |FROM f ORDER BY doc_id""".stripMargin,
    "m4_frame_dedup" ->
      """WITH fr AS (
        |  SELECT doc_id,
        |    md5(rpad(substr(text, CAST(i * 64 + 1 AS INT), 16), 16, '.'))
        |      AS fh
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(CAST(greatest(length(text) - 1, 0) // 64
        |        AS BIGINT) + 1)) AS i
        |    FROM documents)),
        |dup AS (
        |  SELECT fh FROM fr GROUP BY fh HAVING min(doc_id) <> max(doc_id)),
        |per AS (SELECT doc_id, count(*) AS n_frames FROM fr GROUP BY 1),
        |sh AS (
        |  SELECT doc_id, count(*) AS n_dup_frames FROM fr
        |  WHERE fh IN (SELECT fh FROM dup) GROUP BY 1)
        |SELECT p.doc_id, p.n_frames,
        |  CAST(coalesce(s.n_dup_frames, 0) AS BIGINT) AS n_dup_frames,
        |  round(CAST(coalesce(s.n_dup_frames, 0) AS DOUBLE) / p.n_frames, 4)
        |    AS dup_frac
        |FROM per p LEFT JOIN sh s USING (doc_id) ORDER BY p.doc_id""".stripMargin,
    // m6: same frame digests (the conv-BIGINT form, bit-matching the
    // Spark side), distinct per doc, overlap counts against the probe
    // set, per-probe top-5 by (containment DESC, doc_id)
    "m6_frame_containment" ->
      """WITH fr AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(rpad(substr(text,
        |      CAST(i * 64 + 1 AS INT), 16), 16, '.')), 1, 15) AS BIGINT)
        |      AS fh
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(CAST(greatest(length(text) - 1, 0) // 64
        |        AS BIGINT) + 1)) AS i
        |    FROM documents)),
        |pf AS (SELECT doc_id AS probe_id, fh FROM fr
        |       WHERE doc_id % 10 = 0 AND doc_id < 5000),
        |np AS (SELECT probe_id, count(*) AS n_pf FROM pf GROUP BY 1),
        |sh AS (
        |  SELECT pf.probe_id, fr.doc_id, count(*) AS n_shared
        |  FROM fr JOIN pf USING (fh)
        |  WHERE NOT (fr.doc_id % 10 = 0 AND fr.doc_id < 5000)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT sh.probe_id, sh.doc_id,
        |    round(CAST(sh.n_shared AS DOUBLE) / np.n_pf, 6)
        |      AS containment,
        |    row_number() OVER (PARTITION BY sh.probe_id
        |      ORDER BY round(CAST(sh.n_shared AS DOUBLE) / np.n_pf, 6)
        |        DESC, sh.doc_id) AS rk
        |  FROM sh JOIN np USING (probe_id))
        |SELECT probe_id, rk, doc_id, containment FROM ranked
        |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // m5: the same pixel → dHash → band-block → cap → verify chain.
    // (list_resize would be the natural padding but DuckDB v1.0.0
    // throws bad_array_new_length on it over this corpus — the
    // concat-then-slice formulation is equivalent.)
    "m5_phash_dedup" -> {
      val pad = Seq.fill(65)("''").mkString("[", ",", "]")
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |px AS (
         |  SELECT doc_id,
         |    list_transform((string_split(text, ' ') || $pad)[1:65],
         |      t -> CASE WHEN t = '' THEN 0
         |                ELSE (length(t) * 31
         |                      + ascii(substr(t, 1, 1))) % 256 END) AS p
         |  FROM d),
         |h AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(32), i ->
         |      CASE WHEN p[i + 1] < p[i + 2] THEN (1::BIGINT << i)
         |           ELSE 0::BIGINT END)) AS lo,
         |    list_sum(list_transform(range(32), i ->
         |      CASE WHEN p[i + 33] < p[i + 34] THEN (1::BIGINT << i)
         |           ELSE 0::BIGINT END)) AS hi
         |  FROM px),
         |bands AS (
         |  SELECT doc_id, lo, hi, unnest([
         |    0 * 65536 + (lo & 65535),
         |    1 * 65536 + ((lo >> 16) & 65535),
         |    2 * 65536 + (hi & 65535),
         |    3 * 65536 + ((hi >> 16) & 65535)]) AS bucket
         |  FROM h),
         |ok AS (
         |  SELECT bucket FROM bands GROUP BY bucket
         |  HAVING count(*) <= 16),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |      AS BIGINT) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  WHERE a.bucket IN (SELECT bucket FROM ok))
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // m7/m8: n16/n17's oracle chains with text-encoded probes — built
    // in SimilarityQueries next to the ADC machinery they mirror.
    "m7_crossmodal_retrieval" -> SimilarityQueries.crossModalOracle,
    "m8_crossmodal_rerank" -> SimilarityQueries.crossModalRerankOracle,
    // ASCII text: bytes == chars, so the stubbed byte features are
    // recomputable from the text column.
    "m2_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |    ascii(substr(text, 1, 1)) AS first_byte,
        |    ascii(substr(text, -1, 1)) AS last_byte,
        |    list_reduce(list_transform(range(length(text)),
        |      i -> CAST(ascii(substr(text, i + 1, 1)) AS BIGINT)),
        |      (a, c) -> a + c) % 1000000 AS checksum
        |  FROM documents)
        |SELECT doc_id, n_bytes, first_byte, last_byte, checksum
        |FROM b ORDER BY doc_id""".stripMargin
  )
}
