package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** CLI batch entry point for the TRAINING-CORPUS pipeline — the llm
  * analog of [[graft.pol.PolMain]]: one job composing the proved
  * catalog pieces into what a data platform actually ships nightly:
  *
  *   gate (x10 Gopher rules) → exact dedup keep-first (d1/c8's
  *   BINARY-digest min-struct) → benchmark decontamination (x8's
  *   shingle overlap, quarantine not silent-drop) → deterministic
  *   split (c2's md5 buckets, c9's quarantine override) → MERGE into
  *   the keyed manifest table + a per-(split, source) accounting
  *   report.
  *
  * Usage: CurateMain <corpusDir> <outDir>
  *   corpusDir must contain documents.parquet (the testdata layout);
  *   outDir receives `table/` (the keyed manifest table — committed,
  *   time-travelable, re-runs MERGE idempotently) and
  *   `_curation_report.json`.
  *
  * Scale shape (the h6 argument, now with a sink): the curated
  * relation is computed ONCE per run — persisted before the MERGE,
  * which reads that copy (it is already cached, so the MERGE
  * materializes nothing of its own), and the report aggregates the
  * same copy. That one evaluation scans the corpus twice: once for
  * x8's benchmark shingle set (the benchmark documents only; the set
  * reaches the driver as a sorted literal — benchmarks are MBs by
  * contract), and once for everything else. Each document runs the
  * Gopher gate kernel once, map-side, and its `pass` rides the dedup
  * aggregate; the gate filters after the keep-first pick, which keeps
  * the same survivors because the gate reads only `text` and exact
  * copies share it. x8's overlap fold then runs once per survivor
  * after the digest exchange, so duplicates and gate failures never
  * hash their shingles and the survivors hash theirs across the
  * exchange's partitions. No verdict joins back on doc_id. The only
  * corpus-sized exchanges are the 16-byte digest key-agg and the
  * doc_id-keyed MERGE write. The MERGE
  * collects at most nBuckets touched-bucket ids to the driver; the
  * report collects one row per (split, source), governance-bounded,
  * and orders them on the driver. Nothing corpus-sized ever reaches
  * the driver.
  */
object CurateMain {

  /** The curated relation: survivors with split labels — shared by
    * the CLI and CurateMainSpec so the spec pins the CLI's exact
    * semantics, not a lookalike.
    */
  private[graft] def curated(s: SparkSession, corpusDir: String): DataFrame = {
    val docs = graft.Tables.documents(s, corpusDir)
    val ov = TextQueries.shingleOverlap(TextQueries.benchShingles(docs))
    // benchmark/eval docs (the held-out set x8 screens against) are
    // never training data — c9's exclusion, applied before the dedup.
    // Keep-first among exact copies carries every column the table
    // needs and the gate's verdict through ONE bounded min(struct)
    // aggregation (h6/c8 shape); the gate filters after it, and the
    // contamination verdict is computed for the survivors only
    val survivors = TextQueries
      .gopherFeatures(docs.where(!TextQueries.isBenchDoc))
      .groupBy(unhex(md5(col("text"))).as("digest"))
      .agg(min(struct(col("doc_id"), col("source"), col("lang"),
        col("n_toks"), col("n_chars"), col("text"), col("pass"))).as("r"))
      .where(col("r.pass") === 1)
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.lang").as("lang"), col("r.n_toks").as("n_toks"),
        col("r.n_chars").as("n_chars"), col("r.text").as("text"))
      .withColumn("ov", ov)
      .withColumn("contaminated", TextQueries.contaminated(col("ov")))
    survivors
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) " +
          "AS BIGINT) % 100"))
      .withColumn("split",
        when(col("contaminated") === 1, "quarantined")
          .when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"), col("source"), col("lang"),
        col("n_toks").cast("long").as("n_toks"), col("n_chars"),
        col("text"))
  }

  /** Run the pipeline: MERGE the curated rows into `outDir/table` and
    * write the accounting report. Returns the report rows
    * (split, source, n_docs, n_toks) for callers/specs, in
    * `orderBy("split", "source")` order.
    */
  private[llm] def run(s: SparkSession, corpusDir: String,
      outDir: String): Seq[(String, String, Long, Long)] = {
    val rows = curated(s, corpusDir).persist()
    val report = try {
      // MERGE semantics: re-running the job (same or grown corpus)
      // upserts by doc_id — the committed manifest gives atomic
      // publish, time travel to any prior curation run, and torn-
      // state-free readers while the job runs
      graft.pol.PoolJsonSink.upsertPartitioned(s, s"$outDir/table", rows,
        col("doc_id"), nBuckets = 16)
      rows.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
        .sorted(ReportOrder)
        .toSeq
    } finally { rows.unpersist(blocking = true); () }
    val json = report.map { case (sp, src, nd, nt) =>
      s"""{"split": "$sp", "source": "$src", "n_docs": $nd, "n_toks": $nt}"""
    }.mkString("[\n  ", ",\n  ", "\n]\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_curation_report.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    report
  }

  /** `orderBy("split", "source")` on the driver: ascending, nulls
    * first, strings in UTF-8 byte order (Spark's string order).
    */
  private val ReportOrder: Ordering[(String, String, Long, Long)] = {
    val str = Ordering.Option(Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))
    Ordering.by[(String, String, Long, Long), (Option[String], Option[String])](
      r => (Option(r._1), Option(r._2)))(Ordering.Tuple2(str, str))
  }

  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curate")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = run(spark, corpusDir, outDir)
    val total = report.map(_._3).sum
    println(s"curated $total docs -> $outDir/table " +
      s"(v${graft.pol.PoolJsonSink.listVersions(s"$outDir/table").last})")
    report.foreach { case (sp, src, nd, nt) =>
      println(f"  $sp%-12s $src%-8s docs=$nd%6d toks=$nt%9d")
    }
    spark.stop()
  }
}
