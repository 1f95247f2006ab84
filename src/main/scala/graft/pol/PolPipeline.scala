package graft.pol

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The pool job — the reference's one hard-coded run
  * (`etl/main.py:42-151`): lookup → extract → transform → upsert →
  * summary. Only the extract step depends on the mode, so every
  * [[PolMain]] mode runs this one function and differs only in the
  * file set it passes: every file (full run, or an empty git diff), or
  * the relative paths a discovery step picked
  * ([[graft.streaming.ChangedFiles]]).
  */
object PolPipeline {

  /** Parse + transform the `.pol` files under `root` and write the
    * consolidated JSON upsert, `_pipeline_summary.json`, `_index.json`
    * and `summary_csv/` under `outDir`, all for the processed files.
    *
    * @param files       None for every file under `root`; otherwise the
    *                    root-relative paths to process. The restriction
    *                    is a `relative_path` filter on the line scan,
    *                    which Spark applies while listing, so other
    *                    files are never opened.
    * @param processedAt documents' `processed_at` and the summary/index
    *                    timestamp; None for wall-clock UTC seconds.
    * @return the number of documents upserted (one per processed file)
    */
  def run(spark: SparkSession, root: String, lookup: String, outDir: Path,
      processedAt: Option[String] = None,
      files: Option[Seq[String]] = None): Long = {
    def only(df: DataFrame) =
      files.fold(df)(fs => df.where(col("relative_path").isin(fs: _*)))
    val dim = GameLookup.load(spark, lookup)
    // parse with ride-along error accounting (A8): drop counts surface
    // from the same scan via observe()
    val parsed = PolParser.parseObserved(only(PolParser.readRaw(spark, root)))
    // File inventory: 0-byte / all-unparseable files still get size-0
    // documents and count in the summary (reference parity).
    val inventory = only(PolParser.listFiles(spark, root))
    // One row per file: persist so the sinks/summary don't re-run the
    // parse per action.
    val pools = PoolMetrics.perPool(parsed, dim, Some(inventory)).persist()
    try {
      val docs = PoolMetrics.documents(pools, processedAt)
      val rows = docs.orderBy(col("metadata.source_file")).collect().toSeq
      val ts = processedAt.getOrElse(java.time.OffsetDateTime
        .now(java.time.ZoneOffset.UTC)
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME))
      val n = PoolJsonSink.upsert(rows, outDir.resolve("all_pools_data.json"))
      val agg = PoolSummary.aggregate(docs, Some(ts)).collect()(0)
      PoolJsonSink.writeSummary(
        PoolJsonSink.summaryJson(ts, n, n, 0, Seq.empty,
          Seq("Meta_data/all_pools_data.json"), agg),
        outDir.resolve("_pipeline_summary.json"))
      PoolJsonSink.writeIndex(rows, ts, outDir.resolve("_index.json"))
      PoolJsonSink.writeCsv(docs, outDir.resolve("summary_csv").toString)
      n.toLong
    } finally pools.unpersist()
  }
}
