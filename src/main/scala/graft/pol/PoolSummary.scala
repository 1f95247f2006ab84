package graft.pol

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A7 — cross-file aggregated summary (`etl/transform.py:261-322`).
  *
  * Bug-compatible detail: the reference reads
  * `metadata.parent_folder` from the assembled documents, but document
  * metadata only carries `folder_path` (`etl/transform.py:249-255`),
  * so every file lands under folder 'root' — we reproduce that
  * (`files_by_folder = {"root": n}`), matching the golden summary.
  *
  * List-valued tags are counted per element; the scalar 'UNKNOWN'
  * degradation is a 1-element array here so one flatten covers both
  * branches. min/max/avg of rtp & volatility are over non-null values
  * only, avg rounded half-even to 2dp (Python round).
  */
object PoolSummary {

  /** One-row summary DF from the documents DF: one global aggregation,
    * whose one row then derives the tag counts.
    */
  def aggregate(docs: DataFrame, generatedAt: Option[String] = None): DataFrame = {
    val ts = generatedAt.map(lit)
      .getOrElse(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx"))

    // dict(Counter) in the reference preserves FIRST-ENCOUNTER order
    // over documents (e.g. REG before GAB/PFB); encounter order here is
    // the consolidated-file order (source_file asc, then position
    // within a doc's tag list). The aggregate carries one
    // (source_file, tags) pair per document — one row per file, like
    // the documents the sink already collects.
    val tags = flatten(transform(
      array_sort(collect_list(struct(col("metadata.source_file"), col("tag")))),
      d => d.getField("tag")))
    docs.agg(
        count(lit(1)).as("total_files_processed"),
        sum(col("size")).as("total_records_across_all_files"),
        min(col("rtp")).as("rtp_min"),
        max(col("rtp")).as("rtp_max"),
        bround(avg(col("rtp")), 2).as("rtp_avg"),
        min(col("volatility")).as("volatility_min"),
        max(col("volatility")).as("volatility_max"),
        bround(avg(col("volatility")), 2).as("volatility_avg"),
        tags.as("tags"))
      .withColumn("tags_distribution", transform(array_distinct(col("tags")),
        t => struct(t.as("tag"), size(filter(col("tags"), _ === t)).cast("long").as("cnt"))))
      .drop("tags")
      .withColumn("files_by_folder",
        map(lit("root"), col("total_files_processed")))
      .withColumn("generated_at", ts)
  }
}
