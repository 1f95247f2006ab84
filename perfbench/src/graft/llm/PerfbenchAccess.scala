package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The curation pipeline's stages are package-private to `graft.llm`;
  * the benchmark drives exactly those stages (no copies), so it reaches
  * them through this forwarder.
  */
object PerfbenchAccess {
  /** `CurateMain`'s whole nightly run: curate, MERGE, report. */
  def curateRun(s: SparkSession, corpusDir: String,
      outDir: String): Seq[(String, String, Long, Long)] =
    CurateMain.run(s, corpusDir, outDir)

  /** The curated relation `CurateMain.run` MERGEs. */
  def curated(s: SparkSession, corpusDir: String): DataFrame =
    CurateMain.curated(s, corpusDir)

  /** The Gopher gate's features and `pass` column. */
  def gopherFeatures(df: DataFrame): DataFrame =
    TextQueries.gopherFeatures(df)

  /** The x8 decontamination verdict relation. */
  def decontaminate(s: SparkSession, corpusDir: String): DataFrame =
    TextQueries.queries("x8_decontaminate")(s, corpusDir)

  /** Benchmark (held-out) documents, which the gate excludes. */
  def isBenchDoc: Column = TextQueries.isBenchDoc

  val benchBudget: Long = TextQueries.BenchBudget
}
