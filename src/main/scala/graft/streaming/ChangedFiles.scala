package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pol.{PolParser, PolPipeline}

/** S2 — the reference's changed-files detection (`etl/extract.py:161-211`
  * drives it from `git diff`: files that are NEW **or MODIFIED** since
  * the last run are reprocessed and their documents replace the old
  * entries via the keyed upsert).
  *
  * Two discovery modes pick the files, and both hand them to the one
  * pool job, [[PolPipeline.run]]. The ledger mode keeps the
  * processed-state as an explicit relation `(relative_path, size_bytes,
  * modified_ts)`, and the changed set is a LEFT-ANTI join of the
  * current inventory against it — new paths AND any path whose size or
  * mtime moved. The git-diff mode asks git instead. Both the inventory
  * ([[PolParser.listFiles]]) and the ledger are metadata-only: the
  * detection cost is a listing sweep, never a data scan, so it holds at
  * millions of files.
  */
object ChangedFiles {

  /** Current-inventory rows absent from the ledger (new or modified). */
  def detect(inventory: DataFrame, ledger: DataFrame): DataFrame =
    inventory.join(ledger,
      Seq("relative_path", "size_bytes", "modified_ts"), "left_anti")

  /** Load the ledger relation (empty on first run). */
  def loadLedger(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (f.exists())
      spark.read.parquet(path)
        .select("relative_path", "size_bytes", "modified_ts")
    else
      spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("relative_path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("size_bytes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("modified_ts",
            org.apache.spark.sql.types.TimestampType))))
  }

  /** One changed-files run: list → diff against the ledger → run the
    * pool job ([[PolPipeline.run]]) on ONLY the changed files, next to
    * `outputFile` → write the new ledger (current inventory, so deletes
    * age out). With nothing changed the job is skipped and the outputs
    * are left untouched. Returns the number of files processed.
    */
  def runOnce(
      spark: SparkSession,
      root: String,
      lookupCsv: String,
      outputFile: java.nio.file.Path,
      ledgerPath: String,
      processedAt: Option[String] = None): Long = {
    val out = outDir(outputFile)
    val inventory = PolParser.listFiles(spark, root)
    val ledger = loadLedger(spark, ledgerPath)
    val changed = detect(inventory, ledger)
      .select("relative_path").collect().map(_.getString(0)).toSeq
    if (changed.nonEmpty)
      PolPipeline.run(spark, root, lookupCsv, out, processedAt, Some(changed))
    // new ledger = full current inventory, staged then renamed over the
    // old one. Not atomic: a crash between the delete and the rename
    // leaves no ledger, so the next run reprocesses every file — safe,
    // because the upsert is keyed.
    val tmp = ledgerPath + "__tmp"
    inventory.select("relative_path", "size_bytes", "modified_ts")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val target = new java.io.File(ledgerPath)
    if (target.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(target)
    }
    if (!new java.io.File(tmp).renameTo(target))
      throw new java.io.IOException(s"could not rename $tmp to $ledgerPath")
    changed.size.toLong
  }

  /** The reference's LITERAL discovery mode (`etl/extract.py:161-211`):
    * `git diff --name-only <from> <to>` on the repo, keep `.pol` paths
    * under `subdir`, drop paths that no longer exist (deleted files,
    * `etl/extract.py:186-189`). Driver-side subprocess by design — a
    * CI-repo diff is thousands of paths, not a data-scale problem; the
    * ledger mode above is the engine-native formulation of the same
    * semantics for corpora that do not live in git. Returned paths are
    * repo-relative.
    */
  def gitChangedFiles(
      repoRoot: String,
      subdir: String = "samples/pools2",
      from: String = "HEAD~1",
      to: String = "HEAD"): Seq[String] = {
    import scala.sys.process._
    // -z: NUL-separated and unquoted, so paths with spaces or non-ASCII
    // characters come back verbatim (git quotes them otherwise)
    val out = new java.io.ByteArrayOutputStream
    val cmd = Seq("git", "-C", repoRoot, "diff", "-z", "--name-only", from, to)
    val code = (cmd #> out).!
    if (code != 0) sys.error(s"${cmd.mkString(" ")} exited with $code")
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      .split('\u0000').iterator
      .filter(p => p.nonEmpty && p.endsWith(".pol"))
      .filter(p => subdir.isEmpty || p.startsWith(subdir + "/"))
      .filter(p => new java.io.File(repoRoot, p).exists())
      .toSeq
  }

  /** One git-diff-driven run — the drop-in CI replacement for the
    * reference's incremental mode: the pool job runs on the `.pol`
    * files changed since the last commit (the diff ∩ the inventory
    * under `subdir`), next to `outputFile`; an EMPTY diff falls back to
    * the full scan, exactly the reference's fallback
    * (`etl/main.py:82-85`). Returns the number of files processed.
    */
  def runGit(
      spark: SparkSession,
      repoRoot: String,
      subdir: String,
      lookupPath: String,
      outputFile: java.nio.file.Path,
      from: String = "HEAD~1",
      to: String = "HEAD",
      processedAt: Option[String] = None): Long = {
    val root = new java.io.File(repoRoot, subdir).getAbsolutePath
    val wanted = gitChangedFiles(repoRoot, subdir, from, to)
      .map(_.stripPrefix(subdir + "/"))
    // empty diff → full scan fallback
    PolPipeline.run(spark, root, lookupPath, outDir(outputFile), processedAt,
      Some(wanted).filter(_.nonEmpty))
  }

  /** The job writes `all_pools_data.json` and its siblings into one
    * directory; callers name the JSON file, so check its name.
    */
  private def outDir(outputFile: java.nio.file.Path): java.nio.file.Path = {
    require(outputFile.getFileName.toString == "all_pools_data.json",
      s"the consolidated JSON must be named all_pools_data.json: $outputFile")
    outputFile.toAbsolutePath.getParent
  }
}
