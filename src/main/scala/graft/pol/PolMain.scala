package graft.pol

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.streaming.ChangedFiles

/** CLI entry point — the analog of the reference's `python etl/main.py`
  * (`etl/main.py:154-165`).
  *
  * Usage: PolMain <pol-root> [lookup-csv-or-xlsx] [out-dir]
  *          [--ledger <ledger-path> | --git-diff <repo-root>]
  *
  * Every mode runs the one pool job ([[PolPipeline.run]]) and writes
  * `all_pools_data.json`, `_pipeline_summary.json`, `_index.json` and
  * `summary_csv/` under the out dir for the files it processed. The
  * modes differ only in which files those are:
  *   - default: every `.pol` under `<pol-root>`
  *   - `--ledger`: files new or modified since the last run with the
  *     same ledger; with none, nothing is written
  *   - `--git-diff`: the `.pol` files under `<pol-root>` changed by the
  *     last commit of the git repo at `<repo-root>`; an empty diff falls
  *     back to every file, like the reference
  */
object PolMain {
  val Usage: String = "Usage: PolMain <pol-root> [lookup-csv-or-xlsx] " +
    "[out-dir] [--ledger <ledger-path> | --git-diff <repo-root>]"

  private val Modes = Set("--ledger", "--git-diff")

  private final case class Cli(root: String, lookup: String, out: String,
      mode: Option[(String, String)])

  private def parse(args: Seq[String]): Option[Cli] = {
    val flags = args.indices.filter(i => Modes(args(i)))
    val taken = flags.flatMap(i => Seq(i, i + 1)).toSet
    val pos = args.indices.filterNot(taken).map(args)
    if (pos.isEmpty || pos.size > 3 || pos.exists(_.startsWith("--")) ||
        flags.size > 1 || flags.exists(_ + 1 >= args.size)) None
    else Some(Cli(pos(0),
      pos.lift(1).getOrElse("src/test/resources/lookup/game_lookup.csv"),
      pos.lift(2).getOrElse("/tmp/graft_polmain"),
      flags.headOption.map(i => args(i) -> args(i + 1))))
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-pol")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // parse with ride-along error accounting (A8): the job's drop counts
    // surface from the same scan via observe(), printed when it completes
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          qe.observedMetrics.get("graft_parse").foreach { m =>
            println(s"[parse] lines seen=${m.getAs[Long]("lines_seen")} " +
              s"parsed=${m.getAs[Long]("lines_parsed")} " +
              s"dropped=${m.getAs[Long]("lines_dropped")}")
          }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    try println(s"processed ${run(spark, cli)} file(s) into ${cli.out}")
    finally spark.stop()
  }

  /** Runs the mode `args` (the CLI arguments) selects; returns the number
    * of files processed.
    */
  def run(spark: SparkSession, args: Seq[String]): Long =
    run(spark, parse(args).getOrElse(throw new IllegalArgumentException(Usage)))

  private def run(spark: SparkSession, cli: Cli): Long = {
    val out = Paths.get(cli.out)
    val json = out.resolve("all_pools_data.json")
    cli.mode match {
      case None => PolPipeline.run(spark, cli.root, cli.lookup, out)
      case Some(("--ledger", ledger)) =>
        ChangedFiles.runOnce(spark, cli.root, cli.lookup, json, ledger)
      case Some((_, repo)) =>
        val repoRoot = Paths.get(repo).toAbsolutePath.normalize
        val root = Paths.get(cli.root).toAbsolutePath.normalize
        require(root.startsWith(repoRoot),
          s"<pol-root> $root is not inside the git repo $repoRoot")
        ChangedFiles.runGit(spark, repoRoot.toString,
          repoRoot.relativize(root).toString, cli.lookup, json)
    }
  }
}
