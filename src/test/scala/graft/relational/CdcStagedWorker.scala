package graft.relational

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Child JVM for [[CdcStagedSpec]]: stages the change-feed table on
  * `sf`, writes a [[snapshot]] of its published artifact to
  * `beforeFile`, then runs every query that reads that table and exits
  * non-zero if one returns no rows. Run it with a fresh
  * `-Djava.io.tmpdir` so the artifact is published by this process.
  * args = (sf, beforeFile, scratch).
  */
object CdcStagedWorker {
  val Queries = Seq("j3_change_feed", "j4_incremental_mv",
    "j6_changes_by_name", "t10_stream_change_feed",
    "t11_stream_incremental_mv", "t12_stream_changes_by_name")

  /** Every file under `root`: relative path, length and content MD5,
    * one line each, sorted.
    */
  def snapshot(root: File): Seq[String] = {
    val base = root.toPath
    val s = Files.walk(base)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map { p =>
      val f = p.asInstanceOf[java.nio.file.Path]
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
      s"${base.relativize(f)}\t${Files.size(f)}\t$md5"
    }.sorted
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(sf, beforeFile, scratch) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-cdc-staged-worker")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val published =
        new File(JoinQueries.stagedChangeTable(spark, sf)).getParentFile
      Files.write(new File(beforeFile).toPath,
        snapshot(published).mkString("\n").getBytes(UTF_8))
      Queries.foreach { q =>
        if (graft.SparkEntry.queries(q)(spark, sf).collect().isEmpty) {
          System.err.println(s"$q returned no rows")
          sys.exit(2)
        }
      }
    } finally spark.stop()
  }
}
