package graft.relational

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The change-feed family's shared input, the staged three-version
  * table. Its batch queries read the feed through the one DSv2 scan.
  * The table is a published artifact (`graft_cdc_staged_<key>`): every
  * query that reads it must leave the published tree exactly as it
  * was published. The name faces (j6, t12) register the table in a
  * catalog; that catalog's warehouse must live outside the artifact.
  * That check runs in a child JVM with a fresh `java.io.tmpdir`, so
  * the artifact is built by that run and not served from an earlier
  * one.
  */
class CdcStagedSpec extends AnyFunSuite {
  import graft.QueryHarness.{sf0001, spark}

  test("j3, j4 and j6 read the change feed through the DSv2 scan") {
    Seq("j3_change_feed", "j4_incremental_mv", "j6_changes_by_name").foreach { q =>
      val scans = graft.SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan
        }
      assert(scans.exists(_.isInstanceOf[graft.sources.GraftChangesScan]),
        s"$q scans $scans")
    }
  }

  test("j3, j4, j6, t10, t11 and t12 leave the published cdc_staged " +
    "tree byte-identical") {
    val tmp = Files.createTempDirectory("graft_cdc_pub")
    val scratch = Files.createTempDirectory("graft_cdc_pub_scratch")
    val before = scratch.resolve("before.txt")
    val javaBin = new File(
      new File(sys.props("java.home"), "bin"), "java").toString
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", s"-Djava.io.tmpdir=$tmp", "-cp", sys.props("java.class.path"),
      "graft.relational.CdcStagedWorker",
      sf0001, before.toString, scratch.toString)).asJava
    val log = scratch.resolve("worker.log").toFile
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(log).start()
    assert(proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
      "worker JVM did not finish")
    def tail = Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n")
    assert(proc.exitValue() == 0, s"worker exited ${proc.exitValue()}:\n$tail")

    val published = tmp.toFile.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("graft_cdc_staged_"))
    assert(published.size == 1, s"published: $published")
    val was = new String(Files.readAllBytes(before), UTF_8).split("\n").toSeq
    val now = CdcStagedWorker.snapshot(published.head)
    assert(was.nonEmpty)
    assert(now == was,
      s"added ${now.diff(was)}, removed or changed ${was.diff(now)}")
    assert(!now.exists(l => l.startsWith("wh6/") || l.startsWith("wh12/")))
  }
}
