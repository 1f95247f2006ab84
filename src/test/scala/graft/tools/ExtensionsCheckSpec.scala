package graft.tools

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The production wiring, `spark.sql.extensions=graft.GraftExtensions`,
  * applies only when a SparkContext is created, so it cannot be checked
  * in the shared test session: [[ExtensionsCheck]] runs in a child JVM
  * with a fresh `java.io.tmpdir`.
  */
class ExtensionsCheckSpec extends AnyFunSuite {
  test("a fresh session with GraftExtensions resolves the native " +
    "functions and plans the as-of join") {
    val tmp = Files.createTempDirectory("graft_ext_check")
    val javaBin = new File(
      new File(sys.props("java.home"), "bin"), "java").toString
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g", s"-Djava.io.tmpdir=$tmp", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.tools.ExtensionsCheck")).asJava
    val out = tmp.resolve("check.out").toFile
    val err = tmp.resolve("check.err").toFile
    val proc = new ProcessBuilder(cmd)
      .redirectOutput(out).redirectError(err).start()
    assert(proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
      "check JVM did not finish")
    def lines(f: File) = Files.readAllLines(f.toPath).asScala.toSeq
    def tail = (lines(out) ++ lines(err).takeRight(30)).mkString("\n")
    assert(proc.exitValue() == 0, s"check exited ${proc.exitValue()}:\n$tail")
    assert(lines(out).contains(
      """{"dp":11.0,"win":5,"asof_planned":true,"asof_value":7}"""), tail)
  }
}
