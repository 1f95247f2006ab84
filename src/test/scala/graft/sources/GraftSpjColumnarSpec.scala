package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** The `format("graft")` scan must execute COLUMNAR for flat-atomic
  * projections (ColumnarToRow above the BatchScan — vectorized
  * parquet batches flow straight into codegen), fall back to the row
  * reader for nested columns, and return identical data either way.
  * Without the columnar path every scan-heavy SPJ query pays a
  * per-row materialization tax the plain parquet scan doesn't.
  */
class GraftSpjColumnarSpec extends AnyFunSuite {
  import spark.implicits._

  private def columnarScans(
      plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.size

  test("flat-atomic projection scans columnar and matches the v1 read") {
    val root = java.nio.file.Files.createTempDirectory("spj_col").toString
    val df = (1L to 10000L)
      .map(i => (i, s"name-$i", i * 1.5, (i % 97).toInt))
      .toDF("k", "name", "price", "grp")
    PoolJsonSink.overwritePartitioned(spark, root, df, col("k"), 8)

    val scan = GraftSpj.read(spark, root).select("k", "name", "price")
    assert(columnarScans(scan.queryExecution.executedPlan) == 1,
      s"expected a columnar scan:\n${scan.queryExecution.executedPlan}")

    val got = scan.as[(Long, String, Double)].collect().sortBy(_._1)
    val want = (1L to 10000L).map(i => (i, s"name-$i", i * 1.5))
    assert(got.toSeq == want)
  }

  test("nested (array) projection falls back to the row reader") {
    val root = java.nio.file.Files.createTempDirectory("spj_col2").toString
    val df = (1L to 100L).map(i => (i, Seq(i, i + 1))).toDF("k", "arr")
    PoolJsonSink.overwritePartitioned(spark, root, df, col("k"), 8)

    val scan = GraftSpj.read(spark, root).select("k", "arr")
    assert(columnarScans(scan.queryExecution.executedPlan) == 0,
      "nested projection must not claim columnar support")
    val got = scan.as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(got.toSeq == (1L to 100L).map(i => (i, Seq(i, i + 1))))
  }

  test("spj join of columnar scans still plans with zero exchanges") {
    val root = java.nio.file.Files.createTempDirectory("spj_col3").toString
    val a = (1L to 2000L).map(i => (i, i * 2.0)).toDF("k", "av")
    val b = (1L to 2000L).filter(_ % 2 == 0)
      .map(i => (i, s"b-$i")).toDF("k", "bv")
    PoolJsonSink.overwritePartitioned(spark, s"$root/a", a, col("k"), 8)
    PoolJsonSink.overwritePartitioned(spark, s"$root/b", b, col("k"), 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = GraftSpj.join(spark, s"$root/a", s"$root/b", "k", "k")
      val plan = j.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, s"SPJ must stay shuffle-free:\n$plan")
      assert(columnarScans(plan) == 2,
        s"both SPJ sides should scan columnar:\n$plan")
      assert(j.count() == 1000L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
