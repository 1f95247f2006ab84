package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pol.PoolJsonSink
import graft.sources.GraftSpj

/** SpjProbe <nRows> <nBuckets> <workDir> — the evidence behind r21's
  * scale claim: a fact⋈fact join of two co-bucketed keyed tables
  * through format("graft") must cost ZERO exchanges, and the win
  * over the re-shuffling plan must GROW with the data.
  *
  * Seeds two manifest tables keyed 1:1 (left: nRows keys with two
  * payload columns; right: the same keys, ~90% coverage, one payload),
  * then times (min of 3) the same key-equality join + count through
  * (a) GraftSpj.join — bucket-aligned, no exchange — and (b) the plain
  * parquet read of the same committed files, which sort-merge joins
  * through two full hash exchanges. Also prints the exchange counts
  * straight from the executed plans, so the claim is structural, not
  * just a stopwatch.
  */
object SpjProbe {
  def main(args: Array[String]): Unit = {
    val nRows = args(0).toLong
    val nBuckets = args(1).toInt
    val work = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // both sides are FACT tables in the scenario under test: at
      // 100 TB neither broadcasts, so the probe forbids the planner
      // the broadcast escape it only has at probe scale
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def best3[A](f: => A): Double =
      (1 to 3).map(_ => timed(f)._2).min

    val (la, lb) = (s"$work/a", s"$work/b")
    val left = spark.range(nRows).select(col("id").as("k"),
      (col("id") % 97).as("ag"), concat(lit("v"), col("id")).as("av"))
    val right = spark.range(nRows).where(col("id") % 10 =!= 3)
      .select(col("id").as("k"), (col("id") * 7 % 1000).as("bv"))
    val (_, tLoad) = timed {
      PoolJsonSink.overwritePartitioned(spark, la, left, col("k"), nBuckets)
      PoolJsonSink.overwritePartitioned(spark, lb, right, col("k"), nBuckets)
    }

    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size

    def spjJoin() = GraftSpj.join(spark, la, lb, "k", "k")
      .select(col("k"), col("av"), col("bv"))
    def plainJoin() = {
      val a = PoolJsonSink.readTable(spark, la).select("k", "av")
      val b = PoolJsonSink.readTable(spark, lb).select("k", "bv")
      a.join(b, "k")
    }

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exSpj = exchanges(spjJoin())
    val exPlain = exchanges(plainJoin())
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    val tSpj = best3(spjJoin().agg(count(lit(1)), sum(col("bv"))).head())
    val tPlain = best3(plainJoin().agg(count(lit(1)), sum(col("bv"))).head())

    // --- scan-bound case: no join, pure read + aggregate — the shape
    // where the reader implementation IS the cost. With the round-6
    // columnar path the graft scan must track a vectorized plain
    // parquet read of the committed files (within ~1.2×), not pay a
    // per-row materialization tax.
    def spjScan() = GraftSpj.read(spark, la)
      .agg(sum(col("k")), sum(col("ag")), count(lit(1))).head()
    def graftScan() = PoolJsonSink.readTable(spark, la)
      .agg(sum(col("k")), sum(col("ag")), count(lit(1))).head()
    val tScanSpj = best3(spjScan())
    val tScanGraft = best3(graftScan())

    println(f"""{"probe":"spj","rows":$nRows,"buckets":$nBuckets,""" +
      f""""load_s":$tLoad%.1f,"exchanges_spj":$exSpj,""" +
      f""""exchanges_plain":$exPlain,"join_spj_s":$tSpj%.2f,""" +
      f""""join_plain_s":$tPlain%.2f,"scan_spj_s":$tScanSpj%.2f,""" +
      f""""scan_graft_s":$tScanGraft%.2f}""")
    spark.stop()
  }
}
