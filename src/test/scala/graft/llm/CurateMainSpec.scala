package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.{spark, sf0001}

/** The end-to-end curation CLI: one job composing gate → dedup →
  * decontaminate → split → keyed-table MERGE. The spec pins the
  * invariants a platform depends on: the table content equals the
  * report, quarantine/benchmark exclusion holds, exact duplicates
  * cannot co-exist in the output, and a re-run is a clean idempotent
  * MERGE (new committed version, identical content).
  */
class CurateMainSpec extends AnyFunSuite {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** Rows one evaluation of the curated relation scans at sf0.001: its
    * 500 documents, read by three scans (the gate, and x8's benchmark
    * and corpus sides).
    */
  private val PinnedOnce = 1500L

  private lazy val out = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_curate_spec").toString
    CurateMain.run(spark, sf0001, dir) -> dir
  }

  test("table content equals the report accounting") {
    val (report, dir) = out
    val table = graft.pol.PoolJsonSink.readTable(spark, s"$dir/table")
    val fromTable = table.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(fromTable == report.toSet)
    assert(report.map(_._3).sum == table.count())
  }

  test("no exact duplicate texts and no benchmark docs survive") {
    val (_, dir) = out
    val table = graft.pol.PoolJsonSink.readTable(spark, s"$dir/table")
    val n = table.count()
    assert(n > 0)
    assert(table.select(md5(col("text"))).distinct().count() == n,
      "exact duplicates must not co-exist in the curated corpus")
    assert(table.where(col("doc_id") % 97 === 0 &&
      col("doc_id") < TextQueries.BenchBudget).isEmpty,
      "benchmark docs are eval data, never corpus rows")
  }

  test("contaminated docs are quarantined, not in train/val/test") {
    val (_, dir) = out
    val table = graft.pol.PoolJsonSink.readTable(spark, s"$dir/table")
    val verdict = TextQueries.queries("x8_decontaminate")(spark, sf0001)
      .where(col("contaminated") === 1).select("doc_id")
    val leaked = table
      .join(verdict, Seq("doc_id"), "left_semi")
      .where(col("split") =!= "quarantined")
    assert(leaked.isEmpty, "contaminated rows leaked into a split")
  }

  test("re-running the job is an idempotent MERGE: new version, " +
    "identical content") {
    val (report, dir) = out
    val v1 = graft.pol.PoolJsonSink.listVersions(s"$dir/table").last
    val report2 = CurateMain.run(spark, sf0001, dir)
    val v2 = graft.pol.PoolJsonSink.listVersions(s"$dir/table").last
    assert(v2 > v1, "a re-run commits a new version")
    assert(report2 == report, "a re-run over the same corpus changes nothing")
    val t1 = graft.pol.PoolJsonSink
      .readTableAsOf(spark, s"$dir/table", v1)
      .orderBy("doc_id").select("doc_id", "split", "n_toks")
      .as[(Long, String, Long)].collect().toSeq
    val t2 = graft.pol.PoolJsonSink.readTable(spark, s"$dir/table")
      .orderBy("doc_id").select("doc_id", "split", "n_toks")
      .as[(Long, String, Long)].collect().toSeq
    assert(t1 == t2)
  }

  /** Rows that file scans of `documents.parquet` output while `body`
    * runs. Every executed scan node counts once, including the scan
    * inside a cached relation's plan, which runs only when the cache
    * is built.
    */
  private def corpusRowsScanned(body: => Unit): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths
            .exists(_.toString.contains("documents.parquet")))
          scans.add(f)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit = synchronized(walk(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    l.synchronized {
      scans.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
    }
  }

  test("a run scans the corpus for one evaluation of the curated " +
      "relation only") {
    val once = corpusRowsScanned(
      CurateMain.curated(spark, sf0001).write.format("noop")
        .mode("overwrite").save())
    val dir = java.nio.file.Files
      .createTempDirectory("graft_curate_once").toString
    // a first run creates the table; the second MERGEs into it
    CurateMain.run(spark, sf0001, dir)
    val run = corpusRowsScanned(CurateMain.run(spark, sf0001, dir))
    assert(once == PinnedOnce, s"one evaluation scanned $once rows")
    assert(run == once, s"a run scanned $run corpus rows, one " +
      s"evaluation of the curated relation scans $once")
  }
}
