package graft.pol

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark

/** The pool job's fixed cost is its number of Spark jobs, not its data:
  * on [[PolJobSpec]]'s corpus, the per-pool metrics must stay within a
  * handful of jobs, the lookup costs none, the sorted documents collect
  * and the summary one each, and no join may take the line-level
  * stream as an input (only the per-file histogram, after an aggregate,
  * may meet the file side). A manifest table with a recorded schema
  * reads back without a footer job.
  */
class PolJobCountSpec extends AnyFunSuite {
  private val corpus = "src/test/resources/pol_job"
  private val lookup = "src/test/resources/lookup/pol_job_lookup.csv"

  /** `body`'s result, the jobs it launched and the executed plans of
    * the queries it ran.
    */
  private def traced[T](body: => T): (T, Seq[SparkListenerJobStart], Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkListenerJobStart])
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[SparkPlan])
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e); () }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val r = body
      GraftBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Every node of `p`, looking through adaptive stages and caches. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => (o.children ++ o.subqueries).flatMap(nodes)
  })

  /** Whether `p` produces line-level rows: a file scan reached without
    * passing through an aggregate.
    */
  private def linesUnder(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case _: BaseAggregateExec => false
    case a: AdaptiveSparkPlanExec => linesUnder(a.executedPlan)
    case q: QueryStageExec => linesUnder(q.plan)
    case r: ReusedExchangeExec => linesUnder(r.child)
    case m: InMemoryTableScanExec => linesUnder(m.relation.cachedPlan)
    case o => o.children.exists(linesUnder)
  }

  private def pools() = {
    val dim = GameLookup.load(spark, lookup)
    val inventory = PolParser.listFiles(spark, corpus)
    val parsed = PolParser.parseObserved(PolParser.readRaw(spark, corpus))
    (parsed, dim, inventory)
  }

  test("perPool's metrics take at most 6 jobs and join no line-level input") {
    val (parsed, dim, inventory) = pools()
    val (p, jobs, plans) = traced {
      val p = PoolMetrics.perPool(parsed, dim, Some(inventory)).persist()
      assert(p.count() == 9)
      p
    }
    try {
      info(s"${jobs.size} jobs")
      assert(jobs.size <= 6, s"perPool launched ${jobs.size} jobs")
      val joins = plans.flatMap(nodes).collect { case j: BaseJoinExec => j }
      joins.foreach(j =>
        assert(!j.children.exists(linesUnder), s"a join reads the line stream:\n$j"))
      // perPool reads no type code, so its plans never build one
      assert(!plans.flatMap(nodes).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.PolLineParse]))))
    } finally p.unpersist()
  }

  test("GameLookup.load and resolved launch no job") {
    val inventory = PolParser.listFiles(spark, corpus)
    val (resolved, jobs, _) = traced {
      val dim = GameLookup.load(spark, lookup)
      GameLookup.resolved(dim,
        inventory.select(PoolMetrics.decodeFilename(col("file_name"))._1.as("pool_id")))
        .collect()
    }
    assert(resolved.nonEmpty)
    assert(jobs.isEmpty, s"the lookup launched ${jobs.size} jobs")
  }

  /** `body` over the documents of a materialized, persisted perPool. */
  private def overDocuments[T](body: DataFrame => T): T = {
    val (parsed, dim, inventory) = pools()
    val p = PoolMetrics.perPool(parsed, dim, Some(inventory)).persist()
    try {
      p.count()
      body(PoolMetrics.documents(p, Some("2026-01-01T00:00:00+00:00")))
    } finally p.unpersist()
  }

  test("the sorted documents collect takes 1 job") {
    overDocuments { docs =>
      val (rows, jobs, _) = traced(docs.orderBy("metadata.source_file").collect())
      assert(rows.length == 9)
      val files = rows.map(_.getAs[Row]("metadata").getAs[String]("source_file")).toSeq
      assert(files == files.sorted)
      assert(jobs.size == 1, s"the documents collect launched ${jobs.size} jobs")
    }
  }

  test("PoolSummary.aggregate takes at most 1 job") {
    overDocuments { docs =>
      val (rows, jobs, _) = traced(PoolSummary.aggregate(docs).collect())
      info(s"${jobs.size} jobs")
      assert(rows.length == 1 && rows(0).getAs[Long]("total_files_processed") == 9)
      assert(jobs.size <= 1, s"PoolSummary.aggregate launched ${jobs.size} jobs")
    }
  }

  test("a table with a recorded schema reads without a schema job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs")
      .resolve("table").toString
    val rows = spark.range(0, 200).selectExpr("id AS k", "concat('v', id) AS v")
    PoolJsonSink.upsertPartitioned(spark, dir, rows, col("k"), nBuckets = 16)
    val (_, readJobs, _) = traced(PoolJsonSink.readTable(spark, dir))
    assert(readJobs.isEmpty,
      s"building readTable launched ${readJobs.map(_.stageInfos.head.name)}")
    // a footer (schema) read runs outside any SQL execution; every job
    // the upsert needs runs inside one
    val (_, upsertJobs, _) = traced(PoolJsonSink.upsertPartitioned(spark, dir,
      spark.range(190, 210).selectExpr("id AS k", "'new' AS v"), col("k")))
    val schemaJobs = upsertJobs.filter(e =>
      e.properties.getProperty("spark.sql.execution.id") == null)
      .map(_.stageInfos.head.name)
    assert(schemaJobs.isEmpty, s"the upsert read footers: $schemaJobs")
    assert(PoolJsonSink.readTable(spark, dir).count() == 210)
  }
}
