package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Each field of Bench's layer profile on a run whose right value is
  * known in advance. Bench never turns a failure into a number: a run
  * that throws has no layers, and its query is only listed as failed.
  */
class BenchProfileSpec extends AnyFunSuite {
  import QueryHarness.{sf0001, spark}

  private def profiled[T](body: BenchProfile => T): T = {
    val p = BenchProfile(spark)
    try body(p) finally p.close()
  }

  private def layersOf(p: BenchProfile)(df: => org.apache.spark.sql.DataFrame) =
    p.timed(Bench.force(df)) match {
      case Right((seconds, layers)) =>
        assert(seconds > 0)
        layers
      case Left(e) => fail(e)
    }

  test("a one-job query reads one action, one job and a task per partition") {
    profiled { p =>
      val l = layersOf(p)(spark.range(0, 3000, 1, 3).select(col("id") * 2))
      assert(l("actions") == 1)
      assert(l("jobs") == 1)
      assert(l("stages") == 1)
      assert(l("tasks") == 3)
      assert(l.getOrElse("shuffle_write_bytes", 0L) == 0)
      assert(l("exec_cpu_ns") > 0)
    }
  }

  test("a shuffle query writes shuffle bytes and reads them back") {
    profiled { p =>
      val l = layersOf(p)(
        spark.range(0, 3000, 1, 3).groupBy(col("id") % 7).count())
      assert(l("shuffle_write_bytes") > 0)
      assert(l("shuffle_read_bytes") > 0)
      assert(l("jobs") >= 2)
    }
  }

  test("a file scan reads input bytes; phases are the action's tracker's") {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val seen = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qes.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.listenerManager.register(seen)
    try profiled { p =>
      val l = layersOf(p)(spark.read.parquet(sf0001 + "/events.parquet"))
      assert(l("input_bytes") > 0)
      assert(qes.size == 1)
      val phases = qes.peek().tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        assert(l.getOrElse(ph + "_ms", 0L) == phases(ph).durationMs, ph)
      }
    } finally spark.listenerManager.unregister(seen)
  }

  test("a streaming run carries its trigger phases") {
    profiled { p =>
      val l = layersOf(p)(SparkEntry.queries("t1_stream_agg")(spark, sf0001))
      assert(l("stream.addBatch") > 0)
      assert(l("stream.triggerExecution") >= l("stream.addBatch"))
      val entry = new ObjectMapper().readTree(BenchProfile.entry(1.0, l))
      assert(entry.get("stream_ms").get("addBatch").asLong == l("stream.addBatch"))
      assert(entry.get("stream_ms").get("triggerExecution").asLong ==
        l("stream.triggerExecution"))
    }
  }

  test("a query that throws gets no layers and is listed as failed") {
    profiled { p =>
      val ok = layersOf(p)(spark.range(0, 10, 1, 2).toDF())
      val failed = p.timed(Bench.force(
        spark.range(0, 10, 1, 2).select(raise_error(lit("boom")))))
      assert(failed.isLeft)
      val doc = new ObjectMapper().readTree(BenchProfile.json(
        sf0001, 2, Seq(("a_ok", 0.5, ok)), Seq("b_throws")))
      assert(doc.get("queries").size == 1)
      assert(doc.get("queries").get("b_throws") == null)
      assert(doc.get("failed").get(0).asText == "b_throws")
      val a = doc.get("queries").get("a_ok")
      assert(a.get("wall_s").asDouble == 0.5)
      assert(a.get("jobs").asLong == 1 && a.get("tasks").asLong == 2)
      assert(a.get("stream_ms") == null)
      Seq("analysis_s", "optimization_s", "planning_s", "actions", "jobs",
        "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb")
        .foreach(f => assert(a.has(f), f))
    }
  }
}
