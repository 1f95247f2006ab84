package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench's layer profile: where a timed query run's wall time went.
  * Once registered, its listeners count, for the whole session:
  *   - the analysis, optimization and planning phases
  *     (`qe.tracker.phases`) of every SQL action that finished, and the
  *     number of those actions. Analysis done outside a finished
  *     action's QueryExecution is not counted: a Dataset is analysed
  *     eagerly when it is built, so `analysis_s` misses most analysis
  *     inside the timed span and reads far below `optimization_s`
  *   - jobs, completed stages and tasks
  *   - the executors' run, CPU and GC time, shuffle read and write,
  *     disk spill and input bytes
  *   - the streaming trigger phases (`durationMs`), summed over every
  *     progress event
  * A run's layers are the difference of two snapshots taken outside its
  * timed span, each after the listener bus is drained.
  */
final class BenchProfile private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map[String, Long]().withDefaultValue(0L)
  private def add(kvs: (String, Long)*): Unit = synchronized {
    kvs.foreach { case (k, v) => counts(k) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs" -> 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages" -> 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("tasks" -> 1)
    if (m != null) add(
      "exec_run_ms" -> m.executorRunTime, "exec_cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> m.diskBytesSpilled,
      "input_bytes" -> m.inputMetrics.bytesRead)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = action(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = action(qe)
  private def action(qe: QueryExecution): Unit =
    add(("actions" -> 1L) +: qe.tracker.phases.toSeq.map {
      case (phase, s) => (phase + "_ms") -> s.durationMs
    }: _*)

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      add(e.progress.durationMs.asScala.toSeq.map {
        case (phase, ms) => ("stream." + phase) -> ms.longValue
      }: _*)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Every counter, once every event posted so far has been handled. */
  def snapshot(): Map[String, Long] = {
    GraftBus.drain(spark.sparkContext)
    synchronized(counts.toMap)
  }

  /** The counters that grew since `before`, by how much. */
  def since(before: Map[String, Long]): Map[String, Long] =
    snapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      .filter(_._2 != 0)

  /** Seconds `body` took and its layers; Left when it threw. */
  def timed(body: => Unit): Either[Throwable, (Double, Map[String, Long])] =
    try {
      val before = snapshot()
      val t0 = System.nanoTime()
      body
      val v = (System.nanoTime() - t0) / 1e9
      Right(v -> since(before))
    } catch { case NonFatal(e) => Left(e) }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }
}

object BenchProfile {
  def apply(spark: SparkSession): BenchProfile = {
    val p = new BenchProfile(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    spark.streams.addListener(p.streams)
    p
  }

  private val MB = 1024.0 * 1024.0

  /** One query's entry: its reported seconds, then its layers. Stream
    * phases appear as "stream_ms" only for a run that made progress.
    */
  def entry(wallS: Double, layers: Map[String, Long]): String = {
    def count(c: String) = "\"" + c + "\":" + layers.getOrElse(c, 0L)
    def amount(f: String, c: String, unit: Double) =
      "\"" + f + "\":" + f"${layers.getOrElse(c, 0L) / unit}%.3f"
    val stream = layers.toSeq.collect {
      case (k, v) if k.startsWith("stream.") =>
        "\"" + k.stripPrefix("stream.") + "\":" + v
    }.sorted
    (Seq(f""""wall_s":$wallS%.3f""") ++
      Seq("analysis", "optimization", "planning")
        .map(p => amount(p + "_s", p + "_ms", 1e3)) ++
      Seq("actions", "jobs", "stages", "tasks").map(count) ++
      Seq(amount("exec_run_s", "exec_run_ms", 1e3),
        amount("exec_cpu_s", "exec_cpu_ns", 1e9),
        amount("gc_s", "gc_ms", 1e3)) ++
      Seq("shuffle_read", "shuffle_write", "spill", "input")
        .map(b => amount(b + "_mb", b + "_bytes", MB)) ++
      (if (stream.isEmpty) Nil
       else Seq(stream.mkString("\"stream_ms\":{", ",", "}"))))
      .mkString("{", ",", "}")
  }

  /** The BENCH_LAYERS.json document: each reported query's entry, in
    * name order, and the queries that failed, which get no entry.
    */
  def json(sfDir: String, runs: Int,
      reported: Seq[(String, Double, Map[String, Long])],
      failed: Seq[String]): String = {
    val qs = reported.sortBy(_._1).map { case (n, v, l) =>
      "\"" + n + "\":" + entry(v, l)
    }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"sf":"$sfDir","runs":$runs,"queries":$qs,"failed":$fs}"""
  }
}
