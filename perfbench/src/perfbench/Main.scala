package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark process: one workload, one seed, one closed-loop client
  * (one job at a time) on `local[cores]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --cores <n> [--report <file>]
  * }}}
  *
  * Prints a line per metric, then one JSON line
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when a run failed or an output check did not hold.
  */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "1/s", "first_run_s" -> "s",
    "setup_s" -> "s", "driver_heap_live_mb" -> "MB")

  /** Per-layer metrics. A layer a workload does not run reports 0.
    * `pol_delta.*` are the layers of `pol_delta`, which `pol_bulk`'s
    * traced pass runs as a probe.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "lookup.load_s" -> "s",
    "parser.list_s" -> "s", "parser.files_listed" -> "count",
    "parser.parse_s" -> "s", "parser.lines_seen" -> "count",
    "parser.lines_dropped" -> "count", "parser.read_amp" -> "ratio",
    "metrics.perpool_s" -> "s", "metrics.jobs" -> "count",
    "metrics.tasks" -> "count", "metrics.exec_cpu_s" -> "s",
    "metrics.gc_s" -> "s", "metrics.shuffle_write_mb" -> "MB",
    "metrics.core_util" -> "ratio",
    "documents.collect_s" -> "s", "documents.collected_rows" -> "count",
    "summary.aggregate_s" -> "s",
    "json.upsert_s" -> "s", "json.docs_upserted" -> "count",
    "json.existing_docs" -> "count", "json.bytes_written" -> "bytes",
    "pol_delta.lookup.load_s" -> "s",
    "pol_delta.parser.list_s" -> "s", "pol_delta.parser.files_listed" -> "count",
    "pol_delta.documents.collect_s" -> "s",
    "pol_delta.documents.collected_rows" -> "count",
    "pol_delta.json.upsert_s" -> "s", "pol_delta.json.docs_upserted" -> "count",
    "pol_delta.json.existing_docs" -> "count",
    "pol_delta.json.bytes_written" -> "bytes",
    "pol_delta.changed.detect_s" -> "s",
    "pol_delta.changed.files_detected" -> "count",
    "pol_delta.changed.detect_precision" -> "ratio",
    "pol_delta.changed.run_s" -> "s",
    "pol_delta.changed.jobs" -> "count", "pol_delta.changed.tasks" -> "count",
    "llm.gate_s" -> "s", "llm.gate_pass_ratio" -> "ratio",
    "llm.decontam_s" -> "s", "llm.dedup_ratio" -> "ratio",
    "curate.curated_s" -> "s",
    "table.merge_s" -> "s", "table.buckets_rewritten" -> "count",
    "table.files_written" -> "count", "table.bytes_written" -> "bytes",
    "table.write_amp" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.core_util" -> "ratio", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.uncovered_s" -> "s")

  private val MB = 1024.0 * 1024.0

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics of one traced run: span times (`<span>_s`), the
    * Spark counters of the spans that own them, and the layers' notes.
    */
  def layers(tr: Tracer, cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap.from(perLayer.map(_._1 -> 0.0))
    tr.spans.foreach { s =>
      if (m.contains(s.name + "_s")) m(s.name + "_s") = s.seconds
    }
    def util(s: Span) = s.counters.runS / (s.seconds * cores)
    tr.find("metrics.perpool").foreach { s =>
      val c = s.counters
      m ++= Seq("metrics.jobs" -> c.jobs.toDouble, "metrics.tasks" -> c.tasks.toDouble,
        "metrics.exec_cpu_s" -> c.cpuS, "metrics.gc_s" -> c.gcS,
        "metrics.shuffle_write_mb" -> c.shuffleWriteBytes / MB,
        "metrics.core_util" -> util(s))
    }
    tr.find("pol_delta.changed.run").foreach { s =>
      m ++= Seq("pol_delta.changed.jobs" -> s.counters.jobs.toDouble,
        "pol_delta.changed.tasks" -> s.counters.tasks.toDouble)
    }
    val root = tr.find("run").get
    val c = root.counters
    m ++= Seq("spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.core_util" -> util(root), "spark.spill_mb" -> c.spillBytes / MB,
      "spark.gc_s" -> c.gcS,
      "trace.wall_s" -> root.seconds,
      "trace.uncovered_s" -> (root.seconds - tr.children(root).map(_.seconds).sum))
    m ++= tr.notes.filter(kv => m.contains(kv._1))
    m.toMap
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case ch => ch.toString
    } + "\""
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite metric $d"); d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)
    val listener = new CounterListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    val w = Workload(name, spark, seed)
    val setupS = (0 until w.setupRounds).map { i =>
      val t = System.nanoTime()
      w.setup(work.resolve(s"setup$i"))
      secondsSince(t)
    }
    (0 until w.setupRounds - 1).foreach(i => Io.deleteTree(work.resolve(s"setup$i")))
    w.expect()

    // Failure accounting: a run that throws (NonFatal) or fails its
    // output check is counted as failed and its time is never recorded.
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += s"$what: $e"
          System.err.println(s"[perfbench] $what failed: $e")
          None
      }
    }
    def measured(i: Int): Option[(Double, Double)] = attempt(s"run $i") {
      w.prepare(i)
      System.gc()
      val t = System.nanoTime()
      w.run(i, Tracer.off)
      val wall = secondsSince(t)
      val heap = Heap.liveMb()
      w.check(i, Tracer.off)
      (wall, heap)
    }
    def tracedRun(i: Int): Option[(Map[String, Double], Seq[Span])] =
      attempt(s"traced run $i") {
        val tr = Tracer(spark.sparkContext, listener)
        w.prepare(i)
        System.gc()
        tr("run")(w.run(i, tr))
        w.check(i, tr)
        w.probes(tr)
        (layers(tr, cores), tr.spans.toSeq)
      }

    val first = measured(0)
    val warm = ArrayBuffer.empty[(Double, Double)]
    val tracedRuns = ArrayBuffer.empty[(Map[String, Double], Seq[Span])]
    // A fixed number of warm runs, whatever their speed: the JIT is still
    // warming up, so the median must come from the same run indices on
    // every program version. A traced pass brackets each traced run
    // between untraced ones (U T U ... U), so the overhead estimate is not
    // skewed by the warm-up either.
    val nWarm = math.max(2, math.round(seconds / w.nominalRunS).toInt)
    val runs = if (traced) 2 * nWarm - 1 else nWarm
    (1 to runs).foreach { i =>
      if (traced && i % 2 == 0) tracedRuns ++= tracedRun(i)
      else warm ++= measured(i)
    }
    val failed = failures.size
    spark.stop()

    val wall = if (warm.nonEmpty) median(warm.map(_._1).toSeq) else Double.NaN
    val e2e = Seq(
      "wall_s" -> (wall, s"warm, median of ${warm.size}"),
      "rows_per_s" -> (w.rows / wall, s"warm, ${w.rows} input rows / wall_s"),
      "first_run_s" -> (first.map(_._1).getOrElse(Double.NaN),
        "cold: first run in this JVM"),
      "setup_s" -> (median(setupS),
        s"median of ${w.setupRounds} set-up(s) " +
          setupS.map(s => f"$s%.3f").mkString("[", ", ", "]") +
          f"; session start $sessionS%.3f s (cold) not included"),
      "driver_heap_live_mb" -> (
        if (warm.nonEmpty) median(warm.map(_._2).toSeq) else Double.NaN,
        "warm, median of heap in use after a full GC at each run's end"),
      "ops_failed_frac" -> (failed.toDouble / attempted, s"$failed of $attempted runs"))
    val layerMedians: Map[String, Double] =
      if (tracedRuns.isEmpty) Map.empty
      else perLayer.map { case (k, _) =>
        k -> (if (k == "trace.overhead_s") median(tracedRuns.map(_._1("trace.wall_s")).toSeq) - wall
          else median(tracedRuns.map(_._1(k)).toSeq))
      }.toMap

    val units = (endToEnd ++ perLayer :+ ("ops_failed_frac" -> "ratio")).toMap
    e2e.foreach { case (k, (v, how)) =>
      println(f"$k%-26s $v%14.6f ${units(k)}%-6s $how")
    }
    if (traced) {
      println(s"per-layer: median of ${tracedRuns.size} traced runs " +
        "(warm; 0 = layer not run by this workload)")
      perLayer.foreach { case (k, u) =>
        println(f"  $k%-26s ${layerMedians.getOrElse(k, Double.NaN)}%14.6f $u")
      }
    }
    failures.foreach(f => println(s"failed: $f"))

    val metrics: Seq[(String, Double)] =
      if (traced) perLayer.map { case (k, _) => k -> layerMedians.getOrElse(k, Double.NaN) }
      else endToEnd.map { case (k, _) => k -> e2e.toMap.apply(k)._1 }
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    opt.get("report").foreach { p =>
      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed.toString, "trace" -> traced.toString,
        "cores" -> cores.toString, "correct" -> correct.toString,
        "setup_s" -> setupS, "session_s" -> sessionS,
        "first_run_s" -> first.map(_._1).toSeq,
        "warm_wall_s" -> warm.map(_._1), "warm_heap_live_mb" -> warm.map(_._2),
        "failures" -> failures,
        "traced_runs" -> tracedRuns.map { case (r, spans) =>
          val origin = spans.map(_.startNs).min
          mutable.LinkedHashMap[String, Any](
            "metrics" -> mutable.LinkedHashMap.from(perLayer.map { case (k, _) => k -> r(k) }),
            "spans" -> spans.sortBy(_.startNs).map { s =>
              mutable.LinkedHashMap[String, Any](
                "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
                "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
                "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
                "executor_run_s" -> s.counters.runS, "executor_cpu_s" -> s.counters.cpuS,
                "gc_s" -> s.counters.gcS, "shuffle_write_mb" -> s.counters.shuffleWriteBytes / MB,
                "spill_mb" -> s.counters.spillBytes / MB, "input_mb" -> s.counters.inputBytes / MB)
            })
        })
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), (json(detail) + "\n").getBytes("UTF-8"))
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap.from(metrics.filter(m => !m._2.isNaN).map {
        case (k, v) => k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> units(k))
      }))
    println(json(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
