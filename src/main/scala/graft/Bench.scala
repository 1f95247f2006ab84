package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  * A query that throws in any timed run is a failure, not a number:
  * it is left out of "queries" and the total and listed under
  * "failed" (on stdout only when some query failed).
  *
  * Warmup runs EVERY catalog query once at the smallest SF first: the
  * generated whole-stage-codegen classes are cached by source, so the
  * timed sf run measures steady-state execution, not janino compilation
  * and JIT — the standard steady-state benchmarking discipline.
  */
object Bench {
  /** Force FULL evaluation through the noop sink. `.count()` is the
    * obvious forcing call but Catalyst rightly prunes everything a
    * count doesn't need — map-only projections and window columns
    * collapse to a parquet row-count, so projection-heavy queries
    * would be timed at ~0 regardless of their real cost. The noop
    * write evaluates every output column and discards rows at the
    * sink, which is what "run the query" means.
    */
  private[graft] def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_ONLY=a1_count,t4_... restricts the run to the
    // named queries (quiet-box re-measurement of a drifted number
    // without paying for the whole catalog); default is every query.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Warmup: every selected query at the smallest SF (codegen cache +
    // JIT), flagship pipeline included via the a6 catalog entry.
    val warmSf = "/root/testdata/sf0.001"
    selected.foreach { case (name, fn) =>
      try force(fn(spark, warmSf))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }

    // Best-of-N per query (N = SPARK_GRAFT_BENCH_RUNS, default 2):
    // this box is a microVM and host-level scheduling noise shows up
    // as multi-second roving stalls (observed 34s..87s catalog totals
    // with identical code, GC/safepoints clean). The min of N runs
    // measures the engine, not the neighbor.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame
    // Every raw sample is kept per query (first pass + drift reruns)
    // and emitted as "bands":{q:[min,max,n]} in the durable JSON: the
    // streaming family drifts ±0.7 s round-to-round on this microVM
    // and each round's regression analysis re-litigated whether a
    // delta was noise — the bands make the noise band DATA in the
    // artifact itself (round-9 verdict task 7).
    val samples = scala.collection.mutable.Map[String, List[Double]]()
    /** Seconds for one forced run; None when the query threw. */
    def timeOnce(name: String, fn: Query): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        val v = (System.nanoTime() - t0) / 1e9
        samples(name) = v :: samples.getOrElse(name, Nil)
        Some(v)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      }
    }
    /** Best of `runs`; None as soon as one run fails. */
    def bestOf(name: String, fn: Query): Option[Double] = {
      val ok = Iterator.fill(runs)(timeOnce(name, fn))
        .takeWhile(_.isDefined).flatten.toSeq
      if (ok.size == runs) Some(ok.min) else None
    }
    // Drift history: the previous run's per-query numbers (read from
    // the durable BENCH_LOCAL.json before this run overwrites it).
    // Host-level scheduling noise on this microVM shows up as
    // multi-second roving stalls on individual queries; rounds 4-6
    // re-measured those by hand on a quiet box, and round 7's actual
    // drift band (streaming family at 1.3-1.5x, up to +1 s) sailed
    // UNDER the original 2x/0.5s trigger. Automate at the observed
    // band: any query that lands >1.3x its previous number AND
    // >0.3 s absolute drift gets re-run (another best-of-N) at the
    // END of the catalog, when whatever neighbor caused the stall
    // has likely moved on; the min of all runs is recorded, the
    // query is flagged in the JSON, and the pre-rerun number is kept
    // alongside ("firstpass") so the artifact carries both
    // measurements. The history is only trusted when its recorded
    // "sf" matches this run's — numbers from a different scale
    // factor would flag nearly every query and silently double bench
    // time re-running the whole catalog.
    val outPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json"))
    val prevTxt: Option[String] =
      if (!java.nio.file.Files.isReadable(outPath)) None
      else try Some(new String(java.nio.file.Files.readAllBytes(outPath),
        java.nio.charset.StandardCharsets.UTF_8))
      catch { case NonFatal(_) => None }
    val prevSfMatches = prevTxt.exists(
      _.contains("\"sf\":\"" + sfDir + "\""))
    val prev: Map[String, Double] =
      if (!prevSfMatches) Map.empty
      else try {
        // scan only the leading "queries" map — the file also carries
        // a "firstpass" map (pre-rerun numbers) whose entries would
        // otherwise shadow the recorded minima
        val head = prevTxt.get.split("\"reran\"", 2)(0)
        val pair = """"([a-z][A-Za-z0-9_]*)":([0-9]+\.[0-9]+)""".r
        pair.findAllMatchIn(head)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap - "value"
      } catch { case NonFatal(_) => Map.empty }

    val attempted = selected.map { case (name, fn) => name -> bestOf(name, fn) }
    val firstPass = attempted.collect { case (name, Some(v)) => name -> v }
    val drifted = firstPass.collect {
      case (name, v) if prev.get(name).exists(p => v > 1.3 * p && v - p > 0.3) =>
        name
    }.toSet
    val rerun = firstPass.map { case (name, v) =>
      if (!drifted(name)) name -> Some(v)
      else name -> bestOf(name, SparkEntry.queries(name)).map(math.min(v, _))
    }
    val failed = (attempted ++ rerun).collect { case (name, None) => name }
      .distinct.sorted
    val results = rerun.collect { case (name, Some(v)) => name -> v }
    // A SPARK_GRAFT_BENCH_ONLY subset run (quiet-box re-measurement)
    // MERGES into the same-sf history instead of overwriting it —
    // the durable file keeps a complete per-query map and the next
    // full run's drift pass still has a baseline for every query.
    val durable: Seq[(String, Double)] =
      if (only.isDefined && prevSfMatches)
        (prev -- failed ++ results).toSeq.sortBy(_._1)
      else results
    val qs = durable
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = durable.map(_._2).sum
    val rerans = drifted.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val firstPassByName = firstPass.toMap
    val firstpassJson = drifted.toSeq.sorted
      .map(n => "\"" + n + "\":" + f"${firstPassByName(n)}%.3f")
      .mkString("{", ",", "}")
    // Per-query variance bands over every sample this run took
    // ([min, max, n] — n = runs, plus another `runs` for drift
    // reruns). Placed AFTER "reran" so the next run's prev-parse
    // (which scans only the leading "queries" map) never sees them.
    val bandsJson = results.collect {
      case (name, _) if samples.getOrElse(name, Nil).nonEmpty =>
        val ss = samples(name)
        "\"" + name + "\":[" + f"${ss.min}%.3f,${ss.max}%.3f,${ss.size}]"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","unit":"sec","queries":$qs,"reran":$rerans,"firstpass":$firstpassJson,"bands":$bandsJson,"failed":$failedJson,"value":$total%.3f,"sf":"$sfDir"}"""
    // The STDOUT line must stay under the driver's ~2,000-char tail
    // window or it arrives truncated mid-`queries` and fails to parse
    // (rounds 2-6: the 149-query line is ~3.8 kB — no print position
    // can save a line longer than the window). stdout therefore gets
    // a COMPACT line: the total, then only the slowest queries that
    // fit a 1,500-char budget (~the top 45); the complete per-query
    // map lives durably in BENCH_LOCAL.json, written below.
    val stdoutJson = {
      val budget = 1500
      // SUBSET CONTRACT: the map keeps its contract name "queries"
      // (driver tooling parses that key) but holds only the slowest
      // PREFIX that fits the budget — a true prefix (the fill stops
      // at the first entry that doesn't fit, rather than packing
      // shorter names from further down), so a consumer summing or
      // diffing stdout values knows it has exactly the top-K slowest.
      // "nq" carries the full count; the complete map lives durably
      // in BENCH_LOCAL.json.
      // nq pairs with "value": both describe the durable (merged)
      // map, so a subset run's stdout can't read as "one query took
      // the whole catalog total"
      val failedField =
        if (failed.isEmpty) "" else s""""failed":$failedJson,"""
      val head = f"""{"metric":"total","unit":"sec","value":$total%.3f,"nq":${durable.size},"sf":"$sfDir",$failedField"queries":{"""
      val tail = "}}"
      val sb = new StringBuilder
      var full = false
      // built from the MERGED durable map, not the subset-only results:
      // on a SPARK_GRAFT_BENCH_ONLY run "value"/"nq" describe the
      // merged map, so the top-K prefix must rank over the same map or
      // the "exactly the top-K slowest" contract breaks for subset runs
      durable.sortBy(-_._2).foreach { case (k, v) =>
        val entry = (if (sb.isEmpty) "" else ",") + "\"" + k + "\":" + f"$v%.3f"
        if (!full &&
            head.length + sb.length + entry.length + tail.length <= budget)
          sb.append(entry)
        else full = true
      }
      head + sb.toString + tail
    }
    // The full JSON (every query) goes to the durable file only;
    // stdout gets the compact line (SPARK_GRAFT_BENCH_OUT moves the
    // file; always one complete line, written atomically via
    // tmp+move).
    val tmp = outPath.resolveSibling(outPath.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, outPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // The driver keeps a bounded TAIL of stdout (~2,000 chars), and
    // `spark.stop()` emits multi-KB state-store-unload stack traces
    // ("Could not unload state store provider ... RpcEnv already
    // stopped") that in rounds 2-5 evicted the JSON line from that
    // tail. So: first stop any streaming queries left active by the
    // t-family (their maintenance threads are what throws at
    // shutdown), then stop the session, and print the COMPACT JSON
    // (<=1,500 chars — round 6 proved the full 149-query line at
    // ~3.8 kB cannot survive the window regardless of position) as
    // the TRUE last line, after every source of shutdown noise.
    try {
      spark.streams.active.foreach { q =>
        try q.stop() catch { case NonFatal(_) => }
      }
      spark.stop()
    } catch { case NonFatal(_) => }
    println(stdoutJson)
    System.out.flush()
  }
}
