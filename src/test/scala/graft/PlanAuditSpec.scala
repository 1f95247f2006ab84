package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.{BaseLimitExec, SparkPlan, SparkPlanInfo, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Catalog-wide physical-plan audit: no query may plan a
  * CartesianProduct, BroadcastNestedLoopJoin is allowed only on the
  * allowlist where the broadcast side is a single row and 1×N is the
  * intended plan (ANN probe vectors, scalar subquery), and no
  * broadcast may sit over an un-limited explode (the d4 bug class).
  * Guards against a future query (or Spark upgrade) silently
  * regressing into a quadratic join that cannot survive scale-up.
  *
  * Coverage is the WHOLE catalog (SparkEntry.queries): batch plans through the returned
  * DataFrame's queryExecution; streaming plans through the SQL
  * execution events every micro-batch posts (and every batch action a
  * foreachBatch maintenance loop issues — t6's MERGE reads/writes),
  * captured with a SparkListener while each stream runs to
  * completion. A finished stream's `lastExecution` is a no-data
  * context (null plan), so events-at-execution-time are the only
  * reliable audit surface.
  */
class PlanAuditSpec extends AnyFunSuite {
  import QueryHarness._

  private val streaming = Set("t1_stream_agg", "t2_stream_window",
    "t4_stream_stream_join", "t5_stream_dedup", "t6_stream_upsert",
    "t7_stream_quality_gate", "t8_stream_session_window",
    "t9_stream_ingest_dedup", "t13_stream_crossmodal_serving")
  // n1/n2/n6 broadcast a single probe row (n6 over the pruned
  // partitioned index); r14 a single scalar row; n5 broadcasts the
  // probe SET — small by contract (the batch being deduped/
  // retrieved-for), with the corpus streaming against it map-side and
  // the per-probe top-k bounded by the TopKAgg aggregation above it.
  private val bnljAllowed = Set("n1_ann_bruteforce", "n2_ann_ivf",
    "n6_ann_ivf_partitioned", "r14_scalar_subquery", "n5_knn_join",
    "x13_rarity_score", // 1-row corpus-total scalar broadcast
    "n7_kmeans", // k-row centroid broadcast: assign is map-side by design
    "n8_ann_recall", // composes n1 + n6, so it inherits their 1-row
                     // probe broadcasts; its own semi-join is 10×10
    "c10_epoch_mix", // 1-row global-mean broadcast against the
                     // source-keyed epoch config (config-sized)
    "n11_binary_hamming", // 1-row packed-signature probe broadcast
    "n13_range_search", // 1-row probe broadcast against the pruned index
    "c12_language_rebalance", // 1-row min-lang-count scalar broadcast
                              // against the |langs|-row rate table
    "n14_pq_rerank_recall", // n8's pattern twice over: 1-row probe
                            // broadcasts from the composed n1/n12
                            // sides, plus the two 1-row recall
                            // aggregates cross-joined into one row
    "x21_bm25") // x13's shape: 1-row corpus-stats (N, avgdl) scalar
                // broadcast cross-joined into the per-(doc,term) rows
  // x9 explodes AND broadcasts the benchmark shingle set on purpose
  // (benchmarks are MBs by contract; the corpus is the probe side).
  // x8 and c9 fold the overlap map-side and broadcast nothing.
  private val explodeBroadcastAllowed =
    Set("x9_decontaminate_bloom",
      // x21's broadcast subtrees DO contain the corpus-wide token
      // explode, but each caps itself with an AGGREGATE before the
      // exchange: the broadcast values are the 1-row corpus stats and
      // the ≤|Q|-row per-term df table (|Q| = the literal query term
      // count) — bounded by contract at any corpus size, the
      // aggregate playing the role the limit plays elsewhere.
      "x21_bm25",
      // n17's broadcast shortlist explodes the per-probe top-C array
      // PRODUCED BY the bounded top-k aggregate directly below it —
      // the aggregate caps the subtree at |probes|·C rows (C =
      // rerank_c, default 50) at any corpus size, x21's pattern.
      "n17_batch_rerank",
      // m8 is n17's composition over text probes — the identical
      // aggregate-bounded shortlist broadcast, plus the bounded
      // (≤500-doc budget) probe relation's own explode.
      "m8_crossmodal_rerank",
      // m7's broadcast side is the ≤500-row CHECKPOINTED probe
      // relation (budget predicate materialized before serving —
      // CrossModalSpec pins the bound) exploded ×nprobe over a
      // literal centroid array: bounded by construction at any
      // corpus size. The equivalent n16 subtree hides behind an AQE
      // stage boundary; m7's checkpoint makes it visible to the
      // audit, not bigger.
      "m7_crossmodal_retrieval",
      // m6's broadcast sides explode frames of the PROBE set only —
      // bounded by the probe-budget predicate (doc_id % 10 = 0 AND
      // doc_id < 5000 → ≤500 docs × ~len/64 frames at any corpus
      // size), x8's benchmark-set-by-contract pattern; the corpus
      // frame stream is the probe side of the join, never broadcast.
      "m6_frame_containment",
      // d16's broadcast side explodes each PROBE doc to its 3
      // adjacent length buckets — ×3 over the budget-bounded probe
      // sample (doc_id % 5 under D16ProbeBudget → ≤400 docs at any
      // corpus size), m6's pattern; the corpus is the streamed side.
      "d16_dedup_recall",
      // t13 is m7's serving plan per micro-batch: the broadcast side
      // is ONE PROBE BATCH (≤500 rows total across all batches,
      // checkpointed) exploded ×nprobe over literal centroids — m7's
      // allowlist argument, at per-batch granularity.
      "t13_stream_crossmodal_serving")

  /** Rule 5 allowlist — scan-adjacent filters that legitimately
    * evaluate a graft kernel (round-13 audit, documented in
    * OPTIMIZATION_r13.md "Not yet optimized"): c4's quality predicate
    * is the filter's ONLY kernel consumer (single evaluation — no
    * Project above recomputes it); d11's digest guards run on the
    * batch slice by contract. Everything else must keep kernels out
    * of scan-adjacent Filter conditions — InferFiltersFromGenerate
    * or predicate pushdown re-evaluating a kernel per raw scan row
    * is the round-13 regression class (fixed in d4/d13/x5/x8/x9/
    * x11/x15/x23 via explode_outer / generator-input guards).
    */
  private val kernelFilterAllowed = Set(
    "c4_corpus_filter", "d11_incremental_dedup",
    // p1's guard IS "the parser returned null" — type_code stays
    // non-null on unparseable lines, so no aggregate-side or
    // raw-column equivalent exists; the double parse is documented
    // examined-and-left (~0.1 s at sf0.1)
    "p1_parse",
    // n13's probe projection: the kernel conjunct is short-circuited
    // behind `vec_id = 0`, so it evaluates on exactly one row
    "n13_range_search")

  /** Rule 5 — no graft kernel expression inside a scan-adjacent
    * Filter condition (see allowlist above). Join-stage kernel
    * predicates (d15/d16's exact Levenshtein prunes) sit above
    * joins, not scans, and stay legal.
    */
  private def kernelFilterOnScan(name: String, plan: SparkPlan): Seq[String] =
    if (kernelFilterAllowed(name)) Nil
    else plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.exists(
            _.getClass.getName.startsWith("graft.functions."))
            && scanBelow(f.child) =>
        s"$name: graft kernel evaluated in a scan-adjacent Filter"
    }

  /** Rule 4 — the m8 filter-merge trap, generalized (round-9 verdict
    * item 3): a Filter whose condition contains a higher-order
    * function sitting DIRECTLY on a file scan means CombineFilters /
    * PushDownPredicates merged an expensive interpreted derived-column
    * conjunct into the scan-adjacent filter, where it re-evaluates per
    * row-group-admitted CORPUS row — measured 47.8–86.7 s for a
    * 500-row probe relation at the 4M probe (SCALING.md round 9).
    * Legal shapes compute HOF features in projections (map-stage
    * work, visible in the codegen audit) or materialize the derived
    * column behind a localCheckpoint barrier before filtering on it —
    * which is exactly what m7/m8 do, so the catalog is expected clean
    * with NO allowlist. The de-barriered-twin test below pins that
    * the rule actually catches the original trap.
    */
  private def hofFilterOnScan(name: String, plan: SparkPlan): Seq[String] =
    plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.HigherOrderFunction])
            && scanBelow(f.child) =>
        s"$name: interpreted-HOF filter conjunct directly above a file scan"
    }

  @annotation.tailrec
  private def scanBelow(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.FileSourceScanExec => true
    case _: org.apache.spark.sql.execution.ProjectExec |
        _: org.apache.spark.sql.execution.FilterExec |
        _: org.apache.spark.sql.execution.InputAdapter |
        _: WholeStageCodegenExec |
        _: org.apache.spark.sql.execution.ColumnarToRowExec =>
      scanBelow(p.children.head)
    case _ => false
  }

  /** The three bans, applied to one executed physical plan. */
  private def audit(name: String, plan: SparkPlan): Seq[String] = {
    val s = plan.toString
    val cartesian =
      if (s.contains("CartesianProduct")) Seq(s"$name: CartesianProduct")
      else Nil
    val bnlj =
      if (s.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        Seq(s"$name: BroadcastNestedLoopJoin off-allowlist")
      else Nil
    // A broadcast whose subtree caps itself with a limit (n2's
    // 2-centroid probe) is bounded no matter what explodes below it.
    val explodeBroadcast =
      if (explodeBroadcastAllowed(name)) Nil
      else plan.collect {
        case b: BroadcastExchangeExec
            if b.collect {
              case g: org.apache.spark.sql.execution.GenerateExec => g
            }.nonEmpty && b.collect {
              case l: BaseLimitExec => l
              case t: TakeOrderedAndProjectExec => t
            }.isEmpty => s"$name: broadcast over un-limited explode"
      }
    cartesian ++ bnlj ++ explodeBroadcast ++ hofFilterOnScan(name, plan) ++
      kernelFilterOnScan(name, plan)
  }

  /** The same three bans on a SparkPlanInfo event tree. */
  private def auditInfo(name: String, info: SparkPlanInfo): Seq[String] = {
    def nodes(i: SparkPlanInfo): Seq[SparkPlanInfo] =
      i +: i.children.flatMap(nodes)
    def has(i: SparkPlanInfo, p: String => Boolean): Boolean =
      nodes(i).exists(n => p(n.nodeName))
    val all = nodes(info)
    val cartesian =
      if (has(info, _.startsWith("CartesianProduct")))
        Seq(s"$name: CartesianProduct (streaming)")
      else Nil
    val bnlj =
      if (has(info, _.startsWith("BroadcastNestedLoopJoin")) &&
          !bnljAllowed(name))
        Seq(s"$name: BroadcastNestedLoopJoin (streaming)")
      else Nil
    val explodeBroadcast =
      if (explodeBroadcastAllowed(name)) Nil
      else all.filter { n =>
        n.nodeName.startsWith("BroadcastExchange") &&
          has(n, _.startsWith("Generate")) &&
          !has(n, x => x.contains("Limit") ||
            x.startsWith("TakeOrderedAndProject"))
      }.map(_ => s"$name: broadcast over un-limited explode (streaming)")
    cartesian ++ bnlj ++ explodeBroadcast
  }

  test("no batch catalog query plans a cartesian product or stray BNLJ") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, _) if streaming(name) => Nil
        case (name, fn) =>
          audit(name, fn(spark, sf0001).queryExecution.executedPlan)
      }
      assert(bad.isEmpty, bad.mkString("; "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("CurateMain's curated plan passes the audit and runs each " +
      "per-document kernel once") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.llm.CurateMain.curated(spark, sf0001)
        .queryExecution.executedPlan
      val bad = audit("curate_main", plan)
      assert(bad.isEmpty, bad.mkString("; "))
      def uses(kernel: String): Int = plan.collect { case p =>
        p.expressions.map(_.collect {
          case e if e.getClass.getName == kernel => e
        }.size).sum
      }.sum
      assert(uses("graft.functions.GopherStats") == 1, plan.toString)
      assert(uses("graft.functions.ShingleOverlap") == 1, plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("streaming micro-batch plans pass the same audit") {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart =>
            captured.add(e.sparkPlanInfo); ()
          case e: SparkListenerSQLAdaptiveExecutionUpdate =>
            captured.add(e.sparkPlanInfo); ()
          case _ => ()
        }
    }
    def drainStable(): Seq[SparkPlanInfo] = {
      // the listener bus is async — wait until the count is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = captured.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      captured.asScala.toSeq
    }
    val bad = streaming.toSeq.sorted.flatMap { name =>
      captured.clear()
      spark.sparkContext.addSparkListener(listener)
      val finalPlan =
        try SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.executedPlan
        finally ()
      val infos = drainStable()
      spark.sparkContext.removeSparkListener(listener)
      assert(infos.nonEmpty, s"$name: no execution events captured")
      infos.flatMap(i => auditInfo(name, i)) ++ audit(name, finalPlan)
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("j5's inner DDL/INSERT/aggregate plans pass the same audit") {
    // j5 collects eagerly (its 5-row result must outlive the dropped
    // table), so the RETURNED DataFrame is a LocalTableScan and the
    // batch audit above sees nothing real. The actual plans — two
    // INSERT merges and the grouped SELECT over the catalog table —
    // execute DURING query construction, so capture them the way the
    // streaming test does: through the SQL execution events they post.
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart =>
            captured.add(e.sparkPlanInfo); ()
          case e: SparkListenerSQLAdaptiveExecutionUpdate =>
            captured.add(e.sparkPlanInfo); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("j5_sql_catalog")(spark, sf0001).count()
      // listener bus is async — wait for the event count to go stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = captured.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally
      // in the finally so a throwing query cannot leak the listener
      // onto the shared session (it would accumulate every later
      // suite's plan events unboundedly)
      spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val infos = captured.asScala.toSeq
    assert(infos.nonEmpty, "j5: no execution events captured")
    val bad = infos.flatMap(i => auditInfo("j5_sql_catalog", i))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("the m8 filter-merge trap is caught (de-barriered encoder twin)") {
    // The original 47.8–86.7 s trap, reconstructed: m7/m8's stub text
    // encoder WITHOUT the localCheckpoint barrier, with m8's qnorm
    // filter on top. PushDownPredicates substitutes the interpreted
    // encoder tree into the conjunct and CombineFilters merges it into
    // the scan-adjacent filter — rule 4 must flag it, proving the
    // audit would catch a future query regressing into this shape.
    // (The REAL m7/m8 checkpoint the probe relation, so the catalog
    // audit above stays clean with no allowlist.)
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hts = transform(graft.functions.WsTokens(col("text")),
        t => graft.llm.Hashing.hash28(t) % 64)
      val qe = transform(sequence(lit(0), lit(63)),
        i => size(filter(hts, h => h === i)).cast("double"))
      val debarriered = graft.Tables.documents(spark, sf0001)
        .where(col("doc_id") % 10 === 0 && col("doc_id") < 5000)
        .select(col("doc_id").as("probe_id"), qe.as("qe")) // no barrier
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct(col("qe"), col("qe"))))
        .where(col("qnorm") > 0)
      val flagged = hofFilterOnScan("debarriered_m7_twin",
        debarriered.queryExecution.executedPlan)
      assert(flagged.nonEmpty,
        "rule 4 must flag the de-barriered encoder filter; if this " +
          "starts passing, the optimizer stopped merging the conjunct " +
          "and the rule (or the barrier) needs re-examination")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("c3_quota_sample plans no window over an unbounded partition") {
    // the r2 scale-killer: row_number().over(partitionBy(source)) sorts
    // a whole source inside one task. The bounded top-k aggregator must
    // keep the plan window-free.
    val plan = SparkEntry.queries("c3_quota_sample")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "c3 must use the bounded top-k aggregator, not a window sort")
  }
}
