package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a large-scale training-data pipeline:
  * dedup-cluster resolution (connected components over LSH candidate
  * pairs), deterministic train/val/test splitting, and per-source quota
  * sampling. These are the steps between "found near-dup pairs" and
  * "emitted a training corpus": pairs must become clusters with one
  * canonical survivor, and the corpus must be split and rebalanced
  * reproducibly — no RNG, so any re-run (or a re-run over 100 TB on a
  * different cluster) lands byte-identical rows.
  *
  * Scale notes: connected components is iterative min-label
  * propagation — each round is one self-join + groupBy(min) over the
  * EDGE set (the LSH candidate pairs, which are tiny relative to the
  * corpus by construction), converging in O(diameter) rounds; cluster
  * diameter for near-dup graphs is small (dups of a doc are dups of
  * each other, so clusters are near-cliques) and 2–4 rounds dominate
  * in practice. For adversarial chain/path-shaped graphs the
  * large-star/small-star contraction variant
  * ([[connectedComponentsStar]], exposed as c5) converges in O(log n)
  * rounds with the same join+agg per-round plan shape. The split
  * and quota sample are embarrassingly parallel: a codegen'd md5 on
  * each row, plus (for the quota) one bounded top-k aggregation keyed
  * by the partition column — exactly the operators a 1000-executor
  * job wants.
  */
object CurationQueries {
  import graft.Tables.documents

  /** LSH candidate pairs at agreement >= 0.5 — the hot-bucket-capped
    * d7 pipeline (shingle → minhash → band → capped bucket join; the
    * cap is what keeps pair mining alive on boilerplate-heavy corpora,
    * see d7), keeping only pairs whose signatures agree on half the
    * permutations.
    */
  private def dupPairs(s: SparkSession, d: String): DataFrame =
    DedupQueries.queries("d7_lsh_bucket_cap")(s, d)
      .where(col("agreement") >= 0.5)
      .select(col("doc_a"), col("doc_b"))

  /** Rolling localCheckpoint: each `roll` eagerly checkpoints the
    * frame and frees the storage blocks of the PREVIOUS checkpoint
    * taken through this ring — without it an iterative loop leaks
    * O(rounds·|V|) of block-manager storage, because Spark offers no
    * public unpersist for localCheckpoint blocks. Block ownership is
    * tracked by diffing `sc.getPersistentRDDs` around the checkpoint
    * call (single-threaded driver loop; concurrent persists from other
    * sessions' threads would mis-attribute, so keep iterative drivers
    * on one thread — which Spark's own iterative examples assume too).
    */
  private final class CkptRing(sc: org.apache.spark.SparkContext) {
    private var owned: Set[Int] = Set.empty
    def roll(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint(true)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      owned.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      owned = added
      out
    }
  }

  /** Edge-count gate under which components are solved ON THE DRIVER
    * with union-find instead of iterative propagation. The pair graph
    * after capped LSH is a sub-percent fraction of the corpus (d7's
    * cap bounds it by construction), so at every scale short of
    * billions of docs the whole graph fits in driver memory with room
    * to spare — and a local union-find is one pass, vs 3–6 distributed
    * rounds of join+agg jobs whose cost is pure scheduling overhead at
    * that size. This is the same judgment Spark itself makes when it
    * collects a small join side to broadcast it: below a size bound,
    * local beats distributed. 1M undirected edges ≈ 16 MB collected.
    * The distributed iteration stays the path for graphs over the
    * gate, and both paths are pinned equal on random graphs by
    * CurationSpec (force the iterative path with `localMax = 0`, or
    * the `GRAFT_CC_LOCAL_MAX` env var for the catalog queries).
    */
  private[graft] val defaultLocalEdgeMax: Long =
    sys.env.get("GRAFT_CC_LOCAL_MAX").map(_.toLong).getOrElse(1L << 20)

  /** Driver-side union-find (path compression + union-by-min): every
    * vertex maps to its component's minimum id — exactly the fixpoint
    * the distributed propagation reaches. Union always points the
    * larger root at the smaller, so a component's final root IS its
    * min vertex.
    */
  private def unionFindLabels(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var x = x0
      while (x != root) { val nxt = parent(x); parent(x) = root; x = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val vs = parent.keysIterator.toArray
    vs.sorted.map(v => v -> find(v)).toSeq
  }

  private def labelsDf(s: SparkSession,
      labels: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    labels.toDF("doc_id", "cluster_id")
  }

  /** Null-safe label-sum fixpoint witness: labels are monotonically
    * non-increasing, so an unchanged sum means converged. On an empty
    * frame sum() is NULL — read through the boxed type (an empty pair
    * graph must yield an empty result, not an NPE).
    */
  private def labelSum(df: DataFrame): Long =
    Option(df.agg(sum(col("cluster_id"))).first()
      .getAs[java.lang.Long](0)).map(_.longValue).getOrElse(0L)

  /** Min-label propagation to a fixpoint: every doc in the pair graph
    * ends up labeled with the smallest doc_id reachable from it.
    *
    * The edge list stays fixed; only the |vertices|-row label table
    * updates per round. Labels are monotonically non-increasing, so the
    * label SUM is a fixpoint witness — convergence detection is one
    * tiny aggregate per round, no diff join. `localCheckpoint`
    * materializes each round's labels AND truncates lineage (an
    * iterative plan otherwise nests one join per round until planning
    * dominates); on a production cluster with executor churn, a
    * reliable `checkpoint` to the cluster FS is the durable variant.
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      localMax: Long = defaultLocalEdgeMax): DataFrame =
    connectedComponentsWithRounds(pairs, localMax)._1

  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      localMax: Long = defaultLocalEdgeMax): (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    // both edge directions from ONE scan of the pair plan (a union of
    // two projections would evaluate the upstream LSH pipeline twice)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    try {
      val nDirected = edges.count()
      // empty pair graph (e.g. every LSH bucket over the cap, or no
      // agreement survivors): converged-empty, same as the oracle
      if (nDirected == 0)
        return (edges.select(col("src").as("doc_id"),
          col("dst").as("cluster_id")).limit(0), 0)
      // size-gated local solve (see defaultLocalEdgeMax): the directed
      // list holds each undirected edge twice — duplicates are no-ops
      // for union-find
      if (nDirected <= 2 * localMax)
        return (labelsDf(pairs.sparkSession, unionFindLabels(
          edges.collect().map(r => (r.getLong(0), r.getLong(1))))), 0)
      val ring = new CkptRing(sc)
      // seed labels one propagation ahead: label(v) = min(v, N(v)) —
      // the same groupBy(min) the first round would run, folded into
      // the init scan (measured: one fewer round on every graph shape;
      // the fixpoint is unchanged because seeding is exactly one
      // application of the monotone propagation operator)
      var labels = ring.roll(edges.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("cluster_id"))
        .select(col("src").as("doc_id"), col("cluster_id")))
      var prevSum = labelSum(labels)
      val debug = sys.env.contains("GRAFT_CC_DEBUG")
      var converged = false
      var rounds = 0
      while (!converged && rounds < 50) {
        val t0 = System.nanoTime()
        // label(v) <- min(label(v), min over neighbors u of label(u))
        val fromNeighbors = edges
          .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        val propagated = labels.join(fromNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id"))
        // pointer jumping: label(v) <- min(label(v), label(label(v))).
        // Every label is itself a vertex id, so a self-join doubles the
        // distance a label has traveled — neighbor propagation alone
        // walks chains one hop per round (O(diameter) rounds, each a
        // fixed-cost Spark job), with jumping it is O(log diameter).
        // (A second jump per round was measured and does not cut rounds:
        // spreading is neighbor-hop-bound, not pointer-depth-bound. The
        // large-star/small-star edge-contraction variant below is the
        // rung for adversarial graph shapes.)
        val next = ring.roll(propagated.as("x")
          .join(propagated.select(col("doc_id").as("p_id"),
              col("cluster_id").as("p_lbl")),
            col("x.cluster_id") === col("p_id"), "left")
          .select(col("x.doc_id").as("doc_id"),
            least(col("x.cluster_id"), coalesce(col("p_lbl"), col("x.cluster_id")))
              .as("cluster_id")))
        val s = labelSum(next)
        labels = next
        converged = s == prevSum
        prevSum = s
        rounds += 1
        if (debug) System.err.println(
          f"[cc] round $rounds sum=$s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // an unconverged exit would silently mislabel clusters — refuse
      if (!converged) throw new IllegalStateException(
        s"connectedComponents: no fixpoint within $rounds rounds")
      (labels, rounds)
    } finally edges.unpersist(false)
  }

  /** Large-star/small-star edge contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-graph variant of [[connectedComponents]]. Min-label
    * propagation walks neighbor hops, so its round count tracks graph
    * diameter (pointer jumping brings it to O(log diameter)); star
    * contraction rewrites the EDGE SET itself each round —
    *
    *   large-star: each node u links its larger neighbors to
    *               m = min(N(u) ∪ {u});
    *   small-star: each node u links its smaller neighbors (and
    *               itself) to that minimum —
    *
    * and converges in O(log n) rounds on ANY shape, long paths
    * included, with the same per-round plan (one join + one groupBy
    * over the edge set). Each round is edges → min-per-endpoint →
    * relink → distinct; the edge set only shrinks toward the star
    * forest, so per-round cost falls as it converges. Fixpoint
    * witness: (edge count, xxhash64 sum) pair unchanged — set
    * equality up to hash collision, with the same refuse-on-
    * non-convergence guard as min-label.
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
      localMax: Long = defaultLocalEdgeMax): DataFrame =
    connectedComponentsStarWithRounds(pairs, localMax)._1

  private[graft] def connectedComponentsStarWithRounds(pairs: DataFrame,
      localMax: Long = defaultLocalEdgeMax): (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    val ring = new CkptRing(sc)

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val m = und.groupBy("a").agg(least(min(col("b")), col("a")).as("m"))
      und.join(m, "a")
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient a >= b; every neighbor of a in this view is <= a, so
      // min(N+(a) ∪ {a}) = min(b)
      val o = e.select(greatest(col("u"), col("v")).as("a"),
        least(col("u"), col("v")).as("b"))
      val m = o.groupBy("a").agg(min(col("b")).as("m"))
      val leaf = o.join(m, "a")
        .where(col("b") =!= col("m"))
        .select(col("b").as("u"), col("m").as("v"))
      val self = m.select(col("a").as("u"), col("m").as("v"))
      leaf.unionAll(self).where(col("u") =!= col("v")).distinct()
    }

    // set-equality witness: (count, xor of per-edge hashes). XOR is
    // order-independent and cannot overflow (sum of xxhash64 longs
    // throws under ANSI); edges are distinct so no xor cancellation.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).first()
      (r.getLong(0),
        Option(r.getAs[java.lang.Long](1)).map(_.longValue).getOrElse(0L))
    }

    val init = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cache()
    val nUndirected =
      try init.count()
      catch { case t: Throwable => init.unpersist(false); throw t }
    if (nUndirected == 0) {
      val empty = init.select(col("u").as("doc_id"),
        col("v").as("cluster_id")).limit(0)
      init.unpersist(false)
      return (empty, 0)
    }
    // same size gate as min-label: below it, contraction rounds are
    // pure scheduling overhead vs a one-pass driver union-find
    if (nUndirected <= localMax) {
      val labels = unionFindLabels(
        init.collect().map(r => (r.getLong(0), r.getLong(1))))
      init.unpersist(false)
      return (labelsDf(pairs.sparkSession, labels), 0)
    }
    var edges = ring.roll(init)
    init.unpersist(false)
    var prev = sig(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val next = ring.roll(smallStar(largeStar(edges)))
      val s = sig(next)
      converged = s == prev
      prev = s
      edges = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar: no fixpoint within $rounds rounds")
    // at the fixpoint the edge set is a star forest: u → component-min
    val leafLbl = edges.groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("lbl"))
    val nodes = edges.select(col("u").as("doc_id"))
      .unionAll(edges.select(col("v").as("doc_id")))
      .distinct()
    val labels = nodes.join(leafLbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    (labels, rounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1 — dedup clusters: connected components over the LSH pair
    // graph; each doc in a cluster gets the cluster's min doc_id as
    // its id, and the canonical survivor is the doc equal to it.
    "c1_dedup_clusters" -> ((s, d) =>
      connectedComponents(dupPairs(s, d))
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .orderBy("doc_id")),

    // C5 — the same clusters via large-star/small-star contraction:
    // identical output (both label with the component min), different
    // convergence mechanics — O(log n) rounds on any graph shape vs
    // min-label's diameter-bound walk. Oracle-gated against the same
    // recursive-CTE ground truth as c1; CurationSpec pins both against
    // union-find on random graphs and counts rounds on a path graph.
    "c5_dedup_clusters_star" -> ((s, d) =>
      connectedComponentsStar(dupPairs(s, d))
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .orderBy("doc_id")),

    // C2 — deterministic train/val/test split: md5 of the doc_id keys
    // an 80/10/10 split that is stable across runs, partitionings and
    // engines (no RNG, no row order dependence).
    "c2_hash_split" -> ((s, d) =>
      documents(s, d)
        .withColumn("bucket",
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("split")),

    // C4 — the end-to-end corpus filter: drop near-dup non-survivors
    // (c1 clusters over capped-LSH candidates), gate on quality score
    // (x2 >= 0.5 in ppm), keep the train split (c2 buckets), and emit
    // per-source corpus stats — the one-plan composition of the whole
    // curation chain a training-data job runs before tokenization.
    // The dedup drop is a left-anti join against the (tiny) cluster
    // non-canonical set; quality and split are map-side expressions.
    "c4_corpus_filter" -> ((s, d) => {
      val dupDrop = queries("c1_dedup_clusters")(s, d)
        .where(col("is_canonical") === 0)
        .select("doc_id")
      val scored = TextQueries.queries("x2_quality_score")(s, d)
        .select("doc_id", "score_ppm")
      documents(s, d)
        .join(dupDrop, Seq("doc_id"), "left_anti")
        .join(scored, "doc_id")
        .where(col("score_ppm") >= 500000)
        .withColumn("bucket",
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 100"))
        .where(col("bucket") < 80)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("source")
    }),

    // C6 — source mixture sampling: downsample each source to a target
    // mixture weight (the "20% web, 60% books, …" knob every training
    // run turns). The weights are a DIMENSION table (broadcast — tiny
    // by contract: one row per source), and the keep decision is the
    // same deterministic md5 bucket as c2, so the sampled corpus is
    // byte-stable across runs, partitionings and engines, and the
    // whole operator is map-side: broadcast-join + filter, no shuffle
    // until the final per-source stats aggregate. At 100 TB this is
    // one scan.
    "c6_mixture_sample" -> ((s, d) => {
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i", ((i % 4) + 1) * 2500L)).toDF("source", "w10k")
      documents(s, d)
        .join(broadcast(weights), "source")
        .where(expr(
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 10000")
          < col("w10k"))
        .groupBy("source")
        .agg(max(col("w10k")).as("w10k"),
          count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("n_chars_kept"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("source")
    }),

    // C7 — sequence packing: assign docs to fixed-capacity context
    // windows (2048 chars) by their start offset in the concatenated
    // (source, shard) stream — bin = floor(chars_before / C), the
    // offset form of greedy sequential packing (a doc straddling a
    // boundary belongs to the window its first char lands in). The
    // cumulative sum runs per (source, shard=doc_id div 100): packing
    // needs an order, but it does NOT need a global one — sharding by
    // fixed doc_id ranges bounds every window partition at 100 rows by
    // construction, so a Zipfian source cannot recreate the c3
    // single-task-sort killer; shards pack embarrassingly parallel,
    // exactly how a 1000-executor packing job shards its input files.
    "c7_pack_sequences" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      documents(s, d)
        .select(col("source"), (col("doc_id") / 100).cast("long").as("shard"),
          col("doc_id"), col("n_chars"))
        .withColumn("cum_before", sum(col("n_chars")).over(w) - col("n_chars"))
        .withColumn("bin", (col("cum_before") / 2048).cast("long"))
        .groupBy("source", "shard", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"),
          round(sum(col("n_chars")) / lit(2048.0), 4).as("fill"))
        .orderBy("source", "shard", "bin")
    }),

    // C3 — per-source quota sample: k docs per source, chosen by md5
    // rank — a deterministic stand-in for uniform sampling that
    // rebalances a skewed source mix. Scale-safe formulation: a
    // bounded per-source top-k Aggregator ([[graft.functions.TopKAgg]])
    // instead of row_number() over the full source partition — each
    // task keeps at most k entries per source and partials combine
    // map-side, so a Zipfian source mix (one crawl dominating at
    // 100 TB) costs O(k) memory per group instead of a single-task
    // full sort. NULL text hashes via coalesce(text, '') on both
    // engines (concat_ws would silently skip a NULL while DuckDB ||
    // propagates it — divergent rank orders).
    "c3_quota_sample" -> ((s, d) => {
      val topk = graft.functions.TopKAgg.topDocs(5)
      documents(s, d)
        .select(col("source"),
          md5(concat(col("doc_id").cast("string"), lit("_"),
            coalesce(col("text"), lit("")))).as("hk"),
          col("doc_id"))
        .groupBy("source")
        .agg(topk(col("hk"), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top.ids")))
        .select(col("source"), (col("pos") + 1).as("rk"),
          col("col").as("doc_id"))
        .orderBy("source", "rk")
    }),

    // C8 — quality-aware canonical selection: among docs sharing a
    // lead fingerprint (md5 of the first 64 chars — the cheap "same
    // boilerplate head" key real pipelines hash before full dedup),
    // keep the BEST copy: longest text, then lowest doc_id. d1 keeps
    // min-id; production dedup keeps the most complete copy — this is
    // that policy. One bounded aggregation: max(struct) carries one
    // (n_chars, id) pair per group map-side — no window, no per-group
    // sort, no skew hazard (contrast: row_number over a partition
    // sorts the whole group in one task — the c3 killer).
    // (the digest groups as 16 binary bytes — hex<->binary bijection,
    // half the shuffle-key width, grouping and oracle unchanged)
    "c8_keep_best_duplicate" -> ((s, d) =>
      documents(s, d)
        .groupBy(unhex(md5(substring(col("text"), 1, 64))).as("digest"))
        .agg(
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
            .as("best"),
          count(lit(1)).as("n_copies"))
        .select((-col("best.neg_id")).as("doc_id"),
          col("best.n_chars").as("n_chars"), col("n_copies"))
        .orderBy("doc_id")),

    // C9 — contamination-aware split: c2's deterministic hash buckets
    // with x8's benchmark-decontamination verdict overriding the
    // assignment. A doc whose shingles overlap the held-out benchmark
    // must NEVER land in train (eval leakage — the bug that silently
    // inflates every benchmark number), so it is QUARANTINED
    // regardless of its bucket; benchmark member docs themselves are
    // not corpus rows, mirroring x8. Plan: x8's map-only overlap fold
    // computes each doc's verdict in the same pass that assigns its
    // bucket (the same map-side md5 as c2) — no join back on doc_id.
    "c9_decontaminated_split" -> ((s, d) => {
      val ov = TextQueries.shingleOverlap(
        TextQueries.benchShingles(documents(s, d)))
      documents(s, d)
        .where(!TextQueries.isBenchDoc)
        .withColumn("ov", ov)
        .withColumn("contaminated", TextQueries.contaminated(col("ov")))
        .withColumn("bucket",
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), " +
            "16, 10) AS BIGINT) % 100"))
        .withColumn("split",
          when(col("contaminated") === 1, "quarantined")
            .when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("split")
    }),

    // C10 — quality-tiered epoch upsampling (the data-mixing step a
    // training run does LAST: sources the pipeline trusts more are
    // repeated for more epochs, then the whole epoch-expanded corpus
    // is shuffled deterministically for the loader). Tiers come from
    // per-source mean document length in integer PPM (sum·1e6 DIV
    // count — the x13 discipline: no float reduction, so both engines
    // agree bit-exactly) compared against the global mean: ≥105% ⇒ 3
    // epochs, ≥95% ⇒ 2, else 1. Each doc then explodes map-side into
    // one row per epoch with a shuffle key md5(doc_id:epoch) — a
    // reproducible global shuffle order with no RNG, so any re-run
    // emits byte-identical training order. Scale: the epoch config is
    // source-keyed (bounded by governance, not by the corpus —
    // broadcast by contract, same as c6's mixture weights); the
    // explode multiplies rows map-side with NO shuffle; the only
    // exchange is the final order the loader wants anyway. Upsampling
    // by replication is the one mixing op filtering cannot express.
    "c10_epoch_mix" -> ((s, d) => {
      val perSrc = documents(s, d)
        .groupBy("source")
        .agg(expr("sum(n_chars) * 1000000L DIV count(1)").as("ml_ppm"))
      val gl = documents(s, d)
        .agg(expr("sum(n_chars) * 1000000L DIV count(1)").as("g_ppm"))
      val epochs = perSrc.crossJoin(broadcast(gl))
        .select(col("source"),
          when(col("ml_ppm") * 100 >= col("g_ppm") * 105, 3L)
            .when(col("ml_ppm") * 100 >= col("g_ppm") * 95, 2L)
            .otherwise(1L).as("epochs"))
      documents(s, d)
        .join(broadcast(epochs), Seq("source"))
        .select(col("doc_id"), col("source"), col("epochs"),
          explode(expr("sequence(1L, epochs)")).as("epoch"))
        .select(col("doc_id"), col("source"), col("epochs"), col("epoch"),
          md5(concat(col("doc_id").cast("string"), lit(":"),
            col("epoch").cast("string"))).as("shuffle_key"))
        .orderBy("shuffle_key")
    }),

    // C11 — per-source duplication OBSERVABILITY: the accounting
    // report a curation pipeline publishes after every crawl — how
    // duplicated is each source, exactly (full-text digest) and at
    // prefix level (c8's 64-char key, which catches boilerplate-
    // header families exact hashing misses). One grouped aggregate
    // with two exact distincts over 16-byte BINARY digests (the d1
    // discipline — the shuffle carries digests, never text); Spark
    // plans the multi-distinct via Expand into the standard two-phase
    // partial agg, so at 100 TB this is two digest-keyed exchanges of
    // the corpus' keys and nothing else. Rates in integer PPM (x13).
    "c11_source_dup_stats" -> ((s, d) =>
      documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(unhex(md5(col("text")))).as("n_uniq"),
          countDistinct(unhex(md5(substring(col("text"), 1, 64))))
            .as("n_prefix_uniq"))
        .select(col("source"), col("n_docs"), col("n_uniq"),
          col("n_prefix_uniq"),
          expr("(n_docs - n_uniq) * 1000000 div n_docs")
            .as("exact_dup_ppm"),
          expr("(n_docs - n_prefix_uniq) * 1000000 div n_docs")
            .as("prefix_dup_ppm"))
        .orderBy("source")),

    // C12 — language rebalancing: downsample every language to the
    // smallest language's volume (the standard move against English
    // swamping a multilingual pretraining mix). Two-pass, both cheap:
    // (1) a tiny per-lang count aggregate → per-lang keep-rate in
    // integer PPM (min-count is a max(struct) over the handful of
    // lang rows — no second corpus pass, no window); (2) a map-only
    // hash gate — the same md5-bucket discipline as c2, keyed on
    // doc_id alone so the SELECTION is reproducible across engines,
    // epochs and cluster sizes. Nothing corpus-sized ever shuffles:
    // the corpus is touched once, the broadcast side is |langs| rows.
    // Rate-based (not exact-quota) on purpose: an exact per-stratum
    // quota needs a global rank per language (c3's bounded top-k
    // covers small quotas); at petabyte strata a ±hash-noise PPM gate
    // is the plan that scales, and it composes with c2's splits.
    "c12_language_rebalance" -> ((s, d) => {
      val counts = documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      // min over the |langs|-row relation without a window or a
      // second aggregate over the corpus: max(struct(-n)) trick
      val minN = counts
        .agg(max(struct((-col("n")).as("neg"), col("lang"))).as("m"))
        .select((-col("m.neg")).as("min_n"))
      val rates = counts.crossJoin(broadcast(minN))
        .select(col("lang"),
          least(lit(1000000L), expr("min_n * 1000000 div n"))
            .as("rate_ppm"))
      documents(s, d)
        .withColumn("bkt",
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 1000000"))
        .join(broadcast(rates), "lang")
        .where(col("bkt") < col("rate_ppm"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    })
  )

  private val sqlPairs =
    s"""${DedupQueries.oracle("d7_lsh_bucket_cap")
        .replace("ORDER BY doc_a, doc_b", "")}"""

  private val sqlClusters =
    s"""WITH pairs AS ($sqlPairs),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE agreement >= 0.5
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE agreement >= 0.5),
       |reach AS (
       |  WITH RECURSIVE r(doc_id, lbl) AS (
       |    SELECT src, src FROM edges
       |    UNION
       |    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.doc_id)
       |  SELECT * FROM r)
       |SELECT doc_id, min(lbl) AS cluster_id,
       |  CAST(doc_id = min(lbl) AS INT) AS is_canonical
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "c1_dedup_clusters" -> sqlClusters,
    "c5_dedup_clusters_star" -> sqlClusters,
    "c4_corpus_filter" ->
      s"""WITH pairs AS ($sqlPairs),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE agreement >= 0.5
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE agreement >= 0.5),
         |reach AS (
         |  WITH RECURSIVE r(doc_id, lbl) AS (
         |    SELECT src, src FROM edges
         |    UNION
         |    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.doc_id)
         |  SELECT * FROM r),
         |drop_docs AS (
         |  SELECT doc_id FROM reach GROUP BY doc_id
         |  HAVING doc_id <> min(lbl)),
         |x AS (${TextQueries.oracle("x2_quality_score")
            .replace("ORDER BY doc_id", "")})
         |SELECT d.source AS source, count(*) AS n_docs,
         |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars
         |FROM documents d JOIN x ON x.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_docs)
         |  AND x.score_ppm >= 500000
         |  AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)
         |      AS BIGINT) % 100 < 80
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c2_hash_split" ->
      """WITH b AS (
        |  SELECT *,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS first_doc
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "c6_mixture_sample" ->
      """WITH w AS (
        |  SELECT 'src' || i AS source, ((i % 4) + 1) * 2500 AS w10k
        |  FROM range(20) t(i)),
        |kept AS (
        |  SELECT d.source, w.w10k, d.doc_id, d.n_chars FROM documents d
        |  JOIN w ON w.source = d.source
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)
        |        AS BIGINT) % 10000 < w.w10k)
        |SELECT source, CAST(max(w10k) AS BIGINT) AS w10k,
        |  count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS n_chars_kept,
        |  min(doc_id) AS first_doc
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    "c7_pack_sequences" ->
      """WITH s AS (
        |  SELECT source, doc_id // 100 AS shard, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source, doc_id // 100
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
        |  FROM documents)
        |SELECT source, shard, CAST(cum_before // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS first_doc,
        |  round(CAST(sum(n_chars) AS DOUBLE) / 2048.0, 4) AS fill
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "c9_decontaminated_split" ->
      s"""WITH x8 AS (
         |${TextQueries.oracle("x8_decontaminate")
             .replace("ORDER BY doc_id", "")}),
         |b AS (
         |  SELECT d.doc_id, d.n_chars,
         |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)
         |      AS BIGINT) % 100 AS bucket,
         |    coalesce(x8.contaminated, 0) AS cont
         |  FROM documents d LEFT JOIN x8 ON x8.doc_id = d.doc_id
         |  WHERE NOT (d.doc_id % 97 = 0 AND d.doc_id < ${TextQueries.BenchBudget}))
         |SELECT CASE WHEN cont = 1 THEN 'quarantined'
         |            WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  min(doc_id) AS first_doc
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "c8_keep_best_duplicate" ->
      """WITH g AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(substr(text, 1, 64))
        |      ORDER BY n_chars DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY md5(substr(text, 1, 64)))
        |      AS n_copies
        |  FROM documents)
        |SELECT doc_id, n_chars, CAST(n_copies AS BIGINT) AS n_copies
        |FROM g WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "c3_quota_sample" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '_' || coalesce(text, '')),
        |               doc_id)
        |      AS rk
        |  FROM documents)
        |SELECT source, rk, doc_id FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "c10_epoch_mix" ->
      """WITH m AS (
        |  SELECT source,
        |    CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS ml_ppm
        |  FROM documents GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS g_ppm
        |  FROM documents),
        |e AS (
        |  SELECT source,
        |    CASE WHEN ml_ppm * 100 >= g_ppm * 105 THEN 3
        |         WHEN ml_ppm * 100 >= g_ppm * 95 THEN 2
        |         ELSE 1 END AS epochs
        |  FROM m, g)
        |SELECT d.doc_id AS doc_id, d.source AS source,
        |  CAST(e.epochs AS BIGINT) AS epochs, CAST(i AS BIGINT) AS epoch,
        |  md5(d.doc_id || ':' || i) AS shuffle_key
        |FROM documents d JOIN e USING (source),
        |  UNNEST(range(1, e.epochs + 1)) AS t(i)
        |ORDER BY shuffle_key""".stripMargin,
    "c11_source_dup_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_uniq,
        |  count(DISTINCT md5(substr(text, 1, 64))) AS n_prefix_uniq,
        |  (count(*) - count(DISTINCT md5(text))) * 1000000 // count(*)
        |    AS exact_dup_ppm,
        |  (count(*) - count(DISTINCT md5(substr(text, 1, 64)))) * 1000000
        |    // count(*) AS prefix_dup_ppm
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "c12_language_rebalance" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |rates AS (
        |  SELECT lang,
        |    least(1000000, (SELECT min(n) FROM counts) * 1000000 // n)
        |      AS rate_ppm
        |  FROM counts),
        |gated AS (
        |  SELECT d.lang, d.n_chars, d.doc_id
        |  FROM documents d JOIN rates r USING (lang)
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)
        |          AS BIGINT) % 1000000 < r.rate_ppm)
        |SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS first_doc
        |FROM gated GROUP BY lang ORDER BY lang""".stripMargin
  )
}
