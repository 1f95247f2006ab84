package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: language-ID (stopword n-gram heuristic), quality
  * scoring (length/punct/stopword ratios), token counting (whitespace
  * + BPE-ish regex), and winnowing-style document fingerprinting
  * (rolling min over shingle hashes).
  *
  * Everything is codegen'd Catalyst expressions (regexp/array/window) —
  * no UDFs — so the plans stay inside whole-stage codegen and the
  * DuckDB oracle can recompute every score exactly.
  */
object TextQueries {
  import graft.Tables.documents
  import Hashing._

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
  private val dataStop = Seq("table", "row", "data", "query", "join", "scan")

  /** x8/x9/c9's benchmark-set budget: benchmark docs are ids divisible
    * by 97 AND below this bound (≤516 docs at any corpus size — every
    * testdata id is under it, so small-SF oracle rows are unchanged).
    * Same contract as n5's probe budget: an eval suite's size is set
    * by the SUITE, never by the corpus being decontaminated — the
    * unbudgeted %97 selection grew the "megabytes by contract"
    * broadcast set linearly with the corpus (41k docs' distinct
    * shingles at the 4M-doc probe).
    */
  private[llm] val BenchBudget = 50000L

  /** x20's merge depth: deep enough to be past anything the 3-round
    * Spark loop covers, shallow enough for the DuckDB oracle to
    * unroll (the corpus supports ~89 merges before exhaustion).
    */
  private[llm] val X20Merges = 12

  /** The benchmark-membership predicate (Spark side). */
  private[llm] def isBenchDoc: org.apache.spark.sql.Column =
    col("doc_id") % 97 === 0 && col("doc_id") < BenchBudget

  /** DuckDB mirror of [[isBenchDoc]], bare `doc_id` context. */
  private[llm] val sqlBenchPred =
    s"(doc_id % 97 = 0 AND doc_id < $BenchBudget)"

  /** X10's Gopher filter-rule features over any documents-shaped frame
    * (input columns preserved, feature + `pass` columns appended) —
    * one stateless map-only projection of the native
    * [[graft.functions.GopherStats]] kernel, so the identical operator
    * serves the batch catalog entry and the streaming quality gate
    * (t7) per micro-batch.
    *
    * Every feature is a field of ONE kernel value, so a consumer that
    * reads several of them evaluates the kernel once per row. A
    * filter on `pass` alone reads the kernel once as well (t7); a
    * consumer that filters on `pass` AND keeps features must not
    * filter below its projection (Catalyst would push the kernel into
    * the scan-adjacent filter and evaluate it again above): CurateMain
    * and h6 carry `pass` through their dedup aggregate and filter
    * after it.
    */
  private[graft] def gopherFeatures(df: DataFrame): DataFrame = {
    val g = "__gopher"
    df.withColumn(g, graft.functions.GopherStats(col("text")))
      .select(col("*") +: graft.functions.GopherStats.schema.fieldNames
        .toSeq.map(f => col(s"$g.$f").as(f)): _*)
      .drop(g)
  }

  /** x8's benchmark shingle set: the distinct shingle hashes of the
    * benchmark documents, sorted, as a driver-side literal for
    * [[graft.functions.ShingleOverlap]]. One small job: the benchmark
    * budget bounds it at any corpus size (benchmarks are MBs by
    * contract), and the per-document arrays merge on the driver. A
    * NULL text has no shingles (its ShingleHashes is NULL), so it adds
    * nothing to the set.
    */
  private[llm] def benchShingles(docs: DataFrame): Array[Long] =
    docs.where(isBenchDoc && col("text").isNotNull)
      .select(graft.functions.ShingleHashes(col("text")))
      .collect()
      .flatMap(_.getSeq[Long](0))
      .distinct.sorted

  /** x8's per-document overlap with the benchmark set: the
    * `struct(n_shingles, n_overlap)` of [[graft.functions.ShingleOverlap]]
    * over the document's distinct shingles — map-only. Project it as
    * a column before reading its fields, so the kernel runs once.
    */
  private[llm] def shingleOverlap(bench: Array[Long]): org.apache.spark.sql.Column =
    graft.functions.ShingleOverlap(
      graft.functions.ShingleHashes(col("text")), bench)

  /** x8's contamination verdict from an overlap struct column: the
    * fraction of the DOC's shingles found in the benchmark set, flagged
    * at ≥ 0.5 (an absolute count is vacuous when the corpus shares
    * boilerplate vocabulary; the fraction is the form production
    * decontamination uses). ShingleHashes yields at least one hash per
    * text, so the fraction is always defined.
    */
  private[llm] def contaminated(ov: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (ov("n_overlap") / ov("n_shingles") >= 0.5).cast("int")

  /** x16/x18's shared BPE trainer: 3 rounds of "count adjacent symbol
    * pairs over the (word, count) vocabulary, merge the most
    * frequent". The corpus is touched once (the word-frequency
    * aggregate); each round iterates the bounded vocabulary relation
    * (localCheckpoint'd, the c1 frontier recipe) and yields ONE
    * driver-held row — (rank, lhs, rhs, freq) — the learned model.
    * Ties break (freq DESC, lhs, rhs) in both engines.
    */
  private[llm] def trainMerges(
      s: SparkSession, d: String): Seq[(Long, String, String, Long)] = {
    val wf = documents(s, d)
      .select(explode(
        graft.functions.WsTokens(col("text")))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")).as("seq"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var cur = wf
    for (r <- 1 to 3) {
      val top = cur
        .select(expr("split(trim(seq), ' ')").as("tk"), col("cnt"))
        .select(col("cnt"), col("tk"),
          explode(expr("slice(sequence(1, size(tk)), 1, size(tk) - 1)"))
            .as("i"))
        .select(expr("element_at(tk, i)").as("lhs"),
          expr("element_at(tk, i + 1)").as("rhs"), col("cnt"))
        .groupBy("lhs", "rhs").agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("lhs"), col("rhs"))
        .limit(1).head()
      val (l, rr, f) =
        (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((r.toLong, l, rr, f))
      val (pat, rep) = (lit(s" $l $rr "), lit(s" $l$rr "))
      cur = cur.select(
        (1 to 4).foldLeft(col("seq"))((c, _) => replace(c, pat, rep))
          .as("seq"), col("cnt"))
        .localCheckpoint()
    }
    merges.result()
  }

  /** x19's linear model: token weights + bias, decimal STRINGS so the
    * Spark plan and the DuckDB oracle parse the identical literals.
    * In production these come from the model registry (a trained
    * fastText-style quality classifier exported as a weight table);
    * the literal list here is the bounded-vocabulary stand-in.
    */
  private[llm] val ClassifierWeights: Seq[(String, String)] = Seq(
    "error" -> "-2.5", "slow" -> "-1.5", "the" -> "-0.25",
    "a" -> "-0.25", "fast" -> "1.0", "spark" -> "1.5",
    "query" -> "0.5", "merge" -> "0.75", "stream" -> "0.75",
    "vector" -> "1.25")
  private[llm] val ClassifierBias = "-1.0"

  /** x21's query — a literal term set, like [[ClassifierWeights]]: in
    * production the terms come from the eval/benchmark prompt being
    * guarded against or the topic probe being mined for.
    */
  private[llm] val BmQueryTerms: Seq[String] =
    Seq("spark", "merge", "window")

  /** x22's decision-threshold grid, in milli units of the x19 logit. */
  private[llm] val EvalThresholdsMilli: Seq[Long] =
    Seq(-2000L, -1000L, 0L, 500L, 1000L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1 — language ID heuristic: stopword-list hit ratios, argmax of
    // two profiles with a deterministic tie rule.
    "x1_langid" -> ((s, d) => {
      val toks = graft.functions.WsTokens(col("text"))
      // lambda-free stopword counting (round-8 codegen audit): the
      // filter+array_contains fold was CodegenFallback. Count
      // whole-token stoplist matches over the space-padded join with
      // non-consuming lookarounds — adjacent stopwords both match
      // ("the a": the trailing space a consuming pattern would eat is
      // only LOOKED at), and tokens contain no whitespace, so a match
      // is exactly one qualifying token.
      def hits(words: Seq[String]): org.apache.spark.sql.Column =
        regexp_count(
          concat(lit(" "), concat_ws(" ", col("toks")), lit(" ")),
          lit(s"(?<= )(?:${words.mkString("|")})(?= )")).cast("int")
      documents(s, d)
        .withColumn("toks", toks)
        .withColumn("n_toks", size(col("toks")))
        .withColumn("en_hits", hits(enStop))
        .withColumn("data_hits", hits(dataStop))
        .select(col("doc_id"),
          round(col("en_hits") / col("n_toks"), 4).as("en_ratio"),
          round(col("data_hits") / col("n_toks"), 4).as("data_ratio"),
          when(col("en_hits") >= col("data_hits"), lit("en"))
            .otherwise(lit("data-domain")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // X2 — quality score: length/punctuation/stopword/mean-token-length
    // features combined into a bounded score.
    "x2_quality_score" -> ((s, d) =>
      documents(s, d)
        .withColumn("toks",
          graft.functions.WsTokens(col("text")))
        .withColumn("n_toks", size(col("toks")))
        .withColumn("len_chars", length(col("text")))
        .withColumn("punct", regexp_count(col("text"), lit("[.!?,;:]")))
        // sum of token lengths as length-of-join (lambda-free — the
        // aggregate fold was CodegenFallback; see gopherFeatures)
        .withColumn("mean_tok_len",
          round(length(concat_ws("", col("toks"))).cast("long")
            / col("n_toks"), 4))
        .withColumn("punct_ratio", round(col("punct") / col("len_chars"), 4))
        // Score in exact DECIMAL arithmetic (equivalent to
        // 0.5·min(n_toks/100,1) + 0.3·min(mean_len/10,1) + 0.2·(1−punct)),
        // surfaced as integer parts-per-million — decimal→double
        // conversion is not correctly rounded in every engine, so the
        // comparable value stays integral.
        .withColumn("score_ppm",
          ((least(col("n_toks"), lit(100)).cast("decimal(18,4)") * lit(BigDecimal("0.005")) +
            least(col("mean_tok_len").cast("decimal(18,4)"),
              lit(BigDecimal(10)).cast("decimal(18,4)")) * lit(BigDecimal("0.03")) +
            (lit(1).cast("decimal(18,4)") - col("punct_ratio").cast("decimal(18,4)")) *
              lit(BigDecimal("0.2"))) * lit(1000000)).cast("long"))
        .select("doc_id", "len_chars", "n_toks", "punct_ratio",
          "mean_tok_len", "score_ppm")
        .orderBy("doc_id")),

    // X3 — token counting: whitespace tokens vs a BPE-ish regex
    // (letter runs / digit runs / single other chars).
    "x3_token_count" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(graft.functions.WsTokens(col("text"), lowered = false))
            .as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .as("bpe_tokens"),
          round(length(col("text")) /
            size(regexp_extract_all(col("text"),
              lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))), 4)
            .as("chars_per_token"))
        .orderBy("doc_id")),

    // X5 — repetition filters (Gopher-style): duplicate-token fraction,
    // duplicate-bigram fraction (both computed inside one projection —
    // array_distinct over the token array, no explode), and the
    // dominant-token fraction via the scalable explode → count → max
    // formulation (token counts partial-aggregate map-side, so the
    // shuffle carries |docs|·|distinct tokens| small rows).
    "x5_repetition" -> ((s, d) => {
      // MAP-ONLY: the five counts come from one pass over the token
      // array (token_rep_stats); the fractions stay ordinary Spark
      // arithmetic over them, so rounding/null/division semantics are
      // bit-identical to the old formulation (whose top-token path
      // was an explode + two aggregations + a corpus-sized doc-keyed
      // join — all gone; zero-token docs fell out of that inner join,
      // reproduced by the explicit n > 0 filter). Bigram stats for
      // n < 2 are NULL exactly as size(NULL array) propagated before.
      // The zero-token guard is expressed on the RAW text, not on
      // st.n: a `where(st.n > 0)` predicate-pushes below the
      // projection and re-runs the tokenizer+stats kernels on every
      // raw scan row (round-13 plan audit). WsTokens splits on the
      // ASCII set [ \t\n\x0B\f\r] exactly (see its header), so
      // "st.n > 0" ⟺ "text keeps ≥ 1 char after deleting that set"
      // — translate is a cheap byte scan, null text propagates to a
      // null predicate and drops the row either way.
      documents(s, d)
        .where(length(translate(col("text"), " \t\n\u000B\f\r", "")) > 0)
        .withColumn("st", graft.functions.TokenRepStats(
          graft.functions.WsTokens(col("text"))))
        .select(col("doc_id"),
          col("st.n").as("n_toks"),
          round(lit(1) - col("st.ndist") / col("st.n"), 4)
            .as("dup_word_frac"),
          when(col("st.n") >= 2,
            round(lit(1) - col("st.ndistbig") / col("st.nbig"), 4))
            .as("dup_bigram_frac"),
          round(col("st.maxc") / col("st.n"), 4).as("top_tok_frac"))
        .orderBy("doc_id")
    }),

    // X6 — PII redaction: the corpus is synthetic (no organic PII), so
    // deterministic PII-shaped spans (email + phone) are injected per
    // row and then scrubbed — which is exactly the transform a real
    // pipeline runs, with hits guaranteed in every row so the oracle
    // verifies count/replace behavior, not just zeros. Patterns stay in
    // the RE2 ∩ java.util.regex common subset; DuckDB needs the 'g'
    // flag to match Spark's replace-all.
    "x6_pii_redact" -> ((s, d) =>
      documents(s, d)
        .withColumn("aug",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail.example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          regexp_count(col("aug"), lit("[a-z0-9.]+@[a-z0-9.]+"))
            .as("n_email"),
          regexp_count(col("aug"), lit("[0-9]{3}-[0-9]{4}")).as("n_phone"),
          length(regexp_replace(regexp_replace(col("aug"),
            lit("[a-z0-9.]+@[a-z0-9.]+"), lit("[EMAIL]")),
            lit("[0-9]{3}-[0-9]{4}"), lit("[PHONE]"))).as("clean_len"),
          md5(regexp_replace(regexp_replace(col("aug"),
            lit("[a-z0-9.]+@[a-z0-9.]+"), lit("[EMAIL]")),
            lit("[0-9]{3}-[0-9]{4}"), lit("[PHONE]"))).as("clean_digest"))
        .orderBy("doc_id")),

    // X7 — corpus-level heavy hitters: top-20 tokens with deterministic
    // tiebreak. Two-level hash aggregate (map-side partials bounded by
    // each partition's distinct vocabulary, not its token count) +
    // TakeOrdered for the top-k — no global sort. For unbounded
    // vocabularies at 100 TB the same shape runs under a count-min /
    // frequent-items sketch; the exact form is the oracle-checkable
    // baseline.
    "x7_heavy_hitters" -> ((s, d) =>
      documents(s, d)
        .select(explode(
          graft.functions.WsTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)),

    // X8 — benchmark decontamination: flag training docs sharing any
    // 8-char shingle hash with the benchmark/eval set (held-out docs,
    // here deterministically doc_id % 97 == 0) — the standard n-gram
    // decontamination pass every LLM corpus runs before training.
    // Scale shape: benchmark suites are MEGABYTES (the corpus is the
    // 100 TB side), so the benchmark shingle set is collected to the
    // driver as a sorted literal (x9 inlines its sketch the same way)
    // and the overlap is a map-only fold: one kernel per document over
    // its distinct shingles — no explode, no broadcast join, no
    // doc-keyed aggregate; the exchanges carry only the per-doc
    // results. Sub-8-char docs get their one whole-text shingle, as
    // ShingleHashes defines it.
    "x8_decontaminate" -> ((s, d) => {
      val ov = shingleOverlap(benchShingles(documents(s, d)))
      documents(s, d).where(!isBenchDoc)
        .select(col("doc_id"), ov.as("ov"))
        // a NULL text has no shingles to share: overlap 0, ratio NULL
        .select(col("doc_id"),
          coalesce(col("ov.n_overlap"), lit(0L)).as("n_overlap"),
          round(col("ov.n_overlap") / col("ov.n_shingles"), 4)
            .as("overlap_frac"),
          contaminated(col("ov")).as("contaminated"))
        // a range sort samples its input by running the stage below
        // it: right above the fold it would hash every shingle twice,
        // right above the scan it would shuffle the corpus text. The
        // hash exchange makes the sampled stage a read of these small
        // shuffled rows (sf0.1: the same time as sorting the text,
        // 0.15 MB shuffled instead of 0.80 MB)
        .repartition(col("doc_id"))
        .orderBy("doc_id")
    }),

    // X9 — bloom-sketch decontamination: the AT-SCALE form of x8's
    // plan, producing the IDENTICAL exact result (shared oracle). The
    // benchmark shingle set folds into a bloom filter via Spark's own
    // BloomFilterAggregate (distributed build, partials OR together);
    // the sketch ships to the driver as ONE binary value and is inlined
    // as a constant, so the corpus-side prefilter
    // might_contain(sketch, h) is MAP-ONLY — applied inside whole-stage
    // codegen right at the shingle explode, before any join machinery.
    // The exact broadcast semi-join then runs only over bloom
    // SURVIVORS, killing false positives. At 100 TB the difference vs
    // x8 is the fraction of the exploded shingle stream that ever
    // reaches the join: the sketch rejects the overwhelming clean
    // majority at scan speed, and (unlike the broadcast hash set) its
    // size is fixed by the filter's bit budget, not the benchmark's
    // distinct-shingle count.
    "x9_decontaminate_bloom" -> ((s, d) => {
      val hs = documents(s, d)
        .select(col("doc_id"),
          graft.functions.ShingleHashes(col("text")).as("hs"))
      // ONE evaluation of the benchmark shingle set, shared by the
      // sketch build (the .head action below) and the exact semi-join
      // broadcast: without the barrier each consumer re-ran the bench
      // scan + ShingleHashes + distinct from scratch. The relation is
      // bounded by the benchmark's distinct shingles — the same size
      // class as the broadcast it already feeds. (explode_outer + the
      // attribute-level isnotnull: a plain explode's inferred filter
      // re-runs the kernel on the raw scan rows — round-13 plan audit.)
      val bench = hs.where(isBenchDoc)
        .select(explode_outer(col("hs")).as("h"))
        .where(col("h").isNotNull).distinct()
        .localCheckpoint()
      // distributed sketch build; a single ~KB-scale binary reaches the
      // driver — the same ship-the-sketch movement Spark's runtime
      // filters perform, not a data collect
      val sketch = bench
        .agg(graft.functions.BloomSketch.build(col("h"), 1L << 20).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      // ONE corpus pass (the x8 scaffold, with the sketch folded into
      // the projection): n_shingles rides the explode, and the bloom
      // test runs INSIDE the array — `filter(hs, might_contain)` —
      // so only sketch survivors are ever exploded, joined, or
      // shuffled. The round-12 shape paid the corpus scan + kernel
      // twice (sizes pass + overlap pass) plus a doc-keyed join to
      // glue them; at 100 TB the exploded stream now starts at the
      // contamination rate (+ fp), not the corpus shingle count.
      // explode_outer keeps zero-survivor docs as one null-h row, so
      // every doc reaches the aggregate exactly as the sizes side
      // used to guarantee; bench is distinct so count(hit) is the
      // exact semi count, false positives get hit=null and count 0.
      val marked = hs.where(!isBenchDoc)
        .select(col("doc_id"), size(col("hs")).as("n_shingles"),
          explode_outer(filter(col("hs"), h =>
            graft.functions.BloomSketch.mightContain(sketch, h))).as("h"))
        .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
      marked.groupBy("doc_id", "n_shingles")
        .agg(count(col("hit")).as("n_overlap"))
        .select(col("doc_id"),
          col("n_overlap"),
          round(col("n_overlap") / col("n_shingles"), 4)
            .as("overlap_frac"),
          (col("n_overlap") / col("n_shingles") >= 0.5)
            .cast("int").as("contaminated"))
        .orderBy("doc_id")
    }),

    // X4 — winnowing fingerprint: 8-char shingle hashes, min over each
    // 4-shingle window, distinct mins are the fingerprint set. Exposed
    // as count/min/max/sum so the result is scalar per doc. The native
    // WinnowFingerprint expression keeps the whole computation inside
    // one projection — map-only, vs the posexplode + window-function
    // formulation that shuffles |docs|×|chars| rows (the oracle pins
    // that formulation's values; WinnowFingerprintSpec proves equality).
    // The long sum is exact: ≤len(text) values < 2^28 cannot overflow.
    "x4_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.WinnowFingerprint(col("text")).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("min_fp"),
          array_max(col("fps")).as("max_fp"),
          // native fold: the aggregate-lambda version was
          // CodegenFallback and dragged the whole projection (incl.
          // the winnowing kernel) interpreted — round-8 audit
          graft.functions.LongArraySum(col("fps")).as("sum_fp"))
        .orderBy("doc_id")),

    // X10 — Gopher-style document filter rules (Rae et al. 2021 §A1.1):
    // word-count bounds, mean-word-length band, alphabetic-word
    // fraction, required-stopword count — each surfaced as a feature
    // plus the combined pass flag. One map-only projection per doc, no
    // shuffle: at 100 TB this is the gate that runs INSIDE the scan,
    // before anything else pays to move the row.
    "x10_gopher_rules" -> ((s, d) =>
      gopherFeatures(documents(s, d))
        .select(col("doc_id"), col("n_toks"), col("mean_tok_len"),
          col("alpha_frac"), col("n_req_stop"), col("pass"))
        .orderBy("doc_id")),

    // x10's feature projection lives in [[gopherFeatures]] so the
    // streaming quality gate (t7) reuses the identical operator —
    // stateless projections serve batch and micro-batch unchanged.

    // X11 — exact duplicate-span detection (the primitive behind
    // exact-substring dedup, Lee et al. 2022): hash every 3-token span
    // at stride 2, find spans occurring in >1 distinct doc, report the
    // per-doc shared fraction. Span length 3 is the test-scale
    // parameter (synthetic vocab ≈ 40 tokens); production uses
    // 50-grams — the plan is length-agnostic. Scale shape: the stride
    // bounds the explode at |tokens|/stride; span hashes partial-
    // aggregate map-side (16-byte digests, not text); the recombine
    // join is corpus×corpus so both sides are pinned off the broadcast
    // path the explode would otherwise hide them onto.
    // Scale shape (re-tuned after the 4M probe showed spill): the
    // span digest is a BIGINT (15 hex chars of the md5), not the md5
    // STRING — 8-byte vs 32+-byte rows through every shuffle of a
    // relation that is ~27x the corpus row count; cross-doc dup
    // detection is min(doc_id) != max(doc_id), which partial-
    // aggregates map-side (countDistinct cannot); and per-doc span
    // counts come straight from the token count (map-only arithmetic)
    // instead of a third corpus-wide explode group-by.
    "x11_dup_spans" -> ((s, d) => {
      // No `where(size(toks) >= 3)` filter: predicate pushdown
      // inlines it below the projection as size(ws_tokens(text)) >= 3
      // — re-running the tokenizer kernel on every raw scan row of
      // BOTH span passes (round-13 plan audit). The guard moves into
      // the generator input (< 3 tokens → empty span array) and the
      // doc-exclusion semantics onto the generated attribute: an
      // empty array explode_outer's to one null-h row, and h is
      // otherwise never null (md5/conv of a present slice), so
      // `h IS NOT NULL` drops exactly the docs the old filter did —
      // at attribute cost, after the kernel ran once.
      val docs = documents(s, d)
        .withColumn("toks",
          graft.functions.WsTokens(col("text")))
      // Per-doc span count rides through the explode (the x8/d4
      // movement): every doc with ≥3 tokens has ≥1 span, so no row is
      // ever lost and one doc-keyed aggregate yields (n_spans,
      // n_shared) together. The previous shape evaluated the span
      // explode TWICE (the dup aggregate and the semi probe carry
      // different row shapes, so no exchange is reusable), tokenized
      // the corpus a THIRD time for the sizes side, and paid a
      // doc-keyed count join. The dup-span set joins as a LEFT marker
      // instead of a semi — dup emits each hash once, so count(hit)
      // equals the old semi count — still shuffle-hash, never
      // broadcast (corpus-scale set).
      val spans = docs
        .select(col("doc_id"),
          (expr("CAST((size(toks) - 3) / 2 AS INT)") + 1).cast("long")
            .as("n_spans"),
          explode_outer(
          expr("""CASE WHEN size(toks) >= 3 THEN
                 |  transform(sequence(0, CAST((size(toks) - 3) / 2 AS INT)),
                 |    i -> CAST(conv(substr(md5(array_join(slice(toks, i * 2 + 1, 3), ' ')), 1, 15), 16, 10) AS BIGINT))
                 |ELSE array() END"""
            .stripMargin)).as("h"))
        .where(col("h").isNotNull)
      val dup = spans.groupBy("h")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .where(col("mn") =!= col("mx"))
        .select(col("h"), lit(1).as("hit"))
      spans
        .hint("shuffle_hash")
        .join(dup.hint("shuffle_hash"), Seq("h"), "left")
        .groupBy("doc_id", "n_spans")
        .agg(count(col("hit")).as("n_shared"))
        .select(col("doc_id"), col("n_spans"),
          col("n_shared"),
          round(col("n_shared") / col("n_spans"), 4)
            .as("shared_frac"))
        .orderBy("doc_id")
    }),

    // X12 — tokenizer vocabulary build: corpus token frequencies →
    // contiguous ids ordered by (freq desc, token) + cumulative
    // coverage as exact floor-ppm (pure BIGINT arithmetic — decimal or
    // double division would round differently between engines). The
    // global window runs over the VOCABULARY, not the corpus: token
    // counting partial-aggregates map-side, so the single-partition
    // rank sees |vocab| rows — inherently bounded (even 100 TB of text
    // yields ~1e6–1e7 distinct tokens after the frequency floor a real
    // tokenizer applies).
    "x12_vocab_build" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = documents(s, d)
        .select(explode(
          graft.functions.WsTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val ord = Window.orderBy(col("n").desc, col("tok"))
      freq
        .withColumn("token_id", (row_number().over(ord) - 1).cast("long"))
        .withColumn("cum_n", sum(col("n")).over(ord))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy(lit(1))))
        .select(col("token_id"), col("tok"), col("n"),
          expr("(cum_n * 1000000L) DIV tot").as("cum_ppm"))
        .orderBy("token_id")
    }),

    // X13 — unigram-LM rarity score: the CCNet-style quality filter
    // (docs dominated by rare tokens score low/rare) made cross-engine
    // EXACT — token probabilities stay in integer PPM
    // (cnt·1e6 DIV total) and the per-doc mean is integer division,
    // so no log/double reduction exists anywhere and a 1000-executor
    // partial-agg run is byte-identical to the single-threaded oracle
    // (the perplexity variant differs only by a log table lookup).
    // Plan: one corpus-wide groupBy(tok) (map-side partials), a
    // token→freq equi-join — shuffle-hash hinted, a web-scale vocab
    // must never broadcast — and one bounded per-doc aggregate. The
    // corpus total rides in as a 1-row broadcast scalar (r14's shape,
    // allowlisted).
    "x13_rarity_score" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(
          graft.functions.WsTokens(col("text")))
          .as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("tot"))
      val ppm = freq.crossJoin(broadcast(total))
        .select(col("tok"), expr("(cnt * 1000000L) DIV tot").as("ppm"))
      toks.hint("shuffle_hash")
        .join(ppm.hint("shuffle_hash"), Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          expr("sum(ppm) DIV count(1)").as("mean_ppm"),
          min(col("ppm")).as("rarest_ppm"))
        .orderBy("doc_id")
    }),

    // X14 — fixed-window chunking with overlap (the tokenize-ready
    // chunker every pretraining/RAG pipeline runs before embedding):
    // 256-char windows every 224 chars (32-char overlap), emitted with
    // per-chunk digests for downstream chunk-level dedup. Pure
    // map-side explode — chunking 100 TB is one scan; chunk STARTS
    // come from `sequence()` (explode factor len/224, not len — the
    // x4 lesson), and empty tails are dropped.
    // X23 — cross-document boilerplate strip (the RefinedWeb/Dolma
    // repeated-span removal): consecutive 8-word chunks that appear in
    // ≥ 2 DISTINCT documents are navigation/template noise at web
    // scale; every occurrence is removed and the document re-assembled
    // in order (tail words past the last full chunk always survive; a
    // chunk repeated only WITHIN one doc is x11's business, not
    // boilerplate). This is a TRANSFORM, not a pair report — the
    // output is the cleaned corpus. Scale: the chunk relation is
    // |docs|·(words/8) rows aggregated on a 128-bit digest (map-side
    // partials); the boilerplate table re-enters via a digest
    // anti-join, shuffle-hash-hinted because a web-scale boilerplate
    // table must never broadcast; rebuild is ONE per-doc aggregate.
    // Three exchanges total, none carrying raw text wider than the
    // chunk rows themselves.
    "x23_boilerplate_strip" -> ((s, d) => {
      val W = 8
      val docs = documents(s, d).select(col("doc_id"),
        graft.functions.WsTokens(col("text"), lowered = false).as("w"))
        .withColumn("nck", (size(col("w")) / W).cast("int"))
      // The `nck >= 1` doc guard lives in the generator input, not a
      // filter: a filter on the kernel-derived nck column pushes down
      // as `cast(size(ws_tokens(text))/8 as int) >= 1`, re-running the
      // tokenizer on every raw scan row of both chunk passes
      // (round-13 plan audit). nck = 0 now yields an empty array,
      // whose single outer-exploded null row the attribute-level
      // isnotnull drops — same docs excluded, kernel run once.
      val chunks = docs
        .select(col("doc_id"), posexplode_outer(expr(
          s"CASE WHEN nck >= 1 THEN transform(sequence(0, nck - 1), " +
            s"i -> array_join(slice(w, i * $W + 1, $W), ' ')) " +
            "ELSE array() END")))
        .where(col("col").isNotNull)
        .select(col("doc_id"), col("pos"), col("col").as("ck"),
          md5(col("col")).as("dg"))
      val boiler = chunks.groupBy("dg")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .where(col("ndocs") >= 2)
        .select("dg")
      val kept = chunks.hint("shuffle_hash")
        .join(boiler.hint("shuffle_hash"), Seq("dg"), "left_anti")
      val rebuilt = kept.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, ck))), s -> s.ck), ' ')").as("kepttext"))
      // rebuilt descends from the explode: size estimation cannot see
      // the blow-up and would BROADCAST a corpus-sized relation (the
      // x8 lesson, and exactly what PlanAuditSpec flagged here) —
      // pin the rebuild join to shuffle-hash
      docs.hint("shuffle_hash")
        .join(rebuilt.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("nck") - coalesce(col("n_kept"), lit(0))).as("n_dropped"),
          trim(concat_ws(" ", coalesce(col("kepttext"), lit("")),
            expr(s"array_join(slice(w, nck * $W + 1, " +
              s"size(w) - nck * $W), ' ')"))).as("cleaned"))
        .orderBy("doc_id")
    }),

    "x14_chunk" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, greatest(length(coalesce(text, '')), 1), " +
            "224), p -> substring(coalesce(text, ''), p, 256))")))
        .where(col("col") =!= "")
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          (col("pos") * 224 + 1).cast("long").as("start"),
          length(col("col")).cast("long").as("n_chars"),
          md5(col("col")).as("digest"))
        .orderBy("doc_id", "chunk_id")),

    // X15 — bigram-LM perplexity scoring (the CCNet recipe: train a
    // small LM on the corpus, keep documents the model finds
    // predictable, route surprising ones to review). The LM is bigram
    // conditional frequencies in integer PPM (c(w1,w2)·1e6 DIV c(w1·)
    // — the x13 integer-exact discipline, no float reduction anywhere)
    // and the per-doc score is total surprisal in integer BITS:
    // 21 − length(bin(cppm)) is an EXACT floor-log2 surprisal of a
    // ≤1e6 ppm (string length of the binary form — no floating log to
    // drift cross-engine), reported as milli-bits per bigram.
    // Scale: bigram extraction is one map-side explode (factor
    // n_toks−1); context and bigram counts are partial-agg'd
    // shuffles on word keys; the trained model re-joins the corpus
    // via SHUFFLE-HASH on (w1,w2) — a web-scale LM table must never
    // broadcast, same contract as x13's vocabulary. Docs with <2
    // tokens have no bigram distribution and drop out (both engines
    // agree by construction).
    "x15_perplexity" -> ((s, d) => {
      // The `< 2 tokens` guard lives INSIDE the generator input (empty
      // array == no bigrams == the doc drops out, identically to the
      // old `where(size(a) >= 2)`): an explicit filter on a kernel-
      // computed column gets predicate-pushed below the projection and
      // re-runs WsTokens on every raw scan row (round-13 plan audit —
      // each of the plan's corpus passes paid the kernel TWICE).
      // explode_outer keeps InferFiltersFromGenerate from re-adding
      // that filter; the single null-bg row an empty array produces
      // carries null (w1, w2) join keys, which every downstream equi
      // condition drops, and pollutes no (w1, w2)/(w1) group that any
      // surviving row belongs to.
      val toks = documents(s, d).select(col("doc_id"),
        graft.functions.WsTokens(col("text")).as("a"))
      val bg = toks.select(col("doc_id"), explode_outer(expr(
        "CASE WHEN size(a) >= 2 THEN transform(sequence(1, size(a) - 1), " +
          "i -> struct(a[i-1] AS w1, a[i] AS w2)) ELSE array() END"))
        .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bfreq = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      // context counts DERIVE from the bigram counts (c1 = Σ_w2 c2)
      // as a WINDOW over bfreq, not a separate aggregate + join: the
      // round-12 shape's uni relation cost an extra exchange that
      // hash(w1, w2) partitioning cannot serve plus a join to put c1
      // back beside c2 (driver bench −13%, verdict item 2). The
      // window's own hash(w1) exchange is vocabulary-sized, the sum
      // is exact over longs, and no join remains to mis-broadcast —
      // the corpus-wide bigram subtree stays out of any broadcast by
      // construction.
      val cond = bfreq
        .withColumn("c1", sum(col("c2")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("w1")))
        .select(col("w1"), col("w2"),
          expr("(c2 * 1000000L) DIV c1").as("cppm"))
      bg.hint("shuffle_hash")
        .join(cond.hint("shuffle_hash"), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(cppm) DIV count(1)").as("mean_cppm"),
          expr("sum(21 - length(bin(cppm))) * 1000 DIV count(1)")
            .as("milli_bits"))
        .orderBy("doc_id")
    }),

    // X16 — BPE MERGE-RULE TRAINING (the iterative half of the
    // tokenizer x12 only ranked): 3 rounds of "count adjacent symbol
    // pairs, merge the most frequent" over space-separated character
    // sequences — the textbook byte-pair-encoding trainer. The scale
    // shape is what makes this Spark-viable: the CORPUS is touched
    // exactly once (the word-frequency aggregate — BPE statistics
    // only ever depend on (word, count)); every Lloyd-style round
    // after that iterates the VOCABULARY table (bounded, like x12's
    // rank domain, localCheckpoint'd like c1's frontier), and the
    // learned state is 1 row per round — driver-held for the same
    // reason k-means centroids are. Merge application is literal
    // `replace` of ' l r ' → ' lr ' iterated 4× to a fixpoint (a
    // single pass misses occurrences that share a separator space
    // with a replaced one; BpeSpec pins pass 5 as a no-op), with
    // space-wrapped patterns so a symbol can never match inside a
    // longer symbol. Ties break (freq DESC, lhs, rhs) in both
    // engines.
    "x16_bpe_train" -> ((s, d) => {
      import s.implicits._
      trainMerges(s, d).toDF("rank", "lhs", "rhs", "freq").orderBy("rank")
    }),

    // X18 — BPE ENCODE with the TRAINED merges (the apply half of
    // x16, closing the tokenizer train→apply loop exactly the way
    // n7→n6 closed k-means train→index→serve): the 3 learned merge
    // rules re-enter the plan as LITERALS inside nested `replace`
    // chains, so encoding the corpus is ONE map-side explode
    // (words) + a codegen'd projection + one bounded per-doc
    // aggregate — the corpus is touched once, and a 1000-executor
    // run is byte-identical to the oracle because token counts are
    // integers end to end (compression reported as floor-ppm, the
    // x12/x13 integer discipline). Merge application is rank-order
    // sequential — the textbook BPE encoder — with the same 4-pass
    // space-wrapped replace-to-fixpoint x16 trains with. At 100 TB
    // the merges come off the model registry (the KMeans.saveModel
    // movement) instead of being retrained in-session; either way
    // they are driver-held rows, never a join side.
    "x18_bpe_encode" -> ((s, d) => {
      val merges = trainMerges(s, d)
      // Round-13: encode each DISTINCT word once and join the result
      // back to the occurrences (§2.3 / the guide-§8 "decide on the
      // small relation" movement): the encode chain is a per-row
      // regexp explode + 12 merges × 4 fixpoint replaces, a pure
      // function of the word, and the corpus repeats words Zipf-style
      // — running it per OCCURRENCE paid the chain tens of times per
      // distinct word (measured 3.5× on the occurrence count at
      // sf0.1). The join is shuffle-hash pinned on both sides: the
      // vocabulary is corpus-derived and must never broadcast (x13's
      // vocabulary contract), and size estimation cannot see the
      // explode feeding the occurrence side.
      val words = documents(s, d)
        .select(col("doc_id"), explode(
          graft.functions.WsTokens(col("text")))
          .as("word"))
      val encoded = merges.foldLeft(col("seq")) {
        case (c, (_, l, r, _)) =>
          (1 to 4).foldLeft(c)((cc, _) =>
            replace(cc, lit(s" $l $r "), lit(s" $l$r ")))
      }
      val wordToks = words.select("word").distinct()
        .select(col("word"),
          concat(lit(" "),
            regexp_replace(col("word"), "(.)", "$1 ")).as("seq"),
          length(col("word")).cast("long").as("n_chars"))
        .select(col("word"), col("n_chars"),
          size(split(trim(encoded), " ")).cast("long").as("n_toks"))
      words.hint("shuffle_hash")
        .join(wordToks.hint("shuffle_hash"), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_chars")).as("n_char_tokens"),
          sum(col("n_toks")).as("n_bpe_tokens"),
          expr("sum(n_toks) * 1000000L DIV sum(n_chars)").as("bpe_ppm"))
        .orderBy("doc_id")
    }),

    // X20 — BPE at DEPTH: the [[Bpe]] driver-loop trainer (one corpus
    // scan for (word, count), then Sennrich-style incremental merge
    // rounds on the bounded vocabulary — the x16 3-round Spark loop
    // does not survive realistic merge counts, one job per merge) run
    // to 12 rounds here so DuckDB can still unroll and certify the
    // WHOLE chain cross-engine; BpeFullSpec exercises 1024 rounds on
    // a realistic synthetic vocabulary. The encode side is the other
    // scale fix: the trained vocabulary's final symbol sequences ARE
    // the tokenization, so applying the model is a broadcast
    // vocab→n_tokens lookup (model-sized literal, no corpus lineage)
    // instead of 12×4 nested replace calls per row.
    "x20_bpe_full" -> ((s, d) => {
      val (_, vocab) = Bpe.train(s, d, X20Merges)
      Bpe.encodeCorpus(s, d, vocab)
    }),

    // X21 — BM25 relevance ranking (Okapi k1=1.2, b=0.75): the
    // retrieval-side scorer a curation stack needs the moment
    // selection becomes "rank the corpus against a query" instead of
    // "gate each doc in isolation" — targeted decontamination, eval-
    // set mining, topic-focused sampling. Scores are fixed-point
    // BIGINT end to end so the DuckDB oracle recomputes them EXACTLY:
    // idf quantized to whole bits via bin-length log2 (the x15
    // integer-log recipe), tf saturation in milli units, avgdl in
    // milli (precomputed as a ratio so the norm term never multiplies
    // two corpus-sized numbers — overflow-safe past 1e9-token docs on
    // 1e11-doc corpora). Scale shape: the token stream is filtered to
    // the |Q| query terms BEFORE any aggregation (tf is |matching
    // docs|×|Q| rows, not corpus-sized), df and the corpus stats are
    // |Q|-row/1-row broadcasts, and the one real exchange is the
    // doc-keyed tf⋈dl join.
    "x21_bm25" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"), explode(
        graft.functions.WsTokens(col("text")))
        .as("tok"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"),
        expr("sum(dl) * 1000L DIV count(1)").as("avgdl_milli"))
      val qt = toks.where(col("tok").isInCollection(BmQueryTerms))
      val qdf = qt.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"))
      val tf = qt.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      tf.join(dl, "doc_id")
        .crossJoin(broadcast(corpus))
        .join(broadcast(qdf), "tok")
        .select(col("doc_id"),
          expr("length(bin(1000000 + ((2 * (n_docs - df) + 1) * " +
            "1000000L) DIV (2 * df + 1))) - 20").as("idf_bits"),
          expr("(tf * 2200 * 1000000L) DIV (tf * 1000000L + " +
            "(1200 * (250000 + (750000000L * dl) DIV avgdl_milli)) " +
            "DIV 1000)").as("sat_milli"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(expr("idf_bits * sat_milli")).as("score_millibits"))
        .orderBy("doc_id")
    }),

    // X17 — heavy hitters under a COUNT-MIN SKETCH, delivering x7's
    // own scale note ("for unbounded vocabularies the same shape runs
    // under a count-min sketch"): one pass folds every token into a
    // fixed-size CMS (eps 1e-4 × depth 10 — ~1.6 MB regardless of
    // corpus size, merged order-independently like o5's HLL), and the
    // exact top-20 counts are then checked against the sketch's
    // estimates — CMS guarantees est >= exact, and the within_tol
    // flag pins the overestimate under max(5%, 1). The o5/r20
    // exact-vs-approx substitution pattern applied to frequency: the
    // oracle states the exact counts and the invariant, the sketch
    // earns its place by passing it. Driver state is the sketch (1
    // row, constant size) + the 20-row top-k — the ANN-probe/model-
    // state collect class, never corpus-sized.
    "x17_topk_sketch" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(
          graft.functions.WsTokens(col("text")))
          .as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok"))
        .limit(20)
      val skRow = toks.agg(
        expr("count_min_sketch(tok, 0.0001d, 0.999d, 42)").as("sk"))
        .head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]](0)))
      val rows = exact.collect().toSeq.map { r =>
        val (tok, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(tok)
        (tok, n, est >= n && est <= n + math.max(1L, n / 20))
      }
      import s.implicits._
      rows.toDF("tok", "n_exact", "within_tol")
        .orderBy(col("n_exact").desc, col("tok"))
    }),

    // X19 — linear quality classifier (the fastText-style scorer every
    // production curation stack runs between heuristic gates (x10) and
    // expensive model scoring): logit = bias + Σ weight(tok)·count(tok),
    // keep = logit > 0. All math in DECIMAL — a double Σ would be
    // partition-order-dependent and 1000-executor runs would disagree
    // with the oracle in the last ulp; the decimal sum is exact, and
    // only the final already-exact value is cast to double. Plan: one
    // token explode → broadcast join against the (bounded-vocabulary)
    // weight table → partial-agg decimal sum keyed on doc_id → left
    // join back so zero-hit docs still score bias-only. The weight
    // table is a model artifact: at scale it loads from the model
    // registry and stays broadcast-size by construction (a hashed
    // vocabulary caps it), so nothing here is corpus-sized.
    "x19_quality_classifier" -> ((s, d) => {
      // The weight table is a TRAINED MODEL — it enters the plan as
      // LITERALS (the k-means/BPE/PQ design rule applied to the
      // classifier): one map-only token fold per document, logit
      // accumulated in DECIMAL (exact, order-independent — a double
      // fold would be partition-order-dependent). Round 5 shipped
      // this as explode → broadcast join → doc agg → join-back: two
      // doc-keyed exchanges and a tokens-sized (60× corpus)
      // intermediate, which the 4M probe priced at 25 s. The fold is
      // a single HOF projection — no explode, no shuffle; the d5
      // lesson (NESTED HOFs fall out of codegen) doesn't bite at one
      // level. At a realistic vocabulary the CASE becomes a literal
      // map lookup or the registry-backed broadcast join — the
      // explode never returns either way.
      val caseArms = ClassifierWeights.map { case (t, w) =>
        s"WHEN '$t' THEN CAST('$w' AS DECIMAL(18,4))"
      }.mkString(" ")
      // coalesce: a NULL text must score the bare bias (what the
      // join-back shape and the oracle's LEFT JOIN + coalesce both
      // produce), not propagate NULL through the fold
      graft.GraftExtensions.register(s)
      val logit = expr(
        s"""coalesce(aggregate(
           |  ws_tokens(text),
           |  CAST('$ClassifierBias' AS DECIMAL(18,4)),
           |  (acc, x) -> CAST(acc + CASE x $caseArms
           |    ELSE CAST(0 AS DECIMAL(18,4)) END AS DECIMAL(18,4))),
           |  CAST('$ClassifierBias' AS DECIMAL(18,4)))"""
          .stripMargin)
      documents(s, d)
        .select(col("doc_id"), logit.as("l"))
        .select(col("doc_id"),
          col("l").cast("double").as("logit"),
          (col("l") > lit(0)).as("keep"))
        .orderBy("doc_id")
    }),

    // X22 — classifier evaluation sweep (closing the x10→x19 loop the
    // way a curation team actually does: the heuristic gate is the
    // label source, the trained classifier is the candidate, and the
    // decision threshold is CHOSEN from a precision/recall sweep, not
    // assumed). One corpus scan computes both the gopher label and
    // the classifier logit MAP-SIDE (both are HOF folds — no explode,
    // no join), each doc then fans out over the literal 5-point
    // threshold grid (explode factor |grid|, no join — the thresholds
    // are plan literals like every trained model here), and one tiny
    // aggregation (|grid| groups) yields the confusion matrix +
    // precision/recall/F1 in exact ppm integers. At 100 TB: one scan,
    // one 5-group exchange.
    "x22_classifier_eval" -> ((s, d) => {
      val caseArms = ClassifierWeights.map { case (t, w) =>
        s"WHEN '$t' THEN CAST('$w' AS DECIMAL(18,4))"
      }.mkString(" ")
      graft.GraftExtensions.register(s)
      val logit = expr(
        s"""coalesce(aggregate(
           |  ws_tokens(text),
           |  CAST('$ClassifierBias' AS DECIMAL(18,4)),
           |  (acc, x) -> CAST(acc + CASE x $caseArms
           |    ELSE CAST(0 AS DECIMAL(18,4)) END AS DECIMAL(18,4))),
           |  CAST('$ClassifierBias' AS DECIMAL(18,4)))"""
          .stripMargin)
      val grid = EvalThresholdsMilli.map(t => s"${t}L").mkString(", ")
      gopherFeatures(documents(s, d))
        .select(col("doc_id"), col("pass"), logit.as("l"))
        .select(col("pass"),
          explode(expr(s"array($grid)")).as("thr_milli"),
          col("l"))
        .select(col("thr_milli"), col("pass"),
          expr("CAST(CAST(l * 1000 AS DECIMAL(22,4)) > " +
            "CAST(thr_milli AS DECIMAL(22,4)) AS INT)").as("pred"))
        .groupBy("thr_milli")
        .agg(sum(expr("pass * pred")).as("tp"),
          sum(expr("(1 - pass) * pred")).as("fp"),
          sum(expr("pass * (1 - pred)")).as("fn"),
          sum(expr("(1 - pass) * (1 - pred)")).as("tn"))
        .select(col("thr_milli"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          expr("tp * 1000000L DIV nullif(tp + fp, 0)")
            .as("precision_ppm"),
          expr("tp * 1000000L DIV nullif(tp + fn, 0)").as("recall_ppm"))
        .withColumn("f1_ppm",
          expr("(2 * precision_ppm * recall_ppm) DIV " +
            "nullif(precision_ppm + recall_ppm, 0)"))
        .orderBy("thr_milli")
    })
  )

  val oracle: Map[String, String] = {
    val en = enStop.map(w => s"'$w'").mkString(", ")
    val da = dataStop.map(w => s"'$w'").mkString(", ")
    // x9 is the bloom-prefiltered EXACT-result form of x8 — one oracle
    // pins both plans to the same answer
    val decontamSql =
      s"""WITH hs AS (
         |  SELECT doc_id, ${DedupQueries.sqlShingleHashes} AS hs
         |  FROM documents),
         |bench AS (
         |  SELECT DISTINCT unnest(hs) AS h FROM hs WHERE $sqlBenchPred),
         |docs AS (
         |  SELECT doc_id, unnest(hs) AS h FROM hs WHERE NOT $sqlBenchPred),
         |ov AS (
         |  SELECT doc_id, count(*) AS n_overlap FROM docs
         |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
         |SELECT h.doc_id AS doc_id,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / len(h.hs), 4)
         |    AS overlap_frac,
         |  CAST(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / len(h.hs) >= 0.5
         |    AS INT) AS contaminated
         |FROM hs h LEFT JOIN ov USING (doc_id)
         |WHERE NOT (h.doc_id % 97 = 0 AND h.doc_id < $BenchBudget)
         |ORDER BY doc_id""".stripMargin
    // One BPE round over the seq relation `prev`: pair counts from
    // adjacent tokens, top-1 by (freq DESC, lhs, rhs), 4-pass
    // space-wrapped replace — the exact mirror of the Scala loop.
    def bpeRound(prev: String, r: Int): String =
      s"""px$r AS (
         |  SELECT tk, cnt, unnest(range(len(tk) - 1)) AS i
         |  FROM (SELECT string_split(trim(seq), ' ') AS tk, cnt
         |        FROM $prev)),
         |p$r AS (
         |  SELECT tk[i + 1] AS lhs, tk[i + 2] AS rhs,
         |    CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM px$r GROUP BY 1, 2),
         |b$r AS (SELECT lhs, rhs, freq FROM p$r
         |        ORDER BY freq DESC, lhs, rhs LIMIT 1),
         |s$r AS (
         |  SELECT replace(replace(replace(replace(seq,
         |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
         |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
         |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
         |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')
         |    AS seq, cnt
         |  FROM $prev, b$r)""".stripMargin
    Map(
      "x9_decontaminate_bloom" -> decontamSql,
      "x16_bpe_train" ->
        s"""WITH wf AS (
           |  SELECT w AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(
           |      regexp_split_to_array(lower(text), '\\s+'),
           |      x -> x <> '')) AS w
           |    FROM documents) GROUP BY 1),
           |s0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g')
           |         AS seq, cnt FROM wf),
           |${bpeRound("s0", 1)},
           |${bpeRound("s1", 2)},
           |${bpeRound("s2", 3)}
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS rank, lhs, rhs, freq FROM b1
           |  UNION ALL SELECT 2, lhs, rhs, freq FROM b2
           |  UNION ALL SELECT 3, lhs, rhs, freq FROM b3)
           |ORDER BY rank""".stripMargin,
      // x18: the same training CTE chain yields b1..b3; the doc-side
      // encode applies each merge with the identical 4-pass
      // space-wrapped replace (cross join against the 1-row b$r).
      "x18_bpe_encode" -> {
        def rep4(prev: String, b: String, out: String): String =
          s"""$out AS (
             |  SELECT doc_id, replace(replace(replace(replace(seq,
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')
             |    AS seq, n_chars
             |  FROM $prev, $b)""".stripMargin
        s"""WITH wf AS (
           |  SELECT w AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(
           |      regexp_split_to_array(lower(text), '\\s+'),
           |      x -> x <> '')) AS w
           |    FROM documents) GROUP BY 1),
           |s0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g')
           |         AS seq, cnt FROM wf),
           |${bpeRound("s0", 1)},
           |${bpeRound("s1", 2)},
           |${bpeRound("s2", 3)},
           |dw AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '\\s+'),
           |    x -> x <> '')) AS word
           |  FROM documents),
           |d0 AS (SELECT doc_id,
           |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,
           |    length(word) AS n_chars FROM dw),
           |${rep4("d0", "b1", "d1")},
           |${rep4("d1", "b2", "d2")},
           |${rep4("d2", "b3", "d3")}
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           |  CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT)
           |    AS n_bpe_tokens,
           |  CAST(sum(len(string_split(trim(seq), ' '))) * 1000000
           |    // sum(n_chars) AS BIGINT) AS bpe_ppm
           |FROM d3 GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      // x20: the x18 chain unrolled to X20Merges rounds — certifying
      // the DRIVER-loop trainer + broadcast-vocab encoder against the
      // relational formulation at a depth the Spark per-round loop
      // would never run
      "x20_bpe_full" -> {
        def rep4(prev: String, b: String, out: String): String =
          s"""$out AS (
             |  SELECT doc_id, replace(replace(replace(replace(seq,
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
             |      ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')
             |    AS seq, n_chars
             |  FROM $prev, $b)""".stripMargin
        val n = X20Merges
        s"""WITH wf AS (
           |  SELECT w AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(
           |      regexp_split_to_array(lower(text), '\\s+'),
           |      x -> x <> '')) AS w
           |    FROM documents) GROUP BY 1),
           |s0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g')
           |         AS seq, cnt FROM wf),
           |${(1 to n).map(r => bpeRound(s"s${r - 1}", r)).mkString(",\n")},
           |dw AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '\\s+'),
           |    x -> x <> '')) AS word
           |  FROM documents),
           |d0 AS (SELECT doc_id,
           |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,
           |    length(word) AS n_chars FROM dw),
           |${(1 to n).map(r => rep4(s"d${r - 1}", s"b$r", s"d$r"))
              .mkString(",\n")}
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           |  CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT)
           |    AS n_bpe_tokens,
           |  CAST(sum(len(string_split(trim(seq), ' '))) * 1000000
           |    // sum(n_chars) AS BIGINT) AS bpe_ppm
           |FROM d$n GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "x21_bm25" -> {
        val terms = BmQueryTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '\\s+'),
           |    x -> x <> '')) AS tok
           |  FROM documents),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           |       FROM toks GROUP BY 1),
           |corpus AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(dl) * 1000 // count(*) AS BIGINT) AS avgdl_milli
           |  FROM dl),
           |qdf AS (
           |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           |  FROM toks WHERE tok IN ($terms) GROUP BY 1),
           |tf AS (
           |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           |  FROM toks WHERE tok IN ($terms) GROUP BY 1, 2),
           |sc AS (
           |  SELECT doc_id,
           |    length(bin(1000000 + ((2 * (n_docs - df) + 1) * 1000000)
           |      // (2 * df + 1))) - 20 AS idf_bits,
           |    (tf * 2200 * 1000000) // (tf * 1000000 +
           |      (1200 * (250000 + (750000000 * dl) // avgdl_milli))
           |      // 1000) AS sat_milli
           |  FROM tf JOIN dl USING (doc_id)
           |  CROSS JOIN corpus JOIN qdf USING (tok))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  CAST(sum(idf_bits * sat_milli) AS BIGINT) AS score_millibits
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "x1_langid" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
           |  FROM documents)
           |SELECT doc_id,
           |  round(CAST(len(list_filter(toks, x -> list_contains([$en], x))) AS DOUBLE)
           |        / len(toks), 4) AS en_ratio,
           |  round(CAST(len(list_filter(toks, x -> list_contains([$da], x))) AS DOUBLE)
           |        / len(toks), 4) AS data_ratio,
           |  CASE WHEN len(list_filter(toks, x -> list_contains([$en], x)))
           |            >= len(list_filter(toks, x -> list_contains([$da], x)))
           |       THEN 'en' ELSE 'data-domain' END AS pred_lang
           |FROM t ORDER BY doc_id""".stripMargin,
      "x2_quality_score" ->
        """WITH t AS (
          |  SELECT doc_id, text,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |f AS (
          |  SELECT doc_id,
          |    length(text) AS len_chars, len(toks) AS n_toks,
          |    len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
          |    round(CAST(list_reduce(list_transform(toks, x -> length(x)),
          |          (a, b) -> a + b) AS DOUBLE) / len(toks), 4) AS mean_tok_len,
          |    round(CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE)
          |          / length(text), 4) AS punct_ratio
          |  FROM t)
          |SELECT doc_id, len_chars, n_toks, punct_ratio, mean_tok_len,
          |  CAST((CAST(least(n_toks, 100) AS DECIMAL(18,4)) * 0.005 +
          |        least(CAST(mean_tok_len AS DECIMAL(18,4)),
          |              CAST(10 AS DECIMAL(18,4))) * 0.03 +
          |        (CAST(1 AS DECIMAL(18,4)) - CAST(punct_ratio AS DECIMAL(18,4)))
          |          * 0.2) * 1000000 AS BIGINT) AS score_ppm
          |FROM f ORDER BY doc_id""".stripMargin,
      "x3_token_count" ->
        """SELECT doc_id,
          |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
          |    AS ws_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
          |    AS bpe_tokens,
          |  round(CAST(length(text) AS DOUBLE) /
          |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 4)
          |    AS chars_per_token
          |FROM documents ORDER BY doc_id""".stripMargin,
      "x5_repetition" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |b AS (
          |  SELECT doc_id, toks, len(toks) AS n_toks,
          |    CASE WHEN len(toks) < 2 THEN NULL
          |         ELSE [toks[i + 1] || ' ' || toks[i + 2]
          |               FOR i IN range(len(toks) - 1)] END AS bigrams
          |  FROM t),
          |top AS (
          |  SELECT doc_id, max(c) AS max_c FROM (
          |    SELECT doc_id, tok, count(*) AS c
          |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
          |    GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT b.doc_id AS doc_id, n_toks,
          |  round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_toks, 4)
          |    AS dup_word_frac,
          |  round(1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 4)
          |    AS dup_bigram_frac,
          |  round(CAST(max_c AS DOUBLE) / n_toks, 4) AS top_tok_frac
          |FROM b JOIN top ON b.doc_id = top.doc_id
          |ORDER BY doc_id""".stripMargin,
      "x6_pii_redact" ->
        """WITH a AS (
          |  SELECT doc_id,
          |    text || ' contact user' || CAST(doc_id AS VARCHAR)
          |      || '@mail.example.com or 555-'
          |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
          |  FROM documents),
          |r AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(aug, '[a-z0-9.]+@[a-z0-9.]+')) AS n_email,
          |    len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS n_phone,
          |    regexp_replace(regexp_replace(aug,
          |      '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
          |      '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean
          |  FROM a)
          |SELECT doc_id, n_email, n_phone, length(clean) AS clean_len,
          |  md5(clean) AS clean_digest
          |FROM r ORDER BY doc_id""".stripMargin,
      "x7_heavy_hitters" ->
        """SELECT tok, count(*) AS n FROM (
          |  SELECT unnest(list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
          |  FROM documents)
          |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
      // x17: the oracle is the exact top-20 plus the invariant the
      // sketch must satisfy (o5's TRUE-flag pattern)
      "x17_topk_sketch" ->
        """SELECT tok, count(*) AS n_exact, TRUE AS within_tol FROM (
          |  SELECT unnest(list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
          |  FROM documents)
          |GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20""".stripMargin,
      "x19_quality_classifier" -> {
        val vals = ClassifierWeights
          .map { case (t, w) => s"('$t', CAST($w AS DECIMAL(9,4)))" }
          .mkString(",\n        |  ")
        s"""WITH w(tok, wt) AS (VALUES
        |  $vals),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, CAST(sum(wt) AS DECIMAL(18,4)) AS hit_sum
        |  FROM toks JOIN w USING (tok) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(hit_sum, 0) + CAST($ClassifierBias AS DECIMAL(9,4))
        |    AS DOUBLE) AS logit,
        |  (coalesce(hit_sum, 0) + CAST($ClassifierBias AS DECIMAL(9,4))) > 0
        |    AS keep
        |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        |ORDER BY d.doc_id""".stripMargin
      },
      "x22_classifier_eval" -> {
        val vals = ClassifierWeights
          .map { case (t, w) => s"('$t', CAST($w AS DECIMAL(9,4)))" }
          .mkString(",\n        |  ")
        val grid = EvalThresholdsMilli.mkString(", ")
        s"""WITH w(tok, wt) AS (VALUES
        |  $vals),
        |t AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |lbl AS (
        |  SELECT doc_id,
        |    CAST(len(toks) BETWEEN 30 AND 100000
        |      AND round(CAST(list_reduce(list_transform(toks,
        |            x -> length(x)), (a, b) -> a + b) AS DOUBLE)
        |          / len(toks), 4) BETWEEN 3 AND 10
        |      AND round(CAST(len(list_filter(toks,
        |            x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |          / len(toks), 4) >= 0.8
        |      AND len(list_filter(['the','a','of','to','and'],
        |            w -> list_contains(toks, w))) >= 2 AS INT) AS pass
        |  FROM t),
        |toks AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |hits AS (
        |  SELECT doc_id, CAST(sum(wt) AS DECIMAL(18,4)) AS hit_sum
        |  FROM toks JOIN w USING (tok) GROUP BY doc_id),
        |scored AS (
        |  SELECT l.doc_id, l.pass,
        |    coalesce(h.hit_sum, 0) + CAST($ClassifierBias AS DECIMAL(9,4))
        |      AS logit
        |  FROM lbl l LEFT JOIN hits h ON l.doc_id = h.doc_id),
        |sweep AS (
        |  SELECT thr_milli, pass,
        |    CAST(CAST(logit * 1000 AS DECIMAL(22,4)) >
        |      CAST(thr_milli AS DECIMAL(22,4)) AS INT) AS pred
        |  FROM scored, UNNEST([$grid]) AS g(thr_milli)),
        |cm AS (
        |  SELECT thr_milli,
        |    CAST(sum(pass * pred) AS BIGINT) AS tp,
        |    CAST(sum((1 - pass) * pred) AS BIGINT) AS fp,
        |    CAST(sum(pass * (1 - pred)) AS BIGINT) AS fn,
        |    CAST(sum((1 - pass) * (1 - pred)) AS BIGINT) AS tn
        |  FROM sweep GROUP BY thr_milli),
        |pr AS (
        |  SELECT thr_milli, tp, fp, fn, tn,
        |    CAST(tp * 1000000 // nullif(tp + fp, 0) AS BIGINT)
        |      AS precision_ppm,
        |    CAST(tp * 1000000 // nullif(tp + fn, 0) AS BIGINT)
        |      AS recall_ppm
        |  FROM cm)
        |SELECT CAST(thr_milli AS BIGINT) AS thr_milli, tp, fp, fn, tn,
        |  precision_ppm, recall_ppm,
        |  CAST((2 * precision_ppm * recall_ppm) //
        |    nullif(precision_ppm + recall_ppm, 0) AS BIGINT) AS f1_ppm
        |FROM pr ORDER BY thr_milli""".stripMargin
      },
      "x8_decontaminate" -> decontamSql,
      "x10_gopher_rules" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, len(toks) AS n_toks,
          |    round(CAST(list_reduce(list_transform(toks, x -> length(x)),
          |      (a, b) -> a + b) AS DOUBLE) / len(toks), 4) AS mean_tok_len,
          |    round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          |      AS DOUBLE) / len(toks), 4) AS alpha_frac,
          |    len(list_filter(['the','a','of','to','and'],
          |      w -> list_contains(toks, w))) AS n_req_stop
          |  FROM t)
          |SELECT doc_id, n_toks, mean_tok_len, alpha_frac, n_req_stop,
          |  CAST(n_toks BETWEEN 30 AND 100000 AND mean_tok_len BETWEEN 3 AND 10
          |    AND alpha_frac >= 0.8 AND n_req_stop >= 2 AS INT) AS pass
          |FROM f ORDER BY doc_id""".stripMargin,
      "x11_dup_spans" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) >= 3),
          |spans AS (
          |  SELECT doc_id,
          |    CAST('0x' || substr(md5(array_to_string(list_slice(toks, i * 2 + 1, i * 2 + 3), ' ')), 1, 15) AS BIGINT) AS h
          |  FROM (SELECT doc_id, toks, unnest(range((len(toks) - 3) // 2 + 1)) AS i
          |        FROM t)),
          |dup AS (
          |  SELECT h FROM spans GROUP BY h HAVING min(doc_id) <> max(doc_id)),
          |per AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END) AS n_shared
          |  FROM spans GROUP BY doc_id),
          |base AS (
          |  SELECT doc_id, (len(toks) - 3) // 2 + 1 AS n_spans FROM t)
          |SELECT b.doc_id, CAST(n_spans AS BIGINT) AS n_spans,
          |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
          |  round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_spans, 4) AS shared_frac
          |FROM base b LEFT JOIN per USING (doc_id)
          |ORDER BY doc_id""".stripMargin,
      "x12_vocab_build" ->
        """WITH tok AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |    x -> x <> '')) AS tok FROM documents),
          |freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
          |v AS (
          |  SELECT tok, n,
          |    row_number() OVER (ORDER BY n DESC, tok) - 1 AS token_id,
          |    sum(n) OVER (ORDER BY n DESC, tok) AS cum_n,
          |    sum(n) OVER () AS tot
          |  FROM freq)
          |SELECT CAST(token_id AS BIGINT) AS token_id, tok, n,
          |  CAST(cum_n AS BIGINT) * 1000000 // CAST(tot AS BIGINT) AS cum_ppm
          |FROM v ORDER BY token_id""".stripMargin,
      "x13_rarity_score" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '')) AS tok
          |  FROM documents),
          |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM freq),
          |ppm AS (
          |  SELECT tok, CAST(cnt * 1000000 // tot AS BIGINT) AS ppm
          |  FROM freq, tot)
          |SELECT doc_id, count(*) AS n_toks,
          |  CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm,
          |  min(ppm) AS rarest_ppm
          |FROM toks JOIN ppm USING (tok)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x23_boilerplate_strip" ->
        """WITH docs AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'),
          |      x -> x <> '') AS w
          |  FROM documents),
          |d2 AS (SELECT doc_id, w,
          |    CAST(floor(len(w) / 8) AS INT) AS nck FROM docs),
          |ch AS (
          |  SELECT doc_id,
          |    unnest(range(nck)) AS pos,
          |    unnest(list_transform(range(nck),
          |      i -> array_to_string(w[i * 8 + 1 : i * 8 + 8], ' ')))
          |      AS ck
          |  FROM d2 WHERE nck >= 1),
          |boiler AS (
          |  SELECT md5(ck) AS dg FROM ch
          |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
          |kept AS (
          |  SELECT * FROM ch
          |  WHERE md5(ck) NOT IN (SELECT dg FROM boiler)),
          |rebuilt AS (
          |  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
          |    string_agg(ck, ' ' ORDER BY pos) AS kepttext
          |  FROM kept GROUP BY 1)
          |SELECT d2.doc_id,
          |  nck - coalesce(n_kept, 0) AS n_dropped,
          |  trim(concat_ws(' ', coalesce(kepttext, ''),
          |    array_to_string(w[nck * 8 + 1 : len(w)], ' '))) AS cleaned
          |FROM d2 LEFT JOIN rebuilt ON rebuilt.doc_id = d2.doc_id
          |ORDER BY d2.doc_id""".stripMargin,
      "x14_chunk" ->
        """WITH c AS (
          |  SELECT doc_id, i AS start,
          |    substr(coalesce(text, ''), CAST(i AS INT), 256) AS chunk
          |  FROM (
          |    SELECT doc_id, text,
          |      unnest(range(1, greatest(len(coalesce(text, '')), 1) + 1,
          |        224)) AS i
          |    FROM documents))
          |SELECT doc_id, CAST((start - 1) // 224 AS BIGINT) AS chunk_id,
          |  CAST(start AS BIGINT) AS start,
          |  CAST(len(chunk) AS BIGINT) AS n_chars, md5(chunk) AS digest
          |FROM c WHERE chunk <> ''
          |ORDER BY doc_id, chunk_id""".stripMargin,
      "x15_perplexity" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS a
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
          |  FROM toks, UNNEST(range(1, len(a))) AS t(i)
          |  WHERE len(a) >= 2),
          |uni AS (SELECT w1 AS w, count(*) AS c1 FROM bg GROUP BY 1),
          |bfreq AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
          |cond AS (
          |  SELECT w1, w2, CAST(c2 * 1000000 // c1 AS BIGINT) AS cppm
          |  FROM bfreq JOIN uni ON w1 = w)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(sum(cppm) // count(*) AS BIGINT) AS mean_cppm,
          |  CAST(sum(21 - length(bin(cppm))) * 1000 // count(*) AS BIGINT)
          |    AS milli_bits
          |FROM bg JOIN cond USING (w1, w2)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "x4_fingerprint" ->
        """WITH sh0 AS (
          |  SELECT doc_id,
          |    unnest([{'i': i,
          |             'h': CAST('0x' || substr(md5(substr(text, i + 1, 8)), 1, 7) AS BIGINT)}
          |            FOR i IN range(greatest(len(text) - 7, 1))]) AS u
          |  FROM documents),
          |sh AS (SELECT doc_id, u.i AS i, u.h AS h FROM sh0),
          |fps AS (
          |  SELECT doc_id,
          |    min(h) OVER (PARTITION BY doc_id ORDER BY i
          |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |  FROM sh)
          |SELECT doc_id, count(DISTINCT fp) AS n_fp, min(fp) AS min_fp,
          |  max(fp) AS max_fp,
          |  CAST(CAST(sum(DISTINCT CAST(fp AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS BIGINT) AS sum_fp
          |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  }
}
