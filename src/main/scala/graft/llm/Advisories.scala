package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The queryable advisory surface (round-11 verdict item 3). Every
  * recall/staleness advisory family in the engine fires through slf4j
  * — which dies in executor stdout at cluster scale, where the
  * operator that needs the re-dial is an ORCHESTRATOR reading tables.
  * This registry accumulates every advisory whose condition held
  * (family, corpus, measured signal, the computed re-dial, and a
  * timestamp-free insertion ordinal), deduped per (family, corpus)
  * exactly like the log-once gates, and exposes it two ways: the
  * catalog query `r26_advisories` (evaluate the corpus's census-based
  * advisory conditions NOW, then return everything recorded for the
  * corpus) and the pure-SQL face `<catalog>.system.advisories`
  * ([[graft.sources]]). On healthy default-dial testdata r26 is
  * deterministically EMPTY — computed emptiness, not vacuous: the
  * query re-runs all five census checks (each an artifact, so the
  * steady-state cost is five file reads) — which is what the DuckDB
  * oracle pins. FamilyRecallAdvisorySpec pins the non-empty side on
  * saturated fixtures.
  *
  * The registry is DURABLE: fired advisories also append to a
  * tmpdir log carrying the firing-time corpus FINGERPRINT
  * ([[graft.util.Artifacts.fingerprint]]), and a fresh process
  * lazily reloads them —
  * which matters for the families r26 cannot re-derive (index
  * staleness needs the delta batch that fired it; a maintenance run
  * in one process, an operator's SELECT in another). Staleness of
  * the persisted rows themselves is handled the way the artifact
  * store handles it: an entry is served only while its stored
  * fingerprint still matches the corpus's CURRENT table fingerprint
  * — regenerate the corpus and the old advisory vanishes instead of
  * lying.
  *
  * Advisory families recorded here: dedup LSH bucket cap, exact
  * pairwise block cap, hyperplane-LSH cap (d9), pHash Hamming-band
  * cap (m5), ANN serving dials (merged cells), and index staleness
  * (n18's frozen-model drift — recorded when a maintenance run fires
  * it; not re-evaluated by r26, which has no delta batch to measure).
  */
object Advisories {

  /** `fp` is the firing-time corpus fingerprint — internal to the
    * durability contract (not a relation column: the corpus path +
    * current-match filtering is the user-facing surface). */
  final case class Advisory(
      family: String, corpus: String, signal: Double, redial: String,
      ordinal: Long, fp: String = "")

  private val fired =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Advisory]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var loadedLog = false

  private def logFile = new java.io.File(
    sys.props("java.io.tmpdir"), "graft_advisories.tsv")

  /** One line per firing: family, corpus, signal, fingerprint,
    * base64(redial) — base64 keeps the free-text re-dial (which may
    * contain anything) off the TSV structure. Appends are O_APPEND
    * single-line writes (atomic at this size on POSIX).
    */
  private def appendLog(a: Advisory): Unit =
    try {
      val redial64 = java.util.Base64.getEncoder.encodeToString(
        a.redial.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val line =
        s"${a.family}\t${a.corpus}\t${a.signal}\t${a.fp}\t$redial64\n"
      java.nio.file.Files.write(logFile.toPath,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(_) =>
      // durability is best-effort; the in-process registry (and the
      // slf4j line) already carry the advisory
    }

  /** Lazy reload of previously-fired advisories — once per process,
    * before the first registry read. Entries dedupe per (family,
    * corpus) on first-wins like live fires; ordinals are assigned in
    * file order. Unreadable/corrupt lines are skipped (best-effort
    * durability, never a query failure).
    */
  private def ensureLoaded(): Unit = {
    if (loadedLog) return
    synchronized {
      if (loadedLog) return
      val f = logFile
      if (f.isFile)
        try {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().foreach { l =>
            val p = l.split('\t')
            if (p.length == 5) try {
              val a = Advisory(p(0), p(1), p(2).toDouble,
                new String(java.util.Base64.getDecoder.decode(p(4)),
                  java.nio.charset.StandardCharsets.UTF_8),
                counter.incrementAndGet(), p(3))
              fired.putIfAbsent((a.family, a.corpus), a)
            } catch { case scala.util.control.NonFatal(_) => }
          } finally src.close()
        } catch { case scala.util.control.NonFatal(_) => }
      loadedLog = true
    }
  }

  /** An entry is CURRENT iff its firing-time fingerprint still
    * matches one of the corpus's table fingerprints (documents for
    * the text families, embeddings for the vector families) — the
    * artifact store's invalidation rule applied to the advisory
    * itself. Live fires (empty fp, or fp matching) always serve; a
    * regenerated corpus silently retires the stale rows.
    */
  private def current(a: Advisory): Boolean =
    a.fp.isEmpty || {
      val now = Seq(
        scala.util.Try(graft.util.Artifacts
          .fingerprint(s"${a.corpus}/documents.parquet")).getOrElse(""),
        scala.util.Try(graft.util.Artifacts
          .fingerprint(s"${a.corpus}/embeddings.parquet")).getOrElse(""))
      now.contains(a.fp)
    }

  /** Record a fired advisory. Idempotent per (family, corpus) — the
    * registry carries the FIRST firing's measurement, matching the
    * log-once gates; the ordinal is insertion order (timestamp-free,
    * so replays stay deterministic). Called on EVERY evaluation whose
    * condition holds, not just the one that wins the log-once race.
    * `fingerprint` is the firing family's current table fingerprint
    * (documents or embeddings) — the durable row serves only while it
    * still matches.
    */
  def record(
      family: String, corpus: String, signal: Double,
      redial: String, fingerprint: String = ""): Unit = {
    ensureLoaded()
    var inserted = false
    val a = fired.computeIfAbsent((family, corpus), _ => {
      inserted = true
      Advisory(family, corpus, signal, redial,
        counter.incrementAndGet(), fingerprint)
    })
    if (inserted) appendLog(a)
  }

  /** All CURRENT advisories recorded for `corpus`, ordered by
    * family. */
  def forCorpus(corpus: String): Seq[Advisory] = {
    ensureLoaded()
    fired.values.toArray(Array.empty[Advisory])
      .filter(a => a.corpus == corpus && current(a))
      .sortBy(_.family).toSeq
  }

  /** Everything current, in firing order — the
    * `<catalog>.system.advisories` SQL face reads this. */
  def all: Seq[Advisory] = {
    ensureLoaded()
    fired.values.toArray(Array.empty[Advisory])
      .filter(current).sortBy(_.ordinal).toSeq
  }

  /** Spec hook: forget the in-memory state and force a reload from
    * the durable log on next read (simulates a fresh process). */
  private[graft] def clear(): Unit = {
    fired.clear(); counter.set(0L); loadedLog = false
  }

  /** Spec hook: drop the durable log too (full reset). */
  private[graft] def clearAll(): Unit = {
    clear(); logFile.delete(); ()
  }

  /** Evaluate the corpus's census-based advisory families now (each
    * is an artifact and advisory-only — a failure skips its
    * family, never this query), then relate everything recorded.
    */
  private[graft] def evaluateAndList(
      s: SparkSession, d: String): Seq[Advisory] = {
    DedupQueries.maybeWarnDedupRecall(s, d)
    DedupQueries.maybeWarnBlockCap(s, d)
    SimilarityQueries.maybeWarnRecall(s, d)
    SimilarityQueries.maybeWarnEmbeddingRecall(s, d)
    MultimodalQueries.maybeWarnPhashRecall(s, d)
    forCorpus(d)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R26 — SHOW ADVISORIES as a relation: the round-11 census
    // instrumentation, readable by an orchestrator instead of grep
    // over executor logs. Scale shape: five artifact reads plus a
    // local relation of at-most-|families| rows — no corpus scan on
    // the steady path (each census computes once per corpus content).
    "r26_advisories" -> ((s, d) => {
      import s.implicits._
      evaluateAndList(s, d)
        .map(a => (a.family, a.corpus, a.signal, a.redial, a.ordinal))
        .toDF("family", "corpus", "signal", "redial", "ordinal")
        .orderBy("family")
    }))

  val oracle: Map[String, String] = Map(
    // healthy default-dial testdata fires nothing (d7/d9/block-cap
    // shed ≈ 0–1.4%; m5's designed ~20% sits under its calibrated 50%
    // threshold; the ANN index's cells are not majority-merged) — the
    // oracle pins the EMPTY relation with the exact schema, and
    // FamilyRecallAdvisorySpec pins the rows that appear when the
    // conditions hold on saturated fixtures
    "r26_advisories" ->
      """SELECT CAST(NULL AS VARCHAR) AS family,
        |  CAST(NULL AS VARCHAR) AS corpus,
        |  CAST(NULL AS DOUBLE) AS signal,
        |  CAST(NULL AS VARCHAR) AS redial,
        |  CAST(NULL AS BIGINT) AS ordinal
        |WHERE false""".stripMargin)
}
