package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the public FAISS/IVF-PQ recipe that makes
  * billion-vector ANN affordable: split the 64-dim embedding into
  * [[M]] contiguous 16-dim subspaces, train an INDEPENDENT k-means
  * codebook per subspace ([[KMeans.fitOn]] — same md5 seeds, DECIMAL
  * means, exact fixpoint stop), and represent each vector by its M
  * nearest-centroid ids: 64 doubles (512 B) become 4 small codes.
  * Search then runs in code space via ADC (asymmetric distance
  * computation): the probe precomputes one M×K table of
  * subspace-distances to every centroid, and each corpus vector's
  * approximate distance is M table lookups + adds — no float vector
  * is ever touched at query time.
  *
  * Scale: training cost is M independent Lloyd runs over ONE
  * localCheckpoint'd corpus scan per round (the slices are plan
  * expressions, not materialized copies); encoding is a single
  * map-only projection (M argmins inside whole-stage codegen); the
  * ADC table is M·K doubles computed driver-side and inlined as
  * literals, so the scan side of a query is map-only arithmetic over
  * a BIGINT-codes column — the memory-bandwidth win (128× smaller
  * than the raw vectors) is exactly why a 100 TB corpus quantizes
  * before it indexes.
  *
  * Determinism carries through from KMeans: subspace seeds are the
  * same md5-ordered rows' sub-vectors, so a DuckDB oracle unrolling
  * [[OracleRounds]] Lloyd rounds per subspace reproduces codes,
  * reconstruction errors, and ADC distances bit-for-bit.
  */
object PQ {

  /** Subspaces (64 = M × SubDim). */
  val M = 4
  val SubDim = 16

  /** Codes per subspace codebook — the ORACLE-PINNED default. The
    * effective K is a session dial ([[kFor]], `graft.pq.k`): the
    * recall probe measured that 12-bit codes (M=4 × 3 bits) cannot
    * rank a near-tie shell — 4096 distinct codes over a 40k corpus
    * leaves ~10 vectors per code cell, so ADC is blind within cells
    * and even exact re-rank of the top-50 recovers nothing. Raising
    * K is the production lever (FAISS ships K=256); the DuckDB
    * oracle unrolls K=8 chains, so oracle-gated runs use the
    * default and the dial serves probes and deployments.
    */
  val K = 8

  /** Effective codes-per-codebook for this session. */
  def kFor(s: SparkSession): Int =
    s.conf.getOption("graft.pq.k").map(_.toInt).getOrElse(K)

  /** Oracle unroll count per subspace chain — EXACTLY the Scala round
    * cap, which makes the equality unconditional: a subspace that
    * converges early is covered by the fixpoint identity (every round
    * past convergence is the identity), and a subspace that hits the
    * cap unconverged ran exactly this many recomputes in both engines.
    * 16-dim subspaces genuinely do hit the cap (measured rounds at
    * sf0.001/0.01/0.1: 22,25,21,13 / 19,14,19,30 / 30,30,30,30 — low
    * dims leave near-ties everywhere, so Lloyd drifts longer), which
    * is why this must be MaxRounds and not a measured-convergence
    * number like [[KMeans.OracleRounds]].
    */
  val OracleRounds: Int = KMeans.MaxRounds

  case class Codebooks(books: Seq[KMeans.Model])

  /** The j-th subspace slice as a Column over an `e` vector. */
  def subVec(e: org.apache.spark.sql.Column, j: Int) =
    slice(e, j * SubDim + 1, SubDim)

  /** The coarse centroid a cid assigns to, as a literal-table lookup
    * (K whens — codegen-friendly, and robust to a Lloyd chain that
    * leaves a cid gap, unlike positional element_at).
    */
  def centroidFor(coarse: KMeans.Model,
      cid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coarse.centroids.foldRight(
      lit(null).cast("array<double>"): org.apache.spark.sql.Column) {
      case ((id, ce), acc) =>
        when(cid === id, typedlit(ce.toSeq)).otherwise(acc)
    }

  /** The RESIDUAL the codebooks quantize: e − coarse centroid,
    * elementwise (the FAISS IVF-PQ recipe — absolute-coordinate PQ
    * cannot rank within a tight cluster because the codebook's
    * resolution is spent spanning inter-cluster distances; encoding
    * the residual re-centers every cell at the origin so all
    * codebook resolution goes to intra-cell structure, which is
    * where serving actually discriminates. PqRecallProbe measured
    * the absolute-coordinate collapse: recall_pq@10 = 0.0 on a
    * 16-cluster corpus).
    */
  def residualCol(coarse: KMeans.Model,
      e: org.apache.spark.sql.Column,
      cid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(e, centroidFor(coarse, cid), (a, b) => a - b)

  /** The M residual codebooks for corpus `d` at this session's K: one
    * text artifact (the M models in [[KMeans]]'s registry format, a
    * blank line apart) keyed by the embeddings table's fingerprint and
    * K, so serving processes load the codebooks instead of re-running
    * M Lloyd chains. The kind's `pqres` name marks residual encoding.
    */
  def fit(s: SparkSession, d: String): Codebooks = {
    val k = kFor(s)
    val text = graft.util.Artifacts.text("model_pqres",
        graft.util.Artifacts.key(Seq(s"$d/embeddings.parquet"), k)) {
      val coarse = KMeans.fit(s, d)
      val base = graft.Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("full"))
        .withColumn("__ee",
          graft.functions.DotProduct(col("full"), col("full")))
      val t = base
        .withColumn("__cid", KMeans.assignColOn(coarse.centroids,
          col("full"), col("__ee")).getField("cid"))
        .select(col("vec_id"),
          residualCol(coarse, col("full"), col("__cid")).as("full"))
        .localCheckpoint()
      (0 until M).map { j =>
        val ej = subVec(col("full"), j)
        KMeans.modelText(KMeans.fitOn(
          t.select(col("vec_id"), ej.as("e"),
            graft.functions.DotProduct(ej, ej).as("ee")), k))
      }.mkString("\n")
    }
    Codebooks(text.split("\n\n").toSeq.map(KMeans.parseModel))
  }

  /** Sequential left-fold dot — the same reduction order as
    * [[graft.functions.DotProduct]] and DuckDB's list_inner_product,
    * so driver-computed ADC entries match the oracle bitwise.
    */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The probe's ADC table for ONE coarse cell: luts(j)(cid) =
    * d²(residual_j, centroid) with the identical `pp − 2·p·c + c·c`
    * expression shape the oracle recomputes. Under residual encoding
    * the table is PER PROBED CELL (the query's residual differs per
    * cell) — nprobe tables of M·K doubles, still literal-sized; this
    * is exactly FAISS's per-list LUT recomputation.
    */
  def adcTable(probeResidual: Array[Double],
      cb: Codebooks): Seq[Seq[Double]] =
    (0 until M).map { j =>
      val pj = probeResidual.slice(j * SubDim, (j + 1) * SubDim)
      val pp = dotSeq(pj, pj)
      cb.books(j).centroids.map { case (_, c) =>
        pp - 2.0 * dotSeq(pj, c) + dotSeq(c, c)
      }
    }

  /** Driver-side residual (probe − cell centroid), elementwise — the
    * same subtraction [[residualCol]] runs distributed.
    */
  def residualOf(probe: Array[Double], ce: Array[Double]): Array[Double] = {
    val r = new Array[Double](probe.length)
    var i = 0
    while (i < r.length) { r(i) = probe(i) - ce(i); i += 1 }
    r
  }

  /** Probe main: per-subspace rounds-to-convergence (OracleRounds
    * margin evidence, as KMeans.main is for n7).
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { d =>
      val cb = fit(spark, d)
      println(s"$d: rounds=${cb.books.map(_.rounds).mkString(",")}")
    }
    spark.stop()
  }
}
