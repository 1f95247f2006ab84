package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means to CONVERGENCE — the offline training
  * job whose output the IVF family serves (n2 runtime-join, n6
  * partition-pruned index). Replaces round 4's two unrolled
  * iterations.
  *
  * Determinism is the whole design: seeds are the k vectors with the
  * smallest (md5(vec_id), vec_id); assignment breaks distance ties by
  * centroid id; centroid means go through DECIMAL(25,10) sums (order-
  * independent reduction); and the stopping rule is EXACT — iterate
  * until a recompute reproduces the previous centroids bit-for-bit.
  * At that point Lloyd is at a true fixpoint, so every further
  * iteration is the identity — which is what lets a DuckDB oracle
  * unrolled to any round count >= convergence produce the identical
  * result without expressing the stopping rule in SQL.
  *
  * Plan shape per round (better than the round-4 unrolled version):
  * the k centroids are collected driver-side (k·dim doubles — always
  * tiny) and re-enter the plan as LITERALS, so assignment is a
  * MAP-ONLY argmin (`array_min` over k (d2, cid) structs — no
  * crossJoin, no per-vector groupBy at all), and the only shuffle per
  * round is the bounded (k·dim)-group mean aggregation. The corpus
  * relation is localCheckpoint'd once, so R rounds scan parquet once,
  * not R times. A 1000-executor run is byte-identical to the oracle.
  */
object KMeans {

  val K = 8

  /** Round cap — and the oracle's unroll count. Must be >= the
    * convergence round of every corpus the oracle checks (measured:
    * sf0.001 / sf0.01 / sf0.1 all converge well under this; the cap
    * exists so adversarial data terminates). If a corpus hits the cap
    * unconverged, Scala and the R-round oracle still agree — both ran
    * exactly [[MaxRounds]] recomputes.
    */
  val MaxRounds = 30

  /** The oracle's unroll count. DuckDB can't express the exact
    * stopping rule, so the oracle runs a FIXED number of Lloyd rounds
    * (AS MATERIALIZED — single-use CTE inlining makes the unrolled
    * chain plan-explode otherwise) and the fixpoint identity does the
    * rest: once converged, every further round is bit-identical, so
    * any unroll >= the corpus's convergence round equals the Scala
    * early-stopped result. Measured convergence: sf0.001=13,
    * sf0.01=21 (the verify corpora; sf0.1=27 is bench-only) — 24
    * gives margin over both oracle-checked corpora, and R21==R24 was
    * probed identical in DuckDB on both.
    */
  val OracleRounds = 24

  case class Model(centroids: Seq[(Long, Array[Double])], rounds: Int)

  /** Sequential left-fold self-dot — the same fold order as
    * [[graft.functions.DotProduct]] and DuckDB's list_inner_product,
    * so the literal cc matches the oracle's recomputed one bitwise.
    */
  private def dotSelf(c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Map-only argmin over literal centroids: `struct(d2, cid)` per
    * centroid, `array_min` picks smallest distance, ties to smaller
    * cid (struct ordering = field order). Input needs `e` and `ee`.
    */
  def assignCol(cents: Seq[(Long, Array[Double])]): Column =
    assignColOn(cents, col("e"), col("ee"))

  /** [[assignCol]] against explicit vector/self-dot columns — what
    * lets the SAME argmin kernel serve full-vector assignment (n7)
    * and per-subspace assignment over slices (PQ).
    */
  def assignColOn(cents: Seq[(Long, Array[Double])], e: Column,
      ee: Column): Column = {
    // Native [[graft.functions.CentroidScan]] kernel: one tight
    // k·dim loop per row instead of the composed-builtins tree, which
    // after optimizer collapse exploded to ~3000 expression nodes per
    // subspace and ran interpreted/un-JIT-able at ~17 µs/row (N9Probe,
    // 400k vectors). Arithmetic and tie/NaN/null semantics are pinned
    // bit-identical to [[assignColOnBuiltins]] by CentroidArgminSpec.
    // One DELIBERATE semantics change vs the round-5 array_min-over-
    // structs formulation: a null/mis-sized vector now assigns the
    // SENTINEL cid −1 (d2 null) where struct ordering's nulls-first
    // rule used to silently hand it cluster 0 — a corrupt embedding
    // should be visible, not filed under the first centroid. The
    // embeddings contract (non-null, fixed dim) means no oracle-
    // checked corpus ever exercises the difference.
    // struct() of the two scalar outputs (not an opaque struct
    // expression) lets `.getField("cid")` consumers — IVF index
    // build, SemDeDup, Lloyd training — prune the d² output entirely.
    val (minD2, cid) = graft.functions.CentroidScan.exprs(cents, e, ee)
    struct(minD2.as("d2"), cid.as("cid"))
  }

  /** The composed-builtins twin of [[assignColOn]] — `least` over the
    * k literal-centroid d² columns plus a first-match CASE (ascending
    * cid, so ties resolve to the smaller cid, `least`'s equal-keys
    * first-wins). Not on any query path: it exists to PIN the native
    * kernel's semantics (CentroidArgminSpec proves bitwise equality,
    * including null/mis-sized vectors and NaN corpora) — the same
    * native-vs-builtins contract every graft expression carries.
    */
  private[graft] def assignColOnBuiltins(
      cents: Seq[(Long, Array[Double])], e: Column, ee: Column): Column = {
    val byCid = cents.sortBy(_._1)
    val d2s = byCid.map { case (cid, c) =>
      (cid,
        ee - lit(2.0) * graft.functions.DotProduct(
          e, typedlit(c.toSeq)) + lit(dotSelf(c)))
    }
    val minD2 =
      if (d2s.size == 1) d2s.head._2
      else least(d2s.map(_._2): _*)
    val cid = d2s.foldRight(lit(-1L)) { case ((id, d2), acc) =>
      when(d2 === minD2, lit(id)).otherwise(acc)
    }
    struct(minD2.as("d2"), cid.as("cid"))
  }

  /** vectors → (vec_id, e, ee), checkpointed once for the R scans. */
  private def corpus(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("ee", graft.functions.DotProduct(col("e"), col("e")))
      .localCheckpoint()

  /** The registry's text format: `rounds R`, then one `cid c0 c1 …`
    * line per centroid. Double.toString/parseDouble round-trip
    * exactly, so a loaded model is bit-identical to the trained one.
    */
  private[llm] def modelText(m: Model): String = {
    val sb = new StringBuilder
    sb.append(s"rounds ${m.rounds}\n")
    m.centroids.foreach { case (cid, c) =>
      sb.append(cid).append(' ')
        .append(c.map(java.lang.Double.toString).mkString(" "))
        .append('\n')
    }
    sb.toString
  }

  private[llm] def parseModel(text: String): Model = {
    val lines = text.split('\n').toSeq
    val rounds = lines.head.stripPrefix("rounds ").trim.toInt
    val cents = lines.tail.filter(_.nonEmpty).map { l =>
      val parts = l.split(' ')
      parts.head.toLong -> parts.tail.map(java.lang.Double.parseDouble)
    }
    Model(cents, rounds)
  }

  private[llm] def saveModel(m: Model, f: java.io.File): Unit =
    java.nio.file.Files.write(f.toPath,
      modelText(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[llm] def loadModel(f: java.io.File): Option[Model] =
    if (!f.isFile) None
    else Some(parseModel(new String(java.nio.file.Files.readAllBytes(
      f.toPath), java.nio.charset.StandardCharsets.UTF_8)))

  /** The model artifact's kind; its key is the embeddings table's
    * fingerprint.
    */
  private[llm] val ModelKind = "model_kmeans"

  /** The trained model for corpus `d`, from the model registry: a text
    * artifact ([[graft.util.Artifacts]]) keyed by the content of
    * `embeddings.parquet`, so a fresh process serving the index loads
    * the model (milliseconds) instead of retraining it (minutes at
    * 400k vectors), and changed embeddings always retrain.
    */
  def fit(s: SparkSession, d: String): Model =
    parseModel(graft.util.Artifacts.text(ModelKind,
      graft.util.Artifacts.key(Seq(s"$d/embeddings.parquet")))(
      modelText(fitImpl(s, d))))

  private def fitImpl(s: SparkSession, d: String): Model =
    fitOn(corpus(s, d), K)

  /** Lloyd-to-fixpoint over an arbitrary (vec_id, e, ee) relation —
    * the corpus may be the full embedding table (n7) or a SUBSPACE
    * slice of it (PQ trains one independent codebook per slice).
    * Same determinism contract as [[fit]]: md5 seeds, tie-broken
    * argmin, DECIMAL means, exact bit-for-bit fixpoint stop.
    */
  private[llm] def fitOn(t: DataFrame, k: Int): Model = {
    val seeds = t
      .select(col("vec_id"), col("e"),
        md5(col("vec_id").cast("string")).as("hk"))
      .orderBy("hk", "vec_id").limit(k)
      .select("e").collect()
      .zipWithIndex.map { case (r, i) =>
        i.toLong -> r.getSeq[Double](0).toArray
      }.toSeq
    var cents = seeds
    var round = 0
    var converged = false
    while (round < MaxRounds && !converged) {
      round += 1
      val means = t
        .select(assignCol(cents).getField("cid").as("cid"),
          posexplode(col("e")))
        .groupBy("cid", "pos")
        .agg((sum(col("col").cast("decimal(25,10)")) / count(lit(1)))
          .cast("double").as("m"))
        .collect()
      val next = means.groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
        .sortBy(_._1)
      converged = next.size == cents.size &&
        next.zip(cents).forall { case ((ci, ca), (pi, pa)) =>
          ci == pi && java.util.Arrays.equals(ca, pa)
        }
      cents = next
    }
    Model(cents, round)
  }
}
