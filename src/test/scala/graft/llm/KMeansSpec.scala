package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.{spark, sf0001, sf001}

/** Convergence pins for the Lloyd fixpoint loop. The round counts are
  * deterministic properties of the corpora (md5 seeds, tie-broken
  * assignment, decimal means — no RNG anywhere), so a change here
  * means the ALGORITHM changed, and KMeans.OracleRounds must be
  * re-checked against the new convergence (the oracle's fixed unroll
  * must stay >= every oracle-checked corpus's convergence round).
  */
class KMeansSpec extends AnyFunSuite {

  test("model registry: save/load round-trips the model bit-for-bit") {
    val m = KMeans.fit(spark, sf0001)
    val f = java.io.File.createTempFile("graft_model_rt", ".txt")
    try {
      KMeans.saveModel(m, f)
      val back = KMeans.loadModel(f).get
      assert(back.rounds == m.rounds)
      assert(back.centroids.size == m.centroids.size)
      back.centroids.zip(m.centroids).foreach {
        case ((ci, ca), (pi, pa)) =>
          assert(ci == pi)
          // bit-for-bit, not approximate: the serving process must
          // produce the identical literals the trainer would
          assert(java.util.Arrays.equals(ca, pa))
      }
    } finally { f.delete(); () }
  }

  test("fit serves from the registry: a cleared in-memory cache " +
    "still yields the identical model without retraining") {
    val m1 = KMeans.fit(spark, sf0001)
    // the registry file exists after the first fit; loading it
    // directly is what a fresh JVM's fit() resolves to
    val loaded = KMeans.loadModel(graft.util.Artifacts.location(
      KMeans.ModelKind,
      graft.util.Artifacts.key(Seq(s"$sf0001/embeddings.parquet")))).get
    assert(loaded.rounds == m1.rounds)
    loaded.centroids.zip(m1.centroids).foreach {
      case ((ci, ca), (pi, pa)) =>
        assert(ci == pi && java.util.Arrays.equals(ca, pa))
    }
  }

  test("fit converges to an exact fixpoint within the cap") {
    val m1 = KMeans.fit(spark, sf0001)
    val m2 = KMeans.fit(spark, sf001)
    assert(m1.rounds == 13, s"sf0.001 convergence drifted: ${m1.rounds}")
    assert(m2.rounds == 21, s"sf0.01 convergence drifted: ${m2.rounds}")
    assert(m1.rounds < KMeans.MaxRounds && m2.rounds < KMeans.MaxRounds)
    // the oracle's fixed unroll must cover every oracle-checked corpus
    assert(m1.rounds <= KMeans.OracleRounds &&
      m2.rounds <= KMeans.OracleRounds)
    assert(m1.centroids.size == KMeans.K && m2.centroids.size == KMeans.K)
    m1.centroids.foreach { case (_, c) => assert(c.length == 64) }
  }

  test("a converged model is a true fixpoint: one more recompute " +
      "reproduces the centroids bit-for-bit") {
    import org.apache.spark.sql.functions._
    val model = KMeans.fit(spark, sf0001)
    val t = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("ee", graft.functions.DotProduct(col("e"), col("e")))
    val means = t
      .select(KMeans.assignCol(model.centroids).getField("cid").as("cid"),
        posexplode(col("e")))
      .groupBy("cid", "pos")
      .agg((sum(col("col").cast("decimal(25,10)")) / count(lit(1)))
        .cast("double").as("m"))
      .collect()
    val recomputed = means.groupBy(_.getLong(0)).toSeq.map { case (cid, rs) =>
      cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
    }.sortBy(_._1)
    assert(recomputed.size == model.centroids.size)
    recomputed.zip(model.centroids).foreach { case ((ci, ca), (pi, pa)) =>
      assert(ci == pi && java.util.Arrays.equals(ca, pa),
        s"cluster $ci moved after convergence")
    }
  }
}
