package graft.tools

import org.apache.spark.sql.SparkSession

/** The two synthetic embedding corpus shapes the recall work sweeps
  * (used by the advisory spec; the retired PqRecallProbe and
  * ClusterStatProbe swept them too):
  * DIFFUSE — i.i.d. uniform components, inter-point angles
  * concentrated near 90°, no structure for IVF to exploit; CLUSTERED
  * — mixture of 16 hash-derived unit gaussians, sigma=0.25,
  * L2-normalized, probe vector 0 a boundary midpoint of clusters 0/1
  * (the shape real embedding corpora have, and the one on which
  * small-nprobe serving collapses). Deterministic like every probe
  * generator (splittable per-id LCG — any parallelism, same corpus).
  */
object ProbeCorpora {

  private def lcg(x: Long): Long =
    x * 6364136223846793005L + 1442695040888963407L

  /** one uniform in [-1, 1) from a per-(id, dim) hash state */
  private def u(id: Long, salt: Long, dim: Int): Double = {
    var st = lcg(id ^ salt ^ (dim.toLong * 0x9e3779b97f4a7c15L))
    st = lcg(st)
    (st >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  def write(spark: SparkSession, nVecs: Long,
      dir: String, clustered: Boolean): Unit = {
    import spark.implicits._
    val marker = new java.io.File(dir,
      s"_GEN_${nVecs}_${if (clustered) "mog" else "diffuse"}")
    if (marker.isFile) return
    val k = 16
    // K unit centers, derived once on the driver (hash arithmetic,
    // no RNG object: parallelism-invariant like ScaleProbe)
    val centers: Array[Array[Double]] = Array.tabulate(k) { c =>
      val raw = Array.tabulate(64)(j => u(c.toLong, 0xC0FFEEL, j))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val bcC = spark.sparkContext.broadcast(centers)
    spark.range(nVecs).map { jid =>
      val id: Long = jid
      val e =
        if (!clustered) Array.tabulate(64)(j =>
          u(id, 0x5deece66dL, j).toFloat)
        else {
          // L2-NORMALIZED, like every production embedding pipeline
          // feeding a cosine ANN index: the IVF-PQ chain serves L2
          // (ADC is a squared-distance estimate), and the recall
          // oracle ranks by cosine — on unit vectors the two orders
          // coincide (2 − 2·cos). The first probe run skipped the
          // normalization and measured recall 0.0 even fully probed
          // and exactly re-ranked: on a shell of near-tied boundary
          // points, L2-of-unnormalized and cosine decorrelate
          // completely. That is a METRIC-CONTRACT lesson, not a PQ
          // bug — normalize at ingest or serve dot/L2 only.
          val raw =
            if (id == 0L) {
              // the probe is a BOUNDARY point — the midpoint of
              // centers 0 and 1 — so its true neighbor set straddles
              // coarse cells and the nprobe dial has a curve to show
              val a = bcC.value(0); val b = bcC.value(1)
              Array.tabulate(64)(j =>
                0.5 * (a(j) + b(j)) + 0.1 * u(id, 0xD1CEBEEFL, j))
            } else {
              val c = bcC.value((id % k).toInt)
              Array.tabulate(64)(j =>
                c(j) + 0.25 * u(id, 0xD1CEBEEFL, j))
            }
          val n = math.sqrt(raw.map(x => x * x).sum)
          raw.map(x => (x / n).toFloat)
        }
      (id, e, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    marker.createNewFile(); ()
  }
}
