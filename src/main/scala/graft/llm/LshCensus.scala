package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LSH bucket-occupancy census, generalized over ANY (bucket)
  * relation (round-10 verdict item 3): d7's minhash band buckets, d9's
  * hyperplane buckets and m5's Hamming-band buckets all carry the same
  * hot-bucket-cap contract — bounded pair cost, recall traded — and
  * the same silent-collapse regime when a corpus saturates the bucket
  * space. One scan of the family's banded relation reduces to the
  * (width → bucket count) histogram — bounded by distinct widths,
  * never corpus rows — from which each family's advisory reads the
  * shed fraction and the COMPUTED re-dial: `capRec` is the LARGEST
  * cap whose kept buckets' self-join emits ≤ pairBudgetPerRow
  * candidate pairs per banded row (Σ_{w≤cap} C(w,2)·n_b(w) ≤
  * budget·rows) — pairs stay LINEAR in corpus size, the only envelope
  * that survives scale-up (OccCurveProbe measured the retired
  * rows-mass rule recall-correct but cost-blind: 66× the pairs for
  * the last 9 recall points on the saturated 4M corpus).
  *
  * Each census is a text artifact ([[graft.util.Artifacts]]) keyed by
  * the input table's fingerprint, the cap and the pair budget, so a
  * serving process reads six numbers, never the corpus.
  */
object LshCensus {

  case class Occupancy(
      totalRows: Long, sheddedRows: Long, nBuckets: Long,
      nOverCap: Long, maxWidth: Long, capRec: Long) {
    def shedFraction: Double =
      if (totalRows == 0) 0.0 else sheddedRows.toDouble / totalRows
  }

  /** Census for one (family, default-cap) regime over `input`.
    * `kind` names the family and its banding version; `bucketRel`
    * (evaluated only when the artifact is not yet built) is the
    * family's banded relation — one row per (row, bucket), a single
    * `bucket` column.
    */
  def occupancy(
      kind: String, input: String, cap: Long, pairBudgetPerRow: Long)(
      bucketRel: => DataFrame): Occupancy = {
    val a = graft.util.Artifacts.text(kind,
        graft.util.Artifacts.key(Seq(input), cap, pairBudgetPerRow)) {
      val hist = bucketRel
        .groupBy("bucket").agg(count(lit(1)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nb"))
        .collect() // |distinct widths| rows — a statistic, not data
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      val total = hist.map { case (w, nb) => w * nb }.sum
      val shed = hist.collect {
        case (w, nb) if w > cap => w * nb
      }.sum
      // largest cap whose cumulative kept-bucket pair count stays
      // inside the linear envelope (histogram ascends by width, so
      // the cumulative pair sum is monotone)
      val budget = pairBudgetPerRow * total
      var cumPairs = 0L
      var capRec = cap
      hist.foreach { case (w, nb) =>
        cumPairs += w * (w - 1) / 2 * nb
        if (cumPairs <= budget && w > capRec) capRec = w
      }
      Seq(total, shed, hist.map(_._2).sum,
        hist.collect { case (w, nb) if w > cap => nb }.sum,
        if (hist.isEmpty) 0L else hist.map(_._1).max, capRec)
        .mkString("", " ", "\n")
    }.trim.split(' ').map(_.toLong)
    Occupancy(a(0), a(1), a(2), a(3), a(4), a(5))
  }
}
