package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark

/** Round-13: x9_decontaminate_bloom moved to x8's one-pass scaffold
  * with the sketch folded into the shingle array
  * (`explode_outer(filter(hs, might_contain))`). The two queries
  * declare the IDENTICAL exact result (shared oracle); this spec pins
  * that on a synthetic corpus engineered for the rewrite's edges:
  * docs too short to shingle (empty hs → the outer null row must
  * keep them in the output with n_overlap 0), null text (in the
  * corpus and in the benchmark set), fully
  * contaminated docs (verbatim benchmark copies), partially
  * contaminated docs, and clean docs that exercise the bloom's
  * reject path (and, at 2^20 bits, any false positive must be
  * killed by the exact semi marker — hit stays null, count 0).
  */
class X9OnePassSpec extends AnyFunSuite {

  private def synthetic(): String = {
    import spark.implicits._
    def doc(i: Long): (Long, String) = i match {
      // doc 0: benchmark member (0 % 97 == 0, < budget)
      case 0 => (0L, "the quick brown fox jumps over the lazy dog")
      // short doc: < 8 chars -> zero shingles, must stay in output
      case 1 => (1L, "tiny")
      // null text
      case 2 => (2L, null)
      // benchmark member with null text: adds no shingles to the set
      case 97 => (97L, null)
      // verbatim benchmark copy -> fully contaminated
      case 3 => (3L, "the quick brown fox jumps over the lazy dog")
      // partial overlap: shares a clause with the benchmark doc
      case 4 => (4L, "lazy dog statistics and unrelated trailing words here")
      case i =>
        (i, s"completely clean document number $i with its own words " +
          s"unique-token-$i and more filler content ${i * 31}")
    }
    val rows = (0L until 120L).map(doc)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_x9spec").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("x9 (bloom one-pass) equals x8 (exact set) row for row") {
    val dir = synthetic()
    val x8 = graft.SparkEntry.queries("x8_decontaminate")(spark, dir)
    val x9 = graft.SparkEntry.queries("x9_decontaminate_bloom")(spark, dir)
    assert(x9.schema == x8.schema)
    val a = x8.collect().toSeq
    val b = x9.collect().toSeq
    assert(a == b)
    // the edge docs are actually present (the output keeps every
    // non-benchmark doc, including unshingleable ones)
    val ids = a.map(_.getLong(0)).toSet
    assert(ids.contains(1L) && ids.contains(2L) && ids.contains(3L))
    // the benchmark docs themselves are excluded
    assert(!ids.contains(0L) && !ids.contains(97L))
    // and the fully-contaminated copy is flagged
    val d3 = a.find(_.getLong(0) == 3L).get
    assert(d3.getAs[Int]("contaminated") == 1)
  }
}
