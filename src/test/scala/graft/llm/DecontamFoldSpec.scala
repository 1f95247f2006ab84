package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryHarness.spark

/** x8's overlap as a map-only fold (the benchmark shingle set as a
  * sorted literal, one [[graft.functions.ShingleOverlap]] per doc)
  * equals the explode → broadcast join → doc-keyed aggregate form it
  * replaced, on random documents over a small vocabulary (so overlaps
  * are common), texts shorter than the 8-char shingle included. A
  * NULL text, in the benchmark set (doc 97) or in the corpus (doc 5),
  * adds no shingle to the set and gets a NULL overlap.
  */
class DecontamFoldSpec extends AnyFunSuite {
  import spark.implicits._

  private val nullIds = Set(5L, 97L)

  private val docs: Seq[(Long, String)] = {
    val r = new scala.util.Random(11L)
    val vocab = Seq("spark", "merge", "the", "table", "ok", "a", "vector",
      "é", "日本")
    (0L until 700L).map { id =>
      val text = r.nextInt(6) match {
        case 0 => r.alphanumeric.take(r.nextInt(8)).mkString // < 8 chars
        case 1 => ""
        case _ => Seq.fill(r.nextInt(30))(vocab(r.nextInt(vocab.size)))
          .mkString(" ")
      }
      id -> (if (nullIds(id)) null else text)
    }
  }

  /** The explode/join/agg form x8 planned before the fold. */
  private def exploded(df: DataFrame): DataFrame = {
    val hs = df.select(col("doc_id"),
      graft.functions.ShingleHashes(col("text")).as("hs"))
    val bench = hs.where(TextQueries.isBenchDoc)
      .select(explode_outer(col("hs")).as("h"))
      .where(col("h").isNotNull).distinct()
    hs.where(!TextQueries.isBenchDoc)
      .select(col("doc_id"), size(col("hs")).as("n_shingles"),
        explode_outer(col("hs")).as("h"))
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
      .groupBy("doc_id", "n_shingles")
      .agg(count(col("hit")).as("n_overlap"))
  }

  test("the map-only overlap fold equals the explode/join/agg form") {
    val base = docs.toDF("doc_id", "text")
    val bench = TextQueries.benchShingles(base)
    assert(bench.nonEmpty && bench.sameElements(bench.distinct.sorted))
    val want = exploded(base)
      .where(!col("doc_id").isin(nullIds.toSeq: _*))
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(want.count(_._3 > 0) > 50, "the sample must overlap the set")
    assert(want.exists(_._2 == 1), "the sample must hold sub-8-char texts")
    // interpreted (local relation) and generated code (above an exchange)
    for (df <- Seq(base, base.repartition(3))) {
      val ov = df.where(!TextQueries.isBenchDoc)
        .select(col("doc_id"), TextQueries.shingleOverlap(bench).as("ov"))
      val got = ov.where(col("ov").isNotNull)
        .select(col("doc_id"), col("ov.n_shingles"), col("ov.n_overlap"))
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
      assert(got == want)
      assert(ov.where(col("ov").isNull).select("doc_id").as[Long]
        .collect().toSet == nullIds - 97L)
    }
  }
}
