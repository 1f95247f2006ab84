package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Randomized parity: for arbitrary commit sequences (upserts and
  * deletes over a small key domain, so collisions/updates/carried
  * rows all occur constantly), the partition-reader diff must
  * produce row-for-row the test oracle's output
  * ([[ChangeFeedOracle.readTableChanges]]) for EVERY version range,
  * through both addressing faces: the `.changes` sub-table by name and
  * `format("graft")` by path. Seeded RNG: failures reproduce.
  */
class ChangesDiffPropertySpec extends AnyFunSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_prop_wh").toString
  spark.conf.set("spark.sql.catalog.gpp", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gpp.warehouse", wh)

  /** Sorted MULTISET, not a Set: a reader that double-emitted a row
    * (a file planned into two partitions, say) must fail the parity,
    * not vanish into set collapse.
    */
  private def asRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String, String, Long)] =
    df.select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sorted

  test("v2 diff == v1 feed for every version range of a random " +
    "commit history") {
    val rng = new scala.util.Random(20260814L)
    spark.sql("CREATE TABLE gpp.default.p (k BIGINT, v STRING) " +
      "USING graft TBLPROPERTIES ('key'='k', 'nbuckets'='4')")
    val dir = s"$wh/default/p"
    // 6 random commits over a 12-key domain: every commit updates
    // some existing keys, inserts some new, and sometimes deletes
    (1 to 6).foreach { i =>
      if (i % 3 == 0) {
        val dels = (0 until 12).filter(_ => rng.nextBoolean()).map(_.toLong)
        if (dels.nonEmpty)
          PoolJsonSink.deletePartitioned(spark, dir,
            dels.toDF("k"), col("k"), nBuckets = 4)
        else
          PoolJsonSink.upsertPartitioned(spark, dir,
            Seq((99L, s"c$i")).toDF("k", "v"), col("k"), nBuckets = 4)
      } else {
        val ups = (0 until 12).filter(_ => rng.nextInt(3) == 0)
          .map(k => (k.toLong, s"c$i-${rng.nextInt(100)}"))
        PoolJsonSink.upsertPartitioned(spark, dir,
          (if (ups.isEmpty) Seq((1L, s"c$i")) else ups).toDF("k", "v"),
          col("k"), nBuckets = 4)
      }
    }
    val head = PoolJsonSink.readManifest(dir).get.version
    // every (from, to] range, both faces, row-for-row
    for (from <- 0L until head; to <- (from + 1) to head) {
      val v1 = ChangeFeedOracle.readTableChanges(spark, dir, from, to, col("k"))
      val byName = spark.read
        .option("startingVersion", from.toString)
        .option("endingVersion", to.toString)
        .table("gpp.default.p.changes")
      val byPath = spark.read.format("graft")
        .option("changesFrom", from.toString)
        .option("changesTo", to.toString)
        .option("changeKey", "k")
        .load(dir)
      val s1 = asRows(v1)
      Seq("name" -> byName, "path" -> byPath).foreach { case (face, v2) =>
        val s2 = asRows(v2)
        assert(s1 == s2,
          s"$face face, range ($from, $to]: v1 minus v2 = ${s1.diff(s2)}, " +
            s"v2 minus v1 = ${s2.diff(s1)}")
      }
    }
  }
}
