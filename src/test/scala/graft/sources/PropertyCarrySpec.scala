package graft.sources

import org.apache.spark.sql.functions.{col, countDistinct, first, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Every commit that adds data files carries the table's declared
  * properties forward. One table declares key, nbuckets, statscols,
  * bloomcols, splitcol, a dropped column, a CHECK constraint and
  * forklayer; each file-adding write then runs once, and after each
  * the manifest's header lines (op timestamp aside) and its
  * bucket -> file counts are exactly the recorded ones, every live
  * file carries `__rows`/`__bytes` and one bloom sidecar per bloom
  * column, and no stats entry names a dead file.
  */
class PropertyCarrySpec extends AnyFunSuite {

  private val wh = java.nio.file.Files
    .createTempDirectory("gcarry_wh").toString
  spark.conf.set("spark.sql.catalog.gcarry", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gcarry.warehouse", wh)

  private def dir = s"$wh/default/t"

  /** Header lines of the current manifest, the op's epoch dropped. */
  private def header(): Seq[String] = {
    val v = PoolJsonSink.listVersions(dir).last
    val f = new java.io.File(dir, f"${PoolJsonSink.ManifestName}.v$v%020d")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      .filterNot(l => l.nonEmpty && l.head.isDigit)
      .map(l => if (l.startsWith("op ")) l.split(' ').take(2).mkString(" ") else l)
  }

  /** The recorded schema line: the table's columns with the given
    * nullability (top-level columns, `meta`, `meta`'s fields, `__pt`).
    */
  private def schema(top: Boolean, meta: Boolean, inner: Boolean,
      pt: Boolean): String = {
    import org.apache.spark.sql.types._
    val m = StructType(Seq(StructField("a", LongType, inner),
      StructField("b", StringType, inner)))
    "schema " + StructType(Seq(StructField("k", LongType, top),
      StructField("v", LongType, top), StructField("s", StringType, top),
      StructField("grp", StringType, top), StructField("meta", m, meta),
      StructField("__pt", LongType, pt))).json
  }
  private val merged = schema(top = true, meta = true, inner = true, pt = true)
  private val rowLevel = schema(top = true, meta = true, inner = true, pt = false)

  private def rows(from: Int, until: Int, v: String = "id") = spark.sql(
    s"SELECT id AS k, $v AS v, concat('s', id) AS s, " +
      "IF(id % 2 = 0, 'even', 'odd') AS grp, " +
      "IF(id % 7 = 3, NULL, named_struct('a', id, 'b', concat('b', id))) AS meta " +
      s"FROM range($from, $until)")

  /** After `op` committed version `v`: the header lines, the number of
    * files per bucket (`perBucket` files in each of `nBuckets` buckets,
    * `extra` adding to some), each live file's stats keys (the stats
    * columns and the split column), its value purity in the split
    * column, its bloom sidecars, and no stats for a dead file.
    */
  private def check(v: Long, op: String, nBuckets: Int, schemaLine: String,
      perBucket: Int, extra: Map[Long, Int] = Map.empty,
      statsCols: Seq[String] = Seq("v", "s")): Unit = withClue(s"$op (v$v): ") {
    assert(header() == Seq(s"graft-manifest 1 $v", s"nbuckets $nBuckets",
      "keycol k", "bloomcols s", s"statscols ${statsCols.mkString(",")}",
      "splitcol grp", "droppedcols note", "check pos v >= 0",
      "forklayer ref", s"op $op", schemaLine))
    val m = PoolJsonSink.readManifest(dir).get
    assert(m.buckets.view.mapValues(_.size).toMap ==
      (0L until nBuckets).map(b => b -> (perBucket + extra.getOrElse(b, 0))).toMap)
    val keys = Set(PoolJsonSink.RowsStatCol, PoolJsonSink.BytesStatCol) ++
      (statsCols :+ "grp").flatMap(c =>
        Seq(c, s"${PoolJsonSink.NullsStatColPrefix}$c"))
    m.files.foreach { f =>
      assert(m.stats.get(f).map(_.keySet).contains(keys), s"stats of $f")
      m.stats(f)("grp") match {
        case PoolJsonSink.BinStat(mn, mx) =>
          assert(mn.sameElements(mx), s"$f mixes split values")
        case other => fail(s"grp stats of $f: $other")
      }
      assert(new java.io.File(dir, s"$f.bloom-s").isFile, s"no bloom sidecar for $f")
    }
    assert(m.stats.keySet == m.files.toSet, "stats name a dead file")
  }

  test("every file-adding commit carries the declared properties forward") {
    spark.sql("CREATE TABLE gcarry.default.t (k BIGINT, v BIGINT, s STRING, " +
      "grp STRING, note STRING, meta STRUCT<a: BIGINT, b: STRING>) USING graft " +
      "TBLPROPERTIES ('key'='k', 'nbuckets'='4', 'statscols'='v,s', " +
      "'bloomcols'='s', 'splitcol'='grp', 'check.pos'='v >= 0', " +
      "'forklayer'='ref')")
    spark.sql("INSERT INTO gcarry.default.t SELECT id, id, concat('s', id), " +
      "IF(id % 2 = 0, 'even', 'odd'), 'n', " +
      "IF(id % 7 = 3, NULL, named_struct('a', id, 'b', concat('b', id))) " +
      "FROM range(0, 40)")
    spark.sql("ALTER TABLE gcarry.default.t DROP COLUMN note")

    PoolJsonSink.upsertPartitioned(spark, dir, rows(30, 50), col("k"))
    check(5, "UPSERT", 4, merged, 2)
    PoolJsonSink.overwritePartitioned(spark, dir, rows(0, 48), col("k"))
    check(6, "OVERWRITE", 4,
      schema(top = false, meta = true, inner = false, pt = true), 2)
    PoolJsonSink.mergeDelta(spark, dir, rows(40, 56, "1"), col("k")) { d =>
      d.groupBy("k").agg(max("v").as("v"), first("s").as("s"),
        first("grp").as("grp"), first("meta").as("meta"))
    }
    check(7, "MERGE", 4, merged, 2)
    PoolJsonSink.deletePartitioned(spark, dir,
      spark.range(0, 6).toDF("k"), col("k"))
    check(8, "DELETE", 4, merged, 2)
    PoolJsonSink.splitBuckets(spark, dir, col("k"))
    check(9, "SPLITBUCKETS", 8, merged, 2)
    PoolJsonSink.compactPartitions(spark, dir, maxFilesPerPartition = 0)
    check(10, "OPTIMIZE", 8, merged, 2)
    spark.sql("UPDATE gcarry.default.t SET v = v + 1 WHERE k < 20")
    check(11, "UPDATE", 8, rowLevel, 2)
    spark.sql("""MERGE INTO gcarry.default.t t
      |USING (SELECT id AS k, id * 3 AS v FROM range(50, 60)) u
      |ON t.k = u.k
      |WHEN MATCHED THEN UPDATE SET v = u.v
      |WHEN NOT MATCHED THEN INSERT (k, v, s, grp, meta)
      |  VALUES (u.k, u.v, concat('s', u.k), 'odd',
      |    named_struct('a', u.k, 'b', 'm'))""".stripMargin)
    check(12, "MERGE", 8, rowLevel, 2, extra = Map(4L -> 1))
    spark.sql("REPLACE TABLE gcarry.default.t " +
      "TBLPROPERTIES ('key'='k', 'statscols'='v') AS " +
      "SELECT id AS k, id AS v, concat('s', id) AS s, " +
      "IF(id % 2 = 0, 'even', 'odd') AS grp, " +
      "named_struct('a', id, 'b', 'r') AS meta FROM range(0, 30)")
    // one value-pure file per (bucket, grp value) the rows fill
    val valuesPerBucket = PoolJsonSink.readTable(spark, dir)
      .groupBy("__pt").agg(countDistinct("grp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    check(13, "REPLACE", 8,
      schema(top = false, meta = false, inner = false, pt = true), 0,
      extra = valuesPerBucket, statsCols = Seq("v"))
  }
}
