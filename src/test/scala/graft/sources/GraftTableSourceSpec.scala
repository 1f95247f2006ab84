package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** The `format("graft")` source must give SQL exactly the committed
  * view of a manifest table — never staged/uncommitted files, with
  * time travel and zone-map pruning riding along.
  */
class GraftTableSourceSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_src")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 20).map(i => (s"key$i", i.toLong)).toDF("k", "v"),
      col("k"), nBuckets = 4)
    dir
  }

  test("plain SQL over the source sees only committed state, " +
      "including mid-upsert") {
    val dir = freshTable()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_tv " +
      s"USING graft OPTIONS (path '$dir')")
    assert(spark.sql("SELECT count(*) AS n FROM graft_tv")
      .head.getLong(0) == 20)
    // a writer has STAGED its files but not committed: SQL must still
    // see v1 (a raw dir read would pick up the staged torn state)
    var midUpsertCount = -1L
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key_new", 99L)).toDF("k", "v"), col("k"), nBuckets = 4,
      onBeforeCommit = () => {
        midUpsertCount = spark.sql("SELECT count(*) FROM graft_tv")
          .head.getLong(0)
      })
    assert(midUpsertCount == 20,
      s"mid-upsert SQL read saw torn state: $midUpsertCount rows")
    // after the commit the SAME view resolves the new version
    assert(spark.sql("SELECT count(*) FROM graft_tv")
      .head.getLong(0) == 21)
    assert(spark.sql(
      "SELECT v FROM graft_tv WHERE k = 'key_new'").head.getLong(0) == 99)
  }

  test("versionAsOf option time-travels; DataFrame API resolves current") {
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key1", 100L)).toDF("k", "v"), col("k"), nBuckets = 4)
    val cur = spark.read.format("graft").load(dir)
    assert(cur.where(col("k") === "key1").head.getAs[Long]("v") == 100L)
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(dir)
    assert(v1.where(col("k") === "key1").head.getAs[Long]("v") == 1L)
    assert(v1.count() == 20 && cur.count() == 20)
  }

  test("pushed filters prune through the manifest zone maps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_zm")
      .resolve("table").toString
    val rows = (for {
      src <- Seq("arxiv", "github", "wiki"); i <- 0 until 50
    } yield (s"${src}_doc$i", src, (i + (src.hashCode.abs % 7) * 100).toLong))
      .toDF("k", "source", "seq")
      .repartition(3, col("source"))
    PoolJsonSink.upsertPartitioned(spark, dir, rows, col("k"),
      nBuckets = 4, statsCols = Seq("source"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_zm " +
      s"USING graft OPTIONS (path '$dir')")
    val got = spark.sql(
      "SELECT k FROM graft_zm WHERE source = 'github' ORDER BY k")
      .as[String].collect()
    assert(got.length == 50 && got.forall(_.startsWith("github_")))
    // a value outside every zone map returns empty (and opened nothing)
    assert(spark.sql(
      "SELECT count(*) FROM graft_zm WHERE source = 'zzz'")
      .head.getLong(0) == 0)
  }

  test("SQL point lookup on a bloom-indexed column prunes through " +
    "the sidecars where zone maps are blind") {
    def digest(i: Int): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"row$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val dir = java.nio.file.Files.createTempDirectory("graft_src_bloom")
      .resolve("table").toString
    // 3 commits of uniform digests: zone maps can't separate them
    (0 until 3).foreach { b =>
      (b * 100 until (b + 1) * 100).map(i => (digest(i), i.toLong))
        .toDF("k", "v")
        .write.format("graft").mode(SaveMode.Append)
        .option("key", "k").option("nBuckets", "2")
        .option("bloomCols", "k").save(dir)
    }
    val m = PoolJsonSink.readManifest(dir).get
    assert(m.bloomCols == Seq("k"))
    // the pruning the SQL path rides: bloom keeps ~1 file where the
    // byte-range candidates are (nearly) everything
    val probe = digest(57)
    val zoned = PoolJsonSink.pruneFilesBinaryEq(m, "k",
      probe.getBytes("UTF-8"))
    val bloomed = PoolJsonSink.pruneFilesBloomEq(dir, m, "k", probe)
    assert(bloomed.size < zoned.size && bloomed.size <= 2)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_bloom " +
      s"USING graft OPTIONS (path '$dir')")
    assert(spark.sql(
      s"SELECT v FROM graft_bloom WHERE k = '$probe'")
      .head.getLong(0) == 57L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_bloom WHERE k = '${digest(9999)}'")
      .head.getLong(0) == 0L)
  }

  test("every format(\"graft\") read plans a DSv2 scan, never a V1 " +
      "relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val dir = freshTable()
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key1", 100L)).toDF("k", "v"), col("k"), nBuckets = 4)
    Seq(("key1", 7L)).toDF("k", "v").write.format("graft")
      .mode(SaveMode.Append).option("key", "k").option("branch", "side")
      .save(dir)
    def v1Nodes(p: LogicalPlan) = p.collect {
      case r: LogicalRelation => r
      case r: StreamingRelation => r
    }
    val reads = Seq(
      "batch" -> Map.empty[String, String],
      "versionAsOf" -> Map("versionAsOf" -> "1"),
      "branch" -> Map("branch" -> "side"),
      "history" -> Map("history" -> "true"),
      "changesFrom" -> Map("changesFrom" -> "1"))
    reads.foreach { case (face, opts) =>
      val qe = spark.read.format("graft").options(opts).load(dir)
        .queryExecution
      assert(qe.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r
      }.nonEmpty, s"$face: no DSv2 scan in\n${qe.optimizedPlan}")
      assert(v1Nodes(qe.optimizedPlan).isEmpty, s"$face: V1 relation")
    }
    val plain = spark.read.format("graft").load(dir).where(col("v") > 3)
    assert(plain.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.size == 1)
    assert(plain.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.DataSourceScanExec => s
    }.isEmpty)
    val stream = spark.readStream.format("graft")
      .option("changeKey", "k").load(dir)
    assert(stream.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 => r
    }.nonEmpty)
    assert(v1Nodes(stream.queryExecution.analyzed).isEmpty)
  }

  test("a WHERE on a zone-mapped column plans fewer files than the " +
      "table holds") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_src_files")
      .resolve("table").toString
    // three commits with disjoint seq ranges, each kept in its own
    // files (no optimized write), so the zone maps separate them
    (0 until 3).foreach { c =>
      PoolJsonSink.upsertPartitioned(spark, dir,
        (c * 100 until (c + 1) * 100).map(i => (s"k$i", i.toLong))
          .toDF("k", "seq"),
        col("k"), nBuckets = 2, statsCols = Seq("seq"),
        optimizedWrite = false)
    }
    val total = PoolJsonSink.readManifest(dir).get.files.size
    val df = spark.read.format("graft").load(dir)
      .where(col("seq").between(10, 40))
    val planned = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions
        .map(_.asInstanceOf[GraftBucketPartition].files.size).sum
    }.sum
    assert(planned > 0 && planned < total,
      s"planned $planned of $total files")
    assert(df.count() == 31)
  }

  test("versionAsOf takes a tag name") {
    val dir = freshTable()
    PoolJsonSink.setTag(dir, "before", 1L)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key1", 100L)).toDF("k", "v"), col("k"), nBuckets = 4)
    val tagged = spark.read.format("graft")
      .option("versionAsOf", "before").load(dir)
    assert(tagged.where(col("k") === "key1").head.getAs[Long]("v") == 1L)
    assert(spark.read.format("graft").load(dir)
      .where(col("k") === "key1").head.getAs[Long]("v") == 100L)
  }

  test("readStream without changeKey fails and names changeKey") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshTable()
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("memory").queryName("graft_keyless_stream")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("changeKey"), messages)
  }
}
