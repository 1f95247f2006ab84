package graft.pol

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.QueryHarness.spark

/** S6's scale path: upsertPartitioned must behave like a keyed MERGE
  * (incoming keys replace, everything else survives), touch only the
  * buckets its keys hash into, and commit ATOMICALLY — a writer that
  * dies after staging data files but before the manifest rename must
  * leave readers on the previous version, never a torn mix of old and
  * new buckets. Data files are append-only (immutable once named), so
  * "untouched bucket never rewritten" is provable from the manifest:
  * its file list for that bucket is unchanged and the files still
  * exist with their original bytes.
  */
class PartitionedUpsertSpec extends AnyFunSuite {

  private def manifest(dir: String): PoolJsonSink.TableManifest =
    PoolJsonSink.readManifest(dir).get

  /** (size, mtime) fingerprint of every referenced data file. */
  private def fingerprint(dir: String): Map[String, (Long, Long)] =
    manifest(dir).files.map { rel =>
      val f = new File(dir, rel)
      rel -> ((f.length(), f.lastModified()))
    }.toMap

  test("upsert rewrites only touched buckets, merges by key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert")
      .resolve("table").toString
    val base = (0 until 100).map(i => (s"key$i", s"v0_$i"))
      .toDF("k", "payload")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 8)
    val before = manifest(dir)
    val beforeFp = fingerprint(dir)
    assert(before.buckets.nonEmpty)

    // update 2 keys, insert 1 new — at most 3 of 8 buckets touched
    val batch = Seq(("key3", "v1_3"), ("key42", "v1_42"), ("key_new", "v1_new"))
      .toDF("k", "payload")
    val touched = PoolJsonSink.upsertPartitioned(
      spark, dir, batch, col("k"), nBuckets = 8)
    assert(touched.nonEmpty && touched.size <= 3)

    val after = manifest(dir)
    assert(after.version == before.version + 1)
    // untouched buckets: identical manifest entries, files intact
    (before.buckets.keySet -- touched).foreach { b =>
      assert(after.buckets(b) == before.buckets(b),
        s"untouched bucket $b was rewritten")
      after.buckets(b).foreach { rel =>
        val f = new File(dir, rel)
        assert(f.exists() &&
          (f.length(), f.lastModified()) == beforeFp(rel),
          s"untouched file $rel modified")
      }
    }
    // touched buckets: fresh files referenced
    touched.filter(before.buckets.contains).foreach { b =>
      assert(after.buckets(b) != before.buckets(b),
        s"touched bucket $b kept stale files")
    }

    // MERGE semantics: 101 keys, updates visible, the rest intact
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got.size == 101)
    assert(got("key3") == "v1_3" && got("key42") == "v1_42")
    assert(got("key_new") == "v1_new")
    assert(got("key7") == "v0_7")
  }

  test("crash between bucket writes and commit leaves old table readable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crash")
      .resolve("table").toString
    val base = (0 until 50).map(i => (s"key$i", s"v0_$i")).toDF("k", "payload")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 8)
    val v1 = manifest(dir)
    val v1Fp = fingerprint(dir)

    // the writer dies after ALL new bucket files are staged, one
    // instruction before the manifest rename — the worst case for a
    // non-atomic commit (dynamic partition overwrite would have
    // already replaced some directories by now)
    val batch = (0 until 50 by 5).map(i => (s"key$i", s"CRASH_$i"))
      .toDF("k", "payload")
    intercept[RuntimeException] {
      PoolJsonSink.upsertPartitioned(spark, dir, batch, col("k"),
        nBuckets = 8, onBeforeCommit =
          () => throw new RuntimeException("killed mid-commit"))
    }

    // readers still see version 1, complete and unmodified
    assert(manifest(dir).version == v1.version)
    assert(manifest(dir).buckets == v1.buckets)
    assert(fingerprint(dir) == v1Fp)
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got.size == 50)
    assert(got.values.forall(_.startsWith("v0_")), "torn write visible")

    // the crash's orphaned files are invisible but on disk; vacuum
    // reclaims them, and a retry of the same batch then succeeds
    assert(PoolJsonSink.vacuum(dir) > 0)
    assert(fingerprint(dir) == v1Fp)
    PoolJsonSink.upsertPartitioned(spark, dir, batch, col("k"), nBuckets = 8)
    val retried = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(retried("key5") == "CRASH_5" && retried("key6") == "v0_6")
    assert(PoolJsonSink.vacuum(dir) > 0) // replaced v1 files reclaimed
    assert(PoolJsonSink.readTable(spark, dir).count() == 50)
  }

  test("a lost-update race is detected at commit time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_race")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 20).map(i => (s"key$i", "v0")).toDF("k", "payload"),
      col("k"), nBuckets = 8)
    // writer A stages its files; writer B lands a full commit in the
    // window before A's manifest rename — A must NOT clobber it
    val e = intercept[java.util.ConcurrentModificationException] {
      PoolJsonSink.upsertPartitioned(spark, dir,
        Seq(("key1", "A")).toDF("k", "payload"), col("k"), nBuckets = 8,
        onBeforeCommit = () =>
          PoolJsonSink.upsertPartitioned(spark, dir,
            Seq(("key2", "B")).toDF("k", "payload"), col("k"),
            nBuckets = 8))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // B's commit survives; A's update never became visible
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got("key2") == "B" && got("key1") == "v0")
    // A's staged files are invisible orphans, reclaimed by vacuum
    assert(PoolJsonSink.vacuum(dir) > 0)
    assert(PoolJsonSink.readTable(spark, dir).count() == 20)
  }

  test("compaction squashes only fat buckets, preserves content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .resolve("table").toString
    val base = (0 until 60).map(i => (s"key$i", s"v0_$i")).toDF("k", "payload")
      .coalesce(1)
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 4)
    // fatten ONE bucket: a wide-parallelism upsert writes one file per
    // task per touched bucket (at cluster scale: hundreds of files
    // per bucket per MERGE batch — exactly the small-files problem)
    val hot = base
      .where(pmod(xxhash64(col("k")), lit(4L)) === 1)
      .withColumn("payload", concat(col("payload"), lit("_u")))
    // optimizedWrite = false simulates a non-optimized writer (the
    // per-task file explosion the optimized default exists to avoid)
    val touched = PoolJsonSink.upsertPartitioned(spark, dir,
      hot.repartition(12), col("k"), nBuckets = 4,
      optimizedWrite = false)
    assert(touched == Seq(1L))
    val before = manifest(dir)
    val beforeFp = fingerprint(dir)
    assert(before.buckets(1L).size > 4,
      "setup: hot bucket must have accumulated small files")

    val compacted = PoolJsonSink.compactPartitions(spark, dir,
      maxFilesPerPartition = 4)
    assert(compacted == Seq(1L))
    val after = manifest(dir)
    // fat bucket: down to one file; all others: untouched on disk
    assert(after.buckets(1L).size == 1)
    (before.buckets.keySet - 1L).foreach { b =>
      assert(after.buckets(b) == before.buckets(b),
        s"cold bucket $b was rewritten")
      after.buckets(b).foreach { rel =>
        val f = new File(dir, rel)
        assert((f.length(), f.lastModified()) == beforeFp(rel))
      }
    }
    // content identical: 60 keys, hot-bucket keys at their new values
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    val hotKeys = hot.select("k").as[String].collect().toSet
    assert(got.size == 60)
    hotKeys.foreach(k => assert(got(k).endsWith("_u"), s"$k not updated"))
    (got.keySet -- hotKeys).foreach(k => assert(!got(k).endsWith("_u")))
    // and a second compaction is a no-op
    assert(PoolJsonSink.compactPartitions(spark, dir, 4).isEmpty)
  }

  test("upsert of an already-present identical key is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert2")
      .resolve("table").toString
    val base = (0 until 10).map(i => (s"key$i", i.toLong)).toDF("k", "v")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 4)
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key1", 1L)).toDF("k", "v"), col("k"), nBuckets = 4)
    val got = PoolJsonSink.readTable(spark, dir).select("k", "v")
      .as[(String, Long)].collect().toMap
    assert(got.size == 10 && got("key1") == 1L)
  }

  test("withCommitRetry lands both racing writers' updates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_retry")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 20).map(i => (s"key$i", "v0")).toDF("k", "payload"),
      col("k"), nBuckets = 8)
    // first attempt loses the race (B commits in A's staging window);
    // the retry recomputes against B's version and must succeed
    var attempts = 0
    PoolJsonSink.withCommitRetry() { () =>
      attempts += 1
      PoolJsonSink.upsertPartitioned(spark, dir,
        Seq(("key1", "A")).toDF("k", "payload"), col("k"), nBuckets = 8,
        onBeforeCommit = () =>
          if (attempts == 1)
            PoolJsonSink.upsertPartitioned(spark, dir,
              Seq(("key2", "B")).toDF("k", "payload"), col("k"),
              nBuckets = 8))
    }
    assert(attempts == 2)
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got("key1") == "A" && got("key2") == "B" && got.size == 20)
  }

  test("OPTIMIZE racing a merge: compaction retries against the " +
    "winner and the merge's rows survive the relayout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_opt_race")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 40).map(i => (s"key$i", i.toLong)).toDF("k", "v"),
      col("k"), nBuckets = 4)
    // a merge lands in compaction's staging window: the stale
    // relayout must CAS-fail, re-read, and recompact the winner's
    // state — never resurrect pre-merge rows
    var raced = false
    PoolJsonSink.compactPartitions(spark, dir, clusterBy = Seq("v"),
      onBeforeCommit = () =>
        if (!raced) {
          raced = true
          PoolJsonSink.upsertPartitioned(spark, dir,
            Seq(("key7", 777L), ("key_mid", 1000L)).toDF("k", "v"),
            col("k"))
          ()
        })
    assert(raced)
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got("key7") == 777L && got("key_mid") == 1000L &&
      got.size == 41)
    // the surviving commit line: UPSERT, UPSERT(race), OPTIMIZE
    val ops = PoolJsonSink.tableHistory(spark, dir).orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("UPSERT", "UPSERT", "OPTIMIZE"))
  }

  test("delete removes keys, leaves untouched buckets byte-identical, " +
      "keeps history readable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delete")
      .resolve("table").toString
    val base = (0 until 100).map(i => (s"key$i", s"v0_$i"))
      .toDF("k", "payload")
    PoolJsonSink.upsertPartitioned(spark, dir, base, col("k"), nBuckets = 8)
    val v1 = manifest(dir)
    val v1Fp = fingerprint(dir)

    // WHEN MATCHED DELETE: 3 doomed keys → at most 3 of 8 buckets
    val doomed = Seq("key3", "key42", "key77").toDF("k")
    val touched = PoolJsonSink.deletePartitioned(
      spark, dir, doomed, col("k"), nBuckets = 8)
    assert(touched.nonEmpty && touched.size <= 3)
    val v2 = manifest(dir)
    assert(v2.version == v1.version + 1)
    // untouched buckets: identical manifest entries, files intact
    (v1.buckets.keySet -- touched).foreach { b =>
      assert(v2.buckets(b) == v1.buckets(b),
        s"untouched bucket $b was rewritten by a delete")
      v2.buckets(b).foreach { rel =>
        val f = new File(dir, rel)
        assert((f.length(), f.lastModified()) == v1Fp(rel),
          s"untouched file $rel modified")
      }
    }
    // deleted keys gone, everything else intact
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(got.size == 97)
    assert(!got.contains("key3") && !got.contains("key42") &&
      !got.contains("key77"))
    assert(got("key7") == "v0_7")
    // time travel: the pre-delete version still shows them — deletion
    // is a new version, not destruction of history
    val asOf = PoolJsonSink.readTableAsOf(spark, dir, v1.version)
      .select("k", "payload").as[(String, String)].collect().toMap
    assert(asOf.size == 100 && asOf("key3") == "v0_3")
    // deleting a key absent from the table is a clean no-op
    assert(PoolJsonSink.deletePartitioned(spark, dir,
      Seq("never_there").toDF("k"), col("k"), nBuckets = 8).size <= 1)
    assert(PoolJsonSink.readTable(spark, dir).count() == 97)
  }

  test("deleting every row leaves an empty but readable table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delete_all")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 10).map(i => (s"key$i", i.toLong)).toDF("k", "v"),
      col("k"), nBuckets = 4)
    PoolJsonSink.deletePartitioned(spark, dir,
      (0 until 10).map(i => s"key$i").toDF("k"), col("k"), nBuckets = 4)
    // schema survives in the manifest: the empty table still reads
    // with its columns (the reported empty-v1 NoSuchElementException
    // failure mode), and the hard-purge composes with vacuum
    val df = PoolJsonSink.readTable(spark, dir)
    assert(df.count() == 0)
    assert(df.columns.toSet == Set("k", "v", "__pt"))
    assert(PoolJsonSink.vacuum(dir) > 0) // pre-delete files reclaimed
    assert(PoolJsonSink.readTable(spark, dir).count() == 0)
    // and an upsert into the emptied table starts a fresh history
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key_new", 99L)).toDF("k", "v"), col("k"), nBuckets = 4)
    assert(PoolJsonSink.readTable(spark, dir).count() == 1)
  }

  test("mergeDelta commits against the snapshot its combine read " +
      "(no silent lost update)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mergedelta_race")
      .resolve("table").toString
    def merge(k: String, n: Long, onRead: () => Unit = () => ()): Unit =
      PoolJsonSink.mergeDelta(spark, dir,
        Seq((k, n)).toDF("k", "n"), col("k"), nBuckets = 4) { df =>
          onRead()
          df.groupBy("k").agg(sum(col("n")).as("n"))
        }
    merge("key1", 1L)
    // writer B lands a full merge for key1 INSIDE writer A's
    // read-combine-commit window: A's combine was computed from the
    // pre-B snapshot, so A committing would silently drop B's +10.
    // The snapshot-threaded commit must fail the CAS instead...
    val e = intercept[java.util.ConcurrentModificationException] {
      var fired = false
      merge("key1", 100L, onRead = () => {
        if (!fired) { fired = true; merge("key1", 10L) }
      })
    }
    assert(e.getMessage.contains("concurrent writer"))
    // ...leaving B's update intact (1 + 10), A's never visible
    val afterRace = PoolJsonSink.readTable(spark, dir)
      .select("k", "n").as[(String, Long)].collect().toMap
    assert(afterRace("key1") == 11L, s"lost update: $afterRace")
    // and the standard retry loop recomputes A against B's version:
    // BOTH updates land — the withCommitRetry doc contract
    var attempts = 0
    PoolJsonSink.withCommitRetry() { () =>
      attempts += 1
      merge("key1", 100L, onRead = () => {
        if (attempts == 1) merge("key1", 1000L)
      })
    }
    val finalGot = PoolJsonSink.readTable(spark, dir)
      .select("k", "n").as[(String, Long)].collect().toMap
    assert(attempts == 2 && finalGot("key1") == 1111L,
      s"retry must recompute the combine: $finalGot")
  }

  test("true concurrent mergers all land through the CAS retry loop") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_mt_race")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("hot", 0L)).toDF("k", "n"), col("k"), nBuckets = 2)
    // 2 OS threads × 3 merges each, ALL incrementing the same hot key
    // concurrently — every CAS loser must recompute via the retry
    // loop, and no increment may be lost (sum is the serial total)
    val writers = Seq(1L, 10L).map { inc =>
      Future {
        (0 until 3).foreach { _ =>
          PoolJsonSink.withCommitRetry(maxRetries = 30) { () =>
            PoolJsonSink.mergeDelta(spark, dir,
              Seq(("hot", inc)).toDF("k", "n"), col("k"), nBuckets = 2)(
              _.groupBy("k").agg(sum(col("n")).as("n")))
          }
        }
      }
    }
    Await.result(Future.sequence(writers), 5.minutes)
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "n").as[(String, Long)].collect().toMap
    assert(got == Map("hot" -> 33L), s"lost increments: $got")
    // version count = 1 base + exactly 6 successful commits
    assert(PoolJsonSink.readManifest(dir).get.version == 7L)
  }

  test("additive schema evolution: new column null-fills old rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      (0 until 20).map(i => (s"key$i", s"p$i")).toDF("k", "payload"),
      col("k"), nBuckets = 4)
    // the evolved batch carries a column the stored rows lack
    PoolJsonSink.upsertPartitioned(spark, dir,
      Seq(("key1", "p1x", "en"), ("key99", "new", "fr"))
        .toDF("k", "payload", "lang"),
      col("k"), nBuckets = 4)
    val got = PoolJsonSink.readTable(spark, dir)
      .select("k", "payload", "lang")
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        Option(r.getString(2))))).toMap
    assert(got.size == 21)
    assert(got("key1") == (("p1x", Some("en"))))
    assert(got("key99") == (("new", Some("fr"))))
    // untouched old rows read back with the new column null
    assert(got("key5") == (("p5", None)))
    // buckets not touched by the evolved batch were NOT rewritten:
    // their files still lack the column on disk (mergeSchema fills it
    // at read), proving evolution did not force a table rewrite
    val m = PoolJsonSink.readManifest(dir).get
    val perFileCols = m.files.map { rel =>
      spark.read.parquet(s"$dir/$rel").columns.toSet
    }
    assert(perFileCols.exists(!_.contains("lang")),
      "expected at least one pre-evolution file without the new column")
  }

  /** A 1,000-row table (`k` = 0..999, `v` = "old") in 16 buckets, so
    * every bucket holds stored rows.
    */
  private def thousandRowTable(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name)
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir,
      spark.range(1000).select(col("id").as("k"), lit("old").as("v")),
      col("k"), nBuckets = 16)
    assert(manifest(dir).buckets.size == 16)
    dir
  }

  /** Upserts 3 new rows keyed by `key(id)` and checks that all 1,000
    * stored rows and the 3 new ones are in the table.
    */
  private def upsertKeepsStoredRows(name: String,
      key: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Unit = {
    val dir = thousandRowTable(name)
    PoolJsonSink.upsertPartitioned(spark, dir,
      spark.range(3).select(key(col("id")).as("k"), lit("new").as("v")),
      col("k"), nBuckets = 16)
    val got = PoolJsonSink.readTable(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val lost = (0L until 1000L).toSet -- got.filter(_._2 == "old").keySet
    assert(lost.size == 0, "stored rows lost")
    assert(got.size == 1003 && got.count(_._2 == "new") == 3)
  }

  test("a MERGE keyed on current_timestamp() keeps every stored row") {
    upsertKeepsStoredRows("graft_upsert_now",
      id => unix_micros(current_timestamp()) + id)
  }

  test("a MERGE keyed on a nondeterministic UDF keeps every stored row") {
    // a distinct key per row, never in 0..999, different per evaluation
    val fresh = udf((id: Long) => (id + 1) * 1000000000L +
        java.util.concurrent.ThreadLocalRandom.current().nextInt(1000000000))
      .asNondeterministic()
    upsertKeepsStoredRows("graft_upsert_udf", id => fresh(id))
  }

  test("a commit that staged files for a stored bucket it did not read " +
      "fails before the manifest rename") {
    val dir = thousandRowTable("graft_unread_bucket")
    val before = manifest(dir)
    // a combine that moves the delta's one key (bucket of 5) to keys
    // 1005..1024: those land in stored buckets the merge never read,
    // and committing them would replace those buckets' 1,000-row
    // share with the moved rows alone
    val e = intercept[IllegalStateException] {
      PoolJsonSink.mergeDelta(spark, dir,
        spark.range(5, 6).select(col("id").as("k"), lit("new").as("v")),
        col("k"), nBuckets = 16)(
        _.select(explode(sequence(col("k") + 1000L, col("k") + 1019L))
          .as("k"), lit("moved").as("v")))
    }
    assert(e.getMessage.contains("did not read"))
    assert(manifest(dir).version == before.version)
    assert(manifest(dir).buckets == before.buckets)
    assert(PoolJsonSink.readTable(spark, dir).count() == 1000)
  }

  test("an upsert into an existing table evaluates each incoming row " +
      "once, with and without expectations") {
    val dir = thousandRowTable("graft_upsert_once")
    Seq(Nil, Seq("positive" -> (col("k") > 0L))).foreach { exps =>
      val evals = spark.sparkContext.longAccumulator("key evaluations")
      val counted = udf { (id: Long) => evals.add(1L); id + 5000L }
        .asNondeterministic()
      PoolJsonSink.upsertPartitioned(spark, dir,
        spark.range(100).select(counted(col("id")).as("k"),
          lit("new").as("v")),
        col("k"), nBuckets = 16, expectations = exps)
      assert(evals.value == 100L,
        s"expectations $exps: 100 rows evaluated ${evals.value} times")
    }
    // both batches hold keys 5000..5099
    assert(PoolJsonSink.readTable(spark, dir).count() == 1100)
  }

  test("an upsert leaves no cached data behind, also when the commit " +
      "throws") {
    import org.apache.spark.SpecBus
    val sc = spark.sparkContext
    val dir = thousandRowTable("graft_upsert_release")
    // other suites share this session: compare with the state before
    val (entries, rdds, blocks) = (org.apache.spark.sql.execution.SpecCache.entries(spark),
      sc.getPersistentRDDs.keySet.toSet, SpecBus.rddBlocks(sc))
    def assertReleased(): Unit = {
      assert(org.apache.spark.sql.execution.SpecCache.entries(spark) == entries, "cache entry left")
      assert(sc.getPersistentRDDs.keySet.toSet == rdds, "RDD left persisted")
      assert(SpecBus.rddBlocks(sc) == blocks, "RDD blocks left")
    }
    val batch = spark.range(990, 1010)
      .select(col("id").as("k"), lit("new").as("v"))
    PoolJsonSink.upsertPartitioned(spark, dir, batch, col("k"),
      nBuckets = 16)
    assertReleased()
    intercept[RuntimeException] {
      PoolJsonSink.upsertPartitioned(spark, dir, batch, col("k"),
        nBuckets = 16,
        onBeforeCommit = () => throw new RuntimeException("killed"))
    }
    assertReleased()
    assert(PoolJsonSink.readTable(spark, dir).count() == 1010)
  }

  test("a stored NULL struct stays NULL through reads and a keyed MERGE") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nullstruct")
      .resolve("table").toString
    PoolJsonSink.upsertPartitioned(spark, dir, spark.sql("SELECT id AS k, " +
      "IF(id % 2 = 0, NULL, named_struct('a', id)) AS m FROM range(0, 20)"),
      col("k"), nBuckets = 2)
    def nulls() = PoolJsonSink.readTable(spark, dir).where(col("m").isNull).count()
    assert(nulls() == 10)
    PoolJsonSink.upsertPartitioned(spark, dir,
      spark.sql("SELECT 100L AS k, named_struct('a', 100L) AS m"), col("k"))
    assert(nulls() == 10)
  }
}
