package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Metadata-only DELETE: when zone maps + recorded null counts prove
  * every live file entirely inside or outside the predicate, `DELETE
  * FROM` is ONE manifest commit — files_added must be ZERO (the
  * assertion that separates a metadata drop from a copy-on-write
  * rewrite that happens to produce the same rows). Partial coverage
  * and null-bearing files must fall back to the COW path and still be
  * row-correct. File layout: `optimize(split_by => 'grp')` rewrites
  * each bucket into value-pure files (per-file min == max on grp) —
  * the layout pass that makes value deletes metadata-only, the same
  * move as Hive/Iceberg partitioning by a low-cardinality column.
  */
class MetadataDeleteSpec extends AnyFunSuite {

  private val wh = java.nio.file.Files
    .createTempDirectory("gmdel_wh").toString
  spark.conf.set("spark.sql.catalog.gmdel", "graft.sources.GraftCatalog")
  spark.conf.set("spark.sql.catalog.gmdel.warehouse", wh)

  spark.sql("CREATE TABLE gmdel.default.t (k BIGINT, grp BIGINT, " +
    "s STRING) USING graft " +
    "TBLPROPERTIES ('key'='k','nbuckets'='4','statscols'='grp,s')")
  spark.sql("INSERT INTO gmdel.default.t " +
    "SELECT id, id % 5, concat('g', id % 5) FROM range(0, 1000)")
  spark.sql("CALL gmdel.system.optimize(tbl => 'default.t', " +
    "zorder => 'grp', split_by => 'grp')")

  private def dir = s"$wh/default/t"
  private def history() = spark.sql(
    "SELECT operation, files_added, files_removed " +
      "FROM gmdel.default.t.history ORDER BY version DESC LIMIT 1")
    .collect().head

  test("whole-group DELETE is a manifest-only commit (zero files added)") {
    val before = PoolJsonSink.readManifest(dir).get
    spark.sql("DELETE FROM gmdel.default.t WHERE grp = 3")
    val after = PoolJsonSink.readManifest(dir).get
    assert(after.version == before.version + 1)
    assert(after.op.contains("DELETE"))
    val h = history()
    assert(h.getString(0) == "DELETE")
    assert(h.getInt(1) == 0, "metadata delete must add no files")
    assert(h.getInt(2) > 0, "dropped the grp=3 files")
    // surviving files are the SAME physical files (no bucket rewrite)
    assert(after.files.toSet.subsetOf(before.files.toSet))
    // row-correct: grp 3 gone, everything else intact
    val rows = spark.sql("SELECT grp, count(*) AS n " +
      "FROM gmdel.default.t GROUP BY grp ORDER BY grp").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L))
    assert(rows.forall(_.getLong(1) == 200L))
    // time travel back to the pre-delete snapshot still serves grp 3
    assert(spark.sql(
      s"SELECT count(*) FROM gmdel.default.t VERSION AS OF " +
        s"${before.version} WHERE grp = 3").collect().head.getLong(0)
      == 200L)
  }

  test("STRING predicate proves whole files too") {
    spark.sql("DELETE FROM gmdel.default.t WHERE s = 'g4'")
    val h = history()
    assert(h.getString(0) == "DELETE" && h.getInt(1) == 0)
    assert(spark.sql("SELECT count(*) FROM gmdel.default.t")
      .collect().head.getLong(0) == 600L)
  }

  test("range + IN predicates compose") {
    spark.sql("DELETE FROM gmdel.default.t WHERE grp IN (0, 1) " +
      "AND grp <= 1")
    val h = history()
    assert(h.getString(0) == "DELETE" && h.getInt(1) == 0)
    assert(spark.sql("SELECT DISTINCT grp FROM gmdel.default.t")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("straddling predicate falls back to copy-on-write, row-correct") {
    // k ranges straddle every file (keys hash across buckets)
    spark.sql("DELETE FROM gmdel.default.t WHERE k < 100")
    val h = history()
    assert(h.getString(0) != "DELETE" || h.getInt(1) > 0,
      "partial coverage must not take the metadata path")
    val n = spark.sql("SELECT count(*) FROM gmdel.default.t")
      .collect().head.getLong(0)
    // grp=2 rows with k >= 100: ids 102,107,... of 0..999 → 180
    assert(n == 180L, s"expected 180 surviving rows, got $n")
  }

  test("null-bearing files refuse the all-rows proof") {
    spark.sql("CREATE TABLE gmdel.default.nn (k BIGINT, grp BIGINT) " +
      "USING graft " +
      "TBLPROPERTIES ('key'='k','nbuckets'='2','statscols'='grp')")
    // every file carries one NULL next to the grp=7 rows
    spark.sql("INSERT INTO gmdel.default.nn " +
      "SELECT id, CASE WHEN id % 100 = 0 THEN NULL ELSE 7 END " +
      "FROM range(0, 200) DISTRIBUTE BY 1")
    spark.sql("DELETE FROM gmdel.default.nn WHERE grp = 7")
    val h = spark.sql("SELECT operation, files_added FROM " +
      "gmdel.default.nn.history ORDER BY version DESC LIMIT 1")
      .collect().head
    assert(h.getString(0) != "DELETE" || h.getInt(1) > 0,
      "NULL rows must block the whole-file drop (min/max is blind " +
        "to them)")
    // the NULL rows survive — exactly the rows a naive drop loses
    assert(spark.sql("SELECT count(*) FROM gmdel.default.nn")
      .collect().head.getLong(0) == 2L)
  }

  test("splitcol declared at CREATE: every INSERT stages value-pure " +
      "files, no optimize needed") {
    spark.sql("CREATE TABLE gmdel.default.sp (k BIGINT, grp BIGINT) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='2'," +
      "'splitcol'='grp','statscols'='grp')")
    spark.sql("INSERT INTO gmdel.default.sp " +
      "SELECT id, id % 3 FROM range(0, 300)")
    // a second merge must PRESERVE the layout, not flatten it
    spark.sql("INSERT INTO gmdel.default.sp " +
      "SELECT id, id % 3 FROM range(300, 600)")
    val m = PoolJsonSink.readManifest(s"$wh/default/sp").get
    assert(m.splitCol.contains("grp"))
    assert(m.files.size == 6, s"2 buckets x 3 values, got ${m.files}")
    // property surfaces in SHOW TBLPROPERTIES
    val props = spark.sql("SHOW TBLPROPERTIES gmdel.default.sp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("splitcol").contains("grp"))
    // and the layout delivers: value delete is metadata-only
    spark.sql("DELETE FROM gmdel.default.sp WHERE grp = 1")
    val h = spark.sql("SELECT operation, files_added FROM " +
      "gmdel.default.sp.history ORDER BY version DESC LIMIT 1")
      .collect().head
    assert(h.getString(0) == "DELETE" && h.getInt(1) == 0)
    assert(spark.sql("SELECT count(*) FROM gmdel.default.sp")
      .collect().head.getLong(0) == 400L)
  }

  test("splitcol declared without statscols: OPTIMIZE finds the files " +
      "value-pure and a value DELETE proves whole files") {
    spark.sql("CREATE TABLE gmdel.default.so (k BIGINT, grp BIGINT) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='2'," +
      "'splitcol'='grp')")
    spark.sql("INSERT INTO gmdel.default.so " +
      "SELECT id, id % 3 FROM range(0, 300)")
    val dir = s"$wh/default/so"
    val m = PoolJsonSink.readManifest(dir).get
    assert(m.statsCols.isEmpty && m.files.size == 6)
    // the split column's zone maps are what prove purity: without
    // them every bucket reads as impure and OPTIMIZE rewrites it
    assert(PoolJsonSink.compactPartitions(spark, dir).isEmpty,
      "value-pure buckets are not fat")
    assert(PoolJsonSink.readManifest(dir).get.version == m.version)
    spark.sql("DELETE FROM gmdel.default.so WHERE grp = 1")
    val h = spark.sql("SELECT operation, files_added FROM " +
      "gmdel.default.so.history ORDER BY version DESC LIMIT 1")
      .collect().head
    assert(h.getString(0) == "DELETE" && h.getInt(1) == 0,
      "the value delete must be metadata-only")
    assert(spark.sql("SELECT count(*) FROM gmdel.default.so")
      .collect().head.getLong(0) == 200L)
  }

  test("COW statements preserve the split layout (UPDATE, then " +
      "metadata DELETE of the rewritten value)") {
    // the v2 executor write fans out on (bucket, split value), so the
    // UPDATE's bucket rewrite stages value-pure files and the later
    // value delete is STILL metadata-only — no optimize in between
    spark.sql("UPDATE gmdel.default.sp SET grp = 5 WHERE grp = 2")
    spark.sql("DELETE FROM gmdel.default.sp WHERE grp = 5")
    val h = spark.sql("SELECT operation, files_added FROM " +
      "gmdel.default.sp.history ORDER BY version DESC LIMIT 1")
      .collect().head
    assert(h.getString(0) == "DELETE" && h.getInt(1) == 0,
      "the COW rewrite must not have flattened the split layout")
    assert(spark.sql("SELECT DISTINCT grp FROM gmdel.default.sp " +
      "ORDER BY grp").collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("reads prune to the value's files; vacuum reclaims dropped ones") {
    // repopulate a second value so the prune has something to skip
    spark.sql("INSERT INTO gmdel.default.sp " +
      "SELECT id + 1000, 7 FROM range(0, 100)")
    val m = PoolJsonSink.readManifest(s"$wh/default/sp").get
    // read-side: a grp = 0 scan must keep exactly the grp-0 files
    // (the same zone maps the delete proof used, in prune direction)
    val kept = PoolJsonSink.pruneFilesLongRange(m, "grp", 0L, 0L)
    assert(kept.size == 2 && kept.size < m.files.size,
      s"one file per bucket for grp=0, got $kept of ${m.files}")
    // vacuum: files dropped by the metadata DELETEs stay on disk only
    // while retained manifests reference them
    val dataDir = new java.io.File(s"$wh/default/sp/data")
    val before = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    PoolJsonSink.vacuum(s"$wh/default/sp", retainVersions = 1)
    val after = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before, "retention passed the pre-delete snapshots")
    assert(after == PoolJsonSink.readManifest(s"$wh/default/sp")
      .get.files.size, "exactly the live file set survives")
    assert(spark.sql("SELECT count(*) FROM gmdel.default.sp")
      .collect().head.getLong(0) == 300L)
  }

  test("the change feed diffs a ROLLBACK like any commit") {
    spark.sql("CREATE TABLE gmdel.default.cf (k BIGINT, v BIGINT) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='2')")
    spark.sql("INSERT INTO gmdel.default.cf SELECT id, 1 FROM range(0, 4)")
    spark.sql("INSERT INTO gmdel.default.cf SELECT id, 2 FROM range(0, 4)")
    val preRb = PoolJsonSink.readManifest(s"$wh/default/cf").get.version
    spark.sql(s"CALL gmdel.system.rollback(tbl => 'default.cf', " +
      s"version => ${preRb - 1})")
    // the restore reads back as updates to the pre-rollback values
    val changes = spark.sql(
      s"SELECT k, v, _change_type FROM gmdel.default.cf.changes " +
        s"WHERE _commit_version > $preRb ORDER BY k, _change_type")
      .collect()
    assert(changes.nonEmpty, "rollback must appear in the feed")
    assert(changes.filter(_.getString(2) == "update_postimage")
      .forall(_.getLong(1) == 1L),
      "postimages carry the RESTORED (v1) values")
    assert(changes.filter(_.getString(2) == "update_preimage")
      .forall(_.getLong(1) == 2L),
      "preimages carry the rolled-past (v2) values")
  }

  test("unqualified DELETE drops every file metadata-only") {
    spark.sql("CREATE TABLE gmdel.default.all (k BIGINT, v BIGINT) " +
      "USING graft TBLPROPERTIES ('key'='k','nbuckets'='2')")
    spark.sql("INSERT INTO gmdel.default.all SELECT id, id " +
      "FROM range(0, 50)")
    spark.sql("DELETE FROM gmdel.default.all")
    assert(spark.sql("SELECT count(*) FROM gmdel.default.all")
      .collect().head.getLong(0) == 0L)
    // schema survives the empty table
    assert(spark.table("gmdel.default.all").columns.toSeq ==
      Seq("k", "v"))
  }
}
