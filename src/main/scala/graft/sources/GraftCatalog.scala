package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pol.PoolJsonSink

/** A Spark V2 [[TableCatalog]] over graft manifest tables — the last
  * step from "a Scala API over a path" to "a TABLE": register with
  *
  * {{{
  * spark.sql.catalog.graft          = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse= /data/graft
  * }}}
  *
  * and the whole lifecycle is pure SQL, no paths or Scala in sight:
  *
  * {{{
  * CREATE TABLE graft.default.games (k BIGINT, v STRING)
  *   USING graft TBLPROPERTIES ('key'='k', 'nbuckets'='32')
  * INSERT INTO graft.default.games VALUES (1, 'a')   -- keyed MERGE
  * INSERT OVERWRITE graft.default.games ...           -- atomic replace
  * SELECT * FROM graft.default.games VERSION AS OF 1  -- time travel
  * DROP TABLE graft.default.games
  * }}}
  *
  * Design decisions, each load-bearing at scale:
  *
  *  - The table DIRECTORY stays the source of truth (schema, merge
  *    key, bucket count all live in the committed manifest — written
  *    once, read by every engine face). The catalog persists only
  *    name→directory: a managed table IS `<warehouse>/<ns>/<name>`,
  *    an external one (`LOCATION` / 'location' property) is a one-line
  *    `_LOCATION` pointer file. No second metastore to drift.
  *  - Reads reuse the `format("graft")` scan (columnar vectorized
  *    batches, snapshot manifest resolution, per-bucket input
  *    partitions), so SQL users get the same scan the engine face gets.
  *  - The SQL face exposes the LOGICAL schema — the stored `__pt`
  *    bucket column is subtracted — so `INSERT INTO ... VALUES` takes
  *    exactly the user's columns and `SELECT *` returns them.
  *  - Writes bridge through [[V1Write]] to the transactional sink:
  *    append = the table's native keyed MERGE, truncate+append =
  *    atomic whole-table replace. The CAS manifest commit (hard-link
  *    put-if-absent) is what makes concurrent SQL writers safe — the
  *    catalog adds no second commit protocol on top.
  *  - `VERSION AS OF v` / `TIMESTAMP AS OF t` resolve through
  *    [[TableCatalog.loadTable]]'s time-travel overloads to the exact
  *    committed manifest (timestamps bisect commit times, Delta-style:
  *    the latest version committed at-or-before t).
  *
  * DROP of a managed table deletes its directory; DROP of an external
  * table removes the pointer only (the standard external-table
  * contract — the data outlives the name).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: java.io.File = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new java.io.File(Option(options.get("warehouse")).getOrElse(
      sys.error(s"catalog $name requires option " +
        s"spark.sql.catalog.$name.warehouse")))
    warehouse.mkdirs()
    new java.io.File(warehouse, "default").mkdirs()
  }

  override def name(): String = catalogName

  // ---- layout ----

  private def nsDir(namespace: Array[String]): java.io.File =
    namespace.foldLeft(warehouse)(new java.io.File(_, _))

  private def tableEntry(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace), ident.name)

  /** Resolve an identifier to the directory holding the table data:
    * the entry dir itself (managed) or the `_LOCATION` pointer's
    * target (external).
    */
  private def dataDir(ident: Identifier): java.io.File = {
    val entry = tableEntry(ident)
    val ptr = new java.io.File(entry, "_LOCATION")
    if (ptr.isFile)
      new java.io.File(java.nio.file.Files.readString(ptr.toPath).trim)
    else entry
  }

  private def exists(ident: Identifier): Boolean =
    tableEntry(ident).isDirectory &&
      PoolJsonSink.readManifest(dataDir(ident).toString).isDefined

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      // dot-dirs are never tables: `.ctas-*` CTAS staging lives in
      // the namespace dir and must stay invisible until its rename
      .filter(f => !f.getName.startsWith(".") &&
        exists(Identifier.of(namespace, f.getName)))
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    exists(ident) || {
      // a live branch face EXISTS as a table: without this, writers
      // that probe existence first (streaming toTable, CTAS, INSERT
      // with createIfNotExists semantics) would CREATE a real table
      // named branch_<x> that then shadows the branch — loadTable and
      // tableExists must agree on the addressable surface
      ident.name.startsWith("branch_") && ident.namespace.length >= 2 && {
        val parent = Identifier.of(
          ident.namespace.dropRight(1), ident.namespace.last)
        val bname = ident.name.stripPrefix("branch_")
        bname.nonEmpty && exists(parent) &&
          PoolJsonSink.branchExists(dataDir(parent).toString, bname)
      }
    }

  /** The (display name, table dir) an identifier addresses, when it
    * addresses either a REAL table or a live branch face
    * (`<t>.branch_<x>`). Sub-table probes resolve their parent
    * through this, so `.changes`/`.files`/`.history`/`.tags` work on
    * a branch too — the WAP audit can read the branch's own CDC feed
    * before publishing.
    */
  private def tableDirFor(ident: Identifier): Option[(String, String)] =
    if (exists(ident)) Some((fullName(ident), dataDir(ident).toString))
    else if (ident.name.startsWith("branch_") &&
        ident.namespace.length >= 2) {
      val parent = Identifier.of(
        ident.namespace.dropRight(1), ident.namespace.last)
      val bname = ident.name.stripPrefix("branch_")
      if (bname.nonEmpty && exists(parent) &&
          PoolJsonSink.branchExists(dataDir(parent).toString, bname))
        Some((s"${fullName(parent)}.branch_$bname",
          PoolJsonSink.branchDir(dataDir(parent).toString, bname)))
      else None
    } else None

  override def loadTable(ident: Identifier): Table = {
    // `<ns>.<table>.changes` — the change-feed SUB-TABLE (the Iceberg
    // metadata-table addressing pattern): `SELECT * FROM
    // gcat.default.t.changes` is the batch history, `spark.readStream
    // .table("gcat.default.t.changes")` the CDC stream. The rule that
    // keeps this sound: an EXISTING table always wins — the probe
    // fires only when no real table resolves at the identifier, so a
    // genuine table named `changes` under a nested namespace shadows
    // the sub-table rather than the reverse. The parent resolves
    // through [[tableDirFor]], so a BRANCH's sub-tables
    // (`t.branch_x.changes` etc.) address the branch's own manifests.
    if (!exists(ident) && ident.name == "changes" &&
        ident.namespace.length >= 2) {
      val parent = Identifier.of(
        ident.namespace.dropRight(1), ident.namespace.last)
      tableDirFor(parent).foreach { case (full, dir) =>
        return new GraftChangesTable(s"$full.changes", dir)
      }
    }
    // `<ns>.<table>.files` / `.history` — the metadata SUB-TABLE
    // family (Iceberg's addressing pattern): `.files` is one row per
    // live data file (bucket, size, recorded row count, zone-map
    // summary), `.history` one row per retained version (operation,
    // commit time, snapshot rows, file churn) — both answered
    // entirely from the manifests (no data file opened) and
    // composable in plain SQL. Same shadowing rule as `.changes`: a
    // real table at the identifier wins.
    if (!exists(ident) && ident.namespace.length >= 2 &&
        (ident.name == "files" || ident.name == "history" ||
          ident.name == "tags" || ident.name == "branches")) {
      val parent = Identifier.of(
        ident.namespace.dropRight(1), ident.namespace.last)
      tableDirFor(parent).foreach { case (full0, dir) =>
        val full = s"$full0.${ident.name}"
        return ident.name match {
          case "files" => new GraftFilesTable(full, dir)
          case "history" => new GraftHistoryTable(full, dir)
          case "branches" => new GraftBranchesTable(full, dir)
          case _ => new GraftTagsTable(full, dir)
        }
      }
    }
    // `<ns>.<table>.branch_<name>` — a BRANCH addressed as a table
    // (Iceberg's branch_ identifier convention). A branch dir IS a
    // full graft table, so this face is readable AND writable:
    // `INSERT INTO gcat.default.t.branch_audit ...` runs the normal
    // keyed merge against the branch (CHECK constraints and table
    // properties ride the forked manifest), while the parent stays
    // untouched until `CALL system.publish_branch`. Same shadowing
    // rule: a real table at the identifier wins.
    if (!exists(ident) && ident.name.startsWith("branch_") &&
        ident.namespace.length >= 2) {
      val parent = Identifier.of(
        ident.namespace.dropRight(1), ident.namespace.last)
      val bname = ident.name.stripPrefix("branch_")
      if (exists(parent) && bname.nonEmpty) {
        val pdir = dataDir(parent).toString
        if (PoolJsonSink.listBranches(pdir).contains(bname))
          return new GraftCatalogTable(
            s"${fullName(parent)}.branch_$bname",
            PoolJsonSink.branchDir(pdir, bname), None)
      }
    }
    // `<cat>.system.advisories` — SHOW ADVISORIES as a queryable
    // table (round-11 verdict item 3's catalog face): every advisory
    // the engine fired this process (family, corpus, measured signal,
    // computed re-dial, firing ordinal), so an orchestrator reads
    // re-dials with a WHERE clause instead of grepping executor logs.
    // Registry-backed (no corpus scan); r26_advisories is the same
    // relation per-corpus with the census families re-evaluated.
    if (!exists(ident) && ident.name == "advisories" &&
        ident.namespace.sameElements(Array("system")))
      return new GraftAdvisoriesTable(s"$catalogName.system.advisories")
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new GraftCatalogTable(fullName(ident), dataDir(ident).toString, None)
  }

  /** `VERSION AS OF <v>` — a number travels to that version, any
    * other string resolves as a TAG (the vacuum-pinned named versions
    * `system.tag` creates), so `VERSION AS OF 'release-2026-03'`
    * addresses the same snapshot forever.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = dataDir(ident).toString
    // a non-numeric ref that is not a tag may name a BRANCH: read its
    // head (tags win on a name collision — they are the immutable
    // pin, the branch is addressable as `<t>.branch_<name>` too)
    if (!version.forall(_.isDigit) &&
        !PoolJsonSink.listTags(dir).contains(version) &&
        PoolJsonSink.branchExists(dir, version))
      return new GraftCatalogTable(
        s"${fullName(ident)}@$version",
        PoolJsonSink.branchDir(dir, version), None)
    val v = PoolJsonSink.resolveVersionRef(dir, version)
    new GraftCatalogTable(s"${fullName(ident)}@v$v", dir, Some(v))
  }

  /** `TIMESTAMP AS OF <t>` — latest version committed at or before t
    * (micros since epoch, per the DSv2 contract).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = dataDir(ident).toString
    val tsMs = timestampMicros / 1000L
    val v = PoolJsonSink.listVersions(dir).reverse
      .find { vv =>
        PoolJsonSink.readManifestAt(dir, vv).commitTimeMs
          .forall(_ <= tsMs)
      }
      .getOrElse(sys.error(
        s"${fullName(ident)}: no version committed at or before " +
          s"timestamp ${tsMs}ms"))
    new GraftCatalogTable(
      s"${fullName(ident)}@v$v", dir, Some(v))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    // advisory.* keys are COMPUTED properties (bucketAdvisory derives
    // them from the manifest on every read) — a SHOW CREATE TABLE
    // round-trip may carry one in, and it must be ignored, never
    // persisted as if it were user intent
    val props = properties.asScala.filterNot(_._1.startsWith("advisory."))
    // validate the transform SHAPE up front (even on the adopt-a-
    // LOCATION path): only bucket(n, key) is a graft layout
    bucketSpec(partitions, fullName(ident))
    // grammar-validate declared props BEFORE touching disk: a
    // malformed check.* or forklayer must fail the CREATE with zero
    // on-disk effects — not even the empty table entry dir
    val declaredChecks = validatedChecks(props, fullName(ident))
    val declaredLayer = validatedForkLayer(props, fullName(ident))
    val entry = tableEntry(ident)
    if (!entry.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(catalogName +: ident.namespace)
    entry.mkdirs()
    // Spark normalizes LOCATION to a URI ("file:/tmp/t"); store the
    // local path form the sink understands
    val external = props.get(TableCatalog.PROP_LOCATION).map { loc =>
      val u = java.net.URI.create(loc)
      if (u.getScheme == "file" || u.getScheme == null)
        Option(u.getPath).getOrElse(loc)
      else loc
    }
    external.foreach { loc =>
      java.nio.file.Files.writeString(
        new java.io.File(entry, "_LOCATION").toPath, loc)
    }
    val dir = dataDir(ident).toString
    // an external LOCATION pointing at an EXISTING graft table is a
    // pure registration — adopt its manifest as-is (schema argument
    // may be empty in that case)
    if (PoolJsonSink.readManifest(dir).isEmpty) {
      require(schema.nonEmpty,
        s"${fullName(ident)}: CREATE TABLE needs a schema (or a " +
          "LOCATION holding an existing graft table)")
      val (key, nBuckets) =
        keyAndBuckets(props, partitions, schema, fullName(ident))
      require(schema.fieldNames.contains(key),
        s"${fullName(ident)}: merge key '$key' is not a table column")
      val spark = SparkSession.active
      // first commit: zero data files, but the manifest records the
      // schema, key, bucket count and requested index columns — the
      // table reads back empty with the right columns and every later
      // INSERT merges on key (and harvests the requested zone maps /
      // bloom sidecars: both are manifest-recorded table properties,
      // so the empty first commit is enough to establish them)
      PoolJsonSink.overwritePartitioned(spark, dir,
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        org.apache.spark.sql.functions.col(key), nBuckets,
        statsCols = colsProp(props, "statscols").getOrElse(Nil),
        bloomCols = colsProp(props, "bloomcols").getOrElse(Nil),
        splitCol = props.get("splitcol").map(_.trim)
          .filter(_.nonEmpty))
      if (declaredChecks.nonEmpty || declaredLayer.isDefined)
        PoolJsonSink.commitTableProps(dir,
          checks = if (declaredChecks.nonEmpty)
            Some(declaredChecks) else None,
          forkLayer = declaredLayer.map(Some(_)))
    }
    new GraftCatalogTable(fullName(ident), dir, None)
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS ----

  /** Atomic `CREATE TABLE ... AS SELECT`: the query's rows land in a
    * PRIVATE staging table under the namespace dir (`.ctas-*` — never
    * listed, never resolvable by name), and commit is one directory
    * rename into the table's entry. During the whole query the table
    * does not exist to anyone else — no reader can observe it empty,
    * no concurrent `CREATE IF NOT EXISTS` is fooled into inserting —
    * and abort deletes only the staging dir (the old eager create's
    * abort ran dropTable, which could delete a same-named table a
    * concurrent session had committed meanwhile). Of two racing
    * CTAS's, the first rename wins; the loser's rename fails and
    * reports the conflict.
    *
    * An external-LOCATION CTAS keeps the eager path: a LOCATION
    * holding an existing graft table is a pure REGISTRATION (the
    * createTable contract), so there is nothing to stage — and its
    * abort only removes the pointer entry, never data.
    */
  override def stageCreate(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val props = properties.asScala
    if (props.contains(TableCatalog.PROP_LOCATION)) {
      val inner =
        createTable(ident, schema, partitions, properties)
          .asInstanceOf[GraftCatalogTable]
      return new StagedGraftTable(inner,
        onCommit = () => (), onAbort = () => { dropTable(ident); () })
    }
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val entry = tableEntry(ident)
    if (!entry.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(catalogName +: ident.namespace)
    require(schema.nonEmpty,
      s"${fullName(ident)}: CREATE TABLE AS SELECT needs a schema")
    val (key, n) =
      keyAndBuckets(props, partitions, schema, fullName(ident))
    require(schema.fieldNames.contains(key),
      s"${fullName(ident)}: merge key '$key' is not a table column")
    val declaredChecks = validatedChecks(props, fullName(ident))
    // validated BEFORE the staging write: the commitTableProps throw
    // would otherwise fire before the StagedGraftTable abort hook is
    // registered, leaking the .ctas-* staging dir
    val declaredLayer = validatedForkLayer(props, fullName(ident))
    val spark = SparkSession.active
    val tmpDir = new java.io.File(entry.getParentFile,
      s".ctas-${ident.name}-${java.util.UUID.randomUUID().toString.take(8)}")
    // unlike the RTAS staging, publish here is a pure rename with no
    // re-harvest — so the staged table carries the declared index
    // columns and the CTAS write builds its zone maps/sidecars in place
    PoolJsonSink.overwritePartitioned(spark, tmpDir.toString,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      org.apache.spark.sql.functions.col(key), n,
      statsCols = colsProp(props, "statscols").getOrElse(Nil),
      bloomCols = colsProp(props, "bloomcols").getOrElse(Nil),
      splitCol = props.get("splitcol").map(_.trim)
        .filter(_.nonEmpty))
    // checks recorded ON THE STAGED table: the CTAS query's own write
    // is then gated by them (a violating SELECT aborts the staging,
    // no table appears), and the published table carries them — the
    // pre-fix behavior silently DROPPED check.* on the CTAS path
    if (declaredChecks.nonEmpty || declaredLayer.isDefined)
      PoolJsonSink.commitTableProps(tmpDir.toString,
        checks = if (declaredChecks.nonEmpty)
          Some(declaredChecks) else None,
        forkLayer = declaredLayer.map(Some(_)))
    val inner = new GraftCatalogTable(
      s"${fullName(ident)} (staged create)", tmpDir.toString, None)
    new StagedGraftTable(inner,
      onCommit = () => {
        if (!tmpDir.renameTo(entry)) {
          org.apache.commons.io.FileUtils.deleteDirectory(tmpDir)
          throw new TableAlreadyExistsException(ident)
        }
      },
      onAbort = () =>
        org.apache.commons.io.FileUtils.deleteDirectory(tmpDir))
  }

  /** Atomic `REPLACE TABLE ... AS SELECT` — the Iceberg idiom for
    * "rebuild this table from a query without readers ever seeing it
    * empty or half-written". The query's rows stage into a PRIVATE
    * graft table inside the target's directory (`.rtas-*` — same
    * filesystem, so publishing is renames); commit moves the staged
    * data files in and publishes them as ONE CAS manifest commit with
    * the new schema/key/index declaration. Readers flip atomically
    * from old content to new, history and time travel survive (a
    * REPLACE is just the next version), and abort deletes the staging
    * directory leaving the table untouched.
    */
  override def stageReplace(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val props = properties.asScala
    val bucketed = bucketSpec(partitions, fullName(ident))
    val realDir = dataDir(ident)
    val prev = PoolJsonSink.readManifest(realDir.toString)
    val key = props.get("key").orElse(bucketed.map(_._2))
      .orElse(prev.flatMap(_.keyCol))
      .getOrElse(schema.fields.head.name)
    require(schema.fieldNames.contains(key),
      s"${fullName(ident)}: merge key '$key' is not a column of the " +
        "replacement schema")
    val n = props.get("nbuckets").map(_.toInt)
      .orElse(bucketed.map(_._1))
      .orElse(prev.flatMap(_.nBuckets)).getOrElse(64)
    // like key and nbuckets: a property the statement restates
    // overrides, an absent one inherits (None → commitStagedReplace
    // keeps the previous declaration); 'statscols'='' clears
    val statsCols = colsProp(props, "statscols")
    val bloomCols = colsProp(props, "bloomcols")
    val spark = SparkSession.active
    val tmpDir = new java.io.File(realDir,
      s".rtas-${java.util.UUID.randomUUID().toString.take(8)}")
    // the staged table: a real graft table with the NEW key/buckets,
    // so the query's write is the ordinary transactional keyed merge.
    // Zone maps and bloom sidecars are NOT built here — the final
    // commit harvests/builds them once for the published files
    // (declared* overrides below); building them against the staging
    // dir would be work thrown away at the move
    PoolJsonSink.overwritePartitioned(spark, tmpDir.toString,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      org.apache.spark.sql.functions.col(key), n)
    val inner = new GraftCatalogTable(
      s"${fullName(ident)} (staged replace)", tmpDir.toString, None)
    new StagedGraftTable(inner,
      onCommit = () => {
        val m = PoolJsonSink.readManifest(tmpDir.toString).getOrElse(
          sys.error(s"${fullName(ident)}: staged replace lost its " +
            s"manifest at $tmpDir"))
        // same filesystem by construction, so the moves are renames
        PoolJsonSink.commitStagedReplace(spark, realDir.toString,
          m.buckets.toSeq.flatMap { case (b, rels) =>
            rels.map(rel => b -> new java.io.File(tmpDir, rel))
          },
          m.schemaJson.getOrElse(schema.json), n,
          opName = "REPLACE",
          declaredKeyCol = Some(key),
          declaredStatsCols = statsCols,
          declaredBloomCols = bloomCols)
        org.apache.commons.io.FileUtils.deleteDirectory(tmpDir)
      },
      onAbort = () =>
        org.apache.commons.io.FileUtils.deleteDirectory(tmpDir))
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    if (exists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  /** A TBLPROPERTIES column-list property: None = not stated (inherit
    * where that applies), Some(Nil) = stated empty (explicit clear).
    */
  private def colsProp(
      props: scala.collection.Map[String, String],
      name: String): Option[Seq[String]] = props.get(name)
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** `PARTITIONED BY (bucket(n, key))` parsed back into the table's
    * (nbuckets, key) declaration — the transform partitioning() emits
    * IS the stored layout, so `SHOW CREATE TABLE` output must
    * round-trip through CREATE. Anything other than a single bucket
    * transform over one column is rejected (graft tables cluster on
    * their merge key; there is no directory partitioning). When BOTH
    * the transform and the TBLPROPERTIES spell the layout, they must
    * agree.
    */
  private def bucketSpec(
      partitions: Array[Transform], who: String): Option[(Int, String)] = {
    if (partitions.isEmpty) None
    else {
      require(partitions.length == 1 && partitions.head.name == "bucket",
        s"$who: graft tables cluster on their merge key — only " +
          "PARTITIONED BY (bucket(n, key)) (or TBLPROPERTIES " +
          "key/nbuckets) is supported")
      val args = partitions.head.arguments
      val n = args.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }
      val c = args.collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.mkString(".")
      }
      require(n.isDefined && c.isDefined,
        s"$who: bucket transform needs (n, column)")
      Some((n.get, c.get))
    }
  }

  /** Resolve the (key, nbuckets) declaration from TBLPROPERTIES and/or
    * the bucket transform, requiring agreement when both are present.
    */
  private def keyAndBuckets(
      props: scala.collection.Map[String, String],
      partitions: Array[Transform], schema: StructType,
      who: String): (String, Int) = {
    val b = bucketSpec(partitions, who)
    val key = props.get("key").orElse(b.map(_._2))
      .getOrElse(schema.fields.head.name)
    val n = props.get("nbuckets").map(_.toInt).orElse(b.map(_._1))
      .getOrElse(64)
    b.foreach { case (bn, bc) =>
      require(props.get("key").forall(_ == bc),
        s"$who: PARTITIONED BY bucket column '$bc' conflicts with " +
          s"TBLPROPERTIES key '${props("key")}'")
      require(props.get("nbuckets").forall(_.toInt == bn),
        s"$who: PARTITIONED BY bucket count $bn conflicts with " +
          s"TBLPROPERTIES nbuckets ${props("nbuckets")}")
    }
    (key, n)
  }

  /** CHECK constraints declared as `check.<name>` TBLPROPERTIES,
    * validated with the SAME rules as the ALTER path: the manifest
    * encodes each check as one `check <name> <expr>` line, so a name
    * outside [A-Za-z0-9_-]+ or a multi-line/empty expression would
    * silently corrupt the encoding (mis-parsed name/expr on every
    * later read) — rejected at declaration instead.
    */
  private def validatedChecks(
      props: scala.collection.Map[String, String],
      who: String): Seq[(String, String)] = props.toSeq.collect {
    case (k, v) if k.toLowerCase.startsWith("check.") =>
      val name = k.drop("check.".length)
      require(name.matches("[A-Za-z0-9_-]+"),
        s"$who: check name '$name' must match [A-Za-z0-9_-]+")
      val e = v.trim
      require(e.nonEmpty && !e.contains('\n'),
        s"$who: check '$name' needs a one-line boolean expression")
      name -> e
  }.sortBy(_._1)

  /** `forklayer` TBLPROPERTY validated with the SAME
    * validate-before-first-commit invariant as `check.*`: the value
    * grammar lives in commitTableProps, but re-checking it up front
    * means a malformed CREATE fails with zero manifests written.
    */
  private def validatedForkLayer(
      props: scala.collection.Map[String, String],
      who: String): Option[String] = {
    val layer = props.get("forklayer").map(_.trim).filter(_.nonEmpty)
    layer.foreach(v => require(v == "link" || v == "ref",
      s"$who: forklayer must be 'link' or 'ref', got '$v'"))
    layer
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` / `DROP COLUMN(S)` — schema
    * evolution as pure metadata commits (same files, new recorded
    * schema). ADDs null-fill on old rows through the parquet
    * requested-schema contract; nested adds append inside struct
    * columns. DROPs remove the column from the recorded schema —
    * files keep their bytes (readers project them away; rewrites shed
    * them over time), time travel still serves pre-drop versions, and
    * the dropped NAME is retired forever: matching is by name, so
    * re-adding it would resurrect stale values from pre-drop files
    * (the field-id-free engine's honest answer to Iceberg's field
    * ids). The merge key, splitcol and `__pt` cannot drop; dropped
    * statscols/bloomcols prune from the declarations in the same
    * commit. Renames/type changes stay unsupported; physical
    * properties (key, buckets) are placement, fixed at CREATE.
    */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    // the branch face alters the BRANCH's manifest chain (schema
    // evolution / property changes staged for audit like any other
    // branch write; publish carries them to the parent)
    val branchTarget: Option[String] =
      if (!exists(ident) && ident.name.startsWith("branch_") &&
          ident.namespace.length >= 2) {
        val parent = Identifier.of(
          ident.namespace.dropRight(1), ident.namespace.last)
        val bname = ident.name.stripPrefix("branch_")
        if (bname.nonEmpty && exists(parent)) {
          val pdir = dataDir(parent).toString
          if (PoolJsonSink.branchExists(pdir, bname))
            Some(PoolJsonSink.branchDir(pdir, bname))
          else None
        } else None
      } else None
    if (branchTarget.isEmpty && !exists(ident))
      throw new NoSuchTableException(ident)
    val dir = branchTarget.getOrElse(dataDir(ident).toString)

    // `ALTER TABLE ... SET/UNSET TBLPROPERTIES` for the index-column
    // declarations: a metadata-only commit. Newly declared columns
    // have no stats on existing files yet — metadata aggregates
    // simply fall back to the scan until `CALL system.analyze`
    // backfills from the footers (or any rewrite harvests them).
    val (propChanges, colChanges) = changes.partition {
      case _: TableChange.SetProperty |
           _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propChanges.nonEmpty) {
      val indexProps = Set("statscols", "bloomcols", "splitcol")
      var stats: Option[Seq[String]] = None
      var bloom: Option[Seq[String]] = None
      var split: Option[Option[String]] = None
      var checks: Option[Seq[(String, String)]] = None
      var forkL: Option[Option[String]] = None
      def curChecks: Seq[(String, String)] = checks.getOrElse(
        PoolJsonSink.readManifest(dir).map(_.checks).getOrElse(Nil))
      propChanges.foreach {
        case sp: TableChange.SetProperty
            if sp.property.toLowerCase.startsWith("check.") =>
          val name = sp.property.drop("check.".length)
          require(name.matches("[A-Za-z0-9_-]+"),
            s"${fullName(ident)}: check name '$name' must match " +
              "[A-Za-z0-9_-]+")
          val e = sp.value.trim
          require(e.nonEmpty && !e.contains('\n'),
            s"${fullName(ident)}: check '$name' needs a one-line " +
              "boolean expression")
          // adding a CHECK validates EXISTING data (the Delta rule):
          // a constraint the table already violates is refused, not
          // recorded-and-ignored
          val bad = SparkSession.active.read.format("graft")
            .load(dir).where(s"($e) = false").limit(1).count()
          require(bad == 0L,
            s"${fullName(ident)}: existing rows violate check " +
              s"'$name' ($e) — clean the data first")
          checks = Some(curChecks.filterNot(_._1 == name) :+ (name, e))
        case rp: TableChange.RemoveProperty
            if rp.property.toLowerCase.startsWith("check.") =>
          val name = rp.property.drop("check.".length)
          checks = Some(curChecks.filterNot(_._1 == name))
        case sp: TableChange.SetProperty
            if indexProps(sp.property.toLowerCase) =>
          if (sp.property.equalsIgnoreCase("splitcol"))
            split = Some(Option(sp.value).map(_.trim).filter(_.nonEmpty))
          else {
            val v = Some(sp.value.split(',').toSeq
              .map(_.trim).filter(_.nonEmpty))
            if (sp.property.equalsIgnoreCase("statscols")) stats = v
            else bloom = v
          }
        case rp: TableChange.RemoveProperty
            if indexProps(rp.property.toLowerCase) =>
          if (rp.property.equalsIgnoreCase("statscols")) stats = Some(Nil)
          else if (rp.property.equalsIgnoreCase("bloomcols"))
            bloom = Some(Nil)
          else split = Some(None)
        case sp: TableChange.SetProperty
            if sp.property.equalsIgnoreCase("forklayer") =>
          forkL = Some(Option(sp.value).map(_.trim).filter(_.nonEmpty))
        case rp: TableChange.RemoveProperty
            if rp.property.equalsIgnoreCase("forklayer") =>
          forkL = Some(None)
        case other => sys.error(
          s"${fullName(ident)}: only the statscols/bloomcols/" +
            s"splitcol/forklayer/check.<name> properties can be " +
            s"altered, got $other")
      }
      PoolJsonSink.commitTableProps(dir, stats, bloom, split, checks,
        forkL)
      if (colChanges.isEmpty)
        return new GraftCatalogTable(fullName(ident), dir, None)
    }

    val current = GraftSpjTable.tableSchema(dir)
    val manifest0 = PoolJsonSink.readManifest(dir).getOrElse(
      sys.error(s"not a graft table: $dir"))

    /** Appends `field` at struct path `parents` inside `st`. */
    def addAt(st: StructType, parents: Seq[String],
        field: StructField, full: String): StructType =
      parents match {
        case Seq() =>
          require(!st.fieldNames.contains(field.name),
            s"${fullName(ident)}: column '$full' already exists")
          StructType(st.fields :+ field)
        case head +: rest =>
          val i = st.fieldNames.indexOf(head)
          require(i >= 0,
            s"${fullName(ident)}: no such column '$head' (adding '$full')")
          st.fields(i).dataType match {
            case inner: StructType =>
              StructType(st.fields.updated(i, st.fields(i).copy(
                dataType = addAt(inner, rest, field, full))))
            case other => sys.error(
              s"${fullName(ident)}: '$head' is ${other.simpleString}, " +
                s"not a struct — cannot add nested column '$full'")
          }
      }

    /** Removes the field at dotted path inside `st`. */
    def removeAt(st: StructType, path: Seq[String], full: String,
        ifExists: Boolean): StructType =
      path match {
        case Seq(last) =>
          if (!st.fieldNames.contains(last)) {
            require(ifExists,
              s"${fullName(ident)}: no such column '$full'")
            st
          } else {
            val kept = st.fields.filterNot(_.name == last)
            require(kept.exists(_.name != GraftSpjTable.BucketCol),
              s"${fullName(ident)}: cannot drop the last data column")
            StructType(kept)
          }
        case head +: rest =>
          val i = st.fieldNames.indexOf(head)
          if (i < 0) {
            require(ifExists,
              s"${fullName(ident)}: no such column '$head' " +
                s"(dropping '$full')")
            st
          } else st.fields(i).dataType match {
            case inner: StructType =>
              val pruned = removeAt(inner, rest, full, ifExists)
              require(pruned.fields.nonEmpty,
                s"${fullName(ident)}: dropping '$full' would empty " +
                  s"struct '$head' — drop '$head' itself instead")
              StructType(st.fields.updated(i, st.fields(i).copy(
                dataType = pruned)))
            case other => sys.error(
              s"${fullName(ident)}: '$head' is ${other.simpleString}, " +
                s"not a struct — cannot drop nested column '$full'")
          }
      }

    val removedPaths = Seq.newBuilder[String]
    val next = colChanges.foldLeft(current) { (schema, c) =>
      c match {
        case a: TableChange.AddColumn =>
          val full = a.fieldNames.mkString(".")
          require(!manifest0.droppedCols.contains(full),
            s"${fullName(ident)}: column name '$full' was dropped " +
              "earlier and cannot be reused — old files still hold " +
              "its bytes and name-matching would resurrect them; " +
              "pick a new name")
          // NOT NULL would make the recorded schema LIE about old rows
          // (they null-fill the new column), and Catalyst folds
          // IsNull(non-nullable) to false — Iceberg rejects required
          // adds for the same reason
          require(a.isNullable,
            s"${fullName(ident)}: added column '$full' " +
              "must be nullable (existing rows read it as NULL)")
          // FIRST/AFTER would be silently discarded — refuse instead
          require(a.position() == null,
            s"${fullName(ident)}: ADD COLUMN position (FIRST/AFTER) is " +
              "not supported; new columns append")
          require(a.fieldNames.init.isEmpty ||
            a.fieldNames.head != GraftSpjTable.BucketCol,
            s"${fullName(ident)}: '${GraftSpjTable.BucketCol}' is internal")
          addAt(schema, a.fieldNames.init.toSeq,
            StructField(a.fieldNames.last, a.dataType, nullable = true),
            full)
        case d: TableChange.DeleteColumn =>
          val full = d.fieldNames.mkString(".")
          require(!manifest0.keyCol.contains(full),
            s"${fullName(ident)}: cannot drop the merge key '$full'")
          require(!manifest0.splitCol.contains(full),
            s"${fullName(ident)}: cannot drop the split column " +
              s"'$full' (ALTER ... UNSET TBLPROPERTIES ('splitcol') " +
              "first)")
          require(d.fieldNames.head != GraftSpjTable.BucketCol,
            s"${fullName(ident)}: '${GraftSpjTable.BucketCol}' is internal")
          removedPaths += full
          removeAt(schema, d.fieldNames.toSeq, full, d.ifExists())
        case other => sys.error(
          s"${fullName(ident)}: only ADD/DROP COLUMN are supported, " +
            s"got " + other.getClass.getSimpleName)
      }
    }
    // keep __pt physically LAST (the write paths append it there)
    val (data, pt) = next.fields.partition(
      _.name != GraftSpjTable.BucketCol)
    PoolJsonSink.commitSchemaChange(dir, StructType(data ++ pt),
      removed = removedPaths.result())
    new GraftCatalogTable(fullName(ident), dir, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val entry = tableEntry(ident)
    if (!entry.isDirectory) return false
    // deleting the ENTRY dir covers both cases: for a managed table
    // it IS the data dir; for an external table it holds only the
    // `_LOCATION` pointer, so the external data outlives the name
    // (the standard external-table contract)
    org.apache.commons.io.FileUtils.deleteDirectory(entry)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!exists(from)) throw new NoSuchTableException(from)
    if (exists(to)) throw new TableAlreadyExistsException(to)
    if (!tableEntry(from).renameTo(tableEntry(to)))
      sys.error(s"rename ${fullName(from)} -> ${fullName(to)} failed")
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  // ---- ProcedureCatalog (CALL gcat.system.<proc>(...)) ----

  /** Resolve a procedure's 'tbl' argument ("ns.name" or bare "name",
    * default namespace assumed) to the table's data directory.
    */
  /** The namespace dir holding a procedure's 'tbl' argument — where
    * crashed CTAS staging (`.ctas-*`) strands, outside any table's
    * own dir (vacuum's namespace sweep needs it).
    */
  private[sources] def resolveNamespaceDir(tbl: String): java.io.File = {
    val parts = tbl.split('.')
    val ns = if (parts.length >= 2) parts.dropRight(1)
      else Array("default")
    nsDir(ns)
  }

  private[sources] def resolveDataDir(tbl: String): String = {
    val parts = tbl.split('.')
    val ident =
      if (parts.length >= 2)
        Identifier.of(parts.dropRight(1), parts.last)
      else Identifier.of(Array("default"), tbl)
    if (!exists(ident)) {
      // '<t>.branch_<x>' addresses the branch's own dir, so the
      // maintenance procedures (optimize / vacuum / analyze / tag /
      // even nested branching) run against a long-lived branch too
      if (ident.name.startsWith("branch_") && ident.namespace.length >= 2) {
        val parent = Identifier.of(
          ident.namespace.dropRight(1), ident.namespace.last)
        val bname = ident.name.stripPrefix("branch_")
        if (bname.nonEmpty && exists(parent)) {
          val pdir = dataDir(parent).toString
          if (PoolJsonSink.branchExists(pdir, bname))
            return PoolJsonSink.branchDir(pdir, bname)
        }
      }
      throw new NoSuchTableException(ident)
    }
    dataDir(ident).toString
  }

  /** Register a NEW (empty) table entry for a procedure that
    * manufactures table content out-of-band (system.clone): validates
    * the namespace exists and the name is free, creates the entry
    * dir, returns the data dir for the caller to populate.
    */
  private[sources] def createEntryFor(tbl: String): String = {
    val parts = tbl.split('.')
    val ident =
      if (parts.length >= 2)
        Identifier.of(parts.dropRight(1), parts.last)
      else Identifier.of(Array("default"), tbl)
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val entry = tableEntry(ident)
    if (!entry.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(catalogName +: ident.namespace)
    entry.mkdirs()
    dataDir(ident).toString
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace, got " +
        ident.namespace.mkString("."))
    GraftProcedures.load(this, ident.name)
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.Names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- FunctionCatalog: the bucket placement function, so a
  // `bucket(n, key)` table partitioning resolves and name-based
  // joins storage-partition (see GraftBucketFunction) ----

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  // ---- SupportsNamespaces (nested: a namespace is any warehouse
  // directory that is not a TABLE dir — no manifest, no _LOCATION
  // pointer — so `a.b.c` namespaces nest arbitrarily and
  // `CREATE NAMESPACE gcat.a.b` is just mkdirs) ----

  /** A directory is a TABLE entry (not a namespace) when it holds a
    * committed manifest or an external-location pointer.
    */
  private def isTableDir(f: java.io.File): Boolean =
    new java.io.File(f, "_LOCATION").isFile ||
      Option(f.list()).exists(_.exists(_.startsWith(
        PoolJsonSink.ManifestName)))

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val d = nsDir(namespace)
    if (namespace.nonEmpty && !d.isDirectory)
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        !isTableDir(f))
      .map(f => namespace :+ f.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (nsDir(namespace).isDirectory && !isTableDir(nsDir(namespace)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    nsDir(namespace).mkdirs()

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    sys.error("graft: ALTER NAMESPACE is not supported")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    if (!cascade && Option(d.listFiles()).exists(_.nonEmpty))
      sys.error(s"namespace ${namespace.mkString(".")} is not empty")
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    true
  }
}

/** `<table>.files` — the live file inventory as a manifest-only
  * LocalScan: bucket, table-relative path, bytes on disk, the exact
  * recorded row count (null for pre-row-count writers), and the
  * zone-map summary rendered `col:min..max` (longs) / `col:0x..`
  * (binary, hex-trimmed). What an operator reads to see skew, file
  * sizing, and stats coverage without opening a single data file.
  */
private[sources] class GraftFilesTable(ident: String, tableDir: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val filesSchema = StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("stats", StringType, nullable = true)))

  override def name(): String = ident
  override def schema(): StructType = filesSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = filesSchema
      override def description(): String = s"$ident (manifest-only)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val m = PoolJsonSink.readManifest(tableDir).getOrElse(
          sys.error(s"not a graft table: $tableDir"))
        def str(s: String) =
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        m.buckets.toSeq.sortBy(_._1).flatMap { case (b, rels) =>
          rels.sorted.map { rel =>
            val stats = m.stats.getOrElse(rel, Map.empty)
            val rows = stats.get(PoolJsonSink.RowsStatCol).collect {
              case PoolJsonSink.LongStat(n, _) => java.lang.Long.valueOf(n)
            }.orNull
            val rendered = stats.toSeq
              .filterNot(kv => kv._1 == PoolJsonSink.RowsStatCol ||
                kv._1 == PoolJsonSink.BytesStatCol ||
                kv._1.startsWith(PoolJsonSink.NullsStatColPrefix))
              .sortBy(_._1).map {
                case (c, PoolJsonSink.LongStat(mn, mx)) => s"$c:$mn..$mx"
                case (c, PoolJsonSink.BinStat(mn, mx)) =>
                  def hx(a: Array[Byte]) =
                    a.take(8).map(x => f"$x%02x").mkString
                  s"$c:0x${hx(mn)}..0x${hx(mx)}"
              }.mkString(";")
            org.apache.spark.sql.catalyst.InternalRow(
              b, str(rel),
              PoolJsonSink.fileBytes(m, tableDir, rel),
              rows,
              if (rendered.isEmpty) null else str(rendered))
          }
        }.toArray
      }
    }
}

/** `<table>.history` — DESCRIBE HISTORY as a queryable sub-table:
  * one row per retained version, O(manifests), same rows the
  * `system.history` procedure returns but addressable in a FROM
  * clause (joinable against `.changes` commit versions, windowable,
  * filterable by commit time — the procedure result is not).
  */
private[sources] class GraftHistoryTable(ident: String, tableDir: String)
    extends Table with SupportsRead {

  private lazy val df = PoolJsonSink.tableHistory(
    SparkSession.active, tableDir)

  override def name(): String = ident
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = df.schema
      override def description(): String = s"$ident (manifest-only)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        df.queryExecution.executedPlan.executeCollect()
    }
}

/** `<table>.tags` — the named-version pins as a queryable sub-table:
  * one row per tag with the pinned version's commit metadata. The
  * operational questions ("what snapshots are we holding vacuum open
  * for, and how old are they?") become one SQL query.
  */
private[sources] class GraftTagsTable(ident: String, tableDir: String)
    extends Table with SupportsRead {

  private lazy val df = PoolJsonSink.tableTags(
    SparkSession.active, tableDir)

  override def name(): String = ident
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = df.schema
      override def description(): String = s"$ident (manifest-only)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        df.queryExecution.executedPlan.executeCollect()
    }
}

/** `<cat>.system.advisories` — the engine's fired advisories as a
  * queryable SYSTEM table: one row per (family, corpus) whose
  * condition held this process, with the measured signal and the
  * COMPUTED re-dial ([[graft.llm.Advisories]] records them at each
  * fire site). Registry-backed — rows() never scans a corpus — so
  * the operational question "which of my corpora are silently
  * shedding recall, and what do I set" is one SQL query instead of
  * an executor-log grep.
  */
private[sources] class GraftAdvisoriesTable(ident: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val advSchema = StructType(Seq(
    StructField("family", StringType, nullable = false),
    StructField("corpus", StringType, nullable = false),
    StructField("signal", DoubleType, nullable = false),
    StructField("redial", StringType, nullable = false),
    StructField("ordinal", LongType, nullable = false)))

  override def name(): String = ident
  override def schema(): StructType = advSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = advSchema
      override def description(): String = s"$ident (registry-only)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        def str(s: String) =
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        graft.llm.Advisories.all.map { a =>
          org.apache.spark.sql.catalyst.InternalRow(
            str(a.family), str(a.corpus), a.signal, str(a.redial),
            a.ordinal)
        }.toArray
      }
    }
}

/** `<table>.branches` — the WAP branches as a queryable sub-table:
  * one row per branch with fork/head versions, commit count, and the
  * head's operation + commit time. "What staging work is in flight
  * against this table?" is one SQL query.
  */
private[sources] class GraftBranchesTable(ident: String, tableDir: String)
    extends Table with SupportsRead {

  private lazy val df = PoolJsonSink.tableBranches(
    SparkSession.active, tableDir)

  override def name(): String = ident
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = df.schema
      override def description(): String = s"$ident (manifest-only)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        df.queryExecution.executedPlan.executeCollect()
    }
}

/** The staged face of an atomic CTAS/RTAS: every Table behavior
  * delegates to the inner (real or staging-dir) graft table; commit
  * and abort run the catalog-supplied closures. Spark writes the
  * query's rows through `newWriteBuilder` BEFORE calling
  * `commitStagedChanges`, so for RTAS the swap-in happens only after
  * the full replacement content is durably staged.
  */
private[sources] class StagedGraftTable(
    inner: GraftCatalogTable, onCommit: () => Unit, onAbort: () => Unit)
    extends StagedTable with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): java.util.Map[String, String] =
    inner.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    inner.capabilities()
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = onCommit()
  override def abortStagedChanges(): Unit = onAbort()
}

/** A named graft table: SQL-facing schema (the stored `__pt` bucket
  * column subtracted), reads through the columnar GraftSpjScan
  * pinned to `version` when time-travelling, writes bridged to the
  * transactional keyed sink.
  */
class GraftCatalogTable(
    ident: String, tableDir: String, version: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private lazy val manifest = version match {
    case Some(v) => PoolJsonSink.readManifestAt(tableDir, v)
    case None => PoolJsonSink.readManifest(tableDir).getOrElse(
      sys.error(s"not a graft table: $tableDir"))
  }

  /** Physical schema (manifest-recorded, `__pt` included). */
  private lazy val fileSchema: StructType = manifest.schemaJson match {
    case Some(j) => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[StructType]
    case None => GraftSpjTable.tableSchema(tableDir)
  }

  override def name(): String = ident

  override def schema(): StructType =
    StructType(fileSchema.fields.filterNot(
      _.name == GraftSpjTable.BucketCol))

  /** The stored layout as a RESOLVABLE transform: `bucket(n, key)`
    * binds to this catalog's [[GraftBucketFunction]], so two catalog
    * tables sharing a bucket count storage-partition-join by NAME —
    * plain `a JOIN b USING (key)` SQL, no `__pt` conjunct.
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    (for (k <- manifest.keyCol; n <- manifest.nBuckets) yield
      org.apache.spark.sql.connector.expressions.Expressions
        .bucket(n, k)).toArray

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      // streaming BY NAME: readStream.table = the append face
      // (GraftSpjScan.toMicroBatchStream); writeStream.toTable = the
      // per-epoch keyed merge (GraftStreamingWrite); Update mode rides
      // the merge semantics (STREAMING_WRITE alone gates Append,
      // ACCEPT_ANY_SCHEMA is not wanted — schema stays validated)
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE).asJava

  /** Undersized-bucket advisory, surfaced through DESCRIBE EXTENDED /
    * SHOW TBLPROPERTIES: when the snapshot row count (recorded
    * per-file at write time — O(manifest), no data file opened) says
    * the average bucket carries more than [[GraftCatalogTable.AdvisoryRowsPerBucket]]
    * keys, every MERGE is rewriting ever-fatter buckets and the table
    * wants `CALL <cat>.system.split(...)`. Day-1's nbuckets never
    * fits year-2's data; this makes the drift visible where an
    * operator already looks, with the exact factor to catch up.
    */
  private def bucketAdvisory: Map[String, String] = {
    val counts = manifest.files.map(f =>
      manifest.stats.get(f).flatMap(_.get(PoolJsonSink.RowsStatCol))
        .collect { case PoolJsonSink.LongStat(n, _) => n })
    (for {
      n <- manifest.nBuckets
      if counts.nonEmpty && counts.forall(_.isDefined)
      rows = counts.flatten.sum
      avg = rows / math.max(n, 1)
      if avg > GraftCatalogTable.AdvisoryRowsPerBucket
    } yield {
      var factor = 2
      while (avg / factor > GraftCatalogTable.AdvisoryRowsPerBucket &&
        factor < (1 << 20)) factor *= 2
      // For an absurdly fat table the loop caps at 2^20 — say so
      // rather than recommend the capped factor as if it sufficed
      val capped = avg / factor > GraftCatalogTable.AdvisoryRowsPerBucket
      Map("advisory.buckets" ->
        (s"avg ~$avg rows/bucket across $n buckets exceeds the " +
          s"${GraftCatalogTable.AdvisoryRowsPerBucket}/bucket target; " +
          s"run CALL <catalog>.system.split(tbl => '...', " +
          s"factor => $factor)" +
          (if (capped) " (factor capped at 2^20 - still above target " +
            "after the split; split again afterwards)" else "")))
    }).getOrElse(Map.empty)
  }

  override def properties(): java.util.Map[String, String] =
    (Map("provider" -> "graft", "location" -> tableDir) ++
      bucketAdvisory ++
      manifest.keyCol.map("key" -> _) ++
      manifest.nBuckets.map("nbuckets" -> _.toString) ++
      (if (manifest.statsCols.nonEmpty)
        Map("statscols" -> manifest.statsCols.mkString(",")) else Map.empty) ++
      (if (manifest.bloomCols.nonEmpty)
        Map("bloomcols" -> manifest.bloomCols.mkString(",")) else Map.empty) ++
      manifest.splitCol.map("splitcol" -> _) ++
      manifest.forkLayerProp.map("forklayer" -> _) ++
      manifest.checks.map { case (n, e) => s"check.$n" -> e } ++
      Map("version" -> manifest.version.toString)).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSpjScanBuilder(tableDir, fileSchema, version,
      streamOptions = Some(options.asScala.toMap))

  /** The stored bucket column, surfaced as a METADATA column (hidden
    * from `SELECT *`, addressable by name — the Iceberg `_partition`
    * pattern): what row-level operations anchor on, and what lets a
    * curious SQL user inspect placement.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftSpjTable.BucketCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "storage bucket: pmod(xxhash64(key), nbuckets)"
    })

  /** SQL `TRUNCATE TABLE`: commit an empty replacement version —
    * schema/key/buckets survive in the manifest, every row is gone,
    * history (and time travel back to the data) remains until vacuum.
    */
  override def truncateTable(): Boolean = {
    require(version.isEmpty,
      s"$ident: cannot truncate a time-travelled table")
    val spark = SparkSession.active
    val key = manifest.keyCol.getOrElse(sys.error(
      s"$ident: manifest records no merge key"))
    PoolJsonSink.overwritePartitioned(spark, tableDir,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema()),
      org.apache.spark.sql.functions.col(key),
      manifest.nBuckets.getOrElse(64))
    true
  }

  /** Metadata-only `DELETE FROM t WHERE p` (Iceberg's metadata
    * delete, through Spark's OptimizeMetadataOnlyDeleteFromTable):
    * when zone maps + recorded null counts prove every live file is
    * entirely inside or entirely outside the predicate, the delete is
    * ONE manifest commit — no file opened, no bucket rewritten.
    * "Drop last month's data" on a 100 TB table goes from a full
    * copy-on-write of every touched bucket to O(manifest). Partial
    * coverage answers false here and the statement falls back to the
    * row-level COW plan below — the proof gates only the fast path.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    version.isEmpty &&
      MetadataDelete.classify(manifest, predicates.toSeq).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    require(version.isEmpty,
      s"$ident: cannot delete from a time-travelled table")
    PoolJsonSink.commitMetadataDelete(tableDir,
      m => MetadataDelete.classify(m, predicates.toSeq))
    ()
  }

  /** SQL `MERGE INTO` / `UPDATE` / `DELETE FROM` — the group-based
    * copy-on-write recipe (the Iceberg COW path, public): Spark's
    * rewrite rules turn the statement into "scan the affected groups,
    * recompute their surviving + changed rows, hand the replacement
    * set to the operation's write". Groups here are BUCKETS: the
    * required `__pt` metadata column anchors Spark's runtime group
    * filter (a subquery collects the buckets holding matches and
    * delivers them to the scan as a dynamic IN), the commit replaces
    * exactly the buckets the scan read, appends inserts into unread
    * buckets, and carries every untouched bucket's files forward by
    * reference. When no runtime filter arrives (filter disabled, or a
    * condition matching everywhere) the whole table was read and the
    * commit degenerates to the full replace. Two safety rules keep
    * this sound: the row-level SCAN never applies planning-time
    * file/bucket pruning (a pruned row would be silently deleted by
    * the bucket replace — `allowFilterPruning = false` below), and
    * the commit validates its snapshot against interleaved commits
    * (bucket-disjoint → rebase; overlapping → conflict, statement
    * retries; see PoolJsonSink.commitStagedReplace).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"$ident: cannot modify a time-travelled table")
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      override def command()
          : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()

      /** The scan this operation's physical plan executes — its
        * runtime-filter state (which buckets Spark's group-filter
        * subquery kept) is what the write's commit consults to
        * replace exactly the scanned groups.
        */
      @volatile private var opScan: GraftSpjScan = _

      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new GraftSpjScanBuilder(tableDir, fileSchema, version,
          onBuild = s => opScan = s,
          // COW safety: the commit replaces whole buckets, so the
          // scan must read every surviving row of them — no
          // planning-time file/bucket pruning on this scan
          allowFilterPruning = false)

      /** Requiring the bucket metadata column is ALSO what makes
        * Spark apply the ReplaceData row projection before handing
        * rows to the writer: with no metadata projection the plain
        * writing task ships the raw MergeRows output (operation
        * column included) straight through — the writer would see a
        * different physical layout than LogicalWriteInfo.schema
        * declares.
        */
      override def requiredMetadataAttributes(): Array[
          org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(GraftSpjTable.BucketCol))

      override def newWriteBuilder(
          wInfo: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write
              with org.apache.spark.sql.connector.write
                .RequiresDistributionAndOrdering {
            private val key = manifest.keyCol.getOrElse(sys.error(
              s"$ident: manifest records no merge key"))
            private val n = manifest.nBuckets.getOrElse(64)

            /** Cluster replacement rows by the PLACEMENT function
              * before writing: each task then owns whole buckets and
              * the fanout writer emits one file per bucket per
              * statement instead of (tasks × buckets) worst-case.
              * The transform resolves through this catalog's bucket
              * function, and when the scan's per-bucket partitioning
              * already flows through the plan the exchange is elided
              * — the aligned case pays nothing.
              */
            override def requiredDistribution()
                : org.apache.spark.sql.connector.distributions
                  .Distribution =
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(Array(
                  org.apache.spark.sql.connector.expressions.Expressions
                    .bucket(n, key)))

            override def distributionStrictlyRequired(): Boolean = false

            override def requiredOrdering()
                : Array[org.apache.spark.sql.connector.expressions
                  .SortOrder] = Array.empty

            override def toBatch: BatchWrite =
              new GraftBatchWrite(tableDir, schema(), wInfo.schema(),
                key, n, info.command().toString,
                scannedBuckets =
                  () => Option(opScan).flatMap(_.runtimeBuckets),
                expectedVersion =
                  () => Option(opScan).map(_.snapshotVersion),
                splitCol = manifest.splitCol,
                checks = manifest.checks)
          }
        }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"$ident: cannot write to a time-travelled table")
    // SupportsStreamingUpdateAsAppend: streaming Update output mode
    // (the natural mode for an aggregation into this sink) delivers
    // updated rows as appends — which IS this table's append
    // semantics, a keyed MERGE; without the marker StreamExecution
    // refuses Update mode at query start
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      // NO RequiresDistributionAndOrdering here: Spark's V2Writes
      // applies a Write's required distribution to the BATCH V1
      // fallback too (verified against 4.1.2 — prepareQuery runs for
      // AppendData even when build() yields a V1Write), so requiring
      // the placement clustering would bolt a redundant rebalance
      // shuffle onto every `INSERT INTO` ahead of upsertPartitioned's
      // own placement exchange. The streaming fanout that motivated
      // it is solved WHERE it arises instead: the epoch writer stages
      // one file per task (see GraftStreamingWrite — commit re-places
      // rows through the table's native merge anyway, so per-bucket
      // staging bought nothing).
      override def build(): Write = new V1Write {
        private def key = manifest.keyCol.getOrElse(sys.error(
          s"$ident: manifest records no merge key; " +
            "re-create the table with TBLPROPERTIES ('key'=...)"))
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            val spark = data.sparkSession
            val kc = org.apache.spark.sql.functions.col(key)
            val n = manifest.nBuckets.getOrElse(64)
            if (replace)
              PoolJsonSink.overwritePartitioned(
                spark, tableDir, data, kc, n)
            else
              PoolJsonSink.upsertPartitioned(
                spark, tableDir, data, kc, n)
          }
        /** `writeStream.toTable(name)`: each epoch commits ONE keyed
          * merge (Complete mode: one whole-table replace) — the t6
          * foreachBatch recipe promoted to a first-class streaming
          * sink, epoch-marker idempotent across recovery retries.
          */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftStreamingWrite(ident, tableDir, schema(),
            info.schema(), key, manifest.nBuckets.getOrElse(64),
            replace, info.queryId())
      }
    }
  }
}

object GraftCatalogTable {
  /** The bucket-advisory band: ~1M keys/bucket is ~100 MB of parquet
    * at typical row widths — the rewrite unit a keyed MERGE pays per
    * touched bucket. Beyond it, splitting (bucket-local, no shuffle)
    * is cheaper than letting every future merge rewrite fat buckets.
    */
  val AdvisoryRowsPerBucket: Long = 1000000L
}
