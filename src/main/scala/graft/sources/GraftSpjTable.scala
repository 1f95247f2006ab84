package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pol.PoolJsonSink

/** The manifest table as a DSv2 scan — what `spark.read.format
  * ("graft")` reads by default ([[GraftTableSource]]) and what the
  * catalog's tables scan through. It prunes files at planning time
  * (zone maps, bloom sidecars, the key hash), pushes exact filters,
  * aggregates and limits down to the manifest, reports exact
  * statistics, reads a pinned `versionAsOf` snapshot, and REPORTS its
  * physical layout, so Catalyst can plan a storage-partitioned join
  * (SPJ): two graft tables bucketed with the same `nBuckets` join with
  * ZERO shuffle of either side.
  *
  * Every graft table is hash-clustered on its merge key
  * (`__pt = pmod(xxhash64(key), nBuckets)`, stored IN the data —
  * PoolJsonSink.stageFiles), and the manifest knows exactly which
  * files belong to which bucket. A scan that hid that from the
  * planner would shuffle BOTH sides of a fact⋈fact join of two keyed
  * tables — at 100 TB the exchange IS the query. This scan surfaces
  * the layout the Iceberg/Delta way:
  *
  *  - one [[InputPartition]] per bucket (empty buckets included, so
  *    two tables' partition values always align — Spark pads nothing),
  *    each declaring its bucket id via [[HasPartitionKey]];
  *  - [[SupportsReportPartitioning]] announcing
  *    `KeyGroupedPartitioning(identity(__pt), nBuckets)`. The IDENTITY
  *    transform over the stored bucket column (rather than a
  *    `bucket(n, key)` function transform) is deliberate: identity
  *    resolves without a V2 FunctionCatalog, which a path-based
  *    (non-catalog) table has no way to provide.
  *
  * Contract for the shuffle-free plan (see GraftSpjJoinSpec): both
  * tables written with the same `nBuckets`, the session flag
  * `spark.sql.sources.v2.bucketing.enabled=true`, and the join
  * condition includes `a.__pt = b.__pt` alongside the key equality
  * (the bucket column is a pure function of the key, so the extra
  * conjunct never changes the result — it is how the planner learns
  * the co-clustering; [[GraftSpj.join]] adds it for you). Grouped
  * aggregation gets the same elision by grouping on `(__pt, key)`.
  *
  * Each scan resolves the committed manifest once (torn state remains
  * unobservable); column pruning reaches the parquet reader. A
  * path-addressed table streams only through its change feed
  * (`readStream.format("graft").option("changeKey", …)`); the
  * catalog's tables also serve the append stream
  * ([[GraftSpjScan.toMicroBatchStream]]).
  */
object GraftSpjTable {
  /** The stored bucket column every graft table carries. */
  val BucketCol = "__pt"

  /** Table schema from the manifest's RECORDED schemaJson (the commit
    * protocol persists `content.schema.json` on every commit, `__pt`
    * included). Sniffing an arbitrary data file instead would be
    * nondeterministic on a schema-evolved table: `upsertPartitioned`
    * unions with allowMissingColumns, so different buckets can hold
    * files with different physical schemas, and `m.files` iterates a
    * HashMap in arbitrary order — newly added columns could silently
    * vanish from one run to the next. Footer sniffing remains only as
    * the fallback for pre-schema manifests from older writers.
    */
  def tableSchema(
      tableDir: String, version: Option[Long] = None): StructType = {
    val m = version match {
      case Some(v) => PoolJsonSink.readManifestAt(tableDir, v)
      case None => PoolJsonSink.readManifest(tableDir).getOrElse(
        sys.error(s"not a manifest table: $tableDir"))
    }
    m.schemaJson match {
      case Some(j) =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType]
      case None =>
        val head = m.files.headOption.getOrElse(
          sys.error(s"empty table (no committed files): $tableDir"))
        SparkSession.active.read
          .parquet(new java.io.File(tableDir, head).toString).schema
    }
  }
}

class GraftSpjTable(
    tableDir: String, declared: StructType,
    version: Option[Long] = None)
    extends Table with SupportsRead {

  override def name(): String =
    s"graft `$tableDir`" + version.fold("")(v => s"@v$v")

  override def schema(): StructType = declared

  // MICRO_BATCH_READ only so a keyless readStream reaches the scan's
  // toMicroBatchStream and fails there naming 'changeKey'
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def partitioning(): Array[Transform] =
    Array(Expressions.identity(GraftSpjTable.BucketCol))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSpjScanBuilder(tableDir, declared, version)
}

class GraftSpjScanBuilder(
    tableDir: String, fileSchema: StructType,
    version: Option[Long] = None,
    onBuild: GraftSpjScan => Unit = _ => (),
    allowFilterPruning: Boolean = true,
    streamOptions: Option[Map[String, String]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType = fileSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var aggResult
      : Option[(StructType, Array[InternalRow])] = None
  private var pushedLimit: Option[Int] = None
  private var exactFiles: Option[Set[String]] = None

  // the committed snapshot the metadata answers resolve against —
  // same resolution rule as the scan's own manifest
  private lazy val builderManifest = version match {
    case Some(v) => PoolJsonSink.readManifestAt(tableDir, v)
    case None => PoolJsonSink.readManifest(tableDir).getOrElse(
      sys.error(s"not a manifest table: $tableDir"))
  }

  /** Complete aggregate pushdown — `count(*)` / `count(c)` / `min` /
    * `max`, ungrouped or GROUPED BY value-pure split columns —
    * answered from the manifest (GraftMetaAgg scaladoc).
    * Never offered on a row-level operation's scan
    * (`allowFilterPruning = false` marks it): its contract is "read
    * every surviving row of the scanned buckets", not "answer from
    * metadata". Spark only routes an Aggregate here when no residual
    * filter sits between it and the scan, so a filtered aggregate
    * always takes the data path; the `pushed.isEmpty` guard makes
    * that assumption explicit rather than inherited.
    */
  private def compileAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] =
    if (!allowFilterPruning ||
        (pushed.nonEmpty && exactFiles.isEmpty)) None
    else GraftMetaAgg.compile(builderManifest, fileSchema, agg,
      exactFiles)

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = compileAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = compileAgg(agg)
    aggResult.isDefined
  }

  /** Limit pushdown: the scan keeps only a file prefix whose recorded
    * row counts already cover the limit (Spark re-applies the Limit
    * above — `isPartiallyPushed` — so over-keeping is the only
    * direction, and a file without a recorded count disables the
    * truncation entirely). Refused when any filter was pushed: rows
    * get filtered ABOVE the scan, so a file prefix covering `limit`
    * raw rows may cover fewer surviving ones.
    */
  override def pushLimit(limit: Int): Boolean =
    if (!allowFilterPruning || limit < 0 ||
        (pushed.nonEmpty && exactFiles.isEmpty)) false
    else { pushedLimit = Some(limit); true }

  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the FILE's field order/instances for the parquet reader
    required = StructType(
      fileSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** Accept every filter for manifest-level skipping but report ALL
    * of them unhandled: pruning through zone maps / blooms / the key
    * hash is a pure optimization and Spark re-applies the predicates
    * above the scan, so pruning is never a semantics bet.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    // EXACT pushdown: when zone maps + null counts prove the whole
    // conjunction is precisely a file set (every live file all-in or
    // all-out — the metadata-DELETE proof in read direction), the
    // scan serves the all-in files whole and there is NOTHING to
    // re-apply: no residual Filter node, and aggregates/limits can
    // push over the filtered scan (compileAgg/pushLimit below). The
    // scan is then pinned to THIS snapshot so the proof and the read
    // see the same manifest. Unprovable conjunctions keep the
    // conservative contract: all residual, pruning only skips work.
    if (allowFilterPruning && filters.nonEmpty)
      exactFiles = MetadataDelete.allInFilesV1(
        builderManifest, filters.toSeq)
    if (exactFiles.isDefined) Array.empty else filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan = {
    // A ROW-LEVEL operation's scan must never apply planning-time
    // filter pruning: the COW commit replaces whole buckets on the
    // assumption that every surviving row of a scanned bucket was
    // re-emitted. A zone-map/bloom-pruned FILE inside a replaced
    // bucket — or a key-hash-pruned BUCKET the commit doesn't know
    // about — would silently delete the rows the pruning skipped.
    // Runtime group filtering stays: the commit consumes exactly that
    // bucket set. (Caught in review; RowLevelPruningSafetySpec pins
    // both scenarios.)
    aggResult match {
      case Some((aggSchema, rows)) =>
        GraftAggLocalScan(aggSchema, rows,
          s"graft $tableDir" + version.fold("")(v => s"@v$v"))
      case None =>
        // exact pushdown pins the scan to the snapshot the proof ran
        // on — the manifest must not re-resolve to a newer commit
        // whose files were never classified
        val pinnedVersion =
          if (exactFiles.isDefined)
            version.orElse(Some(builderManifest.version))
          else version
        val s = new GraftSpjScan(tableDir, fileSchema, required,
          pinnedVersion,
          if (allowFilterPruning) pushed
          else Array.empty[org.apache.spark.sql.sources.Filter],
          streamOptions, pushedLimit, exactFiles)
        onBuild(s)
        s
    }
  }
}

class GraftSpjScan(
    tableDir: String, fileSchema: StructType, required: StructType,
    version: Option[Long] = None,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty,
    // None = a path-addressed table, which streams only its change
    // feed (GraftTableSource); the catalog passes its read options
    streamOptions: Option[Map[String, String]] = None,
    pushedLimit: Option[Int] = None,
    // when the builder PROVED the pushed conjunction is exactly a
    // file set (every live file all-in or all-out), this is the
    // all-in set: the scan serves exactly these files and Spark was
    // told there is no residual to re-apply. Always paired with a
    // pinned version (the proof's snapshot).
    exactFiles: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** `spark.readStream.table("gcat.default.t")` — the APPEND face of
    * the keyed table: each micro-batch is the ENDPOINT-COLLAPSED diff
    * of its version range (post-image rows only, at most one row per
    * key per batch — what lets `.toTable` replication merge a batch
    * without breaking the destination's key invariant), offsets = the
    * manifest version line, first batch = the current snapshot (pass
    * `startingVersion` = current to start "latest"). A DELETE in the
    * feed fails the stream unless `ignoreDeletes=true` — an append
    * consumer that silently missed one would diverge from the table;
    * the `.changes` sub-table carries the full per-version CDC for
    * consumers that can retract. Backed by the same per-changed-bucket
    * partition readers as the `.changes` stream
    * ([[GraftChangesMicroBatchStream]]).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    val opts = streamOptions.getOrElse(sys.error(
      "readStream.format(\"graft\") streams the table's change feed " +
        s"and needs option 'changeKey' (the merge key column): $tableDir"))
    require(version.isEmpty,
      s"cannot stream a time-travelled table: $tableDir")
    val data = GraftChanges.dataSchema(manifest, tableDir)
    val key = opts.get("changekey")
      .orElse(manifest.keyCol).getOrElse(sys.error(
        s"streaming read of $tableDir needs the table's merge key " +
          "(manifest records none; pass option 'changeKey')"))
    val rows = StructType(required.fields.filterNot(
      _.name == GraftSpjTable.BucketCol))
    rows.fields.foreach(f => require(data.fieldNames.contains(f.name),
      s"streaming read cannot serve column '${f.name}' " +
        "(metadata columns are batch-only)"))
    new GraftChangesMicroBatchStream(s"graft `$tableDir`", tableDir,
      data, key, opts, GraftChanges.RowsMode, rows)
  }

  override def description(): String =
    s"graft $tableDir (bucket-aligned)"

  // ---- runtime bucket pruning (DPP for the bucket column) ----

  /** Buckets that survived a runtime filter; None = no filter arrived.
    * Read by the row-level write path to commit bucket-level
    * copy-on-write: the replacement data covers exactly these buckets.
    */
  @volatile private[sources] var runtimeBuckets: Option[Set[Long]] = None

  /** Observability hook for specs/probes: buckets whose files were
    * dropped by the last runtime filter.
    */
  @volatile var lastRuntimePruned: Int = 0

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    // like outputPartitioning: only advertise the runtime-filterable
    // bucket column while it survives pruning — PartitionPruning
    // resolves these refs against the scan OUTPUT and fails otherwise
    if (required.fieldNames.contains(GraftSpjTable.BucketCol))
      Array(Expressions.column(GraftSpjTable.BucketCol))
    else Array.empty

  /** Accept IN/= predicates on `__pt` delivered at runtime (dynamic
    * partition pruning: the joined side's surviving bucket ids). The
    * pruned buckets KEEP their input partitions — emptied of files —
    * so the partition values the SPJ alignment was planned against
    * never change; the win is every data file of a pruned bucket goes
    * unopened.
    */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def isBucketRef(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case f: NamedReference =>
          f.fieldNames.sameElements(Array(GraftSpjTable.BucketCol))
        case _ => false
      }
    def asLong(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Long] = e match {
      case l: Literal[_] => l.value match {
        case v: java.lang.Long => Some(v.longValue())
        case v: java.lang.Integer => Some(v.longValue())
        case _ => None
      }
      case _ => None
    }
    val keeps: Seq[Set[Long]] = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.nonEmpty && isBucketRef(kids.head) =>
          Some(kids.tail.flatMap(asLong).toSet)
        case "=" if kids.length == 2 && isBucketRef(kids.head) =>
          asLong(kids(1)).map(Set(_))
        case _ => None
      }
    }
    if (keeps.nonEmpty) {
      val kept = keeps.reduce(_ intersect _)
      runtimeBuckets = Some(kept)
      lastRuntimePruned = nBuckets - kept.count(b => b >= 0 && b < nBuckets)
    }
  }

  /** The committed version this scan's data was read from — what the
    * row-level write validates its commit against (stale-snapshot
    * conflict detection).
    */
  private[sources] lazy val snapshotVersion: Long = manifest.version

  // resolve the committed manifest ONCE per scan (snapshot semantics);
  // a pinned version (SQL time travel through the catalog) reads that
  // exact committed manifest instead of the current one
  private lazy val manifest = version match {
    case Some(v) => PoolJsonSink.readManifestAt(tableDir, v)
    case None => PoolJsonSink.readManifest(tableDir).getOrElse(
      sys.error(s"not a manifest table: $tableDir"))
  }

  private lazy val nBuckets: Int = manifest.nBuckets.getOrElse(
    sys.error(s"manifest records no bucket count: $tableDir " +
      "(re-commit with a current writer)"))

  override def outputPartitioning(): Partitioning =
    // The key-grouped layout is only announceable over columns that
    // SURVIVE pruning: Catalyst resolves the partitioning's
    // references against the scan output and fails on a pruned
    // column. Two faces:
    //  - engine (path) reads carry `__pt` → identity transform, the
    //    no-FunctionCatalog formulation;
    //  - catalog (name) reads subtract `__pt` but keep the MERGE KEY
    //    → `bucket(n, key)`, which resolves through the owning
    //    catalog's GraftBucketFunction and gives plain SQL joins the
    //    same zero-shuffle SPJ. Without a catalog in the relation the
    //    bucket transform simply fails to resolve and Spark keeps
    //    UnknownPartitioning — degraded, never wrong.
    if (required.fieldNames.contains(GraftSpjTable.BucketCol))
      new KeyGroupedPartitioning(
        Array(Expressions.identity(GraftSpjTable.BucketCol)), nBuckets)
    else manifest.keyCol.filter(required.fieldNames.contains) match {
      case Some(k) =>
        new KeyGroupedPartitioning(
          Array(Expressions.bucket(nBuckets, k)), nBuckets)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(nBuckets)
    }

  // ---- planning-time pruning from pushed filters (zone maps, bloom
  // sidecars, and the key hash), all against the snapshot manifest.
  // Every pushed predicate is ALSO re-applied above the scan, so this
  // can only skip work, never rows.

  /** Buckets a key-equality predicate allows: the key hashes to
    * exactly one bucket, computed with the SAME Catalyst expressions
    * the writer places rows with (`pmod(xxhash64(key), n)`) — a
    * `WHERE k = v` point lookup by table name opens one bucket of
    * files at any table size.
    */
  private lazy val keyEqBuckets: Option[Set[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    import org.apache.spark.sql.sources.EqualTo
    val keyCol = manifest.keyCol
    val sets = pushedFilters.toSeq.collect {
      case EqualTo(c, v) if keyCol.contains(c) &&
          fileSchema.fieldNames.contains(c) =>
        val dt = fileSchema(c).dataType
        val b = Pmod(
          XxHash64(Seq(Literal.create(v, dt)), 42L),
          Literal(nBuckets.toLong)).eval(null).asInstanceOf[Long]
        Set(b)
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Files the zone-map / bloom skipping keeps, per conjunct; None =
    * no skippable predicate arrived. Conservative by construction:
    * the helpers keep any file without stats for the column.
    */
  private lazy val filterFiles: Option[Set[String]] = {
    import org.apache.spark.sql.sources._
    def longRange(c: String, lo: Long, hi: Long): Set[String] =
      PoolJsonSink.pruneFilesLongRange(manifest, c, lo, hi).toSet
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    val sets = pushedFilters.toSeq.flatMap {
      case EqualTo(c, v: String) if fileSchema.fieldNames.contains(c) =>
        Some(PoolJsonSink.pruneFilesBloomEq(
          tableDir, manifest, c, v).toSet)
      case EqualTo(c, v) => num(v).map(l => longRange(c, l, l))
      case GreaterThan(c, v) =>
        num(v).map(l => longRange(c, l + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) =>
        num(v).map(l => longRange(c, l, Long.MaxValue))
      case LessThan(c, v) =>
        num(v).map(l => longRange(c, Long.MinValue, l - 1))
      case LessThanOrEqual(c, v) =>
        num(v).map(l => longRange(c, Long.MinValue, l))
      case In(c, vs) if vs.nonEmpty &&
          fileSchema.fieldNames.contains(c) =>
        if (vs.forall(_.isInstanceOf[String]))
          // batched: each sidecar read once, probed with every value
          Some(PoolJsonSink.pruneFilesBloomIn(tableDir, manifest, c,
            vs.toSeq.map(_.asInstanceOf[String])).toSet)
        else {
          val perValue = vs.toSeq.map(v => num(v).map(l => longRange(c, l, l)))
          if (perValue.forall(_.isDefined))
            Some(perValue.flatten.reduce(_ union _))
          else None
        }
      case _ => None
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Table-relative files surviving planning-time pruning (runtime
    * buckets included once they arrive), per bucket — the one source
    * of truth planInputPartitions and estimateStatistics share.
    */
  private def keptRelFiles(b: Long): Seq[String] =
    if (runtimeBuckets.exists(!_.contains(b))) Nil
    else if (keyEqBuckets.exists(!_.contains(b))) Nil
    else manifest.buckets.getOrElse(b, Nil)
      .filter(rel => filterFiles.forall(_.contains(rel)))
      .filter(rel => exactFiles.forall(_.contains(rel)))

  /** A file's exact recorded row count (`__rows`), absent for files
    * from pre-row-count writers.
    */
  private def fileRows(rel: String): Option[Long] =
    manifest.stats.get(rel).flatMap(_.get(PoolJsonSink.RowsStatCol))
      .collect { case PoolJsonSink.LongStat(n, _) => n }

  /** Planning-time statistics from the snapshot manifest: exact bytes
    * (sum of kept files' sizes) and exact row count (sum of kept
    * files' recorded `__rows`; withheld if any kept file predates the
    * recording — never a guess). Without this a DSv2 relation defaults
    * to `defaultSizeInBytes` = "assume huge", so a 2 MB dimension
    * table joined through the catalog would never plan as the
    * broadcast side without a hint. Residual filters don't break the
    * contract: these are SCAN-OUTPUT stats, and the scan emits every
    * row of every kept file — Catalyst applies its own selectivity on
    * top for the plan above.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val kept = (0L until nBuckets.toLong).flatMap(keptRelFiles)
    val bytes =
      kept.map(PoolJsonSink.fileBytes(manifest, tableDir, _)).sum
    val rows = {
      val per = kept.map(fileRows)
      if (per.exists(_.isEmpty)) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(per.flatten.sum)
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** One partition per bucket, 0 .. nBuckets-1. Buckets with no files
    * still get an (empty) partition: partition VALUES are then
    * identical for any two tables sharing nBuckets, which is what lets
    * EnsureRequirements pair them 1:1 without shuffling either side.
    * Pruning (runtime buckets, key-hash buckets, zone-map/bloom file
    * skipping) EMPTIES partitions rather than dropping them, so the
    * alignment contract survives every filter. A pushed LIMIT keeps
    * only a file prefix whose recorded row counts cover it (the
    * builder already refused the push if any filter could drop rows);
    * if any file lacks a recorded count the truncation is abandoned
    * wholesale — correctness never rides on it.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    var perBucket: Map[Long, Seq[String]] =
      (0L until nBuckets.toLong).map(b => b -> keptRelFiles(b)).toMap
    for (limit <- pushedLimit) {
      val ordered = (0L until nBuckets.toLong).flatMap(b =>
        perBucket(b).map(rel => (b, rel, fileRows(rel))))
      if (ordered.forall(_._3.isDefined)) {
        var acc = 0L
        val keep = ordered.takeWhile { case (_, _, n) =>
          val need = acc < limit
          acc += n.get
          need
        }.map { case (b, rel, _) => (b, rel) }.toSet
        perBucket = perBucket.map { case (b, rels) =>
          b -> rels.filter(rel => keep((b, rel)))
        }
      }
    }
    (0L until nBuckets.toLong).map { b =>
      val files = perBucket(b).map { rel =>
        (new java.io.File(tableDir, rel).toString,
          PoolJsonSink.fileBytes(manifest, tableDir, rel))
      }
      GraftBucketPartition(b, files): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // Columnar when the projected schema is flat-atomic (the shape the
    // vectorized parquet reader returns whole ColumnarBatches for) and
    // the session hasn't disabled vectorization. Matching the builder's
    // own returningBatch decision exactly matters: the shared closure
    // builder pins the build session's confs so both sides agree.
    val vectorized =
      spark.conf.get("spark.sql.parquet.enableVectorizedReader", "true")
        .toBoolean &&
        required.fields.nonEmpty && required.fields.forall(_.dataType match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.UserDefinedType[_] => false
          case _ => true
        })
    // Exact pushdown: every row of every kept file matches the
    // conjunction, so the parquet reader gets NO filters — they are
    // redundant, and worse, a filter on a column pruned OUT of the
    // read schema evaluates against a missing column and would drop
    // every row group (Spark normally protects against this by
    // keeping filter columns in the schema for its residual Filter;
    // with no residual, the protection is gone by design).
    GraftSpjReaderFactory(
      GraftParquetRead.readFunc(spark, fileSchema, required, vectorized,
        if (exactFiles.isDefined) Nil else pushedFilters.toSeq),
      vectorized)
  }
}

/** The ONE copy of the parquet read-closure recipe every graft DSv2
  * scan shares (SPJ/catalog batch scans and the change-feed diff
  * readers) — subtle enough that two drifting copies bit in review.
  */
private[sources] object GraftParquetRead {
  /** A serializable `PartitionedFile => Iterator[InternalRow]` (the
    * iterator elements are `ColumnarBatch`es when `vectorized`).
    *
    * Built against a CHILD session (same SparkContext, private
    * SQLConf) instead of toggling the session-global vectorized flag
    * around the call: a concurrently planned query in the same
    * session could otherwise capture the temporary setting or race
    * the restore. Runtime confs are copied over so the closure sees
    * the user's parquet/codegen settings.
    */
  def readFunc(
      spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, vectorized: Boolean,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] = {
    val buildSession = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try buildSession.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    buildSession.conf.set("spark.sql.parquet.enableVectorizedReader",
      vectorized.toString)
    // nested-column vectorization returns rows-from-batches, which
    // would break the consumers' batch/row expectations — pinned off
    buildSession.conf.set(
      "spark.sql.parquet.enableNestedColumnVectorizedReader", "false")
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        sparkSession = buildSession,
        dataSchema = dataSchema,
        partitionSchema = new StructType(),
        requiredSchema = requiredSchema,
        // parquet's OWN footer statistics skip row groups inside each
        // file — orthogonal to the manifest zone maps (which skip
        // whole files, and only on the opted-in statscols): parquet
        // writes stats for every column unasked, so a selective
        // predicate on an unindexed column still skips at row-group
        // granularity. The reader converts only filters whose columns
        // exist in EACH file's own schema (evolution-safe), and every
        // pushed predicate is re-applied above the scan regardless.
        filters = filters,
        // FileFormat.OPTION_RETURNING_BATCH: the caller states
        // whether it consumes whole ColumnarBatches — mandatory for
        // the vectorized parquet path since Spark 3.3
        options = Map("returning_batch" -> vectorized.toString),
        hadoopConf =
          spark.sessionState.newHadoopConfWithOptions(Map.empty))
  }
}

/** A bucket's worth of committed files. `partitionKey` is the bucket
  * id — the value Spark groups and aligns storage partitions by.
  */
case class GraftBucketPartition(bucketId: Long, files: Seq[(String, Long)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** Ships the parquet read closure to executors. When `vectorized`,
  * the closure's iterator elements ARE `ColumnarBatch`es (the
  * vectorized parquet reader's returning-batch contract — the same
  * InternalRow-typed handoff FileSourceScanExec's columnar path
  * uses), surfaced here through the DSv2 columnar read API so
  * BatchScanExec plans the scan columnar and whole-stage codegen
  * consumes batches directly. Scan-heavy queries then read at the
  * same vectorized speed as plain parquet instead of paying a per-row
  * materialization tax. Per-file reader
  * cleanup is the builder's own task-completion listener (SPARK-23457
  * registers it inside the closure), so early termination (limits)
  * leaks nothing.
  */
case class GraftSpjReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    vectorized: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    vectorized

  private def fileIter(p: InputPartition): Iterator[InternalRow] = {
    val part = p.asInstanceOf[GraftBucketPartition]
    part.files.iterator.flatMap { case (path, len) =>
      readFunc(PartitionedFile(
        InternalRow.empty, SparkPath.fromPathString(path), 0, len))
    }
  }

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    require(!vectorized,
      "columnar scan asked for a row reader; planner contract violated")
    val it = fileIter(p)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val it = fileIter(p)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) {
          cur = it.next()
            .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
          true
        } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }
}

/** Driver-facing sugar for the storage-partitioned join. */
object GraftSpj {
  import org.apache.spark.sql.{Column, DataFrame}

  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.format("graft").load(tableDir)

  /** Join two same-nBuckets graft tables on key equality with the
    * bucket-alignment conjunct added (semantics-neutral: `__pt` is a
    * pure function of the key) and the SPJ flag enabled. With both in
    * place the planner elides BOTH exchanges.
    *
    * NOTE: the two session confs set here intentionally REMAIN set —
    * the returned DataFrame plans lazily, so restoring them on return
    * would defeat the SPJ. Both are benign session-wide:
    * `v2.bucketing.enabled` only affects DSv2 scans that report a
    * partitioning (exactly the tables that want it), and relaxing
    * `requireAllClusterKeysForCoPartition` lets the planner keep an
    * existing co-partitioning when the join clusters on a superset of
    * the partition keys — a pure shuffle elision, never a semantics
    * change.
    */
  def join(
      spark: SparkSession, leftDir: String, rightDir: String,
      leftKey: String, rightKey: String): DataFrame = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // the join clusters on (__pt, key) but the tables partition on
    // __pt alone — subset-key co-partitioning must be allowed, or
    // EnsureRequirements re-shuffles both sides anyway
    spark.conf.set(
      "spark.sql.requireAllClusterKeysForCoPartition", "false")
    val l = read(spark, leftDir)
    val r = read(spark, rightDir)
    if (leftKey == rightKey)
      // USING-join on (bucket, key): one surviving column per key
      l.join(r, Seq(GraftSpjTable.BucketCol, leftKey))
        .drop(GraftSpjTable.BucketCol)
    else {
      val cond: Column =
        l(GraftSpjTable.BucketCol) === r(GraftSpjTable.BucketCol) &&
          l(leftKey) === r(rightKey)
      l.join(r, cond).drop(r(GraftSpjTable.BucketCol))
        .drop(l(GraftSpjTable.BucketCol))
    }
  }
}
