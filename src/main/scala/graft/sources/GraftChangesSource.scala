package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => V2Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pol.PoolJsonSink
import graft.pol.PoolJsonSink.TableManifest

/** A graft table's row-level change feed as a DSv2 table: the
  * `.changes` sub-table by NAME (`SELECT * FROM gcat.default.t.changes`,
  * `spark.readStream.table("gcat.default.t.changes")`) and, by PATH,
  * `spark.read`/`readStream.format("graft")` with `changeKey` or
  * `changesFrom` ([[GraftTableSource]]). The manifest diff is
  * expressed as INPUT PARTITIONS — one per (changed bucket, version
  * step) — and the old∣new key join happens inside each partition
  * reader as a hash diff, so no batch is assembled on the driver.
  *
  * Why the per-bucket hash diff is sound and scale-right:
  *  - the writer places every key with `pmod(xxhash64(key), n)`, so
  *    for any two versions sharing a bucket count, a key's old and
  *    new rows live in the SAME bucket — the per-bucket diff sees
  *    both sides of every key (a rebucketing commit — OPTIMIZE SPLIT
  *    — collapses that step's feed to ONE whole-pair partition:
  *    degraded parallelism for one micro-batch, never wrongness);
  *  - a bucket whose file set is identical between the two versions
  *    cannot contain a changed row, so only CHANGED buckets get
  *    partitions: per-batch cost tracks the delta, never the table;
  *  - the old side of one bucket is bounded by the writer's bucket
  *    sizing (and OPTIMIZE compaction), so the reader's hash map is
  *    bucket-sized, not table-sized — the same bound every d*-family
  *    operator leans on.
  *
  * This is the engine's only row diff. Its parity contract is held
  * by a plain DataFrame oracle on the test side (`ChangeFeedOracle`,
  * a driver-assembled full-outer join per version pair, checked by
  * GraftChangesNameSpec and ChangesDiffPropertySpec): same schema
  * (data columns sorted by name + `_change_type` +
  * `_commit_version`), same change classification (insert / delete /
  * update_preimage+postimage), same per-version stepping over the
  * on-disk manifest line. One deliberate divergence: rows compare as
  * UNSAFE-ROW BYTES here vs null-safe struct equality in the oracle —
  * byte comparison can emit an update for a bit-level float change
  * (±0.0, NaN payloads) that SQL equality calls equal. Conservative:
  * it may restate a row, it can never miss a change.
  *
  * Reference anchor: the reference keeps a processed-files ledger and
  * re-derives "what changed" by comparing against it
  * (etl/extract.py:161-211); this is that idea applied to ROWS of the
  * keyed store, with the committed manifests as the ledger — no
  * separate log is written, and vacuum's retention window is the
  * feed's replay horizon.
  *
  * Schema across versions is FIXED at scan/stream construction (the
  * head manifest's recorded schema): older files null-fill evolved
  * columns through the parquet requested-schema contract, and
  * additive evolution mid-stream surfaces on restart.
  */
class GraftChangesTable(
    ident: String, tableDir: String,
    // lower-cased scan options the caller fixes (format("graft")'s
    // changesFrom/changesTo → startingversion/endingversion)
    fixedOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead {

  private lazy val manifest = PoolJsonSink.readManifest(tableDir)
    .getOrElse(sys.error(s"$ident: not a graft table: $tableDir"))

  override def name(): String = ident

  override def schema(): StructType =
    GraftChanges.changesSchema(GraftChanges.dataSchema(manifest, tableDir))

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // CaseInsensitiveStringMap lower-cases its keys; normalize once so
    // every lookup below can use the documented camelCase names
    val opts = options.asScala.toMap ++ fixedOptions
    () => new GraftChangesScan(ident, tableDir, opts)
  }
}

/** Batch face: versions (`startingVersion`, `endingVersion`] (defaults
  * 0 → head = the full replayable history). Streaming face:
  * [[GraftChangesMicroBatchStream]] with the same options plus
  * `maxVersionsPerTrigger`.
  */
class GraftChangesScan(
    ident: String, tableDir: String, options: Map[String, String])
    extends Scan with Batch {

  private val manifest = PoolJsonSink.readManifest(tableDir)
    .getOrElse(sys.error(s"$ident: not a graft table: $tableDir"))

  private[sources] val dataSchema: StructType =
    GraftChanges.dataSchema(manifest, tableDir)

  // option keys arrive lower-cased (CaseInsensitiveStringMap)
  private def opt(name: String): Option[String] =
    options.get(name.toLowerCase(java.util.Locale.ROOT))

  private[sources] val keyCol: String =
    opt("changeKey").getOrElse(manifest.keyCol.getOrElse(sys.error(
      s"$ident: manifest records no merge key; pass option " +
        "'changeKey' or re-commit with a current writer")))

  override def readSchema(): StructType =
    GraftChanges.changesSchema(dataSchema)

  override def description(): String = s"$ident (manifest change feed)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val from = opt("startingVersion").map(_.toLong).getOrElse(0L)
    val to = opt("endingVersion").map(_.toLong)
      .getOrElse(manifest.version)
    GraftChanges.planRange(tableDir, from, to)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChanges.readerFactory(tableDir, dataSchema, keyCol,
      mode = GraftChanges.CdcMode, rowsSchema = dataSchema)

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new GraftChangesMicroBatchStream(ident, tableDir, dataSchema,
      keyCol, options, GraftChanges.CdcMode, dataSchema)
}

/** Version-offset micro-batch stream over the manifest line — shared
  * by the `.changes` CDC face and the main table's append face
  * (`mode = RowsMode`: post-images only, projected to the scan's
  * pruned columns; deletes fail unless `ignoreDeletes=true`).
  *
  * Offsets are committed VERSIONS (immutable once published →
  * replay-deterministic batches), admission control caps a catch-up
  * run at `maxVersionsPerTrigger` versions per batch, and
  * Trigger.AvailableNow fences the version line at trigger time so
  * racing commits land in the next run. Vacuum retention is the
  * replay horizon.
  */
class GraftChangesMicroBatchStream(
    ident: String, tableDir: String, dataSchema: StructType,
    keyCol: String, options: Map[String, String],
    mode: String, rowsSchema: StructType)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // option keys arrive lower-cased (CaseInsensitiveStringMap)
  private def opt(name: String): Option[String] =
    options.get(name.toLowerCase(java.util.Locale.ROOT))

  private val startVersion =
    opt("startingVersion").map(_.toLong).getOrElse(0L)
  private val maxVersions =
    opt("maxVersionsPerTrigger").map(_.toLong)

  @volatile private var fence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    fence = PoolJsonSink.readManifest(tableDir).map(_.version)
    ()
  }

  private def head: Option[Long] =
    PoolJsonSink.readManifest(tableDir).map(_.version)
      .map(v => fence.fold(v)(math.min(v, _)))

  override def initialOffset(): V2Offset = GraftVersionOffset(startVersion)

  override def deserializeOffset(json: String): V2Offset =
    GraftVersionOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): V2Offset =
    sys.error("latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val from = versionOf(start)
    head match {
      case Some(v) if v > from =>
        GraftVersionOffset(maxVersions.fold(v)(m => math.min(v, from + m)))
      case _ => null
    }
  }

  override def reportLatestOffset(): V2Offset =
    head.map(GraftVersionOffset(_)).orNull

  private def versionOf(o: V2Offset): Long = o match {
    case GraftVersionOffset(v) => v
    case other => other.json.trim.toLong
  }

  override def planInputPartitions(
      start: V2Offset, end: V2Offset): Array[InputPartition] = {
    val (from, to) = (versionOf(start), versionOf(end))
    mode match {
      // CDC keeps per-version fidelity (consumers retract/apply).
      case GraftChanges.CdcMode =>
        GraftChanges.planRange(tableDir, from, to)
      // The append face collapses each batch to the ENDPOINT diff:
      // a batch spanning several versions then carries at most ONE
      // row per key — without this, a catch-up batch could deliver
      // two post-images of the same key and a keyed sink (toTable
      // replication) would merge both, breaking its key invariant.
      // Intermediate churn collapsing is also strictly cheaper.
      case _ => GraftChanges.planEndpoints(tableDir, from, to)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChanges.readerFactory(tableDir, dataSchema, keyCol, mode,
      rowsSchema,
      ignoreDeletes = opt("ignoreDeletes").exists(_.toBoolean))

  override def commit(end: V2Offset): Unit = ()

  override def stop(): Unit = ()
}

case class GraftVersionOffset(v: Long) extends V2Offset {
  override def json: String = v.toString
}

/** One version step's diff work for one bucket (or, after a
  * rebucketing commit, the whole step). Files carry (path, length)
  * so readers never re-stat.
  */
case class GraftChangesPartition(
    version: Long,
    oldFiles: Seq[(String, Long)],
    newFiles: Seq[(String, Long)]) extends InputPartition

object GraftChanges {

  val CdcMode = "cdc"
  val RowsMode = "rows"

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Bucket ids whose file sets differ between two manifests — the
    * only buckets a version diff must read.
    */
  def changedBuckets(m0: TableManifest, m1: TableManifest): Seq[Long] =
    (m0.buckets.keySet ++ m1.buckets.keySet).toSeq.sorted.filter { b =>
      m0.buckets.getOrElse(b, Nil).toSet != m1.buckets.getOrElse(b, Nil).toSet
    }

  /** Data columns (stored schema minus `__pt`), FILE order — what the
    * parquet read closure is built against.
    */
  def dataSchema(m: TableManifest, tableDir: String): StructType = {
    val stored = m.schemaJson match {
      case Some(j) => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType]
      case None => GraftSpjTable.tableSchema(tableDir)
    }
    StructType(stored.fields.filterNot(
      _.name == GraftSpjTable.BucketCol))
  }

  /** The feed's schema: data columns SORTED BY NAME (the reference feed's
    * canonical order) + `_change_type` + `_commit_version`. All data
    * fields nullable — old files null-fill evolved columns.
    */
  def changesSchema(data: StructType): StructType =
    StructType(
      data.fields.sortBy(_.name).map(_.copy(nullable = true)).toSeq :+
        StructField(ChangeTypeCol, StringType,
          nullable = false) :+
        StructField(CommitVersionCol, LongType,
          nullable = false))

  /** Partitions for versions (`from`, `to`]: per on-disk version step,
    * one partition per changed bucket — or one for the whole step
    * when the bucket count changed (rebucketing: placement moved, the
    * per-bucket key-locality argument is void for that pair).
    */
  def planRange(
      tableDir: String, from: Long, to: Long): Array[InputPartition] = {
    require(from <= to, s"startingVersion $from > endingVersion $to")
    if (from == to) return Array.empty
    val versions = PoolJsonSink.listVersions(tableDir)
      .filter(v => v > from && v <= to)
    var prev: Option[TableManifest] =
      if (from == 0L) None else Some(PoolJsonSink.readManifestAt(tableDir, from))
    val parts = Array.newBuilder[InputPartition]
    versions.foreach { v =>
      val m = PoolJsonSink.readManifestAt(tableDir, v)
      parts ++= pairPartitions(tableDir, prev, m, v)
      prev = Some(m)
    }
    parts.result()
  }

  /** Partitions for the single diff of the two ENDPOINT snapshots —
    * the append face's batch shape: every key appears at most once,
    * intermediate churn collapses, rows tag `_commit_version = to`.
    */
  def planEndpoints(
      tableDir: String, from: Long, to: Long): Array[InputPartition] = {
    require(from <= to, s"startingVersion $from > endingVersion $to")
    if (from == to) return Array.empty
    val base =
      if (from == 0L) None
      else Some(PoolJsonSink.readManifestAt(tableDir, from))
    pairPartitions(tableDir, base,
      PoolJsonSink.readManifestAt(tableDir, to), to).toArray
  }

  private def pairPartitions(
      tableDir: String, prev: Option[TableManifest], m: TableManifest,
      v: Long): Seq[InputPartition] = {
    val base = prev.getOrElse(TableManifest(0L, Map.empty))
    val changed = changedBuckets(base, m)
    def filesOf(mm: TableManifest, b: Long): Seq[(String, Long)] =
      mm.buckets.getOrElse(b, Nil).map { rel =>
        val f = new java.io.File(tableDir, rel)
        (f.toString, f.length())
      }
    val sameLayout = base.buckets.isEmpty || // genesis: no old rows
      ((base.nBuckets, m.nBuckets) match {
        case (Some(a), Some(b)) => a == b
        case _ => false // unknown layout: assume re-placed
      })
    if (changed.isEmpty) Nil
    else if (sameLayout)
      changed.map(b =>
        GraftChangesPartition(v, filesOf(base, b), filesOf(m, b)))
    else
      Seq(GraftChangesPartition(v,
        changed.flatMap(filesOf(base, _)),
        changed.flatMap(filesOf(m, _))))
  }

  /** Builds the serializable parquet read closure (rows, never
    * batches — the diff consumes rows) plus the per-partition hash
    * diff. `mode = RowsMode` filters to insert/update_postimage and
    * projects to `rowsSchema` (the pruned scan columns); deletes then
    * fail loudly unless `ignoreDeletes` — an append consumer that
    * silently missed a delete would diverge from the table.
    */
  def readerFactory(
      tableDir: String, dataSchema: StructType, keyCol: String,
      mode: String, rowsSchema: StructType,
      ignoreDeletes: Boolean = false): PartitionReaderFactory = {
    GraftChangesReaderFactory(
      GraftParquetRead.readFunc(SparkSession.active, dataSchema,
        dataSchema, vectorized = false),
      dataSchema, keyCol, mode, rowsSchema, ignoreDeletes)
  }
}

case class GraftChangesReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    dataSchema: StructType, keyCol: String, mode: String,
    rowsSchema: StructType, ignoreDeletes: Boolean)
    extends PartitionReaderFactory {

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftChangesPartition]
    val it = new GraftChangesDiffIterator(
      readFunc, dataSchema, keyCol, part)
    val out: Iterator[InternalRow] = mode match {
      case GraftChanges.CdcMode => it
      case GraftChanges.RowsMode =>
        // sorted-data-row field positions of the pruned scan columns
        val sortedNames = dataSchema.fields.map(_.name).sorted
        val idx = rowsSchema.fields.map(f => sortedNames.indexOf(f.name))
        val proj = UnsafeProjection.create(
          idx.toSeq.map(i => BoundReference(i,
            dataSchema(sortedNames(i)).dataType, nullable = true)))
        val nData = dataSchema.length
        it.flatMap { r =>
          val ct = r.getUTF8String(nData).toString
          ct match {
            case "insert" | "update_postimage" => Iterator.single(proj(r))
            case "update_preimage" => Iterator.empty
            case "delete" =>
              if (ignoreDeletes) Iterator.empty
              else sys.error(
                "append stream of a keyed graft table encountered a " +
                  "DELETE; read the .changes sub-table for full CDC, " +
                  "or pass option ignoreDeletes=true to drop deletes")
          }
        }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { cur = out.next(); true } else false
      override def get(): InternalRow = cur
      // per-file reader cleanup is the parquet builder's own
      // task-completion listener (SPARK-23457, registered inside the
      // closure) — early termination (LIMIT) closes at task end, the
      // same contract GraftSpjReaderFactory documents
      override def close(): Unit = ()
    }
  }
}

/** The hash diff of one partition: old files → key-indexed map of
  * unsafe-row copies, new files streamed against it. Emits rows in
  * the feed schema (sorted data columns + change type + version).
  * Null keys never match (SQL join semantics — the reference full-outer
  * join behaves identically): a null-keyed old row deletes, a
  * null-keyed new row inserts.
  */
class GraftChangesDiffIterator(
    readFunc: PartitionedFile => Iterator[InternalRow],
    dataSchema: StructType, keyCol: String,
    part: GraftChangesPartition) extends Iterator[InternalRow] {

  // file-order rows → SORTED-order owned unsafe rows
  private val sortedIdx = dataSchema.fields.zipWithIndex
    .sortBy(_._1.name).map(_._2)
  private val toSorted = UnsafeProjection.create(
    sortedIdx.toSeq.map(i => BoundReference(i,
      dataSchema.fields(i).dataType, nullable = true)))
  private val keyIdx = dataSchema.fields.zipWithIndex
    .sortBy(_._1.name).map(_._1.name).indexOf(keyCol)
  require(keyIdx >= 0, s"change feed key '$keyCol' is not a table column")
  private val keyType = dataSchema(keyCol).dataType

  /** Raw file rows projected to sorted order — TRANSIENT (the
    * projection's buffer is reused); callers copy() what they keep.
    */
  private def rows(files: Seq[(String, Long)]): Iterator[UnsafeRow] =
    files.iterator.flatMap { case (path, len) =>
      readFunc(PartitionedFile(
        InternalRow.empty, SparkPath.fromPathString(path), 0, len))
    }.map(toSorted(_))

  /** Map key under SQL equality, not JVM equals: BINARY keys get
    * content comparison (Array[Byte] is identity-equal — every
    * carried row in a changed bucket would otherwise restate as
    * delete+insert), and float keys normalize −0.0 to 0.0 the way
    * Spark's join normalization does (boxed Double.equals
    * distinguishes them; boxed NaN.equals(NaN) is already true,
    * matching Spark's NaN=NaN join semantics).
    */
  private def mapKey(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case d: java.lang.Double if d.doubleValue() == 0.0 =>
      java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case other => other
  }

  // old side: bucket-bounded by the writer's file sizing. Keys
  // extract from the OWNED copy (a ByteBuffer map key must not wrap
  // a reused buffer).
  private val oldMap =
    new java.util.HashMap[Any, UnsafeRow]()
  private val oldNullKeyed =
    scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
  rows(part.oldFiles).foreach { t =>
    val r = t.copy()
    if (r.isNullAt(keyIdx)) oldNullKeyed += r
    else oldMap.put(mapKey(r.get(keyIdx, keyType)), r)
  }

  private def meta(ct: String): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(ct), part.version))
  private val insertMeta = meta("insert")
  private val deleteMeta = meta("delete")
  private val preMeta = meta("update_preimage")
  private val postMeta = meta("update_postimage")

  // new side probes and compares against the TRANSIENT projection and
  // copies only rows it actually emits — carried-unchanged rows (the
  // common case in a trickle-updated bucket) allocate nothing
  private val newSide: Iterator[InternalRow] =
    rows(part.newFiles).flatMap { t =>
      if (t.isNullAt(keyIdx))
        Iterator.single(new JoinedRow(t.copy(), insertMeta))
      else {
        val k = mapKey(t.get(keyIdx, keyType))
        oldMap.remove(k) match {
          case null => Iterator.single(new JoinedRow(t.copy(), insertMeta))
          case o if o == t => Iterator.empty // unchanged row, carried
          case o => Iterator(
            new JoinedRow(o, preMeta): InternalRow,
            new JoinedRow(t.copy(), postMeta): InternalRow)
        }
      }
    }

  // deletes stream AFTER the new side fully drained the map
  private lazy val deletes: Iterator[InternalRow] =
    (oldMap.values.iterator.asScala ++ oldNullKeyed.iterator)
      .map(o => new JoinedRow(o, deleteMeta): InternalRow)

  override def hasNext: Boolean =
    newSide.hasNext || deletes.hasNext

  override def next(): InternalRow =
    if (newSide.hasNext) newSide.next() else deletes.next()
}
