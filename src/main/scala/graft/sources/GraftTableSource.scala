package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pol.PoolJsonSink

/** The streaming keyed-upsert sink behind `writeStream.format
  * ("graft")` — see [[GraftTableSource.createSink]]. Batch-id
  * idempotence lives in `<table>/.graft_sink_batch` (atomic tmp+move
  * AFTER the table commit): a restarted query re-delivering batch N
  * skips it, and a crash between table commit and marker write makes
  * the redelivered upsert a same-keys-same-values no-op — the same
  * effectively-once argument t6's marker file makes.
  */
class GraftTableSink(
    sqlContext: SQLContext,
    path: String,
    keyCol: String,
    nBuckets: Int,
    complete: Boolean,
    compactEvery: Option[Int]) extends Sink {

  private def markerFile = new java.io.File(path, ".graft_sink_batch")

  private def lastBatch: Long =
    if (markerFile.isFile)
      new String(java.nio.file.Files.readAllBytes(markerFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else -1L

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (batchId <= lastBatch) return // redelivered, already committed
    // v1-sink contract: re-plan the incoming frame as a batch frame
    // before handing it to the writer (the engine's frame must not be
    // re-planned by a second query)
    val batchDf = org.apache.spark.sql.GraftColumnBridge
      .batchDataFrame(sqlContext, data.queryExecution.toRdd, data.schema)
    if (complete)
      PoolJsonSink.overwritePartitioned(
        sqlContext.sparkSession, path, batchDf, col(keyCol), nBuckets)
    else
      PoolJsonSink.upsertPartitioned(
        sqlContext.sparkSession, path, batchDf, col(keyCol), nBuckets)
    compactEvery.foreach { n =>
      if ((batchId + 1) % n == 0) {
        PoolJsonSink.compactPartitions(sqlContext.sparkSession, path,
          maxFilesPerPartition = 2)
        PoolJsonSink.vacuum(path)
        ()
      }
    }
    val tmp = new java.io.File(path, ".graft_sink_batch.tmp")
    java.nio.file.Files.write(tmp.toPath,
      s"$batchId\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, markerFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

/** `format("graft")` — the one data source name for a manifest
  * table. Every READ is a DSv2 table picked from the options:
  *
  * {{{
  *   spark.read.format("graft").load(tableDir)              // current
  *   spark.read.format("graft")
  *     .option("versionAsOf", 3).load(tableDir)             // or a tag
  *   spark.read.format("graft").option("history", "true")   // DESCRIBE
  *     .load(tableDir)                                      //  HISTORY
  *   spark.read.format("graft").option("changesFrom", 2)    // change
  *     .option("changesTo", 5).load(tableDir)               //  feed
  *   spark.readStream.format("graft")
  *     .option("changeKey", "k").load(tableDir)             // CDC stream
  *   CREATE TEMPORARY VIEW t USING graft OPTIONS (path '…') // plain SQL
  * }}}
  *
  *  - default → [[GraftSpjTable]]: the bucket-aligned scan with
  *    zone-map/bloom/key-hash pruning, aggregate and limit pushdown,
  *    exact statistics and the storage-partitioned-join layout.
  *    `versionAsOf` takes a version number or a tag name;
  *  - `history=true` → [[GraftHistoryTable]] (manifest-only);
  *  - `changesFrom` or `changeKey` → [[GraftChangesTable]], batch
  *    (versions (`changesFrom`, `changesTo`]) and `readStream`
  *    (`startingVersion`, `maxVersionsPerTrigger`).
  *
  * `branch` addresses the WAP branch's directory for every face. Each
  * scan resolves the committed manifest when it is built, so a view
  * sees the current version on every query and never torn state.
  *
  * Writes stay on the V1 faces (Spark's DataFrameWriter has no
  * path-based DSv2 route for ErrorIfExists/Ignore, the default mode):
  * the tables above declare no write capability, so `df.write` and
  * `writeStream` fall back to [[createRelation]] / [[createSink]].
  * `supportsExternalMetadata` lets a write hand its own schema to
  * `getTable`, which never reads a manifest for it.
  */
class GraftTableSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSinkProvider {
  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  // ---- read faces: one DSv2 table per option set ----

  private def tableDir(opts: CaseInsensitiveStringMap): String = {
    val base = Option(opts.get("path")).getOrElse(
      sys.error("graft source requires a 'path' option"))
    Option(opts.get("branch")).fold(base)(PoolJsonSink.branchDir(base, _))
  }

  private def table(
      opts: CaseInsensitiveStringMap, declared: Option[StructType]): Table = {
    val dir = tableDir(opts)
    def opt(k: String) = Option(opts.get(k))
    if (opt("history").exists(_.toBoolean))
      new GraftHistoryTable(s"graft `$dir`.history", dir)
    else if (opt("changesFrom").isDefined || opt("changeKey").isDefined)
      new GraftChangesTable(s"graft `$dir`.changes", dir,
        (opt("changesFrom").map("startingversion" -> _) ++
          opt("changesTo").map("endingversion" -> _)).toMap)
    else {
      val version = opt("versionAsOf")
        .map(v => PoolJsonSink.resolveVersionRef(dir, v.trim))
      new GraftSpjTable(dir,
        declared.getOrElse(GraftSpjTable.tableSchema(dir, version)), version)
    }
  }

  /** A directory with no committed manifest has an empty schema: that
    * is a write (or `writeStream`) creating the table — a read of it
    * fails at scan time with "not a manifest table".
    */
  override def inferSchema(opts: CaseInsensitiveStringMap): StructType =
    if (PoolJsonSink.readManifest(tableDir(opts)).isEmpty) new StructType()
    else table(opts, None).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties), Some(schema))

  // ---- batch write face: df.write.format("graft") = keyed MERGE ----

  /** `df.write.format("graft").option("key", "k").mode(m).save(dir)`:
    * Append = the keyed upsert (MERGE overwrite-by-key — the table's
    * native write), Overwrite = atomic whole-table replace,
    * ErrorIfExists/Ignore = the usual existence gates. `nBuckets`
    * only applies at table creation (the manifest's recorded count
    * wins after that); `statsCols` opts columns into zone maps.
    */
  override def createRelation(
      ctx: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val rawPath = parameters.getOrElse("path",
      sys.error("graft source requires a 'path' option"))
    // option("branch", name): write lands on the WAP branch (a full
    // graft table), leaving the parent untouched until publish
    val path = parameters.get("branch") match {
      case Some(b) => PoolJsonSink.branchDir(rawPath, b)
      case None => rawPath
    }
    val key = parameters.get("key")
      .orElse(PoolJsonSink.readManifest(path).flatMap(_.keyCol))
      .getOrElse(sys.error(
        "graft writes require a 'key' option (the table's merge key; " +
          "existing tables record it in the manifest)"))
    // The manifest fallback must name a column of THIS batch — fail
    // here with the fallback's provenance spelled out, rather than as
    // a late unresolved-column error deep in the write. Catches the
    // re-keying Overwrite that forgot its 'key' option.
    if (!parameters.contains("key") && !data.columns.contains(key))
      sys.error(s"graft write: key column '$key' (from the manifest " +
        s"at $path; no 'key' option given) is not in the incoming " +
        s"schema [${data.columns.mkString(", ")}] — pass " +
        "an explicit .option(\"key\", ...) to re-key the table")
    val nBuckets = parameters.get("nBuckets").map(_.toInt).getOrElse(64)
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // bloomCols opts columns into per-file bloom sidecars (point-
    // lookup file skipping); like nBuckets/statsCols it is a table
    // property — recorded in the manifest, carried by every writer
    val bloomCols = parameters.get("bloomCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // optimizedWrite=false lets a pre-clustered writer keep its task
    // layout in the staged files (zone-map discipline); default true
    // = one file per touched bucket per commit
    val optimizedWrite = parameters.get("optimizedWrite")
      .forall(_.toBoolean)
    // CHECK-constraint options: .option("expect.<name>", "<sql bool>")
    // — a batch violating any rejects the whole write (no new version)
    val expectations = parameters.collect {
      case (k, sql) if k.startsWith("expect.") =>
        k.stripPrefix("expect.") -> org.apache.spark.sql.functions.expr(sql)
    }.toSeq.sortBy(_._1)
    val spark = ctx.sparkSession
    val exists = PoolJsonSink.readManifest(path).isDefined
    mode match {
      case Append =>
        PoolJsonSink.upsertPartitioned(spark, path, data, col(key),
          nBuckets, statsCols = statsCols, expectations = expectations,
          bloomCols = bloomCols, optimizedWrite = optimizedWrite)
      case Overwrite =>
        PoolJsonSink.overwritePartitioned(spark, path, data, col(key),
          nBuckets, statsCols = statsCols, expectations = expectations,
          bloomCols = bloomCols)
      case ErrorIfExists if exists =>
        sys.error(s"graft table already exists at $path " +
          "(mode ErrorIfExists)")
      case Ignore if exists => // no-op
      case _ => // ErrorIfExists/Ignore on a fresh table: create it
        PoolJsonSink.upsertPartitioned(spark, path, data, col(key),
          nBuckets, statsCols = statsCols, expectations = expectations,
          bloomCols = bloomCols, optimizedWrite = optimizedWrite)
    }
    // the writer's answer needs no scan: reads resolve through getTable
    val written = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }

  // ---- streaming write face: writeStream.format("graft") ----

  /** `stream.writeStream.format("graft").option("key", "k")...` — the
    * t6 foreachBatch recipe packaged as a first-class sink: every
    * micro-batch keyed-upserts into the manifest table (Complete mode
    * replaces the table — the streaming-aggregation shape), with
    * batch-id idempotence persisted IN the table directory so a
    * restarted query re-delivering a committed batch is a no-op.
    * Optional `compactEvery` = N runs compactPartitions + vacuum
    * after every Nth batch (t6's small-files maintenance).
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    val path = parameters.getOrElse("path",
      sys.error("graft sink requires a 'path' option"))
    val key = parameters.get("key")
      .orElse(PoolJsonSink.readManifest(path).flatMap(_.keyCol))
      .getOrElse(sys.error(
        "graft sink requires a 'key' option (the table's merge key; " +
          "existing tables record it in the manifest)"))
    new GraftTableSink(sqlContext, path, key,
      parameters.get("nBuckets").map(_.toInt).getOrElse(64),
      complete = outputMode ==
        org.apache.spark.sql.streaming.OutputMode.Complete(),
      compactEvery = parameters.get("compactEvery").map(_.toInt))
  }
}
