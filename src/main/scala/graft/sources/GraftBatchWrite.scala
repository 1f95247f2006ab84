package graft.sources

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal, Pmod, UnsafeProjection, XxHash64}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.pol.PoolJsonSink

/** A REAL DSv2 executor-side write for graft tables — the path SQL
  * row-level operations (MERGE INTO / UPDATE / DELETE) require, since
  * `ReplaceData` has no V1 fallback.
  *
  * Shape: each task computes every row's bucket with the table's own
  * placement function (`pmod(xxhash64(key), nBuckets)` — the same
  * Catalyst expressions the sink uses, so placement can never drift
  * between the two write paths), appends `__pt`, and streams the row
  * into a per-bucket parquet [[org.apache.spark.sql.execution
  * .datasources.OutputWriter]] under a hidden staging directory.
  * Commit messages carry (bucket, staged file); the driver moves the
  * files into `data/` and publishes them through the SAME CAS
  * manifest commit every other writer uses
  * ([[PoolJsonSink.commitStagedReplace]]) — one commit protocol, two
  * producers.
  *
  * File count: the Write requires a `bucket(n, key)`-clustered
  * distribution (resolved through the catalog's bucket function —
  * the Iceberg hash distribution-mode default), so each task owns
  * whole buckets and a statement emits one file per touched bucket,
  * even when the statement's own joins destroyed the scan's
  * per-bucket partitioning. The exchange is replacement-data-sized;
  * MergeCowProbe prices it at ~0.7 s on an 8M-row full rewrite —
  * the write-amplification-vs-file-count trade taken the same way
  * the optimized batch write takes it. OPTIMIZE compacts whatever
  * still accumulates.
  */
class GraftBatchWrite(
    tableDir: String, logicalSchema: StructType, incoming: StructType,
    keyCol: String, nBuckets: Int, opName: String,
    scannedBuckets: () => Option[Set[Long]] = () => None,
    expectedVersion: () => Option[Long] = () => None,
    splitCol: Option[String] = None,
    // declared CHECK constraints, enforced per row executor-side: a
    // row-level statement (UPDATE/MERGE SET clauses) can manufacture
    // violating values no scan-side gate would see
    checks: Seq[(String, String)] = Nil)
    extends BatchWrite {

  private val stageRel =
    s".v2stage-${java.util.UUID.randomUUID().toString.take(8)}"

  // files store the logical columns + __pt, like every graft file —
  // the single definition both the writer factory and the manifest
  // commit use, so footers and schemaJson can never disagree
  private val fileSchema = StructType(
    logicalSchema.fields.filterNot(_.name == GraftSpjTable.BucketCol)
      :+ StructField(GraftSpjTable.BucketCol, LongType, nullable = false))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf: OutputWriterFactory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    new java.io.File(tableDir, stageRel).mkdirs()
    // CHECK expressions analyze DRIVER-side (name resolution + type
    // coercion — `v > 0` against a LONG column needs the literal
    // cast the analyzer inserts); executors rebind the resolved tree
    // to their own attribute instances by name
    val analyzedChecks: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)] =
      checks.map { case (n, sql) =>
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
        val attrs = incoming.fields.toSeq.map(f =>
          AttributeReference(f.name, f.dataType, f.nullable)())
        val cond = spark.sessionState.sqlParser.parseExpression(sql)
        val analyzed = spark.sessionState.analyzer.execute(
          Filter(cond, LocalRelation(attrs)))
        analyzed.collectFirst { case f: Filter => f.condition }
          .getOrElse(sys.error(
            s"check '$n' ($sql) did not analyze to a filter"))
      match { case c => n -> c }
      }
    GraftDataWriterFactory(
      tableDir, stageRel, incoming, fileSchema, keyCol, nBuckets,
      owf, new SerializableConfiguration(job.getConfiguration),
      splitCol, analyzedChecks)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case GraftWriteCommit(files) => files
    }
    val dataDir = new java.io.File(tableDir, "data")
    dataDir.mkdirs()
    val newFiles = staged.toSeq.map { case (bucket, name) =>
      val rel = s"data/$name"
      java.nio.file.Files.move(
        new java.io.File(tableDir, s"$stageRel/$name").toPath,
        new java.io.File(tableDir, rel).toPath)
      bucket -> rel
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // If the row-level scan was runtime-group-filtered, the
    // replacement data covers only the SCANNED buckets — commit
    // bucket-level COW (replace those, append elsewhere). A filter
    // that never arrived means the whole table was read → replace
    // everything. Evaluated here, after execution, when the scan's
    // filter state is final.
    PoolJsonSink.commitStagedReplace(SparkSession.active, tableDir,
      newFiles, fileSchema.json, nBuckets, opName,
      replaceBuckets = scannedBuckets(),
      expectedPrevVersion = expectedVersion())
    cleanupStage()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupStage()

  private def cleanupStage(): Unit = {
    val d = new java.io.File(tableDir, stageRel)
    Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    d.delete(); ()
  }
}

case class GraftWriteCommit(files: Seq[(Long, String)])
    extends WriterCommitMessage

case class GraftDataWriterFactory(
    tableDir: String, stageRel: String,
    incoming: StructType, fileSchema: StructType,
    keyCol: String, nBuckets: Int,
    owf: OutputWriterFactory, conf: SerializableConfiguration,
    splitCol: Option[String] = None,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(this, partitionId, taskId)
}

class GraftDataWriter(
    f: GraftDataWriterFactory, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val inAttrs = f.incoming.fields.toSeq.map(s =>
    AttributeReference(s.name, s.dataType, s.nullable)())
  private val byName = inAttrs.map(a => a.name -> a).toMap
  private val keyAttr = byName.getOrElse(f.keyCol,
    sys.error(s"write schema ${f.incoming.fieldNames.mkString(",")} " +
      s"lacks merge key ${f.keyCol}"))
  private val bucketExpr =
    Pmod(XxHash64(Seq(keyAttr), 42L), Literal(f.nBuckets.toLong))
  // output = the file columns in file order (sourced by NAME from the
  // incoming row — robust to engine-side column reordering) + __pt
  private val outExprs = f.fileSchema.fields.toSeq.map { s0 =>
    if (s0.name == GraftSpjTable.BucketCol) bucketExpr
    else byName.getOrElse(s0.name,
      sys.error(s"incoming row lacks table column ${s0.name}"))
  }
  private val proj = UnsafeProjection.create(outExprs, inAttrs)
  private val bucketProj = UnsafeProjection.create(Seq(bucketExpr), inAttrs)
  // a declared split layout (TABLE property) keys the fanout on
  // (bucket, split value) so COW statements stage value-pure files
  // too — open-writer count is buckets-per-task × values, the
  // cardinality trade the declaration opted into
  // CHECK constraints: rebind the driver-analyzed tree to THIS
  // task's attribute instances by name, then to ordinals. Eval per
  // row, NULL passes (SQL CHECK); any violation fails the task ->
  // the statement aborts wholly and the staged files never publish
  private val checkExprs: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
    f.checks.map { case (n, analyzed) =>
      val remapped = analyzed.transformUp {
        case a: org.apache.spark.sql.catalyst.expressions
            .AttributeReference =>
          byName.getOrElse(a.name, sys.error(
            s"check '$n' references unknown column '${a.name}'"))
      }
      n -> org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(remapped, inAttrs)
    }
  private val violations =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private val splitAttr = f.splitCol.flatMap(byName.get)
  private val splitProj = splitAttr.map(a =>
    UnsafeProjection.create(Seq(a), inAttrs))
  private case object NullKey

  private val writers =
    scala.collection.mutable.HashMap.empty[(Long, Any),
      (org.apache.spark.sql.execution.datasources.OutputWriter, String)]
  private val ctx = {
    val attempt = new TaskAttemptID(
      new TaskID(new org.apache.hadoop.mapreduce.JobID("graft", 0),
        TaskType.MAP, partitionId), taskId.toInt)
    new TaskAttemptContextImpl(f.conf.value, attempt)
  }

  override def write(row: InternalRow): Unit = {
    checkExprs.foreach { case (n, e) =>
      if (e.eval(row) == false)
        violations.updateWith(n)(c => Some(c.getOrElse(0L) + 1L))
    }
    val bucket = bucketProj(row).getLong(0)
    val splitKey: Any = (splitProj, splitAttr) match {
      case (Some(sp), Some(a)) =>
        val out = sp(row)
        if (out.isNullAt(0)) NullKey
        else out.get(0, a.dataType) match {
          // the projection's buffer is reused per row — copy values
          // that are views into it before they become map keys
          case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
          case b: Array[Byte] => b.clone()
          case v => v
        }
      case _ => NullKey
    }
    val (w, _) = writers.getOrElseUpdate((bucket, splitKey), {
      val name = s"pt$bucket-${java.util.UUID.randomUUID()}.parquet"
      val path = new java.io.File(
        new java.io.File(f.tableDir, f.stageRel), name).toString
      (f.owf.newInstance(path, f.fileSchema, ctx), name)
    })
    w.write(proj(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    if (violations.nonEmpty)
      throw new IllegalArgumentException(
        "check constraint(s) violated, statement rejected: " +
          violations.map { case (n, c) => s"$n ($c rows)" }
            .mkString(", "))
    GraftWriteCommit(writers.toSeq.map { case ((b, _), (_, name)) =>
      (b, name)
    })
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, _) =>
      try w.close() catch { case scala.util.control.NonFatal(_) => }
    }
  }

  override def close(): Unit = ()
}
