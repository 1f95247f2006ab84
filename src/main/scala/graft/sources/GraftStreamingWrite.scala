package graft.sources

import org.apache.hadoop.mapreduce.Job

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.pol.PoolJsonSink

/** `writeStream.toTable("gcat.default.t")` — streaming INTO a keyed
  * graft table by name, as a real DSv2 [[StreamingWrite]]: each
  * micro-batch epoch becomes ONE transactional keyed MERGE (Complete
  * output mode: one whole-table replace), the exact t6 foreachBatch +
  * `mergeDelta` recipe promoted to a first-class sink so `.toTable`
  * / `.format` users need no Scala closure.
  *
  * Mechanics: executors stream rows into staged parquet — ONE file
  * per task, in the incoming schema, no placement: the driver's
  * `commit(epochId, _)` reads the staged files back and runs the
  * table's native upsert, which does the placement exchange on the
  * epoch-sized delta and publishes through the one CAS manifest
  * commit every producer shares. (The first cut staged per-BUCKET
  * files through the batch row-level writer; StreamWriteProbe
  * measured the tasks×buckets fanout at 1,763 files / 22 s for a
  * 4k-row epoch, and requiring a clustered distribution instead
  * would bolt a redundant rebalance onto the BATCH insert path —
  * Spark applies a Write's distribution to the V1 fallback too. The
  * merge re-places rows regardless, so staging placement bought
  * nothing: one plain file per task is both the fewest files and
  * the fewest moving parts.)
  *
  * Exactly-once: Structured Streaming re-runs `commit` for an epoch
  * whose completion was lost — a marker file under `_stream_epochs/`
  * (tmp+atomic-move, keyed by queryId+epochId) makes the re-run a
  * no-op instead of a duplicate merge. Duplicate EXECUTIONS of the
  * epoch's tasks are already safe: staged files are uniquely named
  * and only the files named in the driver's commit messages are
  * merged; `abort` sweeps the rest (and the vacuum v2stage sweep
  * catches a crashed driver's leftovers).
  */
class GraftStreamingWrite(
    ident: String, tableDir: String, logicalSchema: StructType,
    incoming: StructType, keyCol: String, nBuckets: Int,
    replace: Boolean, queryId: String)
  extends StreamingWrite {

  private val stageRel =
    s".v2stream-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf: OutputWriterFactory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, incoming)
    new java.io.File(tableDir, stageRel).mkdirs()
    val conf = new SerializableConfiguration(job.getConfiguration)
    val (dir, rel, schema) = (tableDir, stageRel, incoming)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new GraftEpochDataWriter(dir, rel, schema, owf, conf,
        partitionId, taskId, epochId)
  }

  private def marker(epochId: Long): java.io.File = {
    val d = new java.io.File(tableDir, "_stream_epochs")
    d.mkdirs()
    new java.io.File(d, s"$queryId-$epochId")
  }

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case GraftWriteCommit(files) => files.map(_._2)
    }
    try {
      if (marker(epochId).isFile) return // recovered re-commit: done
      val spark = SparkSession.active
      val kc = org.apache.spark.sql.functions.col(keyCol)
      val delta =
        if (staged.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(logicalSchema.fields.filterNot(
              _.name == GraftSpjTable.BucketCol)))
        else spark.read
          .parquet(staged.map(n => s"$tableDir/$stageRel/$n").toSeq: _*)
      if (replace)
        PoolJsonSink.overwritePartitioned(spark, tableDir, delta, kc, nBuckets)
      else if (staged.nonEmpty)
        PoolJsonSink.upsertPartitioned(spark, tableDir, delta, kc, nBuckets)
      // publish the epoch marker AFTER the merge committed: a crash
      // between the two re-runs the merge (idempotent per epoch — the
      // same delta merges to the same table state, one extra version)
      val tmp = java.io.File.createTempFile(
        s"$queryId-$epochId", ".tmp", marker(epochId).getParentFile)
      java.nio.file.Files.move(tmp.toPath, marker(epochId).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } finally cleanupStage()
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanupStage()

  private def cleanupStage(): Unit = {
    val d = new java.io.File(tableDir, stageRel)
    Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    d.delete(); ()
  }

  override def toString: String = s"GraftStreamingWrite($ident)"
}

/** One plain parquet file per task per epoch, in the INCOMING schema —
  * no placement column, no per-bucket split: the epoch commit's merge
  * owns placement. File names carry (epoch, partition, task) plus a
  * UUID so a speculative/retried task can never collide; only the
  * files named in the winning task's commit message get merged.
  */
class GraftEpochDataWriter(
    tableDir: String, stageRel: String, schema: StructType,
    owf: OutputWriterFactory, conf: SerializableConfiguration,
    partitionId: Int, taskId: Long, epochId: Long)
  extends org.apache.spark.sql.connector.write.DataWriter[
    org.apache.spark.sql.catalyst.InternalRow] {

  private val name =
    s"e$epochId-p$partitionId-${java.util.UUID.randomUUID()}.parquet"
  private lazy val writer = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft-stream", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      taskId.toInt)
    owf.newInstance(
      new java.io.File(
        new java.io.File(tableDir, stageRel), name).toString,
      schema,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf.value, attempt))
  }
  private var wrote = false

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    wrote = true
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (wrote) writer.close()
    GraftWriteCommit(if (wrote) Seq((0L, name)) else Nil)
  }

  override def abort(): Unit =
    if (wrote) {
      try writer.close() catch { case scala.util.control.NonFatal(_) => }
    }

  override def close(): Unit = ()
}
