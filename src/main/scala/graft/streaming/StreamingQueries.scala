package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming operators (SURVEY §2 T1 + the north-star streaming
  * surface): a genuine Structured Streaming run over the events table
  * (readStream → agg → memory sink, Trigger.AvailableNow, driven to
  * completion inside the query function) plus event-time windowing and
  * gap-based sessionization. The batch-SQL oracles hold because a
  * finished AvailableNow stream over static input is semantically a
  * batch query — which is exactly the guarantee worth testing.
  */
object StreamingQueries {

  private val sinkId = new AtomicInteger(0)

  /** Run an AvailableNow streaming aggregation of the events parquet
    * into a memory sink and return its final table.
    */
  /** Run a streaming writer to completion with the state-I/O tuning
    * every fresh-checkpoint benchmark stream wants: 8 shuffle/state
    * partitions (stateful ops write one state file per partition per
    * micro-batch — 8 vs the session's 32 cuts that fixed I/O 4×; the
    * count is pinned per checkpoint at first run, so a fresh stream
    * can choose it freely) and a tmpfs checkpoint when available
    * (cleaned up after).
    */
  private def runToCompletion(s: SparkSession)(
      build: => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val shm = new java.io.File("/dev/shm")
    val ckpt = if (shm.isDirectory && shm.canWrite)
      Some(java.nio.file.Files.createTempDirectory(shm.toPath, "graft_ckpt_"))
    else None
    try {
      // graft.stream.state_partitions dials the per-stream state/
      // shuffle partition count (default 8 — the measured local
      // sweet spot; production sizes it to expected state rows ×
      // bytes / target partition size, the bandedPartitions
      // discipline applied to streams). The count pins into the
      // checkpoint at first run, so a fresh bench stream is free to
      // choose it.
      s.conf.set("spark.sql.shuffle.partitions",
        s.conf.getOption("graft.stream.state_partitions").getOrElse("8"))
      val w = build
      val q = ckpt.fold(w)(p => w.option("checkpointLocation", p.toString))
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { p =>
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
  }

  private def runStream(
      s: SparkSession, d: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.Tables.schemaOf(s, d, "events")
    val stream = graft.Tables.normalizeEventTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
    val name = s"graft_stream_${sinkId.incrementAndGet()}"
    runToCompletion(s)(
      agg(stream).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow()))
    s.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1 — streaming aggregation, exactly-once over the static input.
    "t1_stream_agg" -> ((s, d) =>
      runStream(s, d)(
        _.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("sum_value")))
        .orderBy("event_type")),

    // T2 — event-time tumbling window with watermark.
    "t2_stream_window" -> ((s, d) =>
      runStream(s, d)(
        _.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
        .orderBy("win_start", "event_type")),

    // T4 — stream-stream inner join with watermarks on both sides:
    // purchases join signups of the same user within the preceding
    // hour (event time). The range condition is what lets Spark expire
    // join state — unbounded-state stream joins don't survive
    // production. AvailableNow over static input == the batch join,
    // which the oracle pins.
    "t4_stream_stream_join" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = graft.Tables.schemaOf(s, d, "events")
      def side(): DataFrame = graft.Tables.normalizeEventTs(
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d))
      val purchases = side().where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val signups = side().where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          col("user_id").as("s_user_id"), col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val joined = purchases.join(signups,
        col("user_id") === col("s_user_id") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("s_ts") <= col("p_ts"))
      val name = s"graft_stream_${sinkId.incrementAndGet()}"
      runToCompletion(s)(
        joined
          .select("purchase_id", "signup_id", "user_id")
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow()))
      s.table(name).orderBy("purchase_id", "signup_id")
    }),

    // T5 — streaming exact dedup: dropDuplicates keyed state over the
    // event stream (first arrival per (user_id, event_type) survives),
    // then a batch roll-up of the deduped result. WHICH physical row
    // survives is arrival-order-dependent, so the query exposes only
    // the key set — deterministic — and the oracle pins it as
    // count(DISTINCT). At scale the keyed state store shards by key;
    // bounded keyspaces (user × type) keep it flat, and unbounded ones
    // call for dropDuplicatesWithinWatermark to age state out.
    "t5_stream_dedup" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = graft.Tables.schemaOf(s, d, "events")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
      val name = s"graft_stream_${sinkId.incrementAndGet()}"
      runToCompletion(s)(
        stream.dropDuplicates("user_id", "event_type")
          .select("user_id", "event_type")
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow()))
      s.table(name)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    // T8 — native session windows: the same 30-min-gap sessionization
    // as t3, but through Spark's `session_window` streaming operator —
    // state merges adjacent windows as events arrive and the watermark
    // bounds state lifetime (gap-session state CANNOT be bounded
    // without one). Complete mode over AvailableNow equals the batch
    // gap formulation, which the oracle pins (t3's lag+cumsum twin).
    // Exact-boundary note: an event exactly gap after its predecessor
    // starts a NEW session in session_window ([start, end) windows)
    // but t3's `diff > gap` keeps it — the testdata's 7001-microsecond
    // stride family can never produce an exact 30-min gap, so the two
    // formulations agree on every achievable input.
    "t8_stream_session_window" -> ((s, d) =>
      runStream(s, d)(
        _.withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          col("session_window.start").as("win_start"), col("n_events"))
        .orderBy("user_id", "win_start")),

    // T3 — gap-based sessionization (30-min inactivity): batch
    // formulation via lag + running sum; the stateful streaming twin
    // (flatMapGroupsWithState) is exercised in the test suite.
    "t3_sessionize" -> ((s, d) => {
      val e = graft.Tables.events(s, d)
      val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val sess = e
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ns").isNull ||
            col("ts_ns") - col("prev_ns") > lit(30L * 60L * 1000000000L), 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy("user_id", "session_id")
    }),

    // T6 — streaming MERGE maintenance of a keyed external table: the
    // events stream (staged as 4 chunk files, maxFilesPerTrigger=1 →
    // 4 genuine micro-batches) drives foreachBatch, and each batch
    // merges a per-user running aggregate (count / decimal sum /
    // latest event) into a manifest-committed hash-bucketed parquet
    // table through `PoolJsonSink.mergeDelta` — the streaming twin of
    // S6's at-scale sink: continuous ingestion into a MERGE-shaped
    // store. Three properties carry the at-scale story:
    //  * DELTA-DRIVEN: each batch reads only the buckets its delta
    //    keys hash into and combines only those keys (semi-join), so
    //    per-batch cost is O(delta + touched buckets), never O(table)
    //    — a trickle of events against a 100 TB table touches a
    //    handful of files (StreamUpsertSpec pins untouched buckets
    //    byte-identical across a batch);
    //  * the combine (sum + sum(DECIMAL) + max(struct(us,event_id)))
    //    is commutative/associative, so the final table is identical
    //    under ANY micro-batch order or file split — the same
    //    argument PartitionInvarianceSpec applies to batch plans;
    //  * foreachBatch is at-least-once on retry, so a batch-id marker
    //    file gates the merge (re-delivery of a completed batch is a
    //    no-op) — atomic manifest commit + idempotence marker =
    //    effectively-once on a non-transactional store.
    // Every 2nd batch compacts fat buckets so the table doesn't
    // accrete one file per bucket per batch (small-files problem).
    "t6_stream_upsert" -> ((s, d) => {
      val stage = graft.util.TempDirs.scratch("graft_t6_stage_")
      val table = graft.util.TempDirs.scratch("graft_t6_table_") + "/tbl"
      graft.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          expr("ts_ns div 1000").as("us"))
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
      runToCompletion(s)(
        stream.writeStream
          .outputMode("append")
          .queryName("graft_t6_maintenance")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val marker = new java.io.File(s"$table.batch-$batchId.done")
            if (!marker.exists()) {
              // sum_value_dec is pinned at DECIMAL(38,2): sum() widens
              // precision, and a manifest table must keep ONE schema
              // across files written by different batches (38,2 is the
              // fixpoint — summing it cannot widen further).
              val delta = batch.groupBy("user_id").agg(
                count(lit(1)).as("n_events"),
                sum(col("value").cast("decimal(18,2)"))
                  .cast("decimal(38,2)").as("sum_value_dec"),
                max(struct(col("us"), col("event_id"))).as("last"))
              graft.pol.PoolJsonSink.mergeDelta(
                s, table, delta, col("user_id"), nBuckets = 16)(
                _.groupBy("user_id").agg(
                  sum(col("n_events")).as("n_events"),
                  sum(col("sum_value_dec")).cast("decimal(38,2)")
                    .as("sum_value_dec"),
                  max(col("last")).as("last")))
              if ((batchId + 1) % 2 == 0) {
                graft.pol.PoolJsonSink.compactPartitions(
                  s, table, maxFilesPerPartition = 2)
                graft.pol.PoolJsonSink.vacuum(table)
              }
              marker.createNewFile()
            }
            ()
          }
          .trigger(Trigger.AvailableNow()))
      graft.pol.PoolJsonSink.readTable(s, table)
        .select(col("user_id"), col("n_events"),
          col("sum_value_dec").cast("double").as("sum_value"),
          col("last.event_id").as("last_event_id"))
        .orderBy("user_id")
    }),

    // T7 — streaming corpus curation: the documents table staged as 4
    // chunk files streams through the BATCH x10 Gopher gate
    // (`TextQueries.gopherFeatures` — operator reuse: a stateless
    // projection serves batch and micro-batch unchanged), survivors
    // appending to a parquet file sink. The file sink's _spark_metadata
    // commit log is the exactly-once story (a re-run batch overwrites
    // its own manifest entry, readers see only committed files), and
    // the map-only gate means per-batch cost is exactly batch-size
    // scan work — no state store at all. The finished sink aggregates
    // per source; the oracle pins it against the one-shot batch gate.
    "t7_stream_quality_gate" -> ((s, d) => {
      val stage = graft.util.TempDirs.scratch("graft_t7_stage_")
      val sink = graft.util.TempDirs.scratch("graft_t7_sink_") + "/gated"
      // stage 32 files, trigger 8 per batch: still 4 genuine
      // micro-batches, but each batch's scan parallelism is
      // files-per-trigger × parquet splits instead of ONE file's
      // splits — at the 4M-doc probe the 4-file staging ran each
      // 1M-doc batch on ~2 cores (460 s); a micro-batch's parallelism
      // must come from its FILE COUNT, matching how a real ingest
      // directory accumulates many small files per trigger interval
      graft.Tables.documents(s, d)
        .repartition(32, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(stage)
      val gated = graft.llm.TextQueries.gopherFeatures(stream)
        .where(col("pass") === 1)
        .select("doc_id", "source", "n_chars")
      runToCompletion(s)(
        gated.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", sink)
          .queryName("graft_t7_gate")
          .trigger(Trigger.AvailableNow()))
      s.read.parquet(sink)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("source")
    }),

    // T9 — streaming incremental ingest dedup: d11's continuous-crawl
    // twin. The incoming slice (md5-bucket >= 90, staged as 4 files ->
    // 4 micro-batches) streams against the PERSISTED history digest
    // snapshot ([[graft.llm.HistorySnapshot]] — digest-keyed manifest
    // table + count-sized bloom sketch, built once per maintenance
    // window). Round 4's shape recomputed the history scan + digest +
    // distinct INSIDE every micro-batch (84 s/batch at the 4M-doc
    // probe, O(history) per batch — the one flagged scale-killer);
    // now each batch reads: itself, the constant sketch, and only the
    // snapshot buckets its own digests hash into — O(batch + touched
    // buckets), the same delta-driven contract as t6's merge. The
    // sketch rejects provably-new docs map-side with no join at all
    // (bloom has no false negatives); sketch hits take the exact
    // bucket-pruned anti-join that kills FPs. Per-batch output is
    // LOG-STRUCTURED: each batch overwrites its own partition of an
    // append log (path-per-batch-id overwrite = idempotent under
    // foreachBatch's at-least-once re-delivery) with its per-digest
    // min; cross-batch first-wins resolves ONCE at read time as a
    // global min-per-digest over the (batch-sized × batches) log —
    // min is commutative/associative, so the result is identical
    // under any micro-batch order. At window close the accepted
    // digests fold into the snapshot via appendDigests and the log
    // truncates — appends stay O(batch), the heavyweight keyed merge
    // happens once per window, not once per batch (t6 demonstrates
    // the per-batch mergeDelta shape; a dedup log doesn't need it).
    "t9_stream_ingest_dedup" -> ((s, d) => {
      val snap = graft.llm.HistorySnapshot.forCorpus(s, d)
      val stage = graft.util.TempDirs.scratch("graft_t9_stage_")
      val log = graft.util.TempDirs.scratch("graft_t9_log_") + "/accepted"
      graft.Tables.documents(s, d)
        .withColumn("bucket", graft.llm.HistorySnapshot.splitBucketExpr)
        .where(col("bucket") >= 90).drop("bucket")
        .repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .withColumn("digest", graft.llm.HistorySnapshot.digestExpr)
        .withColumn("bk", graft.llm.HistorySnapshot.bkExpr)
      runToCompletion(s)(
        stream.writeStream
          .outputMode("append")
          .queryName("graft_t9_ingest")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val rows = batch.select("doc_id", "digest", "bk")
            val newDocs = snap.sketch match {
              case None => rows.select("doc_id", "digest")
              case Some(_) =>
                val hist = snap.touchedDigests(s, rows)
                val definitelyNew = rows
                  .where(!snap.mightContain(col("bk")))
                  .select("doc_id", "digest")
                val candidates = rows
                  .where(snap.mightContain(col("bk")))
                  .join(hist.hint("shuffle_hash"), Seq("digest"),
                    "left_anti")
                  .select("doc_id", "digest")
                definitelyNew.union(candidates)
            }
            newDocs.groupBy("digest")
              .agg(min(col("doc_id")).as("doc_id"))
              .write.mode("overwrite")
              .parquet(s"$log/batch=$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()))
      s.read.parquet(s"$log/batch=*")
        .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "digest").orderBy("doc_id")
    }),

    // T10 — the change feed as a STREAMING source (readStream.format
    // ("graft") with changeKey → the DSv2 GraftChangesTable): three
    // committed versions of the per-user keyed table (upsert evens /
    // MERGE odds / delete user%7) replay from genesis through the
    // Structured Streaming engine — offsets ARE manifest versions
    // (checkpoint-recoverable, AvailableNow fenced at trigger time
    // like FileStreamSource), each micro-batch is per-changed-bucket
    // hash-diff partition readers, and the memory sink accumulates
    // the full change history, which the oracle pins as j3's set
    // algebra PLUS the genesis snapshot-as-inserts. This is the read
    // side of the platform loop t6 writes: table in, feed out, both
    // under the streaming engine's exactly-once offsets.
    "t10_stream_change_feed" -> ((s, d) => {
      // the staged three-version history is SHARED with j3/j4/t11
      // (the table exists in production; the measured operator is the
      // streamed feed) — see JoinQueries.stagedChangeTable
      val table = graft.relational.JoinQueries.stagedChangeTable(s, d)
      val name = s"graft_stream_${sinkId.incrementAndGet()}"
      runToCompletion(s)(
        s.readStream.format("graft")
          .option("changeKey", "user_id")
          .option("maxVersionsPerTrigger", "1") // one version per batch
          .load(table)
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow()))
      s.table(name)
        .select(col("user_id"), col("n_events"),
          col("sum_val").cast("double").as("sum_val"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "user_id")
    }),

    // T12 — t10's streamed CDC through the NAME face: the same
    // staged history, read as `spark.readStream.table(
    // "<cat>.default.cdc.changes")` — the catalog resolves the same
    // DSv2 change-feed table t10 reads by path (GraftChangesSource),
    // so this row pins the name resolution and the sub-table
    // addressing. Shares t10's oracle verbatim: one streamed-feed
    // contract, two addressing faces, both row-identical to the
    // relational recomputation.
    "t12_stream_changes_by_name" -> ((s, d) => {
      val table = graft.relational.JoinQueries.stagedChangeTable(s, d)
      val root = new java.io.File(table).getParentFile
      // catalog name carries the staging key (the r22 lesson)
      val cat = ("gt12_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$root/wh12")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.cdc " +
        s"USING graft LOCATION '$table'")
      val name = s"graft_stream_${sinkId.incrementAndGet()}"
      runToCompletion(s)(
        s.readStream
          .option("changeKey", "user_id")
          .option("maxVersionsPerTrigger", "1") // one version per batch
          .table(s"$cat.default.cdc.changes")
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow()))
      s.table(name)
        .select(col("user_id"), col("n_events"),
          col("sum_val").cast("double").as("sum_val"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "user_id")
    }),

    // T11 — STREAMING incremental materialized-view maintenance: the
    // platform loop closed end-to-end. A keyed table takes three
    // committed versions (upsert / MERGE / delete — j3's staging);
    // its change feed streams through the engine (t10's DSv2 stream,
    // one version per micro-batch); and each micro-batch folds its
    // changes into a SECOND keyed manifest table holding a per-group
    // rollup, by retraction algebra (insert/update_postimage +1,
    // delete/update_preimage −1 — j4's algebra, but applied
    // incrementally under streaming offsets instead of in one batch
    // expression). Groups whose membership nets to zero are DELETED
    // from the MV with the tombstone arm — a retraction MV emits
    // deletes, it doesn't keep zombie zero-rows — and the GC check
    // reads ONLY the groups this batch touched (left-semi on the
    // delta), so maintenance cost per batch is O(changes), never
    // O(MV). The final MV table must equal the direct aggregate of
    // the table's final version computed from first principles —
    // which is what the oracle does. At 100 TB this is the shape of
    // every always-fresh dashboard over a mutating corpus: feed in,
    // delta-sized merges out, no re-aggregation anywhere.
    "t11_stream_incremental_mv" -> ((s, d) => {
      // source history shared with j3/j4/t10 (read-only); the MV
      // table this stream MAINTAINS is per-run scratch
      val table = graft.relational.JoinQueries.stagedChangeTable(s, d)
      val mv = graft.util.TempDirs.scratch("graft_t11_") + "/mv"
      runToCompletion(s)(
        s.readStream.format("graft")
          .option("changeKey", "user_id")
          .option("maxVersionsPerTrigger", "1") // one version per batch
          .load(table)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val signed = batch
              .withColumn("sign",
                when(col("_change_type")
                  .isin("insert", "update_postimage"), 1L)
                  .otherwise(-1L))
              .groupBy((col("user_id") % 10).as("grp"))
              .agg(sum(col("sign")).as("n_users"),
                sum(col("sign") * col("n_events")).as("n_events"),
                sum(col("sign") * col("sum_val")).cast("decimal(38,2)")
                  .as("sum_val"))
              .localCheckpoint() // one evaluation: merge + GC probe
            graft.pol.PoolJsonSink.mergeDelta(s, mv, signed,
              col("grp"), nBuckets = 8)(
              _.groupBy("grp").agg(
                sum(col("n_users")).as("n_users"),
                sum(col("n_events")).as("n_events"),
                sum(col("sum_val")).cast("decimal(38,2)").as("sum_val")))
            // GC pass over ONLY this batch's groups: zero-membership
            // groups leave the view via the tombstone arm
            val dead = graft.pol.PoolJsonSink.readTable(s, mv)
              .join(signed.select("grp"), Seq("grp"), "left_semi")
              .where(col("n_users") <= 0)
              .select("grp")
            if (!dead.isEmpty)
              graft.pol.PoolJsonSink.deletePartitioned(s, mv, dead,
                col("grp"), nBuckets = 8)
            ()
          }
          .trigger(Trigger.AvailableNow()))
      graft.pol.PoolJsonSink.readTable(s, mv)
        .select(col("grp"), col("n_users"), col("n_events"),
          col("sum_val").cast("double").as("sum_val"))
        .orderBy("grp")
    }),

    // T13 — STREAMING cross-modal serving: the m-family's t-analog,
    // closing serve-side streaming the way t9 closed ingest dedup. A
    // PROBE STREAM (the encoded text probes staged as 4 chunk files,
    // maxFilesPerTrigger=1 → 4 genuine micro-batches) serves through
    // the TRAINED IVF-PQ index via foreachBatch: each batch routes
    // its own probes to their nprobe cells, broadcasts its bounded
    // per-(probe, cell) residual ADC LUTs into the codes-only index
    // scan (m7's exact serving plan — no documents scan, ReadSchema
    // (vec_id, codes), DPP on cid), and overwrites its own partition
    // of a log-structured result (t9's idempotence convention under
    // foreachBatch's at-least-once redelivery). Per-batch cost tracks
    // PROBE-BATCH size — the index side reads only the cells this
    // batch's probes route to — which is the whole point: a live
    // query stream against a 100 TB index serves each arrival batch
    // at bounded cost, no global state, no re-aggregation. Per-probe
    // top-k is independent across probes and each probe lands in
    // exactly one batch (hash staging), so the streamed union must
    // equal batch m7 — which is what the shared oracle pins.
    // Verification assumes default dials (nprobe=2, pq.k=8), like m7.
    "t13_stream_crossmodal_serving" -> ((s, d) => {
      graft.llm.SimilarityQueries.maybeWarnRecall(s, d)
      val stage = graft.util.TempDirs.scratch("graft_t13_stage_")
      val log = graft.util.TempDirs.scratch("graft_t13_log_") + "/served"
      graft.llm.MultimodalQueries.encodedTextProbes(s, d)
        .repartition(4, col("probe_id"))
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      runToCompletion(s)(
        stream.writeStream
          .outputMode("append")
          .queryName("graft_t13_serving")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // one evaluation of the (bounded) probe batch: the ADC
            // pass references qe ~10× (routing + per-cell LUTs)
            val probes = batch.select("probe_id", "qe").localCheckpoint()
            graft.llm.SimilarityQueries.adcTop10(
              graft.llm.SimilarityQueries.batchAdcScoredFor(
                s, d, probes, excludeVecProbes = false))
              .write.mode("overwrite")
              .parquet(s"$log/batch=$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow()))
      s.read.parquet(s"$log/batch=*")
        .select("probe_id", "rk", "vec_id", "ad2")
        .orderBy("probe_id", "rk")
    })
  )

  /** The staged history's streamed feed from genesis, recomputed
    * from first principles — shared by t10 (path-addressed stream)
    * and t12 (name-addressed `.changes` stream).
    */
  private val t10OracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |v1 AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(v) AS DECIMAL(38,2)) AS sum_val
      |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
      |v2 AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(v) AS DECIMAL(38,2)) AS sum_val
      |  FROM ev GROUP BY 1),
      |changed AS (
      |  SELECT v2.user_id FROM v2 JOIN v1 USING (user_id)
      |  WHERE v1.n_events <> v2.n_events OR v1.sum_val <> v2.sum_val)
      |SELECT user_id, n_events, CAST(sum_val AS DOUBLE) AS sum_val,
      |  _change_type, _commit_version FROM (
      |  SELECT user_id, n_events, sum_val, 'insert' AS _change_type,
      |    CAST(1 AS BIGINT) AS _commit_version
      |  FROM v1
      |  UNION ALL
      |  SELECT user_id, n_events, sum_val, 'insert', CAST(2 AS BIGINT)
      |  FROM v2 WHERE user_id NOT IN (SELECT user_id FROM v1)
      |  UNION ALL
      |  SELECT user_id, n_events, sum_val, 'update_preimage',
      |    CAST(2 AS BIGINT)
      |  FROM v1 WHERE user_id IN (SELECT user_id FROM changed)
      |  UNION ALL
      |  SELECT user_id, n_events, sum_val, 'update_postimage',
      |    CAST(2 AS BIGINT)
      |  FROM v2 WHERE user_id IN (SELECT user_id FROM changed)
      |  UNION ALL
      |  SELECT user_id, n_events, sum_val, 'delete', CAST(3 AS BIGINT)
      |  FROM v2 WHERE user_id % 7 = 0)
      |ORDER BY _commit_version, _change_type, user_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "t1_stream_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "t2_stream_window" ->
      """SELECT make_timestamp(epoch_ns(ts) // 1000 // 21600000000
        |    * 21600000000) AS win_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t4_stream_stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
        |  p.user_id
        |FROM e p JOIN e s
        |  ON p.event_type = 'purchase' AND s.event_type = 'signup'
        | AND p.user_id = s.user_id
        | AND s.us >= p.us - 3600000000 AND s.us <= p.us
        |ORDER BY purchase_id, signup_id""".stripMargin,
    "t5_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "t3_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |              OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
        |                 > CAST(1800000000000 AS BIGINT)
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |t AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // native session windows must equal the batch gap formulation
    "t8_stream_session_window" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |              OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
        |                 > CAST(1800000000000 AS BIGINT)
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        |t AS (
        |  SELECT user_id, ns,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM s)
        |SELECT user_id, make_timestamp(min(ns) // 1000) AS win_start,
        |  count(*) AS n_events
        |FROM t GROUP BY user_id, session_id
        |ORDER BY user_id, win_start""".stripMargin,
    // the streamed gate must equal the one-shot batch gate
    "t7_stream_quality_gate" ->
      s"""WITH x10 AS (
         |${graft.llm.TextQueries.oracle("x10_gopher_rules")
             .replace("ORDER BY doc_id", "")})
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars
         |FROM documents d JOIN x10 ON x10.doc_id = d.doc_id
         |WHERE x10.pass = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the finished incremental MERGE table must equal the one-shot
    // batch aggregate — the maintenance-invariance contract
    "t6_stream_upsert" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1),
        |lastev AS (
        |  SELECT user_id, event_id AS last_event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, n_events, sum_value, last_event_id
        |FROM agg JOIN (SELECT user_id, last_event_id FROM lastev WHERE rn = 1)
        |  USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // the streamed ingest-dedup must equal d11's batch 'new' set
    "t9_stream_ingest_dedup" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
        |      % 100 AS bucket,
        |    md5(array_to_string(list_sort(list_distinct(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))), ' '))
        |      AS digest
        |  FROM documents),
        |inc AS (SELECT doc_id, digest FROM k WHERE bucket >= 90),
        |hist AS (SELECT DISTINCT digest FROM k WHERE bucket < 90)
        |SELECT min(doc_id) AS doc_id, digest
        |FROM inc WHERE digest NOT IN (SELECT digest FROM hist)
        |GROUP BY digest ORDER BY doc_id""".stripMargin,
    // the streamed feed must equal j3's set algebra + the genesis
    // snapshot delivered as version-1 inserts; t12 is the same
    // contract through the v2 name-based source
    "t12_stream_changes_by_name" -> t10OracleSql,
    "t10_stream_change_feed" -> t10OracleSql,
    // the streamed cross-modal top-k must equal batch m7 over the
    // union of probe batches — per-probe results are independent and
    // hash staging puts each probe in exactly one batch
    "t13_stream_crossmodal_serving" ->
      graft.llm.SimilarityQueries.crossModalOracle,
    // the streamed retraction MV must equal the direct aggregate of
    // the table's final version, computed from first principles
    "t11_stream_incremental_mv" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |v2 AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(v) AS DECIMAL(38,2)) AS sum_val
        |  FROM ev GROUP BY 1),
        |final AS (SELECT * FROM v2 WHERE user_id % 7 <> 0)
        |SELECT user_id % 10 AS grp, count(*) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(sum_val) AS DOUBLE) AS sum_val
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
