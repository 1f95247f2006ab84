package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.PerfbenchAccess
import graft.pol.{GameLookup, PolParser, PoolJsonSink, PoolMetrics, PoolSummary}
import graft.streaming.ChangedFiles

/** One benchmark workload. Per process: `setup` (timed; repeated into
  * fresh directories, the last one is kept), `expect` (the oracle,
  * untimed), then per run `prepare` (untimed) -> `run` (timed) ->
  * `check` (untimed). A traced run also calls `probes`, which time
  * single layers the run itself does not separate.
  */
trait Workload {
  /** Input rows one run processes: lines for pol, documents for curate. */
  def rows: Long
  /** Set-ups per process. A set-up that pre-loads state through the
    * engine runs once: repeating it would not fit the benchmark's time
    * budget (4 + 22 runs per workload within 3,420 s).
    */
  def setupRounds: Int = 1
  /** A warm run's wall time on the 4-core machine the benchmark was
    * defined on. A process makes max(2, round(seconds / nominalRunS))
    * warm runs: a fixed count, so a faster or slower program is sampled
    * at the same run indices of its JVM.
    */
  def nominalRunS: Double
  def setup(dir: Path): Unit
  def expect(): Unit
  def prepare(run: Int): Unit
  def run(run: Int, tr: Tracer): Unit
  def check(run: Int, tr: Tracer): Unit
  def probes(tr: Tracer): Unit
}

object Workload {
  val names = Seq("pol_bulk", "pol_delta", "curate_nightly")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "pol_bulk" => new PolBulk(spark, seed)
    case "pol_delta" => new PolDelta(spark, seed)
    case "curate_nightly" => new CurateNightly(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }
}

/** Compares the consolidated JSON the sink wrote with the oracle. */
object PolCheck {
  private def dbl(n: JsonNode): Option[Double] =
    Option(n).filterNot(_.isNull).map(_.asDouble)
  private def str(n: JsonNode): Option[String] =
    Option(n).filterNot(_.isNull).map(_.asText)
  private def strs(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  def doc(n: JsonNode, e: PoolExpect): Unit = {
    val wrong = Seq(
      "pool_name" -> (str(n.get("pool_name")) == Some(e.fileName)),
      "pool_id" -> (str(n.get("pool_id")) == Some(e.poolId)),
      "pool_type" -> (str(n.get("pool_type")) == Some(e.poolType)),
      "game_ids" -> (strs(n.get("game_ids")) == e.gameIds),
      "min_bet" -> (dbl(n.get("min_bet")) == e.minBet),
      "max_win_factor" -> (dbl(n.get("max_win_factor")) == e.maxWinFactor),
      "rtp" -> (dbl(n.get("rtp")) == e.rtp),
      "volatility" -> (dbl(n.get("volatility")) == e.volatility),
      "is_flat" -> (n.get("is_flat").asInt == e.isFlat),
      "tag" -> (strs(n.get("tag")) == e.tag),
      "size" -> (n.get("size").asLong == e.size),
      "max_multiplier" -> (str(n.get("max_multiplier")) == e.maxMultiplier),
      "hit_frequency" ->
        (dbl(n.get("metadata").get("hit_frequency")) == e.hitFrequency))
      .collect { case (k, false) => k }
    require(wrong.isEmpty, s"${e.rel}: wrong ${wrong.mkString(", ")} in $n")
  }

  /** Oracle facts every pol workload's input must have. */
  def coverage(es: Iterable[PoolExpect]): Unit = {
    val hits = es.filter(_.minBet.isDefined)
    require(hits.nonEmpty && hits.forall(e => e.rtp.isDefined && e.volatility.isDefined),
      "a lookup hit without rtp/volatility")
    val classes = es.map(e => (e.tag, e.isFlat)).toSet
    Seq((Seq("REG"), 0), (Seq("GAB", "PFB"), 0), (Seq("PFB"), 0), (Seq("REG"), 1))
      .foreach(c => require(classes(c), s"tag class $c missing from the corpus"))
  }
}

/** The full `PolMain` batch path over a few large files into an empty
  * output directory.
  */
final class PolBulk(spark: SparkSession, seed: Long) extends Workload {
  private val nFiles = 8
  private val lines = 75000
  private val folders = 4
  private var dir: Path = _
  private var dim: Seq[DimRow] = Nil
  private var files: Seq[PolFile] = Nil
  private var expected: Map[String, PoolExpect] = Map.empty
  private var pools: Option[DataFrame] = None

  private def root = dir.resolve("pools").toString
  private def lookupCsv = dir.resolve("game_lookup.csv").toString
  private def out = dir.resolve("out")

  def rows: Long = files.map(_.lines).sum
  override def setupRounds: Int = 7
  def nominalRunS: Double = 9.0

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    dim = PolGen.lookup(seed, nFiles)
    PolGen.writeLookup(d.resolve("game_lookup.csv"), dim)
    val pr = d.resolve("pools")
    files = (0 until nFiles).map(PolGen.writePool(pr, seed, _, lines, folders)) :+
      PolGen.writeUnparseable(pr, "group_0/Pool_9999_100.pol", 40)
  }

  def expect(): Unit = {
    expected = files.map(f => f.rel -> PolOracle.expect(f, dim)).toMap
    PolCheck.coverage(expected.values)
  }

  def prepare(run: Int): Unit = {
    pools.foreach(_.unpersist(blocking = true))
    pools = None
    Io.deleteTree(out)
  }

  def run(run: Int, tr: Tracer): Unit = {
    val d = tr("lookup.load")(GameLookup.load(spark, lookupCsv))
    val inventory = tr("parser.list") {
      val inv = PolParser.listFiles(spark, root)
      if (tr.on) tr.note("parser.files_listed", inv.count())
      inv
    }
    val parsed = tr("parser.read")(
      PolParser.parseObserved(PolParser.readRaw(spark, root)))
    val p = tr("metrics.perpool") {
      val p = PoolMetrics.perPool(parsed, d, Some(inventory)).persist()
      // traced only: materialise here, so the layer owns its work
      if (tr.on) p.count()
      p
    }
    pools = Some(p)
    val docs = PoolMetrics.documents(p)
    val rows = tr("documents.collect")(
      docs.orderBy(col("metadata.source_file")).collect().toSeq)
    tr.note("documents.collected_rows", rows.size)
    val ts = java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
      .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
    val agg = tr("summary.aggregate")(
      PoolSummary.aggregate(docs, Some(ts)).collect()(0))
    val json = out.resolve("all_pools_data.json")
    val n = tr("json.upsert")(PoolJsonSink.upsert(rows, json))
    tr.note("json.docs_upserted", n)
    tr.note("json.existing_docs", 0)
    if (tr.on) tr.note("json.bytes_written", Files.size(json))
    tr("json.summary") {
      PoolJsonSink.writeSummary(
        PoolJsonSink.summaryJson(ts, n, n, 0, Seq.empty,
          Seq("Meta_data/all_pools_data.json"), agg),
        out.resolve("_pipeline_summary.json"))
      PoolJsonSink.writeIndex(rows, ts, out.resolve("_index.json"))
    }
  }

  def check(run: Int, tr: Tracer): Unit = {
    val json = Io.readJson(out.resolve("all_pools_data.json"))
    val keys = Io.fields(json).map(_._1).toSet
    require(keys == expected.keySet,
      s"documents for ${keys.size} files, expected ${expected.size}")
    Io.fields(json).foreach { case (k, n) => PolCheck.doc(n, expected(k)) }
    val agg = Io.readJson(out.resolve("_pipeline_summary.json")).get("aggregated")
    require(agg.get("total_files_processed").asLong == files.size &&
      agg.get("total_records_across_all_files").asLong ==
        expected.values.map(_.size).sum, s"wrong summary $agg")
    require(Io.readJson(out.resolve("_index.json")).get("total_files").asLong ==
      files.size, "wrong index")
    pools.get.select("relative_path", "total_win", "hits").collect().foreach { r =>
      val e = expected(r.getString(0))
      require(r.getLong(1) == e.totalWin && r.getLong(2) == e.hits,
        s"${e.rel}: total_win/hits ${r.getLong(1)}/${r.getLong(2)}, " +
          s"expected ${e.totalWin}/${e.hits}")
    }
  }

  /** `pol_delta`, traced as a probe of this workload: BENCHMARK.json
    * leaves it out as a workload (its engine pre-load does not fit the
    * benchmark's time budget), so its layers are measured here, under
    * its own `pol_delta.` names. Built on first use, outside any span.
    */
  private lazy val delta = {
    val d = new PolDelta(spark, seed)
    d.setup(dir.resolve("delta"))
    d.expect()
    d
  }

  def probes(tr: Tracer): Unit = {
    val d = delta
    tr("pol_delta") {
      d.prepare(0)
      d.run(0, tr)
      d.check(0, tr)
      d.probes(tr)
    }
    val (seen, dropped) = tr("parser.parse") {
      Probe.observed(spark, "perfbench_parse") {
        PolParser.parseObserved(PolParser.readRaw(spark, root), "perfbench_parse")
          .write.format("noop").mode("overwrite").save()
      }
    }
    require(seen == files.map(_.lines).sum && dropped == files.map(_.dropped).sum,
      s"parse saw $seen lines and dropped $dropped")
    tr.note("parser.lines_seen", seen)
    tr.note("parser.lines_dropped", dropped)
    tr.note("parser.read_amp", tr.find("parser.parse").get.counters.inputBytes.toDouble /
      files.map(_.bytes).sum)
  }
}

/** `ChangedFiles.runOnce` (ledger mode) over many small files, after a
  * ~5 % push: files modified in place plus new files. Every run starts
  * from the same pre-loaded JSON and ledger.
  */
final class PolDelta(spark: SparkSession, seed: Long) extends Workload {
  private val nFiles = 200
  private val lines = 200
  private val folders = 8
  private val nModified = 8
  private val nNew = 2
  private val loadedAt = FileTime.fromMillis(1893456000000L) // 2030-01-01
  private val pushedAt = FileTime.fromMillis(1893456000000L + 86400000L)
  private var dir: Path = _
  private var dim: Seq[DimRow] = Nil
  private var base: IndexedSeq[(PolFile, Array[Byte])] = IndexedSeq.empty
  private var pushed: Seq[(PolFile, Array[Byte])] = Nil
  private var added: Seq[String] = Nil
  private var expected: Map[String, PoolExpect] = Map.empty
  private var planted: Set[String] = Set.empty

  private def root = dir.resolve("pools")
  private def lookupCsv = dir.resolve("game_lookup.csv").toString
  private def state = dir.resolve("state")
  private def json = state.resolve("all_pools_data.json")
  private def ledger = state.resolve("ledger").toString
  private def stamp(run: Int) = f"2030-01-02T00:00:00+00:00#$run%04d"

  def rows: Long = pushed.map(_._1.lines).sum
  def nominalRunS: Double = 7.0

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    dim = PolGen.lookup(seed, nFiles + nNew)
    PolGen.writeLookup(d.resolve("game_lookup.csv"), dim)
    base = (0 until nFiles).map(PolGen.pool(seed, _, 0, lines, folders))
    base.foreach { case (f, b) =>
      Files.setLastModifiedTime(PolGen.write(root, f.rel, b), loadedAt)
    }
    ChangedFiles.runOnce(spark, root.toString, lookupCsv, json, ledger,
      Some("2030-01-01T00:00:00+00:00"))
    Io.copyTree(state, d.resolve("loaded"))
    val r = new java.util.SplittableRandom(seed + 99)
    val modified = Iterator.continually(r.nextInt(nFiles)).distinct.take(nModified).toSeq
    pushed = modified.map(PolGen.pool(seed, _, 1, lines, folders)) ++
      (nFiles until nFiles + nNew).map(PolGen.pool(seed, _, 1, lines, folders))
    planted = pushed.map(_._1.rel).toSet
    added = (planted -- base.map(_._1.rel)).toSeq
  }

  def expect(): Unit = {
    val files = base.map(_._1).filterNot(f => planted(f.rel)) ++ pushed.map(_._1)
    expected = files.map(f => f.rel -> PolOracle.expect(f, dim)).toMap
    PolCheck.coverage(expected.values)
  }

  /** Back to the pre-loaded state, then the push. */
  def prepare(run: Int): Unit = {
    base.foreach { case (f, b) =>
      if (planted(f.rel))
        Files.setLastModifiedTime(PolGen.write(root, f.rel, b), loadedAt)
    }
    added.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    Io.deleteTree(state)
    Io.copyTree(dir.resolve("loaded"), state)
    pushed.foreach { case (f, b) =>
      Files.setLastModifiedTime(PolGen.write(root, f.rel, b), pushedAt)
    }
  }

  // Layers are recorded as `pol_delta.<layer>`, whether this runs as a
  // workload or as a probe of `pol_bulk`, so they never share a name
  // with `pol_bulk`'s.
  def run(run: Int, tr: Tracer): Unit = {
    val n = tr.in("pol_delta")("changed.run")(ChangedFiles.runOnce(
      spark, root.toString, lookupCsv, json, ledger, Some(stamp(run))))
    require(n == planted.size, s"reprocessed $n files, ${planted.size} changed")
  }

  def check(run: Int, tr: Tracer): Unit = {
    val docs = Io.fields(Io.readJson(json)).toSeq
    require(docs.map(_._1).toSet == expected.keySet,
      s"${docs.size} documents, expected ${expected.size}")
    docs.foreach { case (k, n) => PolCheck.doc(n, expected(k)) }
    val redone = docs.collect {
      case (k, n) if n.get("metadata").get("processed_at").asText == stamp(run) => k
    }.toSet
    tr.in("pol_delta").note("changed.detect_precision",
      if (redone.isEmpty) 0.0 else (redone & planted).size.toDouble / redone.size)
    require(redone == planted,
      s"reprocessed ${redone.size} files, ${(redone & planted).size} of them planted")
  }

  def probes(host: Tracer): Unit = {
    val tr = host.in("pol_delta")
    prepare(-1)
    val inv = tr("parser.list")(PolParser.listFiles(spark, root.toString))
    tr.note("parser.files_listed", inv.count())
    val changed = tr("changed.detect") {
      val c = ChangedFiles.detect(inv, ChangedFiles.loadLedger(spark, ledger))
        .cache()
      tr.note("changed.files_detected", c.count())
      c
    }
    // ChangedFiles' own explicit-path scan of the changed set, composed
    // from the same public calls, so collect and upsert time separately
    val docs = tr("documents.collect") {
      val baseDir = root.toAbsolutePath.toString
      val paths = changed.select("relative_path").collect()
        .map(r => s"$baseDir/${r.getString(0)}")
      val raw = spark.read.option("pathGlobFilter", "*.pol").text(paths: _*)
        .select(col("value"),
          col("_metadata.file_path").as("abs_path"),
          col("_metadata.file_name").as("file_name"))
      val parsed = PolParser.parse(PolParser.pathMeta(raw, baseDir))
      val files = changed
        .select("relative_path", "file_name", "folder_path", "parent_folder")
      val dim = tr("lookup.load")(GameLookup.load(spark, lookupCsv))
      PoolMetrics.documents(PoolMetrics.perPool(parsed, dim, Some(files)))
        .collect().toSeq
    }
    changed.unpersist()
    tr.note("documents.collected_rows", docs.size)
    tr.note("json.existing_docs", Io.fields(Io.readJson(json)).size)
    tr.note("json.docs_upserted", tr("json.upsert")(PoolJsonSink.upsert(docs, json)))
    tr.note("json.bytes_written", Files.size(json))
  }
}

/** `CurateMain`'s nightly run (gate -> dedup -> decontaminate -> split
  * -> MERGE -> report) over tonight's corpus, MERGEd into the table the
  * previous night (the first 90 % of the same corpus) built.
  */
final class CurateNightly(spark: SparkSession, seed: Long) extends Workload {
  private val nDocs = 4000
  private var dir: Path = _
  private var docs: IndexedSeq[Doc] = IndexedSeq.empty
  private var outcome: CurateOracle.Outcome = _
  private var report: Seq[(String, String, Long, Long)] = Nil

  private def tonight = dir.resolve("tonight").toString
  private def state = dir.resolve("state")
  private def table = state.resolve("table").toString

  def rows: Long = nDocs
  def nominalRunS: Double = 5.0

  private def writeCorpus(at: String, ds: Seq[Doc]): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava,
      schema).coalesce(1).write.parquet(s"$at/documents.parquet")
  }

  def setup(d: Path): Unit = {
    dir = d
    docs = CurateGen.generate(seed, nDocs)
    val lastNight = d.resolve("last_night").toString
    writeCorpus(lastNight, docs.take(nDocs * 9 / 10))
    writeCorpus(tonight, docs)
    PerfbenchAccess.curateRun(spark, lastNight, state.toString)
    Io.copyTree(state, d.resolve("loaded"))
  }

  def expect(): Unit = {
    outcome = CurateOracle.outcome(docs, PerfbenchAccess.benchBudget)
    val splits = outcome.split.values.toSet
    Seq("train", "val", "test", "quarantined").foreach(s =>
      require(splits(s), s"the corpus curates no $s documents"))
  }

  def prepare(run: Int): Unit = {
    Io.deleteTree(state)
    Io.copyTree(dir.resolve("loaded"), state)
  }

  def run(run: Int, tr: Tracer): Unit =
    report = tr("curate.run")(PerfbenchAccess.curateRun(spark, tonight, state.toString))

  def check(run: Int, tr: Tracer): Unit = {
    val got = report.map { case (sp, src, n, t) => (sp, src) -> ((n, t)) }.toMap
    require(got == outcome.report, s"report $got, expected ${outcome.report}")
    val rows = PoolJsonSink.readTable(spark, table).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    require(rows.length == report.map(_._3).sum && rows.toMap == outcome.split,
      s"table holds ${rows.length} rows, the report ${report.map(_._3).sum}")
  }

  def probes(tr: Tracer): Unit = {
    prepare(-1)
    val corpus = graft.Tables.documents(spark, tonight)
    val gate = tr("llm.gate")(PerfbenchAccess.gopherFeatures(corpus)
      .agg(sum(col("pass")),
        sum(when(col("pass") === 1 && !PerfbenchAccess.isBenchDoc, 1).otherwise(0)))
      .head())
    val (passed, gated) = (gate.getLong(0), gate.getLong(1))
    tr.note("llm.gate_pass_ratio", passed.toDouble / nDocs)
    tr("llm.decontam")(PerfbenchAccess.decontaminate(spark, tonight)
      .write.format("noop").mode("overwrite").save())
    val curated = tr("curate.curated") {
      val c = PerfbenchAccess.curated(spark, tonight).persist()
      tr.note("llm.dedup_ratio", c.count().toDouble / gated)
      c
    }
    val before = Io.files(state.resolve("table"))
    val buckets = tr("table.merge")(PoolJsonSink.upsertPartitioned(
      spark, table, curated, col("doc_id"), nBuckets = 16))
    curated.unpersist()
    val written = Io.files(state.resolve("table")) -- before.keySet
    val live = PoolJsonSink.readManifest(table).get.files
      .map(f => Files.size(state.resolve("table").resolve(f))).sum
    tr.note("table.buckets_rewritten", buckets.size)
    tr.note("table.files_written", written.size)
    tr.note("table.bytes_written", written.values.sum)
    tr.note("table.write_amp", written.values.sum.toDouble / live)
  }
}

object Probe {
  /** Runs `body` and returns the (lines_seen, lines_dropped) observed
    * metrics `PolParser.parseObserved` attached under `name`.
    */
  def observed(spark: SparkSession, name: String)(body: => Unit): (Long, Long) = {
    @volatile var got: Option[Row] = None
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get(name).foreach(m => got = Some(m))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    val m = got.getOrElse(sys.error(s"no observed metrics under $name"))
    (m.getAs[Long]("lines_seen"), m.getAs[Long]("lines_dropped"))
  }
}
