package graft.pol

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pool-file source + permissive line parser.
  *
  * Reference semantics (see /root/reference):
  *   - S1 recursive scan of `*.pol` (`etl/extract.py:27-52`)
  *   - S3 multi-encoding read (`etl/extract.py:83-105`)
  *   - S4 file-metadata projection (`etl/extract.py:108-131`)
  *   - P1 permissive parse (`etl/transform.py:61-95`): whitespace split,
  *     `int(parts[0])` else drop line, `+ int(parts[2])` when present and
  *     parseable; second token is a free-text type code.
  *
  * Spark-first: `spark.read.text` keeps the scan declarative (file
  * pruning, parallel splits); the line stage is codegen'd native
  * Catalyst expressions, no UDFs, and does per-line work only: the
  * value is parsed where the line's bytes lie
  * ([[graft.functions.PolLineWin]]), the type code is built only by
  * plans that read it, and the path metadata is derived once per file
  * ([[graft.functions.PolPathMeta]]).
  */
object PolParser {

  /** One row per text line of every `.pol` under `root`, with the file
    * metadata the reference projects (S4) derived from the hidden
    * `_metadata` struct. `base` strips the leading path so
    * `relative_path`/`folder_path` match the reference's
    * repo-root-relative contract (trap #8 in SURVEY §7).
    */
  def readRaw(spark: SparkSession, root: String, base: Option[String] = None): DataFrame = {
    val raw = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.pol")
      .text(root)
      .select(
        col("value"),
        col("_metadata.file_path").as("abs_path"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("size_bytes"),
        col("_metadata.file_modification_time").as("modified_ts"))
    // file_path comes back as a file: URI; strip scheme + base dir.
    pathMeta(raw, normalize(base.getOrElse(root)))
  }

  private def normalize(p: String): String =
    new java.io.File(p).getAbsolutePath.stripSuffix("/")

  /** Relative-path + folder metadata columns from an absolute-path
    * column `abs_path` (shared by the line readers and [[listFiles]]):
    * [[graft.functions.PolPathMeta]], which decodes a scan's URI path
    * and derives the columns once per file.
    */
  def pathMeta(df: DataFrame, baseDir: String): DataFrame =
    withPathMeta(df, baseDir, "relative_path", "folder_path", "parent_folder")

  private def withPathMeta(df: DataFrame, baseDir: String, names: String*): DataFrame = {
    val meta = graft.functions.PolPathMeta(col("abs_path"), baseDir)
    names.foldLeft(df)((d, n) => d.withColumn(n, meta.getField(n)))
  }

  /** S1 as a FILE-level relation: one row per discovered `.pol`. This
    * is the inventory the reference's os.walk produces — including
    * 0-byte files (which every FileFormat scan silently skips: a
    * zero-length file yields no splits) and files whose lines all fail
    * to parse. Feed it to [[PoolMetrics.perPool]] so such files still
    * emit size-0 documents and count in the summary, like the
    * reference.
    *
    * Listing strategy mirrors Spark's own InMemoryFileIndex: the
    * driver walks the tree directly, but once it has seen
    * `parallelThreshold` subdirectories it parallelizes the remaining
    * per-directory walks across the cluster — a 33 M-file corpus is a
    * distributed metadata sweep, not a single driver loop. Works
    * against any Hadoop FS (HDFS/S3A/file).
    */
  def listFiles(spark: SparkSession, root: String,
      base: Option[String] = None,
      parallelThreshold: Int = 64): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    import scala.collection.mutable.ArrayBuffer
    val hconf = spark.sessionState.newHadoopConf()
    val rootPath = new HPath(new java.io.File(root).getAbsolutePath)
    val fs = rootPath.getFileSystem(hconf)

    // breadth-first from the root: collect files; stop expanding once
    // the frontier is wide enough to hand to the cluster
    val files = ArrayBuffer.empty[(String, Long, java.sql.Timestamp)]
    var frontier = Seq(fs.getFileStatus(rootPath).getPath)
    while (frontier.nonEmpty && frontier.size < parallelThreshold) {
      val next = ArrayBuffer.empty[HPath]
      frontier.foreach { dir =>
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory) next += st.getPath
          else if (st.getPath.getName.endsWith(".pol"))
            files += ((st.getPath.toUri.getPath, st.getLen,
              new java.sql.Timestamp(st.getModificationTime)))
        }
      }
      frontier = next.toSeq
    }

    import spark.implicits._
    val driverListed = files.toSeq.toDF("abs_path", "size_bytes", "modified_ts")
    val all = if (frontier.isEmpty) driverListed
    else {
      // distribute the remaining subtrees; executors re-open the FS
      // from the (serializable) URI + default conf
      val fsUri = fs.getUri.toString
      val dirs = frontier.map(_.toUri.getPath)
      val listed = spark.sparkContext
        .parallelize(dirs, math.min(dirs.size, 256))
        .flatMap { d =>
          val efs = new HPath(d).getFileSystem(
            new org.apache.hadoop.conf.Configuration())
          require(efs.getUri.toString == fsUri ||
            fsUri.startsWith("file:"), s"fs mismatch: $fsUri vs ${efs.getUri}")
          val out = ArrayBuffer.empty[(String, Long, java.sql.Timestamp)]
          val it = efs.listFiles(new HPath(d), true)
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && st.getPath.getName.endsWith(".pol"))
              out += ((st.getPath.toUri.getPath, st.getLen,
                new java.sql.Timestamp(st.getModificationTime)))
          }
          out
        }
      driverListed.unionByName(
        spark.createDataFrame(listed).toDF("abs_path", "size_bytes", "modified_ts"))
    }
    withPathMeta(all, normalize(base.getOrElse(root)),
        "relative_path", "file_name", "folder_path", "parent_folder")
      .select("relative_path", "file_name", "folder_path", "parent_folder",
        "size_bytes", "modified_ts")
  }

  /** Python-int parse: ANSI try_cast accepts optional sign + digits and
    * yields NULL on anything else, mirroring `int(s)` raising.
    */
  private def tryLong(c: Column): Column = c.try_cast("long")

  /** The P1 line-parse as reusable expressions over a raw line column:
    * (game_win — null when the first token isn't an integer, type_code).
    * A parseable third token is added to the value; extra tokens
    * ignored. game_win is [[graft.functions.PolLineWin]], which parses
    * the line's bytes in place and allocates nothing; type_code is
    * [[graft.functions.PolLineParse]]'s, so a plan that drops it never
    * builds it. Both have the composed `split`/`try_cast` form's
    * `UTF8String.toLong` accept/reject semantics (FunctionsSpec pins
    * the equality; codegen, no regex, stops at the third token).
    */
  def parseLine(line: Column): (Column, Column) =
    (graft.functions.PolLineParse.win(line),
      graft.functions.PolLineParse(line).getField("type_code"))

  /** The composed-builtins formulation (spec reference; the `trim`
    * variant drops tab-led lines that Python keeps — the native kernel
    * fixes that, see [[graft.functions.PolLineParse]]).
    */
  def parseLineBuiltin(line: Column): (Column, Column) = {
    val parts = split(trim(line), "\\s+")
    val v0 = tryLong(get(parts, lit(0)))
    val win = when(v0.isNotNull,
      v0 + coalesce(tryLong(get(parts, lit(2))), lit(0L)))
    (win, get(parts, lit(1)))
  }

  /** P1: parsed fact rows. Lines whose first token is not an integer are
    * dropped; a parseable third token is added to the value; the second
    * token rides along as `type_code` (used by the declared A9 stats).
    */
  def parse(raw: DataFrame): DataFrame = {
    val (win, typeCode) = parseLine(col("value"))
    raw
      .withColumn("game_win", win)
      .withColumn("type_code", typeCode)
      .filter(col("game_win").isNotNull)
      .select(col("game_win"), col("type_code"),
        col("relative_path"), col("file_name"), col("folder_path"),
        col("parent_folder"))
  }

  /** A8 variant — parse with free-rider error accounting: `observe()`
    * attaches accumulator-backed metrics (lines seen / parsed /
    * dropped) to the SAME pass that parses, so the reference's
    * success/fail counters (`etl/main.py:112-118`) arrive with the
    * action instead of costing a second scan — the difference between
    * one and two reads of a 100 TB corpus. Metrics surface through
    * `QueryExecutionListener.observedMetrics` under `metricName`.
    */
  def parseObserved(raw: DataFrame,
      metricName: String = "graft_parse"): DataFrame = {
    val (win, typeCode) = parseLine(col("value"))
    raw
      .withColumn("game_win", win)
      .withColumn("type_code", typeCode)
      .observe(metricName,
        count(lit(1)).as("lines_seen"),
        count(col("game_win")).as("lines_parsed"),
        sum(when(col("game_win").isNull, 1L).otherwise(0L))
          .as("lines_dropped"))
      .filter(col("game_win").isNotNull)
      .select(col("game_win"), col("type_code"),
        col("relative_path"), col("file_name"), col("folder_path"),
        col("parent_folder"))
  }

  /** Convenience: scan + parse in one call. */
  def read(spark: SparkSession, root: String, base: Option[String] = None): DataFrame =
    parse(readRaw(spark, root, base))

  /** S3 — multi-encoding read with the reference's per-FILE fallback
    * chain (`etl/extract.py:83-105`, see [[decodeBytes]]). The plain
    * text source applies ONE charset to every file, so this variant
    * reads whole files as binary and decodes per file inside a
    * mapPartitions — used only when a corpus is known to be
    * encoding-dirty; the default path stays on the (faster, splittable)
    * text source.
    *
    * Note binaryFile loads a whole file per row — fine for the
    * reference's ≤3.4 MB pools; gigantic single files should be
    * pre-normalized instead.
    */
  def readRawWithEncodingFallback(
      spark: SparkSession, root: String, base: Option[String] = None): DataFrame =
    decodeLines(
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pol")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(col("path"), col("content")),
      normalize(base.getOrElse(root)))

  /** Per-file decode → line rows, from a (path, content) relation. */
  def decodeLines(files: DataFrame, baseDir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._

    val outSchema = StructType(Seq(
      StructField("value", StringType),
      StructField("abs_path", StringType)))

    val lines = files.mapPartitions { it =>
      it.flatMap { r =>
        val path = r.getAs[String]("path")
        decodeBytes(r.getAs[Array[Byte]]("content"))
          .split("\n", -1).iterator
          .filter(_.nonEmpty)
          .map(line => Row(line.stripSuffix("\r"), path))
      }
    }(Encoders.row(outSchema))

    withPathMeta(lines, baseDir,
      "relative_path", "folder_path", "parent_folder", "file_name")
  }

  /** The reference's per-file decode chain: strict utf-8 \u2192 latin-1 \u2192
    * cp1252 \u2192 utf-8 with replacement.
    *
    * The BOM is deliberately KEPT: in the reference's chain, strict
    * utf-8 succeeds FIRST on BOM'd files (its utf-8-sig branch is
    * unreachable), so \uFEFF stays on line 1, int() raises and that
    * line is dropped \u2014 stripping here would parse one row more than
    * the reference.
    */
  def decodeBytes(bytes: Array[Byte]): String = {
    import java.nio.charset.{Charset, CharacterCodingException, StandardCharsets, CodingErrorAction}
    def strict(cs: Charset): Option[String] =
      try {
        val dec = cs.newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
      } catch { case _: CharacterCodingException => None }
    strict(StandardCharsets.UTF_8)
      .orElse(strict(StandardCharsets.ISO_8859_1))
      .orElse(strict(Charset.forName("windows-1252")))
      .getOrElse(new String(bytes, StandardCharsets.UTF_8)) // replace
  }
}
