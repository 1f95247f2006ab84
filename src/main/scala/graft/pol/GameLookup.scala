package graft.pol

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Game lookup dimension (S5) + the reference's three-stage key
  * fallback (P5/J1, `etl/transform.py:199-215`):
  *
  *   stage 1: dim.Pool_id == pool_id               (exact)
  *   stage 2: dim.Pool_id == lstrip0(pool_id)      (file id de-zeroed)
  *   stage 3: zfill4(dim.Pool_id) == pool_id       (dim id zero-padded)
  *
  * Later stages apply only when every earlier stage found nothing, and
  * `min_bet` is the Bet of the FIRST matching dim row in workbook
  * order while `game_ids` collects all of them in order — so dim row
  * order is part of the semantics and is preserved via an explicit
  * `row_idx`.
  *
  * Everything here runs on the driver. The dimension is a handful of
  * rows, read from its CSV or xlsx into a local relation; the pool ids
  * are one per file (no more than the documents the sink collects
  * anyway), so the fallback is plain Scala over both and the result is
  * a local relation the per-file rows broadcast-join on a plain
  * equi-key. Loading and resolving launch no Spark job, and the
  * line-level fact stream is never touched.
  */
object GameLookup {

  /** The dimension from its header and rows in file order (all
    * strings: Game, Game_id, Pool_id, Bet [, Max_win_factor]),
    * normalized to the resolved schema. `row_idx` is a row's index in
    * the file, which pins workbook row order. Built on the driver as a
    * local relation: reading it and resolving against it launch no
    * Spark job.
    */
  private def fromRows(spark: SparkSession, header: Seq[String],
      rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(header.map(StructField(_, StringType)) :+
      StructField("row_idx", LongType))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(header.indices.map(j => if (j < r.length) r(j) else null) :+ i.toLong)
    }
    val df = spark.createDataFrame(data.asJava, schema)
    val withMwf =
      if (df.columns.contains("Max_win_factor")) df
      else df.withColumn("Max_win_factor", lit(null).cast("string"))
    withMwf.select(
      col("Game").as("game"),
      col("Game_id").cast("string").as("game_id"),
      col("Pool_id").cast("string").as("pool_id_dim"),
      col("Bet").cast("double").as("bet"),
      col("Max_win_factor").cast("double").as("max_win_factor"),
      col("row_idx"))
  }

  /** Load the dimension from a CSV fixture (offline stand-in for the
    * xlsx, SURVEY §1.2). The handful of rows is read on the driver
    * through the path's Hadoop `FileSystem` and parsed with univocity
    * under Spark's CSV read defaults with a header: lines split at
    * `\n`, `\r\n` or `\r`, blank lines skipped, header names made
    * safe as Spark makes them, an empty field read as null, a short row
    * padded with nulls and a long one cut to the header.
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.csv.CSVUtils
    val file = new org.apache.hadoop.fs.Path(path)
    val in = file.getFileSystem(spark.sessionState.newHadoopConf()).open(file)
    val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val options = new CSVOptions(Map("header" -> "true"), false,
      spark.sessionState.conf.sessionLocalTimeZone)
    val parser = new com.univocity.parsers.csv.CsvParser(options.asParserSettings)
    val lines = CSVUtils.filterCommentAndEmpty(
      text.stripPrefix("\uFEFF").lines().iterator().asScala, options)
      .map(parser.parseLine).toSeq
    require(lines.nonEmpty, s"no header in $path")
    val header = CSVUtils.makeSafeHeader(lines.head,
      spark.sessionState.conf.caseSensitiveAnalysis, options).toSeq
    fromRows(spark, header, lines.tail.map(_.toSeq.map(t =>
      if (t == options.nullValue) null else t)))
  }

  /** Load the dimension straight from the reference's `.xlsx` workbook
    * (S5: `etl/transform.py:27-58` loads `game_id_to_pools.xlsx`).
    * xlsx is a zip of XML — this is a dependency-free driver-side
    * reader (java.util.zip + the JDK's StAX), which is the right scale
    * shape: the dimension is a handful of rows that the join side
    * broadcasts; the FACT side never touches this path. Handles shared
    * strings, inline strings and numeric cells; numeric cell text is
    * kept verbatim, so integer ids stay "6371", never "6371.0".
    */
  def fromXlsx(spark: SparkSession, path: String): DataFrame = {
    val rows = Xlsx.readRows(path)
    require(rows.nonEmpty, s"empty worksheet in $path")
    fromRows(spark, rows.head.map(h => Option(h).getOrElse("")), rows.tail)
  }

  /** Load the dimension from either artifact kind by extension — the
    * reference's own `game_id_to_pools.xlsx` works directly, a CSV
    * export works identically.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    if (path.toLowerCase.endsWith(".xlsx")) fromXlsx(spark, path)
    else fromCsv(spark, path)

  /** The reference's workbook discovery (`etl/transform.py:43-47`):
    * probe `<root>/`, `<root>/config/`, `<root>/data/` in order and
    * load the first `game_id_to_pools` artifact found (.xlsx exactly
    * as the reference; a .csv export of the same name also resolves).
    */
  def loadFromRoot(spark: SparkSession, repoRoot: String): DataFrame = {
    val candidates = for {
      dir <- Seq("", "config/", "data/")
      name <- Seq("game_id_to_pools.xlsx", "game_id_to_pools.csv")
    } yield s"$repoRoot/$dir$name"
    candidates.find(p => new java.io.File(p).isFile) match {
      case Some(p) => load(spark, p)
      case None => sys.error("game_id_to_pools workbook not found; " +
        s"probed: ${candidates.mkString(", ")}")
    }
  }

  /** `lstrip('0') or '0'` (trap #6 in SURVEY §7). */
  def strip0(c: Column): Column = {
    val s = regexp_replace(c, "^0+", "")
    when(s === "", "0").otherwise(s)
  }

  /** One normalized dim row. */
  private final case class DimRow(poolId: String, gameId: String,
      bet: java.lang.Double, mwf: java.lang.Double)

  /** For a pool id, the dim rows matching it at the first stage that
    * matches any, in workbook order (empty on a miss). Each stage is a
    * hash lookup, so resolving is linear in ids + dim rows.
    */
  private def stages(dim: Seq[DimRow]): String => Seq[DimRow] = {
    // zfill, not lpad: Python zfill never truncates — a dim id like
    // '50001234' must not collapse to '5000'
    def zfill4(t: String) = {
      val n = t.codePointCount(0, t.length)
      if (n < 4) "0" * (4 - n) + t else t
    }
    val keyed = dim.filter(_.poolId != null)
    val byId = keyed.groupBy(_.poolId)
    val byPadded = keyed.groupBy(d => zfill4(d.poolId))
    poolId => {
      val stripped = poolId.dropWhile(_ == '0') match { case "" => "0"; case t => t }
      byId.get(poolId).orElse(byId.get(stripped)).orElse(byPadded.get(poolId))
        .getOrElse(Nil)
    }
  }

  /** Resolve each distinct pool_id of `poolIds` against the dimension
    * with the staged fallback. Output columns: pool_id, min_bet,
    * game_ids (workbook order), max_win_factor. Pool ids with no match
    * (and null ids) are absent (callers left-join → the reference's
    * null ladder).
    */
  def resolved(dim: DataFrame, poolIds: DataFrame): DataFrame = {
    val dimRows = dim
      .select(col("pool_id_dim"), col("game_id"), col("bet"),
        col("max_win_factor"), col("row_idx"))
      .collect().sortBy(_.getLong(4)).toSeq
      .map(r => DimRow(r.getString(0), r.getString(1),
        r.getAs[java.lang.Double](2), r.getAs[java.lang.Double](3)))
    val ids = poolIds.select(col("pool_id")).collect()
      .iterator.map(_.getString(0)).filter(_ != null).distinct.toSeq
    val resolve = stages(dimRows)
    val rows = ids.flatMap { id =>
      resolve(id) match {
        case Seq() => None
        case ms => Some(Row(id, ms.head.bet, ms.map(_.gameId), ms.head.mwf))
      }
    }
    dim.sparkSession.createDataFrame(rows.asJava, Resolved)
  }

  private val Resolved = StructType(Seq(
    StructField("pool_id", StringType),
    StructField("min_bet", DoubleType),
    StructField("game_ids", ArrayType(StringType)),
    StructField("max_win_factor", DoubleType)))
}
