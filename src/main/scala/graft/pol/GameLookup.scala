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
  * Resolution runs on the driver: the dimension is a handful of rows
  * and the pool ids are one per file (no more than the documents the
  * sink collects anyway), so the fallback is plain Scala over both and
  * the result is a local relation the per-file rows broadcast-join on
  * a plain equi-key. The line-level fact stream is never touched.
  */
object GameLookup {

  /** Normalize a raw header-named dimension frame (all-string columns
    * Game, Game_id, Pool_id, Bet [, Max_win_factor]) to the resolved
    * schema. `row_idx` pins workbook row order (single partition →
    * encounter order).
    */
  private def normalize(raw: DataFrame): DataFrame = {
    val df = raw.coalesce(1)
    val withMwf =
      if (df.columns.contains("Max_win_factor")) df
      else df.withColumn("Max_win_factor", lit(null).cast("string"))
    withMwf.select(
      col("Game").as("game"),
      col("Game_id").cast("string").as("game_id"),
      col("Pool_id").cast("string").as("pool_id_dim"),
      col("Bet").cast("double").as("bet"),
      col("Max_win_factor").cast("double").as("max_win_factor"),
      monotonically_increasing_id().as("row_idx"))
  }

  /** Load the dimension from a CSV fixture (offline stand-in for the
    * xlsx, SURVEY §1.2).
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.option("header", "true").csv(path))

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
    val header = rows.head.map(h => Option(h).getOrElse(""))
    val schema = StructType(header.map(StructField(_, StringType)))
    val data = rows.tail.map { r =>
      Row.fromSeq(header.indices.map(i => if (i < r.length) r(i) else null))
    }
    normalize(spark.createDataFrame(data.asJava, schema))
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
