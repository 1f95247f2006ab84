package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory and read one parquet per
  * table. Reading through here (rather than ad-hoc paths) keeps the
  * scan declarative so Catalyst can push filters/column pruning into
  * the parquet reader.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The inferred schema of `$dir/$name.parquet`, held in the
    * [[graft.util.Artifacts]] memo under the table's content
    * fingerprint: a rewritten table re-infers, an unchanged one never
    * does. Metadata only — every query still scans the data. Footer
    * inference costs about ten times a supplied-schema read per
    * `spark.read.parquet`, and the catalog constructs its input
    * relations hundreds of times per run. The events table's inferred
    * schema depends on `spark.sql.legacy.parquet.nanosAsLong` (LONG vs
    * TIMESTAMP for a TIMESTAMP(NANOS) column), so the conf is set
    * here, not by caller convention.
    */
  def schemaOf(spark: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    graft.util.Artifacts.memo("schema", graft.util.Artifacts.key(Seq(path)))(
      spark.read.parquet(path).schema)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir, name))
      .parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events table's `ts` column has shipped in two physical
    * generations: TIMESTAMP(NANOS) (readable only as LONG via the
    * legacy conf) and plain timestamp[us] (read as TIMESTAMP_NTZ).
    * [[normalizeEventTs]] maps EITHER onto the engine contract every
    * event query is written against: `ts_ns` = LONG epoch nanos (the
    * sort/gap-arithmetic column) and `ts` = microsecond TIMESTAMP.
    * Oracles see micros either way (`epoch_ns(ts) // 1000` in DuckDB
    * floors ns data and is exact on us data).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** Normalize a raw events relation (batch OR streaming) to the
    * `ts_ns`/`ts` contract above. Branches on the LOADED type, so the
    * same code reads both testdata generations. Integer `div`, not
    * `/`, for the ns→us floor: raw nanos exceed 2^53, so a double
    * division is 1 µs off on some epochs while the oracle's
    * epoch_ns(ts) // 1000 floors exactly. The NTZ branch casts through
    * the session timezone — every entry point pins UTC, so epoch
    * micros equal the stored wall-clock micros.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // timestamp[us] (NTZ) — or already-LTZ TIMESTAMP
        raw.withColumn("ts_ns",
            expr("unix_micros(cast(ts as timestamp)) * 1000"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
