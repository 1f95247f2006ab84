package graft.pol

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-pool gambling-math metrics and classification — the semantic
  * core of the reference engine.
  *
  * Reference semantics (all byte-verified against the golden outputs,
  * SURVEY.md preamble):
  *   - P2 filename decode (`etl/transform.py:181-186`)
  *   - P3 classification (`etl/transform.py:130-162`)
  *   - A1–A6 metrics (`etl/transform.py:98-127, 190-228`):
  *       rtp  = round(sum/(n*bet)*100, 2)                 [half-even]
  *       hit  = round(count(win>0)/n*100, 2)              [half-even]
  *       vol  = round(1.645*sqrt(Σ round(freq·(w/bet − rtp/100)², 4)), 2)
  *     with the traps: vol consumes the ALREADY-ROUNDED rtp, and each
  *     variance term is rounded to 4dp BEFORE summing.
  *
  * Rounding is `bround` (HALF_EVEN) to match Python/numpy. The rounded
  * 4dp variance terms are summed as DECIMAL(28,4), which makes the
  * reference's round-then-sum order exact AND order-independent, so
  * the result cannot drift from the single-threaded pandas one however
  * the histogram was partitioned.
  *
  * Shuffle shape at scale: the raw fact stream is aggregated ONCE by
  * (file, win) with map-side combine — the only wide shuffle over the
  * full data. A second, tiny shuffle turns the (file, win) histogram
  * (~330 rows/file observed) and the file inventory into one row per
  * file carrying the histogram as an array; volatility is a map-only
  * fold over that array, and the lookup, resolved on the driver, is
  * broadcast onto those rows. A 100 TB corpus reduces to
  * |files|·|distinct wins| rows after the first shuffle. The per-file
  * frame ends in ONE partition: it holds one row per file, no more
  * than the documents the sink collects to the driver anyway, and a
  * single partition lets the sorted collect and the global summary
  * run without another exchange. The finished rows, histogram dropped,
  * are exchanged into it (`repartition(1)`, not `coalesce(1)`), so the
  * per-file aggregate above stays parallel.
  */
object PoolMetrics {

  /** P2: `Pool_0201_395.pol` → (pool_id "0201", pool_type "395").
    * Mirrors `name.replace('.pol','').split('_')` with positional null
    * safety (get() is null out-of-range).
    */
  def decodeFilename(fileName: Column): (Column, Column) = {
    val parts = split(regexp_replace(fileName, "\\.pol", ""), "_")
    (get(parts, lit(1)), get(parts, lit(2)))
  }

  /** P3: classification truth table. tag is `['GAB','PFB']` for exactly
    * '395'; `['PFB']` for 5-prefixed codes longer than 4; else
    * `['REG']`; null pool_type degrades to scalar 'UNKNOWN' — modeled
    * as a single-element array plus [[tagIsScalar]] for the JSON writer.
    * Flat detection is independent: 4-prefixed codes longer than 4 set
    * is_flat=1 and take the last 4 chars as max_multiplier.
    */
  def classify(poolType: Column): (Column, Column, Column) = {
    val tag = when(poolType.isNull, array(lit("UNKNOWN")))
      .when(poolType === "395", array(lit("GAB"), lit("PFB")))
      .when(length(poolType) > 4 && poolType.startsWith("5"), array(lit("PFB")))
      .otherwise(array(lit("REG")))
    val isFlat = when(poolType.isNotNull && length(poolType) > 4 &&
      poolType.startsWith("4"), 1).otherwise(0)
    val maxMultiplier = when(poolType.isNotNull && length(poolType) > 4 &&
      poolType.startsWith("4"), substring(poolType, -4, 4))
    (tag, isFlat, maxMultiplier)
  }

  def tagIsScalar(poolType: Column): Column = poolType.isNull

  /** Full per-pool metric computation from parsed fact rows.
    *
    * @param parsed output of [[PolParser.parse]]
    * @param dim    output of [[GameLookup.fromCsv]]
    * @param files  optional file inventory ([[PolParser.listFiles]]):
    *               when given, files with NO parsed rows (0-byte, or
    *               every line unparseable) still emit a size-0 row with
    *               null metrics — the reference builds a document for
    *               every DISCOVERED file and counts it in the summary,
    *               not just for files that parsed.
    * @return one row per file, in one partition: identity, lookup
    *         fields, rtp/volatility/hit_frequency, classification, size
    */
  def perPool(parsed: DataFrame, dim: DataFrame,
      files: Option[DataFrame] = None): DataFrame = {
    val fileCols = Seq("relative_path", "file_name", "folder_path", "parent_folder").map(col)
    val inventory = files.getOrElse(parsed.select(fileCols: _*).distinct())
      .select(fileCols: _*)
    val (poolId, poolType) = decodeFilename(col("file_name"))
    // Resolved on the driver against the inventory's pool ids: a local
    // relation, broadcast onto the per-file rows below.
    val lookup = GameLookup.resolved(dim, inventory.select(poolId.as("pool_id")))

    // Shuffle 1, the one over the full data: the per-file win histogram,
    // map-side combined (hash agg on integral keys, fully codegen'd).
    val hist = parsed.groupBy(col("relative_path"), col("game_win"))
      .agg(count(lit(1)).as("cnt"))
    // Shuffle 2, tiny: one row per file with its scalars and the
    // histogram itself (~330 distinct wins per file observed). Every
    // inventory file enters it with a zero count and its file columns,
    // so a file with no parsed line still gets a (size-0) row, and a
    // file the inventory did not list gets no file name and is dropped.
    val wins = hist.unionByName(
      inventory.withColumn("game_win", lit(null).cast("long")).withColumn("cnt", lit(0L)),
      allowMissingColumns = true)
    val pools = wins.groupBy(col("relative_path"))
      .agg(
        sum(col("cnt")).as("size"),
        coalesce(sum(col("game_win") * col("cnt")), lit(0L)).as("total_win"),
        sum(when(col("game_win") > 0, col("cnt")).otherwise(0L)).as("hits"),
        collect_list(when(col("game_win").isNotNull,
          struct(col("game_win").as("win"), col("cnt")))).as("hist"),
        first(col("file_name"), ignoreNulls = true).as("file_name"),
        first(col("folder_path"), ignoreNulls = true).as("folder_path"),
        first(col("parent_folder"), ignoreNulls = true).as("parent_folder"))
      .where(col("file_name").isNotNull)
      .withColumn("pool_id", poolId)
      .withColumn("pool_type", poolType)
      .join(broadcast(lookup), Seq("pool_id"), "left")

    val haveBet = col("min_bet").isNotNull && col("min_bet") > 0 && col("size") > 0
    val rtp = bround(col("total_win") / (col("size") * col("min_bet")) * 100, 2)
    // Volatility, map-side over the histogram: round each variance term
    // to 4dp and sum exactly as DECIMAL(28,4), so the sum is
    // independent of the order of the terms.
    val zero = lit(0).cast("decimal(28,4)")
    val varSum = aggregate(col("hist"), zero, (acc, h) =>
      (acc + bround((h.getField("cnt") / col("size")) *
        pow(h.getField("win") / col("min_bet") - col("rtp") / 100, 2), 4)
        .cast("decimal(28,4)")).cast("decimal(28,4)"))
    val (tag, isFlat, maxMult) = classify(col("pool_type"))
    pools
      .withColumn("rtp", when(haveBet, rtp))
      .withColumn("hit_frequency", when(haveBet, bround(col("hits") / col("size") * 100, 2)))
      .withColumn("volatility",
        when(haveBet, bround(lit(1.645) * sqrt(varSum.cast("double")), 2)))
      .drop("hist")
      .withColumn("tag", tag)
      .withColumn("tag_is_scalar", tagIsScalar(col("pool_type")))
      .withColumn("is_flat", isFlat)
      .withColumn("max_multiplier", maxMult)
      .repartition(1)
  }

  /** Assemble the nested per-pool document (SURVEY §1.4 shape).
    * `processedAt` is injectable so golden tests can freeze the clock
    * (trap #7); pass None for wall-clock UTC seconds.
    */
  def documents(pools: DataFrame, processedAt: Option[String] = None): DataFrame = {
    val ts = processedAt
      .map(lit)
      .getOrElse(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx"))
    pools.select(
      col("file_name").as("pool_name"),
      col("pool_id"),
      col("pool_type"),
      coalesce(col("game_ids"), array().cast("array<string>")).as("game_ids"),
      col("min_bet"),
      col("rtp"),
      col("volatility"),
      col("is_flat"),
      col("tag"),
      col("tag_is_scalar"),
      col("size"),
      col("max_multiplier"),
      col("max_win_factor"),
      struct(
        col("relative_path").as("source_file"),
        col("file_name"),
        col("folder_path"),
        ts.as("processed_at"),
        col("hit_frequency")).as("metadata"))
  }
}
