package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pol.{GameLookup, PolParser, PoolMetrics}

/** Parsing / projection / scalar-function operators from SURVEY.md §2
  * (rows S1, P1–P9, A8) exercised over the testdata tables so DuckDB
  * can oracle-check them. Each query drives the REAL library
  * expressions (PolParser.parseLine, PoolMetrics.decodeFilename /
  * classify, GameLookup.strip0) on synthetic inputs built
  * deterministically from table columns; the oracle recomputes the
  * same semantics directly in SQL.
  */
object ParseQueries {
  import graft.Tables._

  /** .pol-like text lines built from lineitem: value token is 'xx'
    * (unparseable) for every 11th part, type token T<flag>, extra token
    * present for linenumber>=4 (numeric) or ==3 ('zz', unparseable).
    */
  private def polLines(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
      col("l_returnflag"),
      concat_ws(" ",
        when(col("l_partkey") % 11 === 0, lit("xx"))
          .otherwise(col("l_quantity").cast("long").cast("string")),
        concat(lit("T"), col("l_returnflag")),
        when(col("l_linenumber") >= 4, col("l_suppkey").cast("string"))
          .when(col("l_linenumber") === 3, lit("zz"))).as("line"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 — recursive glob scan with file-metadata projection.
    "s1_file_scan" -> ((s, d) =>
      s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(d)
        .agg(
          countDistinct(col("_metadata.file_name")).as("n_files"),
          count(lit(1)).as("n_rows"))),

    // P1 — permissive line parse through the real PolParser expressions.
    "p1_parse" -> ((s, d) => {
      val (win, typeCode) = PolParser.parseLine(col("line"))
      polLines(s, d)
        .select(win.as("game_win"), typeCode.as("type_code"))
        .where(col("game_win").isNotNull)
        .groupBy("type_code")
        .agg(count(lit(1)).as("n"), sum(col("game_win")).as("sum_win"))
        .orderBy("type_code")
    }),

    // P2 — filename decomposition via PoolMetrics.decodeFilename.
    "p2_filename_decode" -> ((s, d) => {
      val fname = concat(lit("Pool_"),
        lpad(col("n_nationkey").cast("string"), 4, "0"), lit("_"),
        (col("n_regionkey") + 100).cast("string"), lit(".pol"))
      val (poolId, poolType) = PoolMetrics.decodeFilename(col("fname"))
      nation(s, d).select(fname.as("fname"))
        .select(col("fname"), poolId.as("pool_id"), poolType.as("pool_type"))
        .orderBy("fname")
    }),

    // P3 — pool classification truth table via PoolMetrics.classify.
    "p3_classification" -> ((s, d) => {
      val code = when(col("o_orderkey") % 5 === 0, lit("395"))
        .when(col("o_orderkey") % 5 === 1, (col("o_orderkey") + 40000).cast("string"))
        .when(col("o_orderkey") % 5 === 2, (col("o_orderkey") + 50000).cast("string"))
        .when(col("o_orderkey") % 5 === 3, (col("o_orderkey") % 1000).cast("string"))
      val base = orders(s, d).select(col("o_orderkey"), code.as("pool_type"))
      val (tag, isFlat, maxMult) = PoolMetrics.classify(col("pool_type"))
      // tag is emitted ','-joined: the driver's comparator sorts rows in
      // pandas, where raw array cells are unhashable.
      base.select(col("o_orderkey"), col("pool_type"),
          concat_ws(",", tag).as("tag"), isFlat.as("is_flat"),
          maxMult.as("max_multiplier"))
        .orderBy("o_orderkey")
    }),

    // P5 — key canonicalization join: zero-padded vs raw ids meet on
    // the strip-leading-zeros canonical form.
    "p5_key_canonicalization" -> ((s, d) => {
      val a = nation(s, d).select(
        lpad(col("n_nationkey").cast("string"), 4, "0").as("padded_id"),
        col("n_name"))
      val b = supplier(s, d).select(col("s_nationkey").cast("string").as("raw_id"))
      a.join(b, GameLookup.strip0(col("padded_id")) === GameLookup.strip0(col("raw_id")), "left")
        .groupBy(col("padded_id"), col("n_name"))
        .agg(count(col("raw_id")).as("n_suppliers"))
        .orderBy("padded_id")
    }),

    // P6 — POSIX path normalization of the upsert key.
    "p6_path_normalization" -> ((s, d) =>
      documents(s, d).select(
          col("doc_id"),
          regexp_replace(
            concat(lit("C:\\data\\"), col("source"), lit("\\"),
              col("doc_id").cast("string"), lit(".txt")),
            "\\\\", "/").as("posix_path"))
        .orderBy("doc_id")),

    // P7 — rounding semantics: HALF_EVEN (bround, the reference's
    // Python round) vs HALF_UP (round) on exact .5 boundaries
    // (l_quantity/8 is exactly representable in binary).
    "p7_rounding" -> ((s, d) =>
      lineitem(s, d).select(col("l_quantity").as("q")).distinct()
        .select(col("q"),
          round(col("q") / 8, 2).as("r_half_up"),
          bround(col("q") / 8, 2).as("r_half_even"))
        .orderBy("q")),

    // P8 — ISO-8601 second-precision timestamping with +00:00 offset.
    "p8_timestamp_format" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ssxxx")
            .as("processed_at"))
        .orderBy("o_orderkey")),

    // P9 — suffix/contains predicates.
    "p9_suffix_filter" -> ((s, d) =>
      part(s, d)
        .where(col("p_name").endsWith("widget") && col("p_type").contains("O"))
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy("p_partkey")),

    // S5 — dimension load + staged resolution driven end-to-end from
    // the driver: the lookup CSV fixture (absolute path — Verify may
    // run from any cwd) resolved against zero-padded pool ids derived
    // from nation keys. Rows-only check (the CSV is not a registered
    // oracle table); GameLookupSpec pins the exact fallback semantics.
    "s5_dimension_lookup" -> ((s, d) => {
      val dim = graft.pol.GameLookup.fromCsv(
        s, "/root/repo/src/test/resources/lookup/fallback_lookup.csv")
      val pools = nation(s, d)
        .select(lpad(col("n_nationkey").cast("string"), 4, "0").as("pool_id"))
        .unionByName(s.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](
            org.apache.spark.sql.Row("0300"), org.apache.spark.sql.Row("0301"),
            org.apache.spark.sql.Row("0042")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pool_id",
              org.apache.spark.sql.types.StringType)))))
      graft.pol.GameLookup.resolved(dim, pools)
        .select(col("pool_id"), col("min_bet"),
          concat_ws(",", col("game_ids")).as("game_ids"))
        .orderBy("pool_id")
    }),

    // S2 — changed-files semantics as a relation: of the incoming file
    // set, process only those absent from the processed ledger
    // (left-anti), as `ChangedFiles.detect` does (ChangedFilesSpec
    // covers the real ledger run).
    "s2_changed_files" -> ((s, d) => {
      val incoming = documents(s, d).select(col("doc_id"), col("source"))
      val processed = documents(s, d)
        .where(col("doc_id") % 3 === 0).select(col("doc_id"))
      incoming.join(processed, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"))
        .orderBy("source")
    }),

    // A8 — error accounting for the permissive parse: per type code,
    // valid/invalid line counts (the reference's per-file try/except
    // success/fail tally).
    "a8_error_accounting" -> ((s, d) => {
      val (win, _) = PolParser.parseLine(col("line"))
      polLines(s, d)
        .select(col("l_returnflag"), win.as("game_win"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_lines"),
          count(col("game_win")).as("n_valid"),
          sum(when(col("game_win").isNull, 1L).otherwise(0L)).as("n_errors"))
        .orderBy("l_returnflag")
    }),

    // S3b — permissive JSONL ingestion with corrupt-record accounting:
    // the documents table is staged as JSON Lines with every 37th
    // line deterministically truncated mid-record, then ingested
    // through Spark's json source in PERMISSIVE mode — broken lines
    // land in `_corrupt_record` (nothing is dropped silently, the A8
    // discipline applied to the jsonl corpora LLM pipelines actually
    // ingest) and the query accounts both populations per source.
    // Scale: the json source splits files across tasks like any text
    // scan; PERMISSIVE keeps a bad line a ROW, not a job failure —
    // at 100 TB a fail-fast parse on web-crawl jsonl is a non-starter.
    "s3_jsonl_ingest" -> ((s, d) => {
      val stage = graft.util.TempDirs.scratch("graft_s3_") + "/docs"
      documents(s, d)
        .select(to_json(struct(col("doc_id"), col("source"),
          col("n_chars"))).as("line"), col("doc_id"))
        .withColumn("line",
          when(col("doc_id") % 37 === 0, expr("substring(line, 1, 10)"))
            .otherwise(col("line")))
        .select("line").coalesce(4)
        .write.mode("overwrite").text(stage)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("source", "string")
        .add("n_chars", "long").add("_corrupt_record", "string")
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
        .groupBy(when(col("_corrupt_record").isNotNull, lit("__corrupt__"))
          .otherwise(col("source")).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    })
  )

  val oracle: Map[String, String] = Map(
    "s1_file_scan" ->
      "SELECT 1 AS n_files, count(*) AS n_rows FROM lineitem",
    "p1_parse" ->
      """WITH lines AS (
        |  SELECT 'T' || l_returnflag AS type_code,
        |    CASE WHEN l_partkey % 11 = 0 THEN NULL
        |         ELSE CAST(l_quantity AS BIGINT) END AS v0,
        |    CASE WHEN l_linenumber >= 4 THEN l_suppkey ELSE NULL END AS extra
        |  FROM lineitem)
        |SELECT type_code, count(*) AS n,
        |       CAST(sum(v0 + coalesce(extra, 0)) AS BIGINT) AS sum_win
        |FROM lines WHERE v0 IS NOT NULL
        |GROUP BY type_code ORDER BY type_code""".stripMargin,
    "p2_filename_decode" ->
      """SELECT fname, split_part(replace(fname, '.pol', ''), '_', 2) AS pool_id,
        |       split_part(replace(fname, '.pol', ''), '_', 3) AS pool_type
        |FROM (SELECT 'Pool_' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0')
        |             || '_' || CAST(n_regionkey + 100 AS VARCHAR) || '.pol' AS fname
        |      FROM nation)
        |ORDER BY fname""".stripMargin,
    "p3_classification" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN '395'
        |         WHEN o_orderkey % 5 = 1 THEN CAST(o_orderkey + 40000 AS VARCHAR)
        |         WHEN o_orderkey % 5 = 2 THEN CAST(o_orderkey + 50000 AS VARCHAR)
        |         WHEN o_orderkey % 5 = 3 THEN CAST(o_orderkey % 1000 AS VARCHAR)
        |    END AS pool_type
        |  FROM orders)
        |SELECT o_orderkey, pool_type,
        |  CASE WHEN pool_type IS NULL THEN 'UNKNOWN'
        |       WHEN pool_type = '395' THEN 'GAB,PFB'
        |       WHEN len(pool_type) > 4 AND pool_type LIKE '5%' THEN 'PFB'
        |       ELSE 'REG' END AS tag,
        |  CASE WHEN pool_type IS NOT NULL AND len(pool_type) > 4
        |            AND pool_type LIKE '4%' THEN 1 ELSE 0 END AS is_flat,
        |  CASE WHEN pool_type IS NOT NULL AND len(pool_type) > 4
        |            AND pool_type LIKE '4%'
        |       THEN substr(pool_type, len(pool_type) - 3, 4) END AS max_multiplier
        |FROM base ORDER BY o_orderkey""".stripMargin,
    "p5_key_canonicalization" ->
      """WITH canon AS (
        |  SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_id, n_name,
        |    CASE WHEN regexp_replace(lpad(CAST(n_nationkey AS VARCHAR), 4, '0'), '^0+', '') = ''
        |         THEN '0' ELSE regexp_replace(lpad(CAST(n_nationkey AS VARCHAR), 4, '0'), '^0+', '') END AS ck
        |  FROM nation),
        |sup AS (
        |  SELECT CASE WHEN regexp_replace(CAST(s_nationkey AS VARCHAR), '^0+', '') = ''
        |              THEN '0' ELSE regexp_replace(CAST(s_nationkey AS VARCHAR), '^0+', '') END AS ck
        |  FROM supplier)
        |SELECT c.padded_id, c.n_name, count(s.ck) AS n_suppliers
        |FROM canon c LEFT JOIN sup s ON c.ck = s.ck
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "p6_path_normalization" ->
      """SELECT doc_id,
        |  replace('C:\data\' || source || '\' || CAST(doc_id AS VARCHAR) || '.txt',
        |          '\', '/') AS posix_path
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p7_rounding" ->
      """SELECT q, round(CAST(q / 8 AS DOUBLE), 2) AS r_half_up,
        |  CASE WHEN CAST(q AS BIGINT) % 2 = 1 THEN
        |    CASE WHEN CAST(floor(q * 12.5) AS BIGINT) % 2 = 0
        |         THEN floor(q * 12.5) / 100 ELSE (floor(q * 12.5) + 1) / 100 END
        |  ELSE round(CAST(q / 8 AS DOUBLE), 2) END AS r_half_even
        |FROM (SELECT DISTINCT l_quantity AS q FROM lineitem)
        |ORDER BY q""".stripMargin,
    "p8_timestamp_format" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S+00:00') AS processed_at
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "p9_suffix_filter" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%widget' AND p_type LIKE '%O%'
        |ORDER BY p_partkey""".stripMargin,
    // S5 — DuckDB reads the same CSV fixture by absolute path; the
    // staged fallback (exact → strip0(file) → zfill4(dim)) is inlined.
    "s5_dimension_lookup" ->
      """WITH dim AS (
        |  SELECT CAST(Game_id AS VARCHAR) AS game_id,
        |    CAST(Pool_id AS VARCHAR) AS pool_id_dim,
        |    CAST(Bet AS DOUBLE) AS bet,
        |    row_number() OVER () - 1 AS row_idx
        |  FROM read_csv('/root/repo/src/test/resources/lookup/fallback_lookup.csv',
        |                header=true, all_varchar=true)),
        |pools AS (
        |  SELECT DISTINCT pool_id FROM (
        |    SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS pool_id
        |    FROM nation
        |    UNION ALL SELECT unnest(['0300', '0301', '0042']))),
        |cand AS (
        |  SELECT p.pool_id, d.game_id, d.bet, d.row_idx,
        |    CASE WHEN d.pool_id_dim = p.pool_id THEN 1
        |         WHEN d.pool_id_dim = (CASE
        |              WHEN regexp_replace(p.pool_id, '^0+', '') = '' THEN '0'
        |              ELSE regexp_replace(p.pool_id, '^0+', '') END) THEN 2
        |         WHEN (CASE WHEN len(d.pool_id_dim) < 4
        |                    THEN lpad(d.pool_id_dim, 4, '0')
        |                    ELSE d.pool_id_dim END) = p.pool_id THEN 3
        |    END AS stage
        |  FROM pools p JOIN dim d ON TRUE),
        |staged AS (SELECT * FROM cand WHERE stage IS NOT NULL),
        |best AS (SELECT pool_id, min(stage) AS best FROM staged GROUP BY 1)
        |SELECT s.pool_id, arg_min(s.bet, s.row_idx) AS min_bet,
        |  string_agg(s.game_id, ',' ORDER BY s.row_idx) AS game_ids
        |FROM staged s JOIN best b
        |  ON s.pool_id = b.pool_id AND s.stage = b.best
        |GROUP BY s.pool_id ORDER BY s.pool_id""".stripMargin,
    "s2_changed_files" ->
      """SELECT source, count(*) AS n_new FROM documents
        |WHERE doc_id % 3 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "a8_error_accounting" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN l_partkey % 11 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN l_partkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "s3_jsonl_ingest" ->
      """SELECT CASE WHEN doc_id % 37 = 0 THEN '__corrupt__'
        |            ELSE source END AS source,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN NULL ELSE n_chars END)
        |    AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
