package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline analytical queries (TPC-H-shaped) over the testdata star
  * schema — the kind of multi-join/aggregate workload the engine's
  * plans are ultimately judged on: pushdown-friendly filters, decimal-
  * exact money math, broadcast dimension joins, TakeOrdered limits.
  */
object AnalyticsQueries {
  import graft.Tables._

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // H1 — pricing summary report (Q1 shape): filter → wide hash agg
    // with decimal-exact money sums, averages derived from exact sums.
    "h1_pricing_summary" -> ((s, d) =>
      lineitem(s, d)
        .where(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount")))
            * (lit(BigDecimal(1)) + dec(col("l_tax"))))
            .cast("double").as("sum_charge"),
          round(sum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // H2 — shipping priority (Q3 shape): selective dimension filter,
    // two joins, revenue top-10 via TakeOrdered.
    "h2_shipping_priority" -> ((s, d) => {
      val cust = customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = orders(s, d)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = lineitem(s, d)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(BigDecimal(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // H3 — local-supplier volume (Q5 shape): snowflake joins with the
    // dimension chain broadcast, region filter pruned at the scan.
    "h3_local_supplier_volume" -> ((s, d) => {
      val dimChain = supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(region(s, d).where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = orders(s, d)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select("o_orderkey")
      lineitem(s, d)
        .join(broadcast(dimChain), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(BigDecimal(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // H4 — order-priority check (TPC-H Q4 shape, adapted to this
    // schema's dates): orders with at least one lineitem shipped more
    // than 60 days after the order date, counted per priority. The
    // EXISTS becomes a left-semi join with a cross-table residual —
    // the fact side never duplicates, and the semi join short-circuits
    // per order.
    "h4_order_priority" -> ((s, d) =>
      orders(s, d)
        .join(lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"))
  ,

    // H5 — forecast revenue change (TPC-H Q6 shape): tight range
    // predicates + a single global aggregate. Every predicate reaches
    // the parquet scan as a pushed filter (verified via explain:
    // PushedFilters on shipdate/discount/quantity), so at 100 TB this
    // is a stats-pruned scan, not a full read.
    "h5_revenue_change" -> ((s, d) =>
      lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(col("revenue"), col("n_rows"))),

    // H6 — the end-to-end curation pipeline as ONE composed headline:
    // quality gate (x10's Gopher rules) → exact dedup keep-first (d1's
    // BINARY md5 digest key) → deterministic train/val/test split
    // (c2's hash buckets) → per-(split, source) corpus accounting.
    // This is the "what ships to pretraining" report, and the reason
    // it is a single query matters at scale: keep-first is the c8
    // min(struct) pattern — ONE bounded aggregation keyed on the
    // BINARY digest whose min picks the min-doc_id row WITH its
    // attributes — so the whole chain is one corpus scan (gate
    // features computed map-side in it) + the digest key-agg exchange
    // + the final (tiny) split×source agg. No self-join, no window,
    // no broadcast of anything corpus-derived: the first draft's
    // survivors-semi-join shape planned a SECOND corpus scan, and
    // this rewrite removed it (.explain-audited; the d1/c8 4M probe
    // already showed the digest-agg shape flat). The gate's `pass`
    // rides the min(struct) and filters AFTER the aggregate: the gate
    // reads only `text`, so exact copies share their verdict and the
    // survivors are the same, while the gate kernel runs once per row
    // (a filter below the aggregate would be pushed into the scan and
    // evaluate the kernel there a second time).
    "h6_curation_pipeline" -> ((s, d) => {
      graft.llm.TextQueries.gopherFeatures(documents(s, d))
        .groupBy(unhex(md5(col("text"))).as("digest"))
        .agg(min(struct(col("doc_id"), col("source"),
          col("n_toks"), col("n_chars"), col("pass"))).as("r"))
        .where(col("r.pass") === 1)
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.n_toks").as("n_toks"), col("r.n_chars").as("n_chars"))
        .withColumn("bucket", expr(
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) " +
            "AS BIGINT) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("n_toks"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("split", "source")
    })
  )

  val oracle: Map[String, String] = Map(
    "h1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2))) *
        |           (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(l_quantity) / count(*) AS DOUBLE), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "h2_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "h3_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderdate >= TIMESTAMP '1996-01-01'
        |                AND o_orderdate < TIMESTAMP '1999-01-01')
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "h4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "h5_revenue_change" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,

    "h6_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, len(toks) AS n_toks,
        |    round(CAST(list_reduce(list_transform(toks, x -> length(x)),
        |      (a, b) -> a + b) AS DOUBLE) / len(toks), 4) AS mean_tok_len,
        |    round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |      AS DOUBLE) / len(toks), 4) AS alpha_frac,
        |    len(list_filter(['the','a','of','to','and'],
        |      w -> list_contains(toks, w))) AS n_req_stop
        |  FROM t),
        |gate AS (
        |  SELECT doc_id, n_toks FROM f
        |  WHERE n_toks BETWEEN 30 AND 100000 AND mean_tok_len BETWEEN 3 AND 10
        |    AND alpha_frac >= 0.8 AND n_req_stop >= 2),
        |surv AS (
        |  SELECT min(d.doc_id) AS doc_id
        |  FROM documents d JOIN gate USING (doc_id)
        |  GROUP BY md5(d.text)),
        |rows_ AS (
        |  SELECT d.doc_id, d.source, d.n_chars, g.n_toks,
        |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents d JOIN gate g USING (doc_id) JOIN surv USING (doc_id))
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars, min(doc_id) AS first_doc
        |FROM rows_ GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
