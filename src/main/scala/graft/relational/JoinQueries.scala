package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pol.PoolJsonSink

/** Join operators: the reference's J1 lookup join and J2 upsert
  * anti-semantics (SURVEY §2), plus the generic relational surface the
  * north-star asks for (semi/anti/outer/multi-key/range/as-of joins,
  * grouping sets, set ops, JSON extraction) — all stock Spark, planned
  * by Catalyst.
  *
  * Scale notes: dimension sides are `broadcast()` hinted where they are
  * genuinely dimension-sized (part, nation, supplier); fact-fact joins
  * are left to Catalyst (sort-merge + AQE). The as-of join is expressed
  * as a running-max window, not a join, so it costs one shuffle by key
  * instead of an O(n²) range probe; the range join is bounded per-user.
  */
object JoinQueries {
  import graft.Tables._

  /** Per-JVM token isolating j5's MUTABLE warehouse from concurrent
    * catalog runners in other processes; the hook reaps what this
    * process created so repeated driver rounds don't accrete /tmp
    * state. (The staged tables below are artifacts, shared across
    * processes by design.)
    */
  private lazy val processToken: String = {
    val tok = java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      reapJ5(new java.io.File(sys.props("java.io.tmpdir")), tok)))
    tok
  }

  /** Deletes j5's state under `tmp` for process token `tok`: every
    * warehouse `graft_cat_wh_<slug>_<tok>` and its forensics log
    * `graft_cat_wh_<slug>_<tok>.j5_forensics.log`.
    */
  private[graft] def reapJ5(tmp: java.io.File, tok: String): Unit =
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_cat_wh_") &&
        (f.getName.endsWith(s"_$tok") || f.getName.endsWith(s"_$tok.j5_forensics.log")))
      .foreach { f =>
        try org.apache.commons.io.FileUtils.forceDelete(f)
        catch { case scala.util.control.NonFatal(_) => }
      }

  /** The shared three-version keyed table the change-feed family
    * consumes, staged once per events content as a directory artifact
    * ([[graft.util.Artifacts]]): v1 upserts the even-event per-user
    * aggregate, v2 MERGEs in the odd-event delta, v3 deletes every
    * user_id % 7 == 0. j3/j4/j6/t10/t11/t12 all read this SAME
    * committed history; in production that table already exists (it
    * IS the store the pipeline maintains), so the operator under
    * measurement is the feed / MV maintenance, not synthesizing its
    * own input. Every consumer reads committed versions; none mutates
    * the table.
    */
  private[graft] def stagedChangeTable(
      s: SparkSession, d: String): String =
    graft.util.Artifacts.dir("cdc_staged",
        graft.util.Artifacts.key(Seq(s"$d/events.parquet"))) { root =>
      val table = s"$root/tbl"
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("value").cast("decimal(18,2)").as("v"))
      def agg(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(col("v")).cast("decimal(38,2)").as("sum_val"))
      PoolJsonSink.upsertPartitioned(s, table,
        agg(ev.where(col("event_id") % 2 === 0)), col("user_id"),
        nBuckets = 16)
      PoolJsonSink.mergeDelta(s, table,
        agg(ev.where(col("event_id") % 2 === 1)), col("user_id"),
        nBuckets = 16)(
        _.groupBy("user_id").agg(
          sum(col("n_events")).as("n_events"),
          sum(col("sum_val")).cast("decimal(38,2)").as("sum_val")))
      PoolJsonSink.deletePartitioned(s, table,
        ev.where(col("user_id") % 7 === 0).select("user_id").distinct(),
        col("user_id"), nBuckets = 16)
    } + "/tbl"

  /** Versions (1, 3] of the staged table's change feed, read through
    * `format("graft")`: the DSv2 per-changed-bucket hash diff
    * ([[graft.sources.GraftChangesTable]]). The key is stated because
    * mergeDelta's manifests may predate the recorded-keycol header.
    */
  private def stagedChanges(s: SparkSession, table: String): DataFrame =
    s.read.format("graft")
      .option("changesFrom", "1").option("changesTo", "3")
      .option("changeKey", "user_id")
      .load(table)

  private val stagedWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Registers the staged change table as `<cat>.default.cdc` and
    * returns `<cat>`, for the feed's NAME faces (j6, t12). The catalog
    * name carries the staging key, and its warehouse is per-process
    * scratch, one per staged table, so the published artifact is never
    * written after publish. The session caches the catalog instance
    * by name (the r22 lesson), so the warehouse is made once and
    * reused by every later call in this JVM.
    */
  private[graft] def stagedChangeCatalog(
      s: SparkSession, table: String): String = {
    val root = new java.io.File(table).getParentFile
    val cat = ("gcdc_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
    val wh = stagedWarehouses.computeIfAbsent(table,
      _ => graft.util.TempDirs.scratch("graft_cdc_wh_"))
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.cdc " +
      s"USING graft LOCATION '$table'")
    cat
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1 — lookup equi-join: per-pool fact rolled up, broadcast dim,
    // first(bet)/collect(game_ids) analog (sorted for determinism).
    "j1_lookup_join" -> ((s, d) => {
      val fact = lineitem(s, d)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      fact.join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"), "left")
        .select(col("l_partkey"), col("n"), col("sum_qty"),
          col("p_retailprice").as("bet"), col("p_brand"))
        .orderBy("l_partkey")
    }),

    // J2 — upsert anti-semantics: new keys overwrite, untouched existing
    // keys survive (left-anti + union, the reference's read-modify-write
    // as a set operation).
    "j2_upsert" -> ((s, d) => {
      val existing = orders(s, d).where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("old").as("src"))
      val fresh = orders(s, d).where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("new").as("src"))
      existing.join(fresh, Seq("o_orderkey"), "left_anti")
        .unionByName(fresh)
        .orderBy("o_orderkey")
    }),

    // J3 — row-level change feed over the keyed manifest table (the
    // Delta CDF analog, derived from the committed manifests instead
    // of a separate log): version 1 upserts the even-event per-user
    // aggregate, version 2 MERGEs in the odd-event delta, version 3
    // deletes every user_id % 7 == 0 — then the feed reads versions
    // (1, 3] through format("graft") and classifies insert /
    // update_preimage / update_postimage / delete per key. Scale: each
    // version step plans one input partition per bucket whose file set
    // changed (a manifest compare: ChangeFeedSpec pins changedBuckets,
    // GraftChangesNameSpec the partition plan), so feed cost tracks
    // the delta, never the table; unchanged rows inside rewritten
    // buckets are dropped by the partition reader's hash diff.
    // DECIMAL(38,2) sums keep every image bit-equal to the oracle's
    // set algebra.
    "j3_change_feed" -> ((s, d) => {
      val table = stagedChangeTable(s, d)
      stagedChanges(s, table)
        .select(col("user_id"), col("n_events"),
          col("sum_val").cast("double").as("sum_val"),
          col(graft.sources.GraftChanges.ChangeTypeCol),
          col(graft.sources.GraftChanges.CommitVersionCol))
        .orderBy("_commit_version", "_change_type", "user_id")
    }),

    // J4 — incremental materialized-view maintenance from the change
    // feed (the consumer side of J3, and the reason a feed carries
    // preimages): a downstream per-group rollup is maintained by
    // RETRACTION algebra — insert/update_postimage rows apply with
    // sign +1, delete/update_preimage rows with sign −1 — so the MV
    // is updated from O(changes) rows, never by re-scanning the
    // table. The query proves the algebra end-to-end: MV(v1) ⊎
    // signed-changes(1→3] must equal the direct aggregate of the v3
    // table — which is exactly what the oracle computes from first
    // principles. DECIMAL sums make + then − bit-exact (float
    // retraction would drift); at 100 TB this is the difference
    // between refreshing a dashboard in seconds (delta-sized work)
    // and re-aggregating the corpus.
    "j4_incremental_mv" -> ((s, d) => {
      val table = stagedChangeTable(s, d)
      val mv1 = PoolJsonSink.readTableAsOf(s, table, 1L)
        .groupBy((col("user_id") % 10).as("grp"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          sum(col("sum_val")).cast("decimal(38,2)").as("sum_val"))
      val signed = stagedChanges(s, table)
        .withColumn("sign",
          when(col(graft.sources.GraftChanges.ChangeTypeCol)
            .isin("insert", "update_postimage"), 1L).otherwise(-1L))
        .groupBy((col("user_id") % 10).as("grp"))
        .agg(sum(col("sign")).as("n_users"),
          sum(col("sign") * col("n_events")).as("n_events"),
          sum(col("sign") * col("sum_val")).cast("decimal(38,2)")
            .as("sum_val"))
      mv1.unionByName(signed)
        .groupBy("grp")
        .agg(sum(col("n_users")).as("n_users"),
          sum(col("n_events")).as("n_events"),
          sum(col("sum_val")).cast("double").as("sum_val"))
        // retraction-MV GC: a group whose membership nets to zero is
        // DELETED from the view (count-0 rows are how retraction MVs
        // know to emit a delete downstream), matching the direct
        // aggregate, which never sees the group at all
        .where(col("n_users") > 0)
        .orderBy("grp")
    }),

    // R1 — left-semi join (EXISTS).
    "r1_semi_join" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // R2 — left-anti join (NOT EXISTS).
    "r2_anti_join" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // R3 — full outer join with one-sided rows on both sides.
    "r3_full_outer_join" -> ((s, d) => {
      val left = orders(s, d).where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val right = lineitem(s, d).where(col("l_orderkey") % 7 === 0)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
      left.join(right, col("o_orderkey") === col("l_orderkey"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("l_orderkey")).as("orderkey"),
          col("o_totalprice"), col("n_lines"))
        .orderBy("orderkey")
    }),

    // R4 — multi-key equi-join.
    "r4_multikey_join" -> ((s, d) => {
      val a = lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"))
      val b = lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
      a.join(b, Seq("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // R5 — rollup with subtotal rows.
    "r5_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // R6 — cube with grouping-set id.
    "r6_cube" -> ((s, d) =>
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .as("gid"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // R7 / R8 — set operations.
    "r7_intersect" -> ((s, d) =>
      lineitem(s, d).where(col("l_returnflag") === "R").select("l_partkey")
        .intersect(
          lineitem(s, d).where(col("l_returnflag") === "A").select("l_partkey"))
        .orderBy("l_partkey")),
    "r8_except" -> ((s, d) =>
      lineitem(s, d)
        .where(col("l_returnflag") === "R" && col("l_quantity") >= 48)
        .select("l_partkey")
        .except(lineitem(s, d)
          .where(col("l_returnflag") === "A" && col("l_quantity") >= 48)
          .select("l_partkey"))
        .orderBy("l_partkey")),

    // R12 — explicit GROUPING SETS (rollup/cube's general form).
    "r12_grouping_sets" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("graft_li_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
          |FROM graft_li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |         l_linestatus ASC NULLS FIRST, sum_qty""".stripMargin)
    }),

    // R13 — pivot: linestatus columns per returnflag (decimal-exact).
    "r13_pivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy("l_returnflag")),

    // R14 — scalar subquery: orders above the global average price.
    "r14_scalar_subquery" -> ((s, d) => {
      val avgPrice = orders(s, d)
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_price"))
      orders(s, d).crossJoin(broadcast(avgPrice))
        .where(col("o_totalprice") > col("avg_price") * 1.5)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // R9 — JSON extraction from the events props column.
    "r9_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")),

    // R10 — bounded range join: event pairs per user within 1 hour.
    "r10_range_join" -> ((s, d) => {
      val e1 = events(s, d).select(col("user_id"),
        col("event_id").as("id1"), col("ts").as("ts1"))
      val e2 = events(s, d).select(col("user_id").as("u2"),
        col("event_id").as("id2"), col("ts").as("ts2"))
      e1.join(e2,
          col("user_id") === col("u2") && col("id1") < col("id2") &&
            col("ts2") >= col("ts1") &&
            col("ts2") < col("ts1") + expr("INTERVAL 1 HOUR"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // R11 — as-of join as a running-max window (one shuffle by user,
    // no range probe): for each purchase, the most recent prior-or-same
    // signup of the same user.
    "r11_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("asof_signup",
          max(when(col("event_type") === "signup", col("event_id"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("asof_signup"))
        .orderBy("event_id")
    }),

    // R18 — FORWARD as-of through the custom operator: for each
    // purchase, the next signup at-or-after it (event order), oracle =
    // the min-over-following window formulation.
    "r18_asof_forward" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val purchases = events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
      val signups = events(s, d)
        .where(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"),
          col("event_id").as("next_signup"))
      graft.plans.AsOf.join(purchases, signups,
          "user_id", "s_user_id", "event_id", "next_signup",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("next_signup"))
        .orderBy("event_id")
    }),

    // R17 — salted fact×dim join (Skew.saltedJoin) through the oracle
    // gate: the dim is replicated ×8 with a salt key so a hot fact key
    // spreads over 8 reducers; decimal sums keep the aggregate
    // bit-equal to the unsalted plan.
    "r17_salted_join" -> ((s, d) => {
      val fact = lineitem(s, d).select(col("l_partkey"), col("l_quantity"))
      val dim = part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(fact, dim, "l_partkey", buckets = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("p_brand")
    }),

    // R15 — the same as-of semantics through the CUSTOM operator
    // (graft.plans.AsOfJoin: logical node → planner strategy → merge
    // exec; see AsOfJoinSpec for the plan-shape proof): purchases
    // as-of-join signups per user on event order. Oracle-checked
    // against the identical window formulation.
    "r15_asof_custom" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val purchases = events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
      val signups = events(s, d)
        .where(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"),
          col("event_id").as("asof_signup"))
      graft.plans.AsOf.join(purchases, signups,
          "user_id", "s_user_id", "event_id", "asof_signup")
        .select(col("event_id"), col("user_id"), col("asof_signup"))
        .orderBy("event_id")
    }),

    // R21 — storage-partitioned fact⋈fact join: two keyed graft
    // tables (orders; per-order lineitem revenue) sharing nBuckets
    // join through format("graft") with ZERO exchange of either
    // side — the scan reports its bucket layout as
    // KeyGroupedPartitioning and EnsureRequirements pairs the buckets
    // 1:1 (GraftSpjJoinSpec pins the no-shuffle plan). This is the
    // 100 TB shape the salted/broadcast answers don't cover: both
    // sides too big to broadcast, both already clustered on the key
    // by the store that maintains them — re-shuffling them every
    // query is pure waste. Tables are staged once per corpus content
    // (an artifact); production tables already exist.
    "r21_spj_join" -> ((s, d) => {
      val (ordDir, revDir) = spjTables(s, d)
      graft.sources.GraftSpj.join(s, ordDir, revDir,
          "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("revenue")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // R22 — the NAME-BASED storage-partitioned join, oracle-gated:
    // r21's fact⋈fact zero-shuffle join re-expressed as the SQL a BI
    // user would actually write — two catalog tables (the same
    // staged, co-bucketed stores, adopted via LOCATION) joined with
    // plain `JOIN ... ON` syntax. The bucket(n, key) partitioning
    // resolves through the catalog's own placement function
    // (GraftBucketFunction), so the planner elides both exchanges
    // with no `__pt` conjunct and no helper (CatalogSpjSpec pins the
    // plan; this row pins the VALUES cross-engine). The warehouse
    // derives from the content-keyed staging root, so a regenerated
    // corpus re-registers fresh tables.
    "r22_catalog_spj" -> ((s, d) => {
      val (ordDir, revDir) = spjTables(s, d)
      // the CATALOG NAME carries the staging key:
      // CatalogManager caches catalog instances by name and never
      // re-initializes on conf change, so a fixed name would pin the
      // first warehouse forever and a regenerated corpus would read
      // stale tables — a fresh key means a fresh catalog
      val root = new java.io.File(ordDir).getParentFile
      val cat = ("gq2_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"${root}_wh")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.ord " +
        s"USING graft LOCATION '$ordDir'")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.rev " +
        s"USING graft LOCATION '$revDir'")
      s.sql(s"""SELECT o_orderpriority, count(*) AS n_orders,
        CAST(sum(revenue) AS DOUBLE) AS revenue
        FROM $cat.default.ord o JOIN $cat.default.rev r
          ON o.o_orderkey = r.l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // R23 — METADATA aggregates, oracle-gated cross-engine: count /
    // min / max over the staged catalog table answer from the
    // manifest's recorded row counts and zone maps as a LocalScan
    // (MetadataPushdownSpec pins the plan — zero data files opened;
    // this row pins the VALUES against DuckDB recomputing them from
    // the raw source parquet). Certifies the whole stats chain:
    // parquet footer harvest at commit → manifest encoding (LongStat
    // + BinStat's unsigned-lexicographic string order) → the pushed
    // Aggregation compile.
    "r23_metadata_agg" -> ((s, d) => {
      val (ordDir, _) = spjTables(s, d)
      val root = new java.io.File(ordDir).getParentFile
      val cat = ("gq2_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"${root}_wh")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.ord " +
        s"USING graft LOCATION '$ordDir'")
      s.sql(s"""SELECT count(*) AS n_orders,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri
        FROM $cat.default.ord""")
    }),

    // R24 — GROUPED metadata aggregate over the value-pure split
    // layout: `optimize(split_by => o_orderpriority)` rewrites each
    // bucket into one file per priority value (per-file min == max,
    // zero nulls — the proof `GraftMetaAgg` demands), and the GROUP
    // BY then compiles to manifest arithmetic: group rows are file-set
    // partitions, count(*) sums `__rows`, min/max reduce zone maps.
    // ZERO data files opened for a grouped aggregate over the fact
    // table — the oracle pins the VALUES against DuckDB recomputing
    // them from the raw parquet (MetadataPushdownSpec pins the PLAN).
    "r24_split_agg" -> ((s, d) => {
      val (ordDir, _) = spjTables(s, d)
      val root = new java.io.File(ordDir).getParentFile
      val cat = ("gq7_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"${root}_wh7")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.ord " +
        s"USING graft LOCATION '$ordDir'")
      // one-time layout pass per staged corpus, committed through the
      // manifest CAS (rows unchanged; the op marker survives re-runs)
      if (!graft.pol.PoolJsonSink.readManifest(ordDir)
          .exists(_.op.contains("OPTIMIZE")))
        s.sql(s"CALL $cat.system.optimize(tbl => 'default.ord', " +
          "zorder => 'o_orderpriority', split_by => 'o_orderpriority')")
      s.sql(s"""SELECT o_orderpriority, count(*) AS n,
        count(o_custkey) AS n_cust,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM $cat.default.ord
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // R25 — FILTERED metadata aggregate through exact filter
    // pushdown: the predicate classifies every file of the split
    // layout all-in/all-out (the metadata-DELETE proof in read
    // direction), so Spark gets ZERO residual filters and the
    // aggregate compiles to manifest arithmetic over the all-in
    // files. `count(*) WHERE priority = X` at 100 TB = one manifest
    // read. Reuses r24's split ord table; the oracle recomputes from
    // raw parquet.
    "r25_filtered_meta_agg" -> ((s, d) => {
      // invoking r24 runs its one-time layout guard (side-effecting
      // closure body; the returned frame stays lazy and unused)
      queries("r24_split_agg")(s, d)
      val (ordDir, _) = spjTables(s, d)
      val root = new java.io.File(ordDir).getParentFile
      val cat = ("gq7_" + root.getName).replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"${root}_wh7")
      s.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.ord " +
        s"USING graft LOCATION '$ordDir'")
      s.sql(s"""SELECT count(*) AS n, count(o_custkey) AS n_cust,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM $cat.default.ord
        WHERE o_orderpriority = '3-MEDIUM'""")
    }),

    // J6 — J3's change feed through the NAME face: the staged keyed
    // table registers as an external catalog table and the feed reads
    // as the `.changes` SUB-TABLE (`<cat>.default.cdc.changes`, the
    // Iceberg metadata-table addressing). The catalog resolves the
    // same DSv2 change-feed table j3 reads by path, so this row pins
    // the name resolution and the sub-table addressing; same oracle as
    // J3. The v2 face is the one `readStream.table` serves, so this
    // row also oracle-gates the streaming-by-name read path.
    "j6_changes_by_name" -> ((s, d) => {
      val cat = stagedChangeCatalog(s, stagedChangeTable(s, d))
      s.read
        .option("startingVersion", "1").option("endingVersion", "3")
        // staged by mergeDelta, whose manifests may predate the
        // recorded-keycol header — state the key like the path face does
        .option("changeKey", "user_id")
        .table(s"$cat.default.cdc.changes")
        .select(col("user_id"), col("n_events"),
          col("sum_val").cast("double").as("sum_val"),
          col(graft.sources.GraftChanges.ChangeTypeCol),
          col(graft.sources.GraftChanges.CommitVersionCol))
        .orderBy("_commit_version", "_change_type", "user_id")
    }),

    // J5 — the V2 TABLE CATALOG face, oracle-gated end to end: the
    // whole lifecycle a SQL/BI user runs — CREATE TABLE ... USING
    // graft, INSERT INTO (= keyed MERGE), a second INSERT that
    // replaces overlapping keys, SELECT by NAME — with not one path
    // or Scala call in the statements (the warehouse is wired once
    // via session conf, exactly how a cluster admin registers a
    // catalog). The oracle recomputes the upsert algebra (old rows
    // minus re-inserted keys, plus new) relationally in DuckDB, so
    // this row certifies the catalog's name resolution, the SQL
    // write path's merge semantics, AND the catalog scan's
    // correctness in one go. DROP+CREATE each run keeps the query
    // deterministic and re-runnable.
    //
    // HERMETIC under any concurrency — thread, suite, or process.
    // This query is the one catalog entry that MUTATES state
    // (CREATE/INSERT/INSERT), and at least four independent runners
    // execute the whole catalog against the same corpus dirs — the
    // driver's Verify, the driver's Bench (whose warm-up runs every
    // query at sf0.001), PlanAuditSpec, and AllQueriesSpec. Three
    // isolation layers, each closing a measured failure vector:
    //  (1) PROCESS-unique warehouse (slug + per-JVM UUID, reaped by
    //      a shutdown hook) — round 6's red row was two PROCESSES
    //      interleaving DROP/CREATE/INSERT in a fixed /tmp dir.
    //  (2) Per-CORPUS catalog NAME — Spark's CatalogManager caches
    //      the catalog INSTANCE by name, so the warehouse conf.set
    //      below binds only at first instantiation; a shared name
    //      would silently alias one warehouse across corpus dirs
    //      inside a single JVM.
    //  (3) Per-INVOCATION table name, dropped in a finally — two
    //      concurrent same-JVM executions (a parallel harness, or
    //      ScalaTest suites) can never interleave on one table.
    // The 5-row result is materialized EAGERLY (bounded: one row per
    // order priority) so the returned DataFrame is independent of
    // the dropped table, and the rows are dumped to a forensics
    // sidecar next to the warehouse so any future driver mismatch
    // carries its own evidence.
    "j5_sql_catalog" -> ((s, d) => {
      val slug = d.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gq_$slug"
      val wh = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_cat_wh_${slug}_$processToken")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      val tbl = s"$cat.default.ordsum_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      try {
        s.sql(s"""CREATE TABLE $tbl (
          o_orderkey BIGINT, o_orderpriority STRING, price DOUBLE)
          USING graft TBLPROPERTIES ('key'='o_orderkey','nbuckets'='16')""")
        s.sql(s"""INSERT INTO $tbl
          SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1""")
        s.sql(s"""INSERT INTO $tbl
          SELECT o_orderkey, o_orderpriority, o_totalprice * 2
          FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 3 = 0""")
        // The sum is carried in DECIMAL(18,2) (exact money arithmetic)
        // but the FINAL column is DOUBLE: the verify comparator reads
        // Spark's parquet via pandas (decimal128 -> Decimal objects)
        // while DuckDB hands its result over as float64, so a decimal
        // output column stringifies differently ('...0.00' vs '...0.0')
        // on any row with trailing-zero cents. DOUBLE round-trips both
        // paths identically — the j3/j4/j6 convention.
        val res = s.sql(s"""SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
          FROM $tbl
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
        val rows = res.collect() // bounded: |distinct priorities| = 5
        try {
          val side = new java.io.File(s"$wh.j5_forensics.log").toPath
          val line = s"${java.time.Instant.now()} $tbl " +
            rows.map(_.toString).mkString("; ") + "\n"
          java.nio.file.Files.write(side,
            line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        } catch { // forensics must never fail the query — but only
          // recoverable errors are swallowed (an OOM or interrupt
          // must still propagate)
          case scala.util.control.NonFatal(_) =>
        }
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    })
  )

  /** The two SPJ demo tables, co-bucketed 16 ways on the order key
    * and staged once per (orders, lineitem) content as a directory
    * artifact ([[graft.util.Artifacts]]). The orders store records
    * zone maps (r23's metadata aggregates read them); the kind's
    * `spj2` name marks that format.
    */
  private def spjTables(s: SparkSession, d: String): (String, String) = {
    val root = graft.util.Artifacts.dir("spj2", graft.util.Artifacts.key(
        Seq(s"$d/orders.parquet", s"$d/lineitem.parquet"))) { staging =>
      PoolJsonSink.overwritePartitioned(s, s"$staging/orders",
        orders(s, d).select("o_orderkey", "o_custkey", "o_orderpriority"),
        col("o_orderkey"), 16,
        statsCols = Seq("o_orderkey", "o_custkey", "o_orderpriority"))
      PoolJsonSink.overwritePartitioned(s, s"$staging/revenue",
        lineitem(s, d).groupBy("l_orderkey")
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(BigDecimal(1)) - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(30,4)").as("revenue"),
            count(lit(1)).as("n_items")),
        col("l_orderkey"), 16)
    }
    (s"$root/orders", s"$root/revenue")
  }

  /** The staged keyed table's (1,3] change-range recomputed from
    * first principles — shared by j3 (path face) and j6 (name face).
    */
  private val j3OracleSql: String =
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
      |    CAST(2 AS BIGINT) AS _commit_version
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
    "j1_lookup_join" ->
      """SELECT l_partkey, count(*) AS n, sum(l_quantity) AS sum_qty,
        |  p_retailprice AS bet, p_brand
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY l_partkey, p_retailprice, p_brand
        |ORDER BY l_partkey""".stripMargin,
    "j2_upsert" ->
      """SELECT o_orderkey, 'old' AS src FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'new' AS src FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // j6 = j3 through the catalog-name face; one semantic contract,
    // one oracle text, two scan implementations under it
    "j6_changes_by_name" -> j3OracleSql,
    "j3_change_feed" -> j3OracleSql,
    "j4_incremental_mv" ->
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
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // j5: the upsert algebra the two INSERTs produce — odd keys keep
    // their price unless re-inserted by the %3 batch at double price
    "j5_sql_catalog" ->
      """WITH fin AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(p) AS DOUBLE) AS total
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
    "r1_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "r2_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "r3_full_outer_join" ->
      """SELECT coalesce(o_orderkey, l_orderkey) AS orderkey,
        |  o_totalprice, n_lines
        |FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 = 0) o
        |FULL OUTER JOIN (SELECT l_orderkey, count(*) AS n_lines FROM lineitem
        |                 WHERE l_orderkey % 7 = 0 GROUP BY 1) l
        |  ON o_orderkey = l_orderkey
        |ORDER BY orderkey""".stripMargin,
    "r4_multikey_join" ->
      """SELECT a.l_returnflag, a.l_linestatus, a.sum_qty, b.n
        |FROM (SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY 1, 2) a
        |JOIN (SELECT l_returnflag, l_linestatus, count(*) AS n
        |      FROM lineitem GROUP BY 1, 2) b
        |  USING (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "r5_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "r6_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "r7_intersect" ->
      """SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT
        |SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
        |ORDER BY l_partkey""".stripMargin,
    "r8_except" ->
      """SELECT l_partkey FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 48
        |EXCEPT
        |SELECT l_partkey FROM lineitem
        |WHERE l_returnflag = 'A' AND l_quantity >= 48
        |ORDER BY l_partkey""".stripMargin,
    "r12_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST, sum_qty""".stripMargin,
    "r13_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "r14_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / count(*) * 1.5
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "r9_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "r10_range_join" ->
      """WITH e AS (SELECT user_id, event_id,
        |  make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events)
        |SELECT e1.user_id, count(*) AS n_pairs
        |FROM e e1 JOIN e e2
        |  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
        | AND e2.ts >= e1.ts AND e2.ts < e1.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "r11_asof_join" ->
      """SELECT event_id, user_id, asof_signup FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN event_id END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "r18_asof_forward" ->
      """SELECT event_id, user_id, next_signup FROM (
        |  SELECT event_id, user_id, event_type,
        |    min(CASE WHEN event_type = 'signup' THEN event_id END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_signup
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "r17_salted_join" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "r15_asof_custom" ->
      """SELECT event_id, user_id, asof_signup FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN event_id END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "r21_spj_join" ->
      """WITH r AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(30,4))
        |      AS revenue
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(revenue) AS DOUBLE) AS revenue
        |FROM orders o JOIN r ON o.o_orderkey = r.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // r22 computes the same answer as r21 through the catalog face
    "r22_catalog_spj" ->
      """WITH r AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(30,4))
        |      AS revenue
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(revenue) AS DOUBLE) AS revenue
        |FROM orders o JOIN r ON o.o_orderkey = r.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // r24's Spark side answers the GROUPED aggregate from manifest
    // metadata (value-pure split files); the oracle recomputes from
    // the raw parquet
    "r24_split_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // r25: filtered metadata aggregate (exact filter pushdown); the
    // oracle recomputes from the raw parquet
    "r25_filtered_meta_agg" ->
      """SELECT count(*) AS n, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority = '3-MEDIUM'""".stripMargin,
    // r23's Spark side reads only manifest metadata; the oracle
    // recomputes the same aggregates from the raw parquet
    "r23_metadata_agg" ->
      """SELECT count(*) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri
        |FROM orders""".stripMargin
  )
}
