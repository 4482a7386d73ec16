package graft.queries

import graft.core.Tables
import graft.ops.{AsOfJoin, EventOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY §2.1–§2.8): scans with pushdown,
  * projections/filters, joins of every type, aggregations incl. cube/rollup,
  * sorts/limits/top-k, set ops, scalar function library, analytic windows.
  * Each query has a DuckDB oracle in [[oracleSql]] with identical column
  * names/aliases.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Shared shape of the hot/cold codec pair: filter on the pruned
    * publish_time, group by key, aggregate offsets and payload bytes —
    * touches 4 of the envelope's 9 columns so column pruning matters. */
  private def scanAgg(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft-topic").option("path", dir).load()
      .where(col("publish_time") >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("offset")).as("sum_off"),
        sum(octet_length(col("value"))).as("payload_bytes"),
        max(unix_millis(col("publish_time"))).as("max_pt_ms"))

  val queries: Map[String, Q] = Map(
    // §2.1 scan + §2.2 projection/filter: predicate + column pruning reach the
    // parquet scan (PushedFilters / 3-column ReadSchema).
    "q_scan_pushdown" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1999-06-01").cast("timestamp_ntz") &&
          col("l_discount") > 0.07)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // §2.2 entry-filter analog: server-side predicate before dispatch.
    "q_entry_filter" -> ((s, d) => {
      Tables.events(s, d)
        .where(col("event_type").isin("purchase", "signup") && col("value") > 100.0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // §2.1 seek-by-timestamp (time travel): first message >= ts.
    "q_seek_by_time" -> ((s, d) => {
      Tables.events(s, d)
        .where(unix_millis(col("ts")) >= 1705276800000L) // 2024-01-15
        .select(col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
    }),

    // §2.6 peekMessages(n): first n in offset order.
    "q_peek" -> ((s, d) => {
      Tables.events(s, d).orderBy(col("event_id"))
        .select(col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        .limit(10)
    }),

    // §2.1 hot-tier topic scan (row-oriented JSONL segments) — the baseline
    // half of the storage-codec pair. Projection keeps 4 of 9 envelope
    // columns; the JSONL reader still parses every line in full, which is
    // exactly the constant the cold twin eliminates.
    "q_scan_hot" -> ((s, d) =>
      scanAgg(s, TopicStage.eventsTopic(s, d, cold = false))),

    // §2.1 cold-tier topic scan: the SAME rows offloaded to parquet twins,
    // read by the cold reader (ParquetSegmentReader), which decodes only
    // the 4 requested columns, column-at-a-time, and serves rows from the
    // decoded batch. Same oracle as q_scan_hot; the bench delta between
    // the two is the measured value of tiered-storage offload.
    "q_scan_cold" -> ((s, d) =>
      scanAgg(s, TopicStage.eventsTopic(s, d, cold = true))),

    // §2.1 SQL surface (Pulsar SQL analog): the same cold topic addressed
    // through the GraftCatalog from plain spark.sql — catalog resolution,
    // pruning-eligible WHERE, aggregation, all via SQL text only.
    "q_sql_topic" -> ((s, d) => {
      val (cat, tbl) = TopicStage.sqlCatalogFor(s, d)
      s.sql(s"""SELECT key, count(*) AS n,
                  count(DISTINCT producer_name) AS n_producers,
                  min(offset) AS min_off, max(offset) AS max_off
                FROM $cat.`$tbl`
                WHERE offset >= 100
                GROUP BY key""")
    }),

    // §2.1 SQL time travel (seek-by-timestamp's batch face): the topic as a
    // consumer at t had seen it — publish_time ≤ t in the ms domain, via
    // the catalog's loadTable(ident, timestamp) + segment pruning + reader
    // row filter.
    "q_sql_time_travel" -> ((s, d) => {
      val (cat, tbl) = TopicStage.sqlCatalogFor(s, d)
      s.sql(s"""SELECT key, count(*) AS n,
                  max(unix_millis(publish_time)) AS max_pt_ms
                FROM $cat.`$tbl`
                TIMESTAMP AS OF '2024-01-20 00:00:00'
                GROUP BY key""")
    }),

    // §2.4 hash aggregation, TPC-H Q1 shape (partial+final agg from Catalyst).
    "q1_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // §2.4 stateful counter parity (WordCount: incrCounter per key).
    "q_stateful_counter" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    }),

    // §2.4 exact distinct aggregation.
    "q_count_distinct" -> ((s, d) => {
      Tables.orders(s, d).groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
    }),

    // §2.4 grouping sets: cube.
    "q_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
    }),

    // §2.4 grouping sets: rollup over derived year.
    "q_rollup" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .rollup(col("o_year"), col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("total"), count(lit(1)).as("cnt"))
    }),

    // §2.4 explicit GROUPING SETS (cube/rollup's general form).
    "q_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                      sum(o_totalprice) AS total, count(*) AS cnt
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }),

    // Referential-integrity audit across the FK chain (lineitem→orders,
    // orders→customer, lineitem→part/supplier) — the post-ingest load
    // check every warehouse runs. Orphan counts via broadcast-able
    // left-anti joins on the key tables; one row per relationship.
    "q_fk_integrity" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      // one left join + one aggregate per relationship — total rows and
      // orphan rows counted in the SAME child scan (an anti-join would
      // need a separate count() pass over the child)
      def orphans(name: String, child: org.apache.spark.sql.DataFrame,
                  ck: String, parent: org.apache.spark.sql.DataFrame,
                  pk: String) =
        child.select(col(ck))
          .join(parent.select(col(pk).as("__pk")), col(ck) === col("__pk"),
            "left")
          .agg(count(lit(1)).as("n_child_rows"),
            sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("relationship"), col("n_child_rows"),
            col("n_orphans"))
      orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(orphans("orders->customer", o, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .unionByName(orphans("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(orphans("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .orderBy(col("relationship"))
    }),

    // §2.4 rate/stats aggregation (PulsarStats analog).
    "q_rate_stats" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"),
          stddev_samp(col("value")).as("sd_value"))
    }),

    // §2.4 backlog analysis between cursor positions.
    "q_backlog" -> ((s, d) => {
      EventOps.backlog(Tables.events(s, d), "event_id",
        octet_length(col("props")), 1000L, 5000L)
    }),

    // §2.3 broadcast join (small dims) — flagship revenue-by-nation.
    "q_join_broadcast" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // §2.3 shuffle (sort-merge-able) fact-fact join.
    "q_join_shuffle" -> ((s, d) => {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice")).as("total_price"))
    }),

    // §2.3 left outer join with null-handling.
    "q_join_left" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice")), lit(0.0)).as("total_spent"))
    }),

    // §2.3 left-semi (EXISTS).
    "q_semi_join" -> ((s, d) => {
      val fOrders = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      Tables.customer(s, d)
        .join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // §2.3 left-anti (NOT EXISTS).
    "q_anti_join" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // §2.3 as-of join (point-in-time enrichment; union+window, single shuffle).
    "q_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
          col("o_totalprice"))
      AsOfJoin.asOf(
        e, Seq("user_id"), "ts_ms",
        o, Seq("o_custkey"), "odate_ms",
        rightTieBreak = Seq("o_orderkey"), joinType = "inner")
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice"))
    }),

    // §2.3 interval join: same-key pairs within a 5-minute band.
    "q_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      val a = e.select(col("event_id").as("a_id"), col("user_id"),
        col("ts_ms").as("a_ms"))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts_ms").as("b_ms"))
      a.join(b, col("user_id") === col("b_user") &&
          col("b_ms") > col("a_ms") && col("b_ms") - col("a_ms") <= 300000L)
        .select(col("a_id"), col("b_id"), (col("b_ms") - col("a_ms")).as("gap_ms"))
    }),

    // §2.6 top-k with deterministic tie-break.
    "q_topk" -> ((s, d) => {
      Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
    }),

    // §2.6 global sort + limit.
    "q_sort_limit" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(100)
    }),

    // §2.7 set ops: UNION ALL (multi-topic subscribe).
    "q_union_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .unionAll(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    }),

    // §2.7 INTERSECT.
    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    // §2.7 EXCEPT.
    "q_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    // §2.8 string scalar functions.
    "q_string_fns" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
        reverse(col("p_brand")).as("brand_rev"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"))
    }),

    // §2.8 date/time functions (index-routing date_format parity).
    "q_date_fns" -> ((s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        quarter(col("o_orderdate")).as("o_quarter"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"),
        concat(lit("orders-"), date_format(col("o_orderdate"), "yyyy-MM-dd")).as("index_name"))
    }),

    // §2.8 math scalar functions.
    "q_math_fns" -> ((s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_tax") * 100).as("tax_pct"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        (col("l_partkey") % 10).as("part_mod"),
        greatest(col("l_quantity"), col("l_tax") * 100).as("gr"),
        sqrt(col("l_quantity")).as("qty_sqrt"))
    }),

    // §2.8 edit distance (near-match text ops).
    "q_edit_distance" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        levenshtein(col("p_name"), col("p_type")).as("edist_name_type"),
        levenshtein(col("p_brand"), lit("Brand#1")).as("edist_brand"))
    }),

    // §2.8 regex functions (entry-filter-style predicates + extraction).
    "q_regex_fns" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        col("p_type").rlike("^(SMALL|LARGE)").as("is_sized"),
        element_at(split(col("p_name"), " "), 1).as("name_head"))
    }),

    // §2.4 percentiles: the EXACT interpolated median is cross-engine
    // (percentile ≡ quantile_cont) and hash-checked outright; the GK sketch
    // (percentile_approx) is engine-specific, so its hard check is the
    // error bound vs the exact value in the same aggregation.
    "q_percentile" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50_exact"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("__p50a"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("p50_exact"), col("n"),
          (abs(col("__p50a") - col("p50_exact"))
            <= col("p50_exact") * 0.01).as("approx_within_1pct"))
    }),

    // §2.5 SQL analytic windows: ranking.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn"), col("rk"))
    }),

    // §2.5 analytic windows: RANGE frame over event-time (90-day trailing
    // spend per customer).
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("odate_ms"))
        .rangeBetween(-7776000000L, 0L) // 90 days in ms
      Tables.orders(s, d)
        .withColumn("odate_ms",
          unix_millis(col("o_orderdate").cast("timestamp")))
        .withColumn("trailing_90d_spend", sum(col("o_totalprice")).over(w))
        .withColumn("trailing_90d_orders", count(lit(1)).over(w))
        .select(col("o_orderkey"), col("o_custkey"),
          col("trailing_90d_spend"), col("trailing_90d_orders"))
    }),

    // §2.5 analytic windows: distribution functions.
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("cheapest_in_status",
          first(col("o_orderkey")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("o_orderkey"), col("o_orderstatus"), col("pr"), col("cd"),
          col("quartile"), col("cheapest_in_status"))
    }),

    // §2.5 analytic windows: running frame + lag/lead.
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("running_spend",
          sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"),
          col("prev_price"), col("next_price"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_fk_integrity" ->
      """SELECT * FROM (
           SELECT 'lineitem->orders' AS relationship,
                  (SELECT count(*) FROM lineitem) AS n_child_rows,
                  (SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
           UNION ALL
           SELECT 'orders->customer',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'lineitem->part',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM part p
                     WHERE p.p_partkey = l.l_partkey))
           UNION ALL
           SELECT 'lineitem->supplier',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM supplier s
                     WHERE s.s_suppkey = l.l_suppkey)))
         ORDER BY relationship""",

    "q_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50_exact,
                count(*) AS n, true AS approx_within_1pct
         FROM lineitem GROUP BY l_returnflag""",
    "q_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-06-01' AND l_discount > 0.07""",
    "q_entry_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type IN ('purchase','signup') AND value > 100.0""",
    "q_seek_by_time" ->
      """SELECT event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
         WHERE epoch_ms(ts) >= 1705276800000""",
    "q_peek" ->
      """SELECT event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
         ORDER BY event_id LIMIT 10""",
    // one oracle for both storage codecs; the replay factor interpolates
    // from TopicStage.Amplify so the staged corpus and the oracle can't
    // drift apart
    "q_scan_hot" ->
      s"""SELECT event_type AS key, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_off,
                CAST(sum(strlen(props)) AS BIGINT) AS payload_bytes,
                max(epoch_ms(ts)) AS max_pt_ms
         FROM events CROSS JOIN range(${TopicStage.Amplify}) AS r
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
         GROUP BY event_type""",
    "q_scan_cold" ->
      s"""SELECT event_type AS key, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_off,
                CAST(sum(strlen(props)) AS BIGINT) AS payload_bytes,
                max(epoch_ms(ts)) AS max_pt_ms
         FROM events CROSS JOIN range(${TopicStage.Amplify}) AS r
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
         GROUP BY event_type""",
    "q_sql_topic" ->
      s"""SELECT event_type AS key, count(*) AS n,
                count(DISTINCT 'u' || CAST(user_id AS VARCHAR)) AS n_producers,
                min(event_id) AS min_off, max(event_id) AS max_off
         FROM events CROSS JOIN range(${TopicStage.Amplify}) AS r
         WHERE event_id >= 100
         GROUP BY event_type""",
    "q_sql_time_travel" ->
      s"""SELECT event_type AS key, count(*) AS n,
                max(epoch_ms(ts)) AS max_pt_ms
         FROM events CROSS JOIN range(${TopicStage.Amplify}) AS r
         WHERE epoch_ms(ts) <= 1705708800000
         GROUP BY event_type""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                sum(l_extendedprice) AS sum_base_price,
                sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q_stateful_counter" ->
      """SELECT user_id, count(*) AS n_events, sum(value) AS total_value
         FROM events GROUP BY user_id""",
    "q_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
                count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_rollup" ->
      """SELECT year(o_orderdate) AS o_year, o_orderstatus,
                sum(o_totalprice) AS total, count(*) AS cnt
         FROM orders GROUP BY ROLLUP (o_year, o_orderstatus)""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                sum(o_totalprice) AS total, count(*) AS cnt
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "q_rate_stats" ->
      """SELECT event_type, count(*) AS n, avg(value) AS avg_value,
                min(value) AS min_value, max(value) AS max_value,
                stddev_samp(value) AS sd_value
         FROM events GROUP BY event_type""",
    "q_backlog" ->
      """SELECT count(*) AS entries, CAST(sum(strlen(props)) AS BIGINT) AS bytes
         FROM events WHERE event_id > 1000 AND event_id <= 5000""",
    "q_join_broadcast" ->
      """SELECT n_name,
                sum(l_extendedprice * (1 - l_discount)) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name""",
    "q_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
                sum(l_extendedprice) AS total_price
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority""",
    "q_join_left" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
                coalesce(sum(o_totalprice), 0.0) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_mktsegment""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_asof_join" ->
      """SELECT event_id, o_orderkey, o_totalprice FROM (
           SELECT e.event_id, o.o_orderkey, o.o_totalprice,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM events e JOIN orders o ON e.user_id = o.o_custkey
           WHERE epoch_ms(o.o_orderdate) <= epoch_ms(e.ts)
         ) WHERE rn = 1""",
    "q_interval_join" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id,
                epoch_ms(b.ts) - epoch_ms(a.ts) AS gap_ms
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE epoch_ms(b.ts) > epoch_ms(a.ts)
           AND epoch_ms(b.ts) - epoch_ms(a.ts) <= 300000""",
    "q_topk" ->
      """SELECT o_custkey, sum(o_totalprice) AS revenue, count(*) AS n_orders
         FROM orders GROUP BY o_custkey
         ORDER BY revenue DESC, o_custkey ASC LIMIT 10""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q_union_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ) GROUP BY o_custkey""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_string_fns" ->
      """SELECT p_partkey, upper(p_brand) AS brand_uc, length(p_name) AS name_len,
                substr(p_type, 1, 5) AS type_pfx,
                concat_ws(':', p_brand, p_type) AS brand_type,
                reverse(p_brand) AS brand_rev,
                lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
         FROM part""",
    "q_date_fns" ->
      """SELECT o_orderkey, year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
                day(o_orderdate) AS o_day, quarter(o_orderdate) AS o_quarter,
                strftime(o_orderdate, '%Y-%m') AS o_ym,
                'orders-' || strftime(o_orderdate, '%Y-%m-%d') AS index_name
         FROM orders""",
    "q_math_fns" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) AS net_price,
                CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
                CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct,
                abs(l_discount - 0.05) AS disc_dev,
                l_partkey % 10 AS part_mod,
                greatest(l_quantity, l_tax * 100) AS gr,
                sqrt(l_quantity) AS qty_sqrt
         FROM lineitem""",
    "q_edit_distance" ->
      """SELECT p_partkey, levenshtein(p_name, p_type) AS edist_name_type,
                levenshtein(p_brand, 'Brand#1') AS edist_brand
         FROM part""",
    "q_regex_fns" ->
      """SELECT p_partkey,
                regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
                regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
                regexp_matches(p_type, '^(SMALL|LARGE)') AS is_sized,
                string_split(p_name, ' ')[1] AS name_head
         FROM part""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER w AS rn, rank() OVER w AS rk
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC)
         ) WHERE rn <= 3""",
    "q_window_range" ->
      """SELECT o_orderkey, o_custkey,
                sum(o_totalprice) OVER w AS trailing_90d_spend,
                count(*) OVER w AS trailing_90d_orders
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
                      RANGE BETWEEN 7776000000 PRECEDING AND CURRENT ROW)""",
    "q_window_dist" ->
      """SELECT o_orderkey, o_orderstatus,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd,
                ntile(4) OVER w AS quartile,
                first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS cheapest_in_status
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
                sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)"""
  )
}
