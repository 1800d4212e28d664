package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator pack (SURVEY §2.1, §2.2, §2.3 J7, §2.4-§2.7).
  *
  * Each query is a declarative DataFrame plan: filters and projections
  * are Column expressions so Catalyst pushes them into the parquet
  * scan; joins use equi-conditions so Catalyst can pick broadcast vs
  * shuffled hash vs sort-merge (small dims like nation/region are
  * broadcast automatically, and we hint where we know the side is
  * tiny). Aggregates are built-ins → whole-stage codegen + partial
  * (map-side) aggregation for scale.
  *
  * Float aggregates are rounded to 4 decimals on BOTH the Spark and
  * oracle side: summation order differs across engines and
  * partitionings, and the driver compares value hashes.
  *
  * Reference points (capability, not code): scans/point lookups
  * `graph/storage/src/lib.rs:504-568`; WHERE evaluation
  * `graph/query/src/executor.rs:382-464`; aggregation states
  * `graph/views/src/incremental_engine.rs:875-946`; top-k
  * `graph/algorithms/src/basic.rs:25-31`.
  */
object RelationalQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3: point lookup. At cluster scale this is served by a bucketed
    // table on the key (no shuffle, partition-pruned single-task scan).
    "s3_point_lookup" -> ((s, dir) => {
      Tables.customer(s, dir).filter(col("c_custkey") === 42L)
    }),

    // S5: predicate scan — pushed filters + pruned columns.
    "s5_predicate_scan" -> ((s, dir) => {
      Tables.part(s, dir)
        .filter(col("p_size") > 30 && col("p_type").contains("O"))
        .select("p_partkey", "p_name", "p_type", "p_size")
        .orderBy("p_partkey")
    }),

    // P3: WHERE expression eval — comparison + AND/OR conjunctions
    // (the reference's whole predicate surface, executor.rs:382-464).
    "p3_where_expr" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter((col("o_totalprice") > 150000.0 && col("o_orderstatus") === "O")
          || col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // P4: projection incl. computed column.
    "p4_projection" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("net_price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A1/A2: the full scalar-agg set (count/sum/avg/min/max) — TPC-H
    // Q1 shape. Partial aggregation makes this a single shuffle of
    // #groups rows at any scale.
    "a1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          // avg via exact integer cents + nudge — see Windows.standardAggs
          round(round(sum("l_extendedprice") * 100).cast("long")
            / (count(lit(1)) * 100.0) + lit(1e-9), 4).as("avg_price"),
          round(min("l_discount"), 4).as("min_disc"),
          round(max("l_tax"), 4).as("max_tax"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3: numeric-field probe — the reference coalesces over candidate
    // property keys (value/amount/count/score/weight).
    "a3_numeric_probe" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(round(sum(coalesce(col("value"), lit(0.0))), 4).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // J1: multi-way equi-join + agg (revenue by nation). nation/region
    // are tiny → broadcast; the orders⋈lineitem join shuffles on the
    // order key, which AQE sizes at runtime.
    "j1_join_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy("n_name")
    }),

    // J7: semi join (WHERE EXISTS) — no row multiplication, stops at
    // first match per key.
    "j7_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 200000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J7: anti join (WHERE NOT EXISTS) — customers with no big-ticket
    // order (every customer has *some* order in this data).
    "j7_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // +J: fuzzy record linkage — supplier-name pairs within edit
    // distance 1 via SymSpell delete-neighborhood signatures (linear
    // signature volume + hash join + exact levenshtein verify); the
    // oracle runs the quadratic all-pairs scan, so a green row PROVES
    // the candidate generation lossless, the ExactSubstr discipline.
    "j8_fuzzy_join" -> ((s, dir) => {
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey").cast("long").as("k"),
          lower(trim(col("s_name"))).as("name"))
      graft.functions.Dedup.editDistancePairs(sup, "k", "name", maxDist = 1)
        .select(col("id1").as("suppkey1"), col("id2").as("suppkey2"),
          col("s1").as("name1"), col("s2").as("name2"), col("dist"))
        .orderBy("suppkey1", "suppkey2")
    }),

    // W1: top-k by score — orderBy+limit compiles to TakeOrderedAndProject
    // (per-partition heap, no global sort shuffle).
    "w1_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // W2: ranking window (influence-ranking shape,
    // social_network_platform.rs:116-122).
    "w2_rank" -> ((s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(desc("s_acctbal"), asc("s_suppkey"))
      Tables.supplier(s, dir)
        .withColumn("rnk", row_number().over(w))
        .select("s_nationkey", "s_suppkey", "s_name", "rnk")
        .orderBy("s_nationkey", "rnk")
    }),

    // W5: running-total frame (rows between unbounded preceding and
    // current row).
    "w5_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("running_spend", round(sum("o_totalprice").over(w), 4))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // A7 twin (round 8): CUBE — all 2ⁿ grouping sets in ONE pass
    // (Spark expands to a single Expand + HashAggregate, no
    // per-grouping rescans).
    "a12_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // A13: arbitrary GROUPING SETS (Spark 4's Dataset.groupingSets)
    // — the set list ((flag, status), (status)) is deliberately
    // neither a rollup (that takes prefixes) nor a cube (missing
    // (flag) and ()), so it exercises the general form; same
    // single-shuffle Expand+HashAggregate plan as a7/a12.
    "a13_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // +W: lead/lag/ntile (round 8) — offset windows for
    // session-style deltas (gap to the previous/next order per
    // customer) and equi-depth bucketing. Same single-shuffle
    // window economics as w2/w5: one partitionBy(custkey) exchange
    // serves all three functions.
    "w6_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(lag("o_orderkey", 1).over(w), lit(-1L)).as("prev_key"),
          coalesce(lead("o_orderkey", 1).over(w), lit(-1L)).as("next_key"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // U1: distinct.
    "u1_distinct" -> ((s, dir) => {
      Tables.customer(s, dir).select("c_mktsegment").distinct().orderBy("c_mktsegment")
    }),

    // U2: union (concat, bag semantics — the reference's vertex-id
    // union src+dst).
    "u2_union" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
      val su = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
      c.union(su).groupBy("nationkey").agg(count(lit(1)).as("cnt")).orderBy("nationkey")
    }),

    // U4: intersect / except (absent in the reference; free in Spark).
    "u4_intersect" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
      val su = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
      c.intersect(su).orderBy("nationkey")
    }),
    "u4_except" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
      val su = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
      c.except(su).orderBy("nationkey")
    }),

    // A7: rollup (grouping sets) — absent in the reference, free in
    // Spark (cube/groupingSets likewise).
    "a7_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // +A: exact percentiles (round 8) — Spark's `percentile` is the
    // exact sort-based aggregate with the same linear interpolation
    // at rank p·(n−1) as DuckDB's quantile_cont; at cluster scale the
    // approximate sketch form (approx_percentile / t-digest) replaces
    // it per column when the per-group sort no longer fits, same
    // trade the reference's probe stage makes.
    "a10_percentiles" -> ((s, dir) => {
      // ONE array-form percentile per group: separate percentile
      // expressions each build their own per-partition value map —
      // measured 4x at sf0.1 (the quantile probe, sketch_quantiles
      // note; OPTIMIZATION_r13.md, Retired diagnostics)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.25D, 0.9D))")
          .as("ps"))
        .select(col("l_returnflag"),
          round(col("ps").getItem(0), 4).as("p50"),
          round(col("ps").getItem(1), 4).as("p25"),
          round(col("ps").getItem(2), 4).as("p90"))
        .orderBy("l_returnflag")
    }),

    // +A: PIVOT (round 8) — groupBy().pivot() with an EXPLICIT value
    // list: Spark otherwise runs a distinct-collect job to discover
    // columns (a full extra pass at 100 TB) and the output schema
    // becomes data-dependent. Explicit values keep it one aggregate
    // pass, map-side combined, schema fixed at plan time.
    "a11_pivot" -> ((s, dir) => {
      // pivot columns renamed to identifier-safe names: the raw
      // values ("1-URGENT", "4-NOT SPECIFIED") contain dash/space,
      // which downstream SQL-side consumers would have to quote
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum("o_totalprice"), 2))
        .withColumnsRenamed(Map("1-URGENT" -> "p_urgent",
          "2-HIGH" -> "p_high", "3-MEDIUM" -> "p_medium",
          "4-NOT SPECIFIED" -> "p_notspec", "5-LOW" -> "p_low"))
        .orderBy("o_orderstatus")
    }),

    // +A: UNPIVOT/melt (round 10) — pivot's inverse completes the
    // reshape pair: a wide per-flag aggregate melts into
    // (key, metric, value) rows. Spark's native unpivot is a
    // zero-shuffle Expand over the aggregate (3 rows per input row,
    // no join, no union-of-scans — the UNION ALL formulation would
    // re-read the aggregate per metric); values pre-cast to one type
    // because melt requires a common value column.
    "a14_unpivot" -> ((s, dir) => {
      val wide = Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).cast("double").as("sum_qty"),
          round(sum("l_extendedprice"), 4).cast("double").as("sum_price"),
          count(lit(1)).cast("double").as("cnt"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("cnt")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    }),

    // F6: JSON rendering of structured values (both engines emit the
    // same compact format for int/string fields).
    "f6_json" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          to_json(struct(col("c_custkey"), col("c_name"))).as("j"))
        .orderBy("c_custkey")
    }),

    // E1: custom typed Aggregator (geometric mean) — the reference's
    // AggregationFunction::Custom shape, with explicit partial-merge
    // state so the shuffle carries (sumLog, n) per group.
    "e1_custom_agg" -> ((s, dir) => {
      val gm = udaf(graft.functions.CustomAggs.GeometricMean)
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(round(gm(col("o_totalprice")), 2).as("geo_mean"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),

    // F2/F9: scalar function library (string/date/math) — all
    // codegen'd builtins, no UDFs.
    "f9_scalar_funcs" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"),
          lower(col("o_orderpriority")).as("prio_lower"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          round(sqrt(col("o_totalprice")), 4).as("price_sqrt"),
          round(log(col("o_totalprice")), 4).as("price_ln"))
        .orderBy("o_orderkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "s3_point_lookup" ->
      "SELECT * FROM customer WHERE c_custkey = 42",
    "s5_predicate_scan" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
         WHERE p_size > 30 AND p_type LIKE '%O%' ORDER BY p_partkey""",
    "p3_where_expr" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE (o_totalprice > 150000.0 AND o_orderstatus = 'O') OR o_orderpriority = '1-URGENT'
         ORDER BY o_orderkey""",
    "p4_projection" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_extendedprice * (1.0 - l_discount), 4) AS net_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "a1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sum_qty,
                ROUND(CAST(ROUND(SUM(l_extendedprice) * 100, 0) AS BIGINT)
                  / (COUNT(*) * 100.0) + 1e-9, 4) AS avg_price,
                ROUND(MIN(l_discount), 4) AS min_disc,
                ROUND(MAX(l_tax), 4) AS max_tax
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "a3_numeric_probe" ->
      """SELECT event_type, ROUND(SUM(COALESCE(value, 0.0)), 4) AS sum_value,
                COUNT(*) AS cnt
         FROM events GROUP BY event_type ORDER BY event_type""",
    "j1_join_agg" ->
      """SELECT n_name,
                ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "j7_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
         ORDER BY c_custkey""",
    "j7_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey""",
    "j8_fuzzy_join" ->
      """WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k,
                           lower(trim(s_name)) AS name FROM supplier)
         SELECT a.k AS suppkey1, b.k AS suppkey2,
                a.name AS name1, b.name AS name2,
                CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
         FROM s a JOIN s b
           ON a.k < b.k AND levenshtein(a.name, b.name) <= 1
         ORDER BY suppkey1, suppkey2""",
    "w1_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "w2_rank" ->
      """SELECT s_nationkey, s_suppkey, s_name,
                CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
                     ORDER BY s_acctbal DESC, s_suppkey ASC) AS INTEGER) AS rnk
         FROM supplier ORDER BY s_nationkey, rnk""",
    "w5_window_frame" ->
      """SELECT o_custkey, o_orderkey,
                ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                  AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "a12_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "a13_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "w6_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
                COALESCE(LAG(o_orderkey, 1) OVER w, -1) AS prev_key,
                COALESCE(LEAD(o_orderkey, 1) OVER w, -1) AS next_key,
                CAST(NTILE(4) OVER w AS INTEGER) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "u1_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "u2_union" ->
      """SELECT nationkey, COUNT(*) AS cnt FROM (
           SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
           UNION ALL
           SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier)
         GROUP BY nationkey ORDER BY nationkey""",
    "u4_intersect" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
         INTERSECT
         SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
         ORDER BY nationkey""",
    "u4_except" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
         EXCEPT
         SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
         ORDER BY nationkey""",
    "a7_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "a10_percentiles" ->
      """SELECT l_returnflag,
                ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a11_pivot" ->
      """SELECT o_orderstatus,
                ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice END), 2) AS p_urgent,
                ROUND(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                          THEN o_totalprice END), 2) AS p_high,
                ROUND(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                          THEN o_totalprice END), 2) AS p_medium,
                ROUND(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                          THEN o_totalprice END), 2) AS p_notspec,
                ROUND(SUM(CASE WHEN o_orderpriority = '5-LOW'
                          THEN o_totalprice END), 2) AS p_low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "a14_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
               CAST(ROUND(SUM(l_quantity), 4) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(l_extendedprice), 4) AS DOUBLE) AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS cnt
             FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, metric, value FROM (
           SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
           UNION ALL
           SELECT l_returnflag, 'sum_price', sum_price FROM w
           UNION ALL
           SELECT l_returnflag, 'cnt', cnt FROM w)
         ORDER BY l_returnflag, metric""",
    "f6_json" ->
      """SELECT c_custkey,
                to_json(struct_pack(c_custkey := c_custkey, c_name := c_name)) AS j
         FROM customer ORDER BY c_custkey""",
    "e1_custom_agg" ->
      """SELECT o_orderpriority, ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geo_mean,
                COUNT(*) AS cnt
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "f9_scalar_funcs" ->
      """SELECT o_orderkey,
                CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
                CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
                LOWER(o_orderpriority) AS prio_lower,
                SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
                ROUND(SQRT(o_totalprice), 4) AS price_sqrt,
                ROUND(LN(o_totalprice), 4) AS price_ln
         FROM orders ORDER BY o_orderkey"""
  )
}
