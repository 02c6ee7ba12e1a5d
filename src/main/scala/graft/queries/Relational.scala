package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Q._

/** The relational operator surface from SURVEY.md §2.2 (the SQL subset the
  * reference engine exercises through its transform / filter / ad-hoc
  * channels) plus the §2.3 categories Spark provides for free (windows,
  * set ops, rollup, semi/anti joins) — each as a DataFrame-first query
  * with a DuckDB oracle.
  *
  * Scale notes are on each query; the common themes:
  *  - dimension joins are explicitly `broadcast()` (region/nation/part/
  *    customer stay tiny relative to the fact tables at any SF);
  *  - filters/projections are applied before joins so parquet pushdown
  *    and column pruning bound the scan;
  *  - every query is deterministic (total ORDER BY) and float-safe (Q.*).
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // --- Scan + filter + projection + computed column (SURVEY §2.2
    //     Scan/Projection/Filter rows). Predicate + 5-column ReadSchema
    //     push into the parquet scan; no shuffle at all. Per-row double
    //     arithmetic is deterministic (no aggregation order involved), so
    //     no exact-integer detour is needed here.
    QueryDef(
      "q01_scan_filter_project",
      (s, dir) => {
        t(s, dir, "lineitem")
          .where(col("l_returnflag") === "R" && col("l_quantity") > 40)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_quantity"),
            (col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey,
             |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |       l_quantity,
             |       l_extendedprice * (1 - l_discount) AS revenue
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity > 40
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // --- TPC-H Q1-shaped pricing summary: grouped agg with SUM / AVG /
    //     COUNT over exact integer cents (map-side partial agg; 6-row
    //     result; all per-row math stays inside whole-stage codegen).
    //     r7 closure (PERF_NOTES): the fewer-partials "subgroup finish"
    //     reformulation and reader batch-size tuning were both measured
    //     and not adopted; the residual 50× gap vs DuckDB is engine agg
    //     throughput below Spark's own single-agg scan floor — the
    //     committed decomposition, not an open plan defect.
    //     Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    //     PERF_NOTES r15 (scale-invariant through the 400× deployed
    //     leg; grade revised there from "≤2× deployed" to floor-closed).
    QueryDef(
      "q02_pricing_summary",
      (s, dir) => {
        val price = cents(col("l_extendedprice"))           // exact cents
        val disc = lit(100) - pct(col("l_discount"))        // exact percent
        val tax = lit(100) + pct(col("l_tax"))
        t(s, dir, "lineitem")
          .where(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum("l_quantity").as("sum_qty"),
            (exactSum(price).cast("double") / 100).as("sum_base_price"),
            (exactSum(price * disc).cast("double") / 10000).as("sum_disc_price"),
            (exactSum(price * disc * tax).cast("double") / 1000000).as("sum_charge"),
            (sum("l_quantity") / count(lit(1))).as("avg_qty"),
            (exactSum(price).cast("double") / 100 / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       SUM(l_quantity) AS sum_qty,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS sum_base_price,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |                * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))) AS DOUBLE)/10000 AS sum_disc_price,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |                * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))
             |                * (100 + CAST(FLOOR(l_tax*100 + 0.5) AS BIGINT))) AS DOUBLE)/1000000 AS sum_charge,
             |       SUM(l_quantity) / COUNT(*) AS avg_qty,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100/COUNT(*) AS avg_price,
             |       COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // --- Fact ⋈ dimension join (SURVEY §2.2 Join rows). No manual
    //     broadcast hint: `part` scales with SF (not a fixed-size dim), so
    //     the strategy is left to the planner + AQE — at bench scale it
    //     becomes a broadcast-hash join from file stats; at 100 TB it
    //     correctly degrades to a shuffle join. Only the 2-column
    //     projections of both sides are scanned.
    QueryDef(
      "q03_join_broadcast_dim",
      (s, dir) => {
        // Partial-aggregate the fact side by join key BEFORE the join
        // (measured 2.1x at 50x sf0.1): the shuffle then moves one
        // pre-agg row per partkey instead of every lineitem row, and
        // the join co-shuffles two |part|-sized sides. Per-key partials
        // are plain long cents sums (bounded by a key's ~30 items); the
        // brand-level finish reuses the 128-bit-safe exactSum, so the
        // final double is bit-identical to the direct formulation.
        val perKey = t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(sum("l_quantity").as("pk_qty"),
            sum(cents(col("l_extendedprice"))).as("pk_cents"),
            count(lit(1)).as("pk_n"))
        val p = t(s, dir, "part").select("p_partkey", "p_brand")
        perKey.join(p, perKey("l_partkey") === p("p_partkey"))
          .groupBy("p_brand")
          .agg(
            sum("pk_qty").as("sum_qty"),
            (exactSum(col("pk_cents")).cast("double") / 100).as("sum_price"),
            sum("pk_n").as("n_items"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand,
             |       SUM(l_quantity) AS sum_qty,
             |       ${sumMoneySql("l_extendedprice")} AS sum_price,
             |       COUNT(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand
             |ORDER BY p_brand""".stripMargin),
      headline = true),

    // --- LEFT OUTER join + agg (the reference's enrichment-join shape,
    //     tests/test_integration.py:336). Aggregate orders per customer
    //     BEFORE the join: the shuffle moves the pre-aggregated (small)
    //     side, and customers with no orders still appear.
    QueryDef(
      "q04_left_join_agg",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val perCust = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("total_spent"))
        c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
          .select(
            col("c_custkey"), col("c_name"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_name,
             |       COALESCE(o.n_orders, 0) AS n_orders,
             |       COALESCE(o.total_spent, 0.0) AS total_spent
             |FROM customer
             |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders,
             |                  ${sumMoneySql("o_totalprice")} AS total_spent
             |           FROM orders GROUP BY o_custkey) o
             |  ON c_custkey = o.o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // --- Semi join (EXISTS): planned as LeftSemi, never materializes the
    //     right side's payload columns.
    QueryDef(
      "q05_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val f = t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .select("o_custkey")
        c.join(f, c("c_custkey") === f("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // --- Anti join (NOT EXISTS).
    QueryDef(
      "q06_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").where(col("o_orderstatus") === "P")
          .select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // --- TPC-H Q5-shaped 6-way join. Scale-safe join strategy: only the
    //     FIXED-cardinality dims (region 5 rows, nation 25 rows — they do
    //     not grow with SF) carry broadcast hints. customer / orders /
    //     supplier / lineitem all scale linearly, so their joins are left
    //     to the planner + AQE: at bench scale AQE turns them into
    //     broadcast-hash joins from runtime sizes; at 100 TB they become
    //     shuffle joins on their keys with AQE skew-splitting — never a
    //     driver-side broadcast of a fact-side relation.
    QueryDef(
      "q07_regional_revenue",
      (s, dir) => {
        // Two measured r5 refinements over the left-deep r3 plan (~20%
        // at 50x sf0.1; values identical, gate-verified):
        //  - the ASIA semi-reduction (region → nation → customer /
        //    supplier, all broadcast: region/nation are FIXED dims)
        //    runs UPSTREAM of the fact joins, so every fact-side
        //    shuffle carries only ASIA rows;
        //  - the per-row revenue cents (one long) project BEFORE the
        //    fact shuffle, replacing two shuffled doubles.
        // The fact side still never broadcasts (r3 trap); an AQE
        // runtime-broadcast of the reduced orders side measured SLOWER
        // than SHJ on local[32] (build cost > local shuffle), so the
        // 10 MB adaptive threshold stays.
        // r7 closure (PERF_NOTES): supplier-first join and
        // (orderkey, s_nationkey) pre-agg variants measured tie/worse
        // at 50× AND would trade the at-scale shuffle budget; the kept
        // plan measures 1.53-1.58× vs DuckDB at 50× in a paired
        // idle-window sample — under the 2× bar.
        val asia = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, dir, "customer")
          .join(broadcast(asia.select(col("n_nationkey").as("cn_key"))),
            col("c_nationkey") === col("cn_key"))
          .select(col("c_custkey"), col("c_nationkey"))
        val supp = t(s, dir, "supplier")
          .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val oc = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey"))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
          .join(oc, col("l_orderkey") === col("o_orderkey"))
          .join(supp,
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg((exactSum(col("rev")).cast("double") / 10000).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some("""SELECT n_name,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |                * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))) AS DOUBLE)/10000 AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin),
      headline = true),

    // --- ORDER BY + LIMIT top-k: Spark plans TakeOrderedAndProject
    //     (per-partition heap + driver merge — no global sort at scale).
    QueryDef(
      "q08_topk_orders",
      (s, dir) => {
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // --- Conditional aggregation: COUNT + SUM(CASE WHEN) + CAST ratio —
    //     the reference's /stats shape (src/app.py:1266-1273).
    QueryDef(
      "q09_conditional_agg",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
            (sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).cast("double")
              / count(lit(1))).as("finished_ratio"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |       COUNT(*) AS n_orders,
             |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
             |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
             |         / COUNT(*) AS finished_ratio
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // --- JSON extraction + group: the reference's json_extract analytics
    //     (frontend/src/pages/SqlQuery.tsx:38) over the events stream.
    QueryDef(
      "q10_json_extract_events",
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("value"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum("k").as("sum_k"),
            sumMoney(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |       ${sumMoneySql("value")} AS sum_value
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // --- Ranking window: top-3 orders per customer.
    QueryDef(
      "q11_window_rank",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"))
          .where(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
             |               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) x
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin),
      headline = true),

    // --- Running-total window (exact integer-cents accumulation under
    //     the frame, so segment-tree vs incremental evaluation can't
    //     diverge, and every per-row value divides back exactly).
    QueryDef(
      "q12_window_running_sum",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            (sum(cents(col("value"))).over(w).cast("double") / 100)
              .as("running_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |       CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT))
             |            OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |            AS DOUBLE)/100 AS running_value
             |FROM events
             |ORDER BY event_id""".stripMargin)),

    // --- Set operations, tagged into one relation.
    QueryDef(
      "q13_set_ops",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("k")).distinct()
        val sup = t(s, dir, "supplier")
          .select(col("s_nationkey").cast("long").as("k")).distinct()
        c.union(sup).distinct().withColumn("op", lit("union"))
          .unionByName(c.intersect(sup).withColumn("op", lit("intersect")))
          .unionByName(c.except(sup).withColumn("op", lit("except")))
          .select("op", "k")
          .orderBy("op", "k")
      },
      Some("""WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer),
             |     s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier)
             |SELECT 'union' AS op, k FROM (SELECT k FROM c UNION SELECT k FROM s)
             |UNION ALL
             |SELECT 'intersect' AS op, k FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
             |UNION ALL
             |SELECT 'except' AS op, k FROM (SELECT k FROM c EXCEPT SELECT k FROM s)
             |ORDER BY op, k""".stripMargin)),

    // --- ROLLUP over the region→nation hierarchy (grouping-set nulls
    //     coalesced to 'ALL' so null-ordering semantics can't differ).
    QueryDef(
      "q14_rollup",
      (s, dir) => {
        // Through the SQL channel (the reference's native surface);
        // region/nation are auto-broadcast, rollup is one hash aggregate.
        Seq("region", "nation", "customer").foreach(n =>
          t(s, dir, n).createOrReplaceTempView(s"q14_$n"))
        s.sql("""SELECT COALESCE(r_name, 'ALL') AS region,
                |       COALESCE(n_name, 'ALL') AS nation,
                |       COUNT(*) AS n_customers
                |FROM q14_customer
                |JOIN q14_nation ON c_nationkey = n_nationkey
                |JOIN q14_region ON n_regionkey = r_regionkey
                |GROUP BY ROLLUP (r_name, n_name)
                |ORDER BY region, nation""".stripMargin)
      },
      Some("""SELECT COALESCE(r_name, 'ALL') AS region,
             |       COALESCE(n_name, 'ALL') AS nation,
             |       COUNT(*) AS n_customers
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY region, nation""".stripMargin)),

    // --- DISTINCT aggregation (expands to two-phase agg in Spark).
    QueryDef(
      "q15_distinct_agg",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("n_suppliers"),
            countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       COUNT(DISTINCT l_suppkey) AS n_suppliers,
             |       COUNT(DISTINCT l_partkey) AS n_parts,
             |       COUNT(*) AS n_rows
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // --- String functions: ||-concat (the reference's pinned transform,
    //     tests/test_integration.py:100), UPPER, SUBSTRING, LENGTH, LIKE.
    QueryDef(
      "q16_string_funcs",
      (s, dir) => {
        t(s, dir, "part")
          .where(col("p_type").like("P%"))
          .select(
            col("p_partkey"),
            concat(col("p_brand"), lit(" - "), col("p_type")).as("combined"),
            upper(col("p_name")).as("uname"),
            substring(col("p_name"), 1, 12).as("prefix12"),
            length(col("p_name")).cast("long").as("name_len"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
             |       p_brand || ' - ' || p_type AS combined,
             |       UPPER(p_name) AS uname,
             |       SUBSTRING(p_name, 1, 12) AS prefix12,
             |       CAST(LENGTH(p_name) AS BIGINT) AS name_len
             |FROM part
             |WHERE p_type LIKE 'P%'
             |ORDER BY p_partkey""".stripMargin)),

    // --- Date functions: year/month extraction + month truncation.
    QueryDef(
      "q17_date_funcs",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(
            year(col("o_orderdate")).cast("long").as("o_year"),
            month(col("o_orderdate")).cast("long").as("o_month"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("total"))
          .orderBy("o_year", "o_month")
      },
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             |       CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
             |       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
             |       COUNT(*) AS n_orders,
             |       ${sumMoneySql("o_totalprice")} AS total
             |FROM orders
             |GROUP BY 1, 2, 3
             |ORDER BY o_year, o_month""".stripMargin)),

    // --- TPC-H Q18-shaped large-volume orders: aggregate-derived semi
    //     join (IN over a HAVING subquery) + 3-way join + re-aggregate.
    //     The HAVING subquery output is small, so its join side is
    //     broadcast by AQE at runtime; the fact table never shuffles
    //     before the final per-order aggregate.
    QueryDef(
      "q18_large_volume_orders",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val big = li.groupBy("l_orderkey")
          .agg(sum("l_quantity").as("q"))
          .where(col("q") > 250)
          .select("l_orderkey")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(li, o("o_orderkey") === li("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"))
          .agg(sum("l_quantity").as("total_qty"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
             |       SUM(l_quantity) AS total_qty
             |FROM customer, orders, lineitem
             |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
             |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
             |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
             |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
             |ORDER BY o_orderkey""".stripMargin)),

    // --- GROUP BY + HAVING.
    QueryDef(
      "q19_having",
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
          .where(col("n_orders") >= 15)
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, COUNT(*) AS n_orders FROM orders
             |GROUP BY o_custkey HAVING COUNT(*) >= 15
             |ORDER BY o_custkey""".stripMargin)),

    // --- CASE bucketing + grouped agg over the buckets.
    QueryDef(
      "q20_case_buckets",
      (s, dir) => {
        t(s, dir, "customer")
          .select(
            when(col("c_acctbal") < 0, "negative")
              .when(col("c_acctbal") < 5000, "mid")
              .otherwise("high").as("bucket"),
            col("c_acctbal"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            sumMoney(col("c_acctbal")).as("total_bal"))
          .orderBy("bucket")
      },
      Some(s"""SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
             |            WHEN c_acctbal < 5000 THEN 'mid'
             |            ELSE 'high' END AS bucket,
             |       COUNT(*) AS n,
             |       ${sumMoneySql("c_acctbal")} AS total_bal
             |FROM customer
             |GROUP BY 1
             |ORDER BY bucket""".stripMargin)),

    // --- Correlated-subquery shape: customers above their nation's mean
    //     balance (decorrelated as an aggregate + broadcast join — the
    //     plan Catalyst produces for the EXISTS/scalar-subquery SQL too).
    QueryDef(
      "q21_above_nation_avg",
      (s, dir) => {
        val c = t(s, dir, "customer")
        // nation_avg has ≤ 25 rows at ANY scale factor (nationkey domain
        // is fixed), so this broadcast hint is scale-safe by construction.
        val natAvg = c.groupBy(col("c_nationkey").as("nk"))
          .agg((exactSum(cents(col("c_acctbal"))).cast("double") / 100
            / count(lit(1))).as("nation_avg"))
        c.join(broadcast(natAvg), c("c_nationkey") === natAvg("nk"))
          .where(col("c_acctbal") > col("nation_avg"))
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
            col("c_acctbal"), col("nation_avg"))
          .orderBy("c_custkey")
      },
      Some(s"""WITH na AS (SELECT c_nationkey AS nk,
             |                   ${sumMoneySql("c_acctbal")}
             |                     / COUNT(*) AS nation_avg
             |            FROM customer GROUP BY c_nationkey)
             |SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
             |       c_acctbal, nation_avg
             |FROM customer JOIN na ON c_nationkey = na.nk
             |WHERE c_acctbal > nation_avg
             |ORDER BY c_custkey""".stripMargin)),

    // --- CUBE grouping sets over two dimensions (all 4 combinations in
    //     one aggregate pass; nulls coalesced so null-ordering semantics
    //     can't differ between engines).
    QueryDef(
      "q24_cube",
      (s, dir) => {
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sumMoney(col("o_totalprice")).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy("status", "priority")
      },
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             |       COALESCE(o_orderpriority, 'ALL') AS priority,
             |       COUNT(*) AS n,
             |       ${sumMoneySql("o_totalprice")} AS total
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // --- HLL sketch (approx_count_distinct): estimator internals are
    //     engine-specific, so the raw estimate can't be oracled — but the
    //     CONTRACT can: the gate emits the exact count plus a boolean
    //     asserting the HLL estimate lands within its 5% error envelope,
    //     and the DuckDB oracle pins that boolean TRUE. A broken
    //     estimator now flips the hash instead of passing as rows-only
    //     (VERDICT r3 "What's wrong" #3). rsd is pinned explicitly at
    //     0.01 (Spark's DEFAULT is 0.05, which would make 5% a 1-sigma
    //     threshold — a coin flip on regenerated testdata); at rsd=0.01
    //     the 5% envelope is a 5-sigma margin.
    QueryDef(
      "q25_approx_distinct",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            (abs(approx_count_distinct(col("l_partkey"), 0.01).cast("double")
                - countDistinct(col("l_partkey")).cast("double"))
              / countDistinct(col("l_partkey")).cast("double") < 0.05)
              .as("within_5pct"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       COUNT(DISTINCT l_partkey) AS exact_parts,
             |       TRUE AS within_5pct
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // --- Range (interval) join: equi key + band predicate. The equi
    //     part (user_id) drives the join strategy, so this plans as a
    //     hash/sort-merge join with the range as a join-time filter —
    //     no nested-loop blowup at scale.
    QueryDef(
      "q23_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val e = ev.select(col("event_id"), col("user_id"),
            Tables.epochSec(ev).as("sec"), col("event_type"))
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id").as("cu"), col("sec").as("cs"))
        val views = e.where(col("event_type") === "view")
          .select(col("event_id").as("vid"), col("user_id").as("vu"),
            col("sec").as("vs"))
        clicks.join(views,
            col("vu") === col("cu") && col("vs") > col("cs") &&
              col("vs") <= col("cs") + 300, "left")
          .groupBy(col("event_id"), col("cu").as("user_id"))
          .agg(count(col("vid")).as("n_views_5min"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
             |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type
             |           FROM events),
             |clicks AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
             |views AS (SELECT event_id AS vid, user_id, sec AS vs FROM e WHERE event_type = 'view')
             |SELECT c.event_id, c.user_id, COUNT(v.vid) AS n_views_5min
             |FROM clicks c LEFT JOIN views v
             |  ON v.user_id = c.user_id AND v.vs > c.sec AND v.vs <= c.sec + 300
             |GROUP BY c.event_id, c.user_id
             |ORDER BY c.event_id""".stripMargin)),

    // --- Sessionization: 30-min inactivity gap via LAG — the canonical
    //     event-stream analytic (integer-second arithmetic keeps the
    //     micro-vs-nano timestamp precision difference out of play).
    QueryDef(
      "q22_sessionize",
      (s, dir) => {
        // Sessionize via per-group sorted arrays rather than a Window:
        // one hash aggregate replaces exchange + full per-partition sort
        // + Window (measured ~25% at 50x sf0.1). n_sessions = 1 + number
        // of sorted gaps > 1800s; equal-sec ties give gap 0 in any
        // order, so values match the window formulation (the oracle's
        // spelling) exactly. Scale note: per-user event counts are
        // bounded and do NOT grow with corpus size (more users, not
        // deeper users — like real per-user activity over a fixed
        // window), so collect_list groups stay small at any SF; a
        // corpus with unbounded power-user groups would use the Window
        // form instead. Integer seconds via Tables.epochSec (adaptive
        // to the testdata generation's physical ts type).
        val ev = t(s, dir, "events")
        ev.select(col("user_id"), Tables.epochSec(ev).as("sec"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            array_sort(collect_list(col("sec"))).as("secs"))
          .select(col("user_id"),
            (lit(1L) + size(filter(
              zip_with(
                slice(col("secs"), lit(1), size(col("secs")) - 1),
                slice(col("secs"), lit(2), size(col("secs")) - 1),
                (a, b) => b - a > 1800),
              x => x)).cast("long")).as("n_sessions"),
            col("n_events"))
          // the range sampler of the presentation sort re-reads the
          // aggregation's shuffle files, not the corpus
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |                  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
             |           FROM events),
             |     flags AS (SELECT user_id,
             |                      CASE WHEN LAG(sec) OVER w IS NULL THEN 1
             |                           WHEN sec - LAG(sec) OVER w > 1800 THEN 1
             |                           ELSE 0 END AS new_session
             |               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
             |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
             |FROM flags GROUP BY user_id
             |ORDER BY user_id""".stripMargin),
      headline = true),

    // --- Market-share within region (TPC-H Q8 flavor on the available
    //     schema): per (region, order-year, customer nation) exact-cents
    //     revenue and its floored-ppm share of the (region, year) total.
    //     Scale shape: lineitem pre-aggregates revenue per l_orderkey
    //     BEFORE the orders×customer join — lineitem→orders is N:1
    //     (~4 rows per order), so the map-side partials absorb the fact
    //     stream and the SHJ probe carries |orders| rows, not
    //     |lineitem| (measured ~4× less probe volume at 200×). The
    //     per-order sum is a plain codegen'd long (per-row rev ≤ ~2^37,
    //     group size is the per-order lineitem count — exact, no wrap);
    //     the cross-order rollup stays 128-bit-exact via exactSum, and
    //     integer addition is associative so the regrouping is
    //     value-identical. The INT nation key is the shuffle/group key
    //     (key ↔ name is 1:1 and region is nation-determined — the q170
    //     rework, measured ~3× there); names attach to the
    //     ≤|nations·years|-row aggregate via a broadcast, and the share
    //     denominators come from a window over that tiny result, never
    //     a second corpus pass. Share products are DECIMAL(38,0)
    //     (cents·10⁶ wraps int64 past ~$9·10¹² of revenue per cell),
    //     floored with DIV = the oracle's HUGEINT //.
    QueryDef(
      "q163_market_share",
      (s, dir) => {
        val oc = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nat")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_year"), col("nat"))
        val nr = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("nat"), col("n_name"),
            col("r_name"))
        val orev = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
          .groupBy(col("l_orderkey"))
          .agg(sum(col("rev")).as("orev"))
        // shuffle_hash on the pre-collapsed per-order side: past ~50×
        // the size-estimate bound otherwise falls back to a SortMergeJoin
        // (two |orders|-row sorts); the build side is |orders|×2 longs —
        // bounded per partition by the shuffle-partition sizing rule
        val agg = orev.hint("shuffle_hash")
          .join(oc, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nat"), col("o_year"))
          .agg(exactSum(col("orev")).as("cents"))
          .join(broadcast(nr), "nat")
        val w = Window.partitionBy(col("r_name"), col("o_year"))
        agg
          .withColumn("tot", sum(col("cents")).over(w))
          .withColumn("share_num",
            col("cents") * lit(1000000L).cast("decimal(20,0)"))
          .select(col("r_name"), col("o_year"), col("n_name"),
            (col("cents").cast("double") / 10000).as("revenue"),
            expr("share_num DIV tot").as("share_ppm"))
          .orderBy("r_name", "o_year", "n_name")
      },
      Some("""WITH a AS (
             |  SELECT r_name, EXTRACT(year FROM o_orderdate) AS o_year,
             |         n_name,
             |         SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |             * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                            AS BIGINT))) AS cents
             |  FROM lineitem, orders, customer, nation, region
             |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  GROUP BY 1, 2, 3
             |)
             |SELECT r_name, CAST(o_year AS BIGINT) AS o_year, n_name,
             |       CAST(cents AS DOUBLE) / 10000 AS revenue,
             |       CAST(CAST(cents AS HUGEINT) * 1000000
             |            // SUM(cents) OVER (PARTITION BY r_name, o_year)
             |            AS BIGINT) AS share_ppm
             |FROM a ORDER BY r_name, o_year, n_name""".stripMargin)),

    // --- Top supplier by quarter revenue (TPC-H Q15 shape): exact-cents
    //     supplier revenue for 1996Q1 shipments, max-revenue suppliers
    //     (ties included) joined back to supplier. Scale shape: the fact
    //     scan's pushed date filter bounds the read; one l_suppkey hash
    //     agg; the 1-row max broadcasts into the |suppliers|-row revenue
    //     table; the surviving winners (≈1 row) broadcast into the
    //     supplier dim join. Never a sort, never a second fact pass.
    QueryDef(
      "q164_top_supplier",
      (s, dir) => {
        import graft.operators.CacheRegistry.TrackedPersist
        val rev = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("l_suppkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
          .groupBy(col("l_suppkey"))
          .agg(exactSum(col("rev")).as("cents"))
          // |suppliers|-row table feeds BOTH the 1-row max and the
          // winners filter: persist it or the fact is scanned twice
          .trackedPersist()
        val mx = rev.agg(max(col("cents")).as("m"))
        val winners = rev.crossJoin(broadcast(mx))
          .where(col("cents") === col("m"))
        t(s, dir, "supplier")
          .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            (col("cents").cast("double") / 10000).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH r AS (
             |  SELECT l_suppkey,
             |         SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |             * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                            AS BIGINT))) AS cents
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY 1
             |),
             |m AS (SELECT MAX(cents) AS m FROM r)
             |SELECT s_suppkey, s_name, CAST(cents AS DOUBLE)/10000
             |         AS total_revenue
             |FROM supplier JOIN r ON s_suppkey = l_suppkey CROSS JOIN m
             |WHERE cents = m ORDER BY s_suppkey""".stripMargin)),

    // --- Customer order-count distribution (TPC-H Q13 shape): how many
    //     customers placed 0, 1, 2, … orders — zero-order customers
    //     included via the left join. Scale shape: orders pre-aggregates
    //     to |custkeys| rows BEFORE the join (map-side partials absorb
    //     the fact stream), the left join is co-keyed on custkey, and
    //     the histogram + 1-row total are |distinct counts|-sized.
    QueryDef(
      "q169_order_count_histogram",
      (s, dir) => {
        val oc = t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        val per = t(s, dir, "customer").select(col("c_custkey"))
          .join(oc, col("c_custkey") === col("o_custkey"), "left")
          .select(coalesce(col("n"), lit(0L)).as("c_count"))
        import graft.operators.CacheRegistry.TrackedPersist
        val hist = per.groupBy(col("c_count"))
          .agg(count(lit(1)).as("n_custs"))
          // |distinct counts|-sized, shared by the report and its own
          // total — without the persist the orders+customer chain runs
          // twice (the q164/q193 shared-subtree rule)
          .trackedPersist()
        hist
          .crossJoin(broadcast(hist.agg(sum(col("n_custs")).as("n_total"))))
          .select(col("c_count"), col("n_custs"),
            expr("n_custs * 1000000 DIV n_total").as("share_ppm"))
          .orderBy(desc("n_custs"), desc("c_count"))
      },
      Some("""WITH oc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
             |            FROM orders GROUP BY 1),
             |per AS (SELECT CAST(COALESCE(oc.n, 0) AS BIGINT) AS c_count
             |        FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
             |hist AS (SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_custs
             |         FROM per GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_custs) AS BIGINT) AS n_total
             |        FROM hist)
             |SELECT c_count, n_custs,
             |       n_custs * 1000000 // n_total AS share_ppm
             |FROM hist CROSS JOIN tot
             |ORDER BY n_custs DESC, c_count DESC""".stripMargin)),

    // --- Cross-nation trade flow (TPC-H Q7 shape, generalized to ALL
    //     nation pairs): exact-cents revenue shipped from a supplier
    //     nation to a DIFFERENT customer nation per ship-year. Scale
    //     shape: the fact sides carry the INT nation keys through the
    //     one SHJ chain (shuffling a 25-byte name with every fact row
    //     measured ~40% more exchange bytes for nothing — nation key ↔
    //     name is 1:1, so grouping/filtering on keys is value-identical
    //     and the names attach AFTER the ≤|nations|²·|years|-row
    //     aggregate via two broadcast joins); supplier and nation ride
    //     broadcasts throughout.
    QueryDef(
      "q170_nation_flow",
      (s, dir) => {
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val oc = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("cnat")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cnat"))
        val supp = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey").as("snat"))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(oc, col("l_orderkey") === col("o_orderkey"))
          .where(col("snat") =!= col("cnat"))
          .groupBy(col("snat"), col("cnat"), col("l_year"))
          .agg((exactSum(col("rev")).cast("double") / 10000).as("revenue"),
            count(lit(1)).as("n_lines"))
          .join(broadcast(nat.select(col("n_nationkey").as("snat"),
            col("n_name").as("supp_nation"))), "snat")
          .join(broadcast(nat.select(col("n_nationkey").as("cnat"),
            col("n_name").as("cust_nation"))), "cnat")
          .select(col("supp_nation"), col("cust_nation"), col("l_year"),
            col("revenue"), col("n_lines"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |       EXTRACT(year FROM l_shipdate) AS l_year,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |            * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                           AS BIGINT))) AS DOUBLE) / 10000
             |         AS revenue,
             |       CAST(COUNT(*) AS BIGINT) AS n_lines
             |FROM lineitem, orders, customer, supplier,
             |     nation sn, nation cn
             |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             |  AND l_suppkey = s_suppkey
             |  AND s_nationkey = sn.n_nationkey
             |  AND c_nationkey = cn.n_nationkey
             |  AND sn.n_name <> cn.n_name
             |GROUP BY 1, 2, 3
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // --- Small-quantity revenue (TPC-H Q17 flavor): yearly revenue from
    //     Brand#4 lineitems whose quantity is below 20% of their part's
    //     average quantity. Scale shape: the brand filter broadcasts a
    //     |parts|/|brands| key set into the fact scan FIRST, so only
    //     matching lineitems flow; the per-part quantity stats are one
    //     l_partkey hash agg over that reduced stream (same rows Q17's
    //     correlated AVG sees — the brand predicate is a part attribute,
    //     so filtering before the stats is value-identical); the
    //     stats-to-fact attach rides the broadcast threshold (|brand
    //     parts| rows). The 20% test is exact integer cross-multiply:
    //     q < total/(5·cnt) ⇔ q·5·cnt < total on longs (quantities are
    //     integral; floor(q+0.5) — NOT a cast, whose rounding mode
    //     differs between engines on .5 — products ≤ 50·5·group-rows,
    //     wrap needs ~3.7e16 rows per part).
    QueryDef(
      "q173_small_qty_revenue",
      (s, dir) => {
        import graft.operators.CacheRegistry.TrackedPersist
        val pf = t(s, dir, "part")
          .where(col("p_brand") === "Brand#4")
          .select(col("p_partkey"))
        // consumed twice (stats + the filtered re-join): persist the
        // ~|lineitem|/|brands| brand slice instead of scanning the fact
        // twice
        val li = t(s, dir, "lineitem")
          .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"),
            floor(col("l_quantity") + 0.5).as("q"),
            cents(col("l_extendedprice")).as("revc"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .trackedPersist()
        val stats = li.groupBy(col("l_partkey"))
          .agg(sum(col("q")).as("total_q"), count(lit(1)).as("cnt"))
        li.join(stats, "l_partkey")
          .where(col("q") * 5 * col("cnt") < col("total_q"))
          .groupBy(col("l_year"))
          .agg((exactSum(col("revc")).cast("double") / 100).as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("l_year")
      },
      Some("""WITH li AS (
             |  SELECT l_partkey,
             |         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q,
             |         CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |           AS revc,
             |         EXTRACT(year FROM l_shipdate) AS l_year
             |  FROM lineitem, part
             |  WHERE l_partkey = p_partkey AND p_brand = 'Brand#4'
             |), stats AS (
             |  SELECT l_partkey, SUM(q) AS total_q,
             |         CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM li GROUP BY 1
             |)
             |SELECT CAST(l_year AS BIGINT) AS l_year,
             |       CAST(SUM(CAST(revc AS HUGEINT)) AS DOUBLE) / 100
             |         AS revenue,
             |       CAST(COUNT(*) AS BIGINT) AS n_lines
             |FROM li JOIN stats USING (l_partkey)
             |WHERE q * 5 * cnt < total_q
             |GROUP BY 1 ORDER BY l_year""".stripMargin)),

    // --- Ship-latency by order priority (TPC-H Q12 flavor on the
    //     available columns): per (o_orderpriority, 30-day latency
    //     bucket), line and distinct-order counts. Scale shape: one
    //     orderkey-partitioned SHJ of the two projected fact streams is
    //     the only corpus-sized exchange pair; the distinct-order count
    //     reuses that partitioning (orderkey ⊆ the first grouping key
    //     set, so the per-(priority, bucket, order) collapse adds NO
    //     exchange), and the final rollup is ≤|priorities·buckets| rows.
    //     Latency is integer epoch-day arithmetic — ship and order days
    //     both via the shared floor-division spelling, identical in both
    //     engines on post-epoch data.
    QueryDef(
      "q174_priority_latency",
      (s, dir) => {
        val lif = t(s, dir, "lineitem")
        val ordf = t(s, dir, "orders")
        // NOTE a (okey, sday) pre-collapse behind an explicit
        // okey-repartition was tried and REVERTED: the bare repartition
        // exchanges the full line stream with no map-side combine and
        // feeds 32 concurrent multi-million-entry hash maps — OOM at
        // the 200× replica (PERF_NOTES r13). The join-then-aggregate
        // form below reuses the join's orderkey partitioning for the
        // per-(priority, bucket, order) collapse (subset rule), so the
        // distinct-order count adds no exchange.
        val li = lif.select(col("l_orderkey"),
          Tables.epochSec(lif, "l_shipdate").as("ssec"))
          .select(col("l_orderkey"), expr("ssec DIV 86400").as("sday"))
        val ord = ordf.select(col("o_orderkey"), col("o_orderpriority"),
          Tables.epochSec(ordf, "o_orderdate").as("osec"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("osec DIV 86400").as("oday"))
        li.join(ord.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"), col("l_orderkey"),
            expr("(sday - oday) DIV 30").as("bucket"))
          .groupBy(col("o_orderpriority"), col("bucket"), col("l_orderkey"))
          .agg(count(lit(1)).as("ln"))
          .groupBy(col("o_orderpriority"), col("bucket"))
          .agg(sum(col("ln")).as("n_lines"), count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority", "bucket")
      },
      Some("""WITH j AS (
             |  SELECT o_orderpriority, l_orderkey,
             |         (CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) // 86400
             |          - CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) // 86400)
             |           // 30 AS bucket
             |  FROM lineitem, orders WHERE l_orderkey = o_orderkey
             |)
             |SELECT o_orderpriority, bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_lines,
             |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             |FROM j GROUP BY 1, 2
             |ORDER BY o_orderpriority, bucket""".stripMargin)),

    // --- Promo revenue share by month (TPC-H Q14 flavor): per order
    //     month, the floored-ppm share of discounted revenue earned by
    //     PROMO-type parts. Scale shape: ONE fact scan; the part→type
    //     flag attaches via an explicit broadcast of a 2-column
    //     projection (the dim-broadcast rule); both the promo and total
    //     sums are conditional branches of the SAME (year, month) hash
    //     agg — never two passes. Exact: per-row cents·(100−pct) longs,
    //     128-bit exactSum rollups, share as DECIMAL·10⁶ DIV — the
    //     oracle's HUGEINT // to the digit.
    QueryDef(
      "q175_promo_share",
      (s, dir) => {
        val pm = t(s, dir, "part")
          .select(col("p_partkey"),
            (col("p_type") === "PROMO").as("is_promo"))
        t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            month(col("l_shipdate")).cast("long").as("l_month"))
          .join(broadcast(pm), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_year"), col("l_month"))
          .agg(exactSum(when(col("is_promo"), col("rev")).otherwise(0L))
              .as("promo_c"),
            exactSum(col("rev")).as("total_c"))
          .select(col("l_year"), col("l_month"),
            expr("(promo_c * 1000000) DIV total_c").as("promo_ppm"),
            (col("total_c").cast("double") / 10000).as("revenue"))
          .orderBy("l_year", "l_month")
      },
      Some("""SELECT EXTRACT(year FROM l_shipdate) AS l_year,
             |       EXTRACT(month FROM l_shipdate) AS l_month,
             |       CAST(SUM(CASE WHEN p_type = 'PROMO'
             |                THEN CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                          AS HUGEINT)
             |                     * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                                   AS BIGINT))
             |                ELSE 0 END) * 1000000
             |            // SUM(CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                       AS HUGEINT)
             |                 * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                               AS BIGINT))) AS BIGINT)
             |         AS promo_ppm,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                     AS HUGEINT)
             |                * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                              AS BIGINT))) AS DOUBLE) / 10000
             |         AS revenue
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |GROUP BY 1, 2
             |ORDER BY l_year, l_month""".stripMargin)),

    // --- Top returned-revenue customers (TPC-H Q10 flavor): the 20
    //     customers losing the most revenue to returns, with name and
    //     nation. Scale shape: the R-flag filter pushes into the fact
    //     scan; revenue pre-aggregates per l_orderkey BEFORE the orders
    //     join (the q163 N:1 collapse); the per-customer rollup groups
    //     on the INT custkey (q170 rule); the global top-20 is a
    //     TakeOrderedAndProject (per-partition heaps, never a full
    //     sort); and only THEN do the 20 survivors broadcast into the
    //     customer and nation dims — the corpus-scaled customer table is
    //     probed by a 20-row build side, never shuffled. Ties break on
    //     custkey, so the limit is deterministic.
    QueryDef(
      "q176_returned_customers",
      (s, dir) => {
        // NO per-orderkey pre-agg here, deliberately: the R-filter keeps
        // ~1 line per order (1/4 of ~4 lines), so the q163 N:1 collapse
        // would pay a full exchange + |orders|-group hash agg to shrink
        // nothing — measured 7.7–8.4 s with the pre-agg vs 6.1–6.9 s
        // without at the 200× replica (same co-tenant band). The
        // collapse rule is conditional on the POST-FILTER fan-in, not
        // the raw table shape.
        val orev = t(s, dir, "lineitem")
          .where(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
        val top = orev.hint("shuffle_hash")
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(exactSum(col("rev")).as("lost_c"))
          .orderBy(col("lost_c").desc, col("o_custkey"))
          .limit(20)
        t(s, dir, "customer")
          .join(broadcast(top), col("c_custkey") === col("o_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            (col("lost_c").cast("double") / 10000).as("lost_revenue"))
          .orderBy(col("lost_revenue").desc, col("c_custkey"))
      },
      Some("""WITH orev AS (
             |  SELECT l_orderkey,
             |         SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
             |             * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                           AS BIGINT))) AS orev
             |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
             |), top AS (
             |  SELECT o_custkey, SUM(CAST(orev AS HUGEINT)) AS lost_c
             |  FROM orev, orders WHERE l_orderkey = o_orderkey
             |  GROUP BY 1 ORDER BY lost_c DESC, o_custkey LIMIT 20
             |)
             |SELECT c_custkey, c_name, n_name,
             |       CAST(lost_c AS DOUBLE) / 10000 AS lost_revenue
             |FROM top, customer, nation
             |WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey
             |ORDER BY lost_revenue DESC, c_custkey""".stripMargin)),

    // --- Slow-line order census (TPC-H Q4 flavor on the available
    //     columns): per (order year, priority), how many orders have AT
    //     LEAST ONE lineitem shipped more than 60 days after the order
    //     date. Scale shape: a LEFT SEMI join on the orderkey — the
    //     EXISTS collapses multi-line matches before anything counts,
    //     so the aggregate sees ≤|orders| rows; one orderkey exchange
    //     pair is the only corpus-sized op, and the (year, priority)
    //     rollup is tiny. Day arithmetic is integer epoch-days.
    QueryDef(
      "q180_slow_order_census",
      (s, dir) => {
        val lif = t(s, dir, "lineitem")
        val ordf = t(s, dir, "orders")
        val li = lif.select(col("l_orderkey"),
          Tables.epochSec(lif, "l_shipdate").as("ssec"))
          .select(col("l_orderkey"), expr("ssec DIV 86400").as("sday"))
        val ord = ordf.select(col("o_orderkey"), col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          Tables.epochSec(ordf, "o_orderdate").as("osec"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_year"), expr("osec DIV 86400").as("oday"))
        // hint the ORDERS side: SHJ builds must hold a whole partition
        // in memory (no spill), so the |orders|-row probe-target builds
        // and the 4× bigger line stream probes (LeftSemi BuildLeft)
        ord.hint("shuffle_hash").join(li,
            col("o_orderkey") === col("l_orderkey") &&
              col("sday") > col("oday") + 60, "left_semi")
          .groupBy(col("o_year"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_slow_orders"))
          .orderBy("o_year", "o_orderpriority")
      },
      Some("""SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             |       o_orderpriority,
             |       CAST(COUNT(*) AS BIGINT) AS n_slow_orders
             |FROM orders
             |WHERE EXISTS (
             |  SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey
             |    AND CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) // 86400
             |      > CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) // 86400
             |        + 60)
             |GROUP BY 1, 2
             |ORDER BY o_year, o_orderpriority""".stripMargin)),

    // --- Disjunctive predicate revenue (TPC-H Q19 flavor): revenue per
    //     brand under OR'd (brand, size-range, quantity-range) triples.
    //     Scale shape: ONE fact scan with the quantity bounds pushed as
    //     a covering range predicate (min of all branch lows, max of
    //     all highs — Catalyst can't push the disjunction itself, the
    //     covering box is the standard trick); the 3-column part side
    //     broadcasts; the branch disjunction evaluates inside
    //     whole-stage codegen post-join; the rollup is ≤|brands| rows.
    //     Quantities compare as exact floor(q+0.5) longs.
    QueryDef(
      "q181_disjunctive_revenue",
      (s, dir) => {
        val pm = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val li = t(s, dir, "lineitem")
          .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
          .select(col("l_partkey"),
            floor(col("l_quantity") + 0.5).as("q"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev"))
        li.join(broadcast(pm), col("l_partkey") === col("p_partkey"))
          .where(
            (col("p_brand") === "Brand#4" && col("q").between(1, 11) &&
              col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#8" && col("q").between(10, 20) &&
              col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#17" && col("q").between(20, 30) &&
              col("p_size").between(1, 15)))
          .groupBy(col("p_brand"))
          .agg((exactSum(col("rev")).cast("double") / 10000).as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                     AS HUGEINT)
             |                * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                              AS BIGINT))) AS DOUBLE) / 10000
             |         AS revenue,
             |       CAST(COUNT(*) AS BIGINT) AS n_lines
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |  AND l_quantity >= 1 AND l_quantity <= 30
             |  AND ((p_brand = 'Brand#4'
             |        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
             |            BETWEEN 1 AND 11
             |        AND p_size BETWEEN 1 AND 5)
             |    OR (p_brand = 'Brand#8'
             |        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
             |            BETWEEN 10 AND 20
             |        AND p_size BETWEEN 1 AND 10)
             |    OR (p_brand = 'Brand#17'
             |        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
             |            BETWEEN 20 AND 30
             |        AND p_size BETWEEN 1 AND 15))
             |GROUP BY 1 ORDER BY p_brand""".stripMargin)),

    // --- Profit census (TPC-H Q9 flavor on the available columns —
    //     no partsupp table, so unit cost is p_retailprice): profit per
    //     (supplier nation, order year). Scale shape: the three true
    //     dimensions (part projected to 2 columns, supplier, nation)
    //     broadcast under the fact scan, so the only corpus-sized op is
    //     ONE orderkey exchange pair for the lineitem⋈orders join; the
    //     (nation, year) rollup is ≤25·|years| rows. Profit is exact at
    //     scale 10⁴ (rev cents·pct minus cost cents·qty·100), one float
    //     division at the end.
    QueryDef(
      "q185_profit_census",
      (s, dir) => {
        val pm = t(s, dir, "part")
          .select(col("p_partkey"), cents(col("p_retailprice")).as("pcost"))
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev4"),
            floor(col("l_quantity") + 0.5).as("q"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        li.join(broadcast(pm), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("l_orderkey"), col("n_name").as("nation"),
            (col("rev4") - col("pcost") * col("q") * 100).as("amount4"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), col("o_year"))
          .agg((exactSum(col("amount4")).cast("double") / 10000)
            .as("profit"))
          .orderBy("nation", "o_year")
      },
      Some("""SELECT n_name AS nation,
             |       EXTRACT(year FROM o_orderdate) AS o_year,
             |       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                     AS HUGEINT)
             |                  * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                                AS BIGINT))
             |                - CAST(FLOOR(p_retailprice*100 + 0.5)
             |                       AS HUGEINT)
             |                  * CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
             |                  * 100) AS DOUBLE) / 10000 AS profit
             |FROM lineitem, part, supplier, nation, orders
             |WHERE l_partkey = p_partkey
             |  AND l_suppkey = s_suppkey
             |  AND s_nationkey = n_nationkey
             |  AND l_orderkey = o_orderkey
             |GROUP BY 1, 2
             |ORDER BY nation, o_year""".stripMargin)),

    // --- Returned-item customer ranking (TPC-H Q10 flavor): top 20
    //     customers by revenue from R-flag lines. Scale shape: the
    //     R filter pushes into the fact scan; ONE orderkey exchange
    //     pair joins the filtered lines to the 2-column orders
    //     projection; revenue collapses per custkey BEFORE the
    //     customer/nation dims broadcast onto the ≤|customers|-row
    //     aggregate; the top-20 is a TakeOrderedAndProject (per-
    //     partition heaps, never a full sort). Total order (revenue
    //     DESC, c_custkey) makes the cut deterministic; revenue doubles
    //     are bit-identical in both engines (exact integer sum, one
    //     division).
    QueryDef(
      "q186_returned_customer_ranking",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .where(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev4"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_nationkey"))
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg((exactSum(col("rev4")).cast("double") / 10000).as("revenue"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            col("c_acctbal"), col("n_name"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, revenue, c_acctbal, n_name
             |FROM (
             |  SELECT o_custkey,
             |         CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5)
             |                       AS HUGEINT)
             |                  * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                                AS BIGINT))) AS DOUBLE)
             |           / 10000 AS revenue
             |  FROM lineitem, orders
             |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
             |  GROUP BY 1) rev, customer, nation
             |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
             |ORDER BY revenue DESC, c_custkey
             |LIMIT 20""".stripMargin)),

    // --- Ship-latency / priority matrix (TPC-H Q12 flavor — no
    //     l_shipmode column, so the line dimension is the ship-latency
    //     band): per band, how many lines belong to high-priority
    //     (URGENT/HIGH) vs lower-priority orders. Scale shape: both
    //     sides project to 2 columns before ONE orderkey exchange pair;
    //     the band CASE and the priority split are codegen'd conditional
    //     counts; the result is 3 rows. Day arithmetic is integer
    //     epoch-days (identical `//86400` truncation in both engines).
    QueryDef(
      "q187_latency_priority_matrix",
      (s, dir) => {
        val lif = t(s, dir, "lineitem")
        val ordf = t(s, dir, "orders")
        val li = lif.select(col("l_orderkey"),
          Tables.epochSec(lif, "l_shipdate").as("ssec"))
          .select(col("l_orderkey"), expr("ssec DIV 86400").as("sday"))
        val ord = ordf.select(col("o_orderkey"), col("o_orderpriority"),
          Tables.epochSec(ordf, "o_orderdate").as("osec"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("osec DIV 86400").as("oday"))
        val lat = col("sday") - col("oday")
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select(
            when(lat <= 30, "0-30").when(lat <= 60, "31-60")
              .otherwise("61+").as("latency_band"),
            hi.as("hi"))
          .groupBy(col("latency_band"))
          .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n_high"),
            sum(when(col("hi"), 0L).otherwise(1L)).as("n_low"))
          .orderBy("latency_band")
      },
      Some("""SELECT CASE WHEN lat <= 30 THEN '0-30'
             |            WHEN lat <= 60 THEN '31-60'
             |            ELSE '61+' END AS latency_band,
             |       CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_high,
             |       CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT)
             |         AS n_low
             |FROM (
             |  SELECT CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT) // 86400
             |           - CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)
             |             // 86400 AS lat,
             |         o_orderpriority IN ('1-URGENT', '2-HIGH') AS hi
             |  FROM lineitem, orders
             |  WHERE l_orderkey = o_orderkey)
             |GROUP BY 1
             |ORDER BY latency_band""".stripMargin)),

    // --- Brand/size supplier census (TPC-H Q16 flavor): per (brand,
    //     size decade), how many DISTINCT suppliers shipped such parts —
    //     excluding complaint-list suppliers (here: negative account
    //     balance), the NOT IN leg. Scale shape: the exclusion set and
    //     the 3-column part projection both broadcast (anti-join +
    //     equi-join map-side under the fact scan); the distinct agg
    //     exchanges (brand, bucket)-keyed with map-side (key, suppkey)
    //     dedup — Spark's two-phase distinct plan, the exchange carries
    //     at most |brands·buckets·suppliers| rows, NOT the corpus.
    QueryDef(
      "q188_brand_supplier_census",
      (s, dir) => {
        val excl = t(s, dir, "supplier")
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        val pm = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"),
            expr("p_size DIV 10").as("size_decade"))
        t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(pm), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("size_decade"))
          .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
          .orderBy("p_brand", "size_decade")
      },
      Some("""SELECT p_brand,
             |       CAST(p_size // 10 AS BIGINT) AS size_decade,
             |       COUNT(DISTINCT l_suppkey) AS n_suppliers
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |  AND l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2
             |ORDER BY p_brand, size_decade""".stripMargin)),

    // --- Waiting-supplier ranking (TPC-H Q21 flavor): suppliers who
    //     were the SOLE late shipper (>60 days after order date) on a
    //     finalized multi-supplier order. Scale shape: the classic
    //     EXISTS + NOT-EXISTS pair over a lineitem self-join collapses
    //     into ONE per-order aggregate — count distinct suppliers,
    //     count distinct LATE suppliers, and (when exactly one) its
    //     identity via MAX — so the corpus-sized cost is one orderkey
    //     exchange pair for the join plus the per-order distinct agg;
    //     no self-join, no correlated re-scan. Supplier names broadcast
    //     onto the ≤|suppliers|-row result; top-10 by (numwait DESC,
    //     s_name) is total and deterministic.
    QueryDef(
      "q189_waiting_supplier_ranking",
      (s, dir) => {
        val lif = t(s, dir, "lineitem")
        val ordf = t(s, dir, "orders")
        val li = lif.select(col("l_orderkey"), col("l_suppkey"),
          Tables.epochSec(lif, "l_shipdate").as("ssec"))
          .select(col("l_orderkey"), col("l_suppkey"),
            expr("ssec DIV 86400").as("sday"))
        val ord = ordf.where(col("o_orderstatus") === "F")
          .select(col("o_orderkey"),
            Tables.epochSec(ordf, "o_orderdate").as("osec"))
          .select(col("o_orderkey"), expr("osec DIV 86400").as("oday"))
        val late = col("sday") > col("oday") + 60
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(late, col("l_suppkey"))).as("n_late"),
            max(when(late, col("l_suppkey"))).as("late_supp"))
          .where(col("n_supp") >= 2 && col("n_late") === 1)
          .groupBy(col("late_supp"))
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(sup), col("late_supp") === col("s_suppkey"))
          .select(col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(10)
      },
      Some("""SELECT s_name, numwait
             |FROM (
             |  SELECT late_supp, COUNT(*) AS numwait
             |  FROM (
             |    SELECT l_orderkey,
             |           COUNT(DISTINCT l_suppkey) AS n_supp,
             |           COUNT(DISTINCT CASE WHEN late THEN l_suppkey
             |                          END) AS n_late,
             |           MAX(CASE WHEN late THEN l_suppkey END)
             |             AS late_supp
             |    FROM (
             |      SELECT l_orderkey, l_suppkey,
             |             CAST(FLOOR(EPOCH(l_shipdate)) AS BIGINT)
             |               // 86400
             |               > CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)
             |                 // 86400 + 60 AS late
             |      FROM lineitem, orders
             |      WHERE l_orderkey = o_orderkey
             |        AND o_orderstatus = 'F')
             |    GROUP BY 1)
             |  WHERE n_supp >= 2 AND n_late = 1
             |  GROUP BY 1) w, supplier
             |WHERE late_supp = s_suppkey
             |ORDER BY numwait DESC, s_name
             |LIMIT 10""".stripMargin)),

    // --- Idle rich customers (TPC-H Q22 flavor): customers whose
    //     balance exceeds the positive-balance average and who have
    //     never placed an URGENT order, rolled up by market segment.
    //     Scale shape: the threshold is a 1-row broadcast (exact
    //     integer sum, one float division — bit-identical in both
    //     engines, so the `>` cut is deterministic); the anti-join
    //     collapses the priority-filtered orders to DISTINCT custkeys
    //     first (map-side combine on a 1-column projection — the only
    //     corpus-sized exchange), then anti-joins the filtered customer
    //     side; the segment rollup is 5 rows.
    QueryDef(
      "q190_idle_rich_customers",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val thr = cust.where(col("c_acctbal") > 0)
          .agg(avgMoney(col("c_acctbal")).as("avg_bal"))
        val okeys = t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).distinct()
        cust.crossJoin(broadcast(thr))
          .where(col("c_acctbal") > col("avg_bal"))
          .join(okeys, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sumMoney(col("c_acctbal")).as("total_acctbal"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment,
             |       CAST(COUNT(*) AS BIGINT) AS n_customers,
             |       ${Q.sumMoneySql("c_acctbal")} AS total_acctbal
             |FROM customer
             |WHERE c_acctbal > (
             |    SELECT CAST(SUM(CAST(FLOOR(c_acctbal*100 + 0.5)
             |                         AS BIGINT)) AS DOUBLE)
             |             / 100 / COUNT(*)
             |    FROM customer WHERE c_acctbal > 0)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM orders
             |    WHERE o_custkey = c_custkey
             |      AND o_orderpriority = '1-URGENT')
             |GROUP BY 1
             |ORDER BY c_mktsegment""".stripMargin)),

    // --- Minimum-cost supplier (TPC-H Q2 flavor on the available
    //     schema — no partsupp, so the supplier-part offer is the
    //     MINIMUM observed line price in exact cents): for every part
    //     in the (size ≤ 10, MEDIUM) slice, the supplier(s) matching
    //     the part's minimum cost, with names attached. The correlated
    //     MIN subquery decorrelates into aggregate + join-back — the
    //     classic Q2 plan. Scale shape: the part slice broadcasts and
    //     semi-filters the fact scan BEFORE the one (partkey, suppkey)
    //     exchange; both the per-pair MIN table and the per-part MIN
    //     are collapsed aggregates (|slice|·|suppliers-per-part| rows),
    //     so the join-back and every name join run on bounded frames
    //     (per-part MIN broadcast; names broadcast). Cost is an exact
    //     integer MIN — no float compare — and ties keep ALL matching
    //     suppliers (deterministic set), ordered by (p_partkey,
    //     s_suppkey).
    QueryDef(
      "q193_min_cost_supplier",
      (s, dir) => {
        val slice = t(s, dir, "part")
          .where(col("p_size") <= 10 && col("p_type") === "MEDIUM")
          .select(col("p_partkey"), col("p_name"))
        import graft.operators.CacheRegistry.TrackedPersist
        val ps = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            cents(col("l_extendedprice")).as("price"))
          .join(broadcast(slice.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("price")).as("cost"))
          // collapsed (slice-part, supplier) table, shared by the
          // per-part MIN and the join-back — the q164 rule: without the
          // persist the fact scan+agg runs twice
          .trackedPersist()
        val pmin = ps.groupBy(col("l_partkey")).agg(min(col("cost")).as("mcost"))
          .withColumnRenamed("l_partkey", "mpk")
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        ps.join(broadcast(pmin),
            col("l_partkey") === col("mpk") && col("cost") === col("mcost"))
          .join(broadcast(slice), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
            col("s_name"), col("n_name"),
            (col("cost").cast("double") / 100).as("min_cost"))
          .orderBy("p_partkey", "s_suppkey")
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |         MIN(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT))
             |           AS cost
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_size <= 10 AND p_type = 'MEDIUM'
             |  GROUP BY 1, 2),
             |pm AS (SELECT l_partkey AS mpk, MIN(cost) AS mcost
             |       FROM ps GROUP BY 1)
             |SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
             |       CAST(cost AS DOUBLE) / 100 AS min_cost
             |FROM ps
             |JOIN pm ON ps.l_partkey = pm.mpk AND ps.cost = pm.mcost
             |JOIN part ON ps.l_partkey = p_partkey
             |JOIN supplier ON ps.l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |ORDER BY p_partkey, s_suppkey""".stripMargin)),

    // --- Important parts by value share (TPC-H Q11 flavor): parts
    //     whose discounted revenue exceeds 700 ppm of the corpus total.
    //     Scale shape: ONE fact scan feeds the per-partkey exact-cents
    //     aggregate; the global denominator is a 1-row aggregate OF
    //     THAT FRAME cross-broadcast back (never a second corpus pass);
    //     the HAVING compares 128-bit integers cross-multiplied
    //     (v·10⁴ > t·7 ⟺ v/t > 700 ppm — no float, no division) so the
    //     cut is bit-deterministic at any parallelism. Output value is
    //     the single terminal division; presentation order (value DESC,
    //     partkey) is total.
    QueryDef(
      "q194_important_parts",
      (s, dir) => {
        import graft.operators.CacheRegistry.TrackedPersist
        val pv = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (cents(col("l_extendedprice"))
              * (lit(100) - pct(col("l_discount")))).as("rev4"))
          .groupBy(col("l_partkey"))
          .agg(exactSum(col("rev4")).as("v4"))
          // |parts|-sized, shared by the totals agg and the share cut —
          // without the persist the fact scan+agg runs twice
          .trackedPersist()
        val tot = pv.agg(sum(col("v4")).as("t4"))
        pv.crossJoin(broadcast(tot))
          .where(col("v4") * 10000 > col("t4") * 7)
          .select(col("l_partkey").as("p_partkey"),
            (col("v4").cast("double") / 10000).as("value"))
          .orderBy(col("value").desc, col("p_partkey"))
      },
      Some("""WITH pv AS (
             |  SELECT l_partkey,
             |         SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS HUGEINT)
             |             * (100 - CAST(FLOOR(l_discount*100 + 0.5)
             |                           AS BIGINT))) AS v4
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT SUM(v4) AS t4 FROM pv)
             |SELECT l_partkey AS p_partkey, CAST(v4 AS DOUBLE) / 10000 AS value
             |FROM pv, t
             |WHERE v4 * 10000 > t4 * 7
             |ORDER BY value DESC, p_partkey""".stripMargin)),

    // --- Excess shippers (TPC-H Q20 flavor): suppliers who shipped
    //     MORE than the uniform per-supplier share of some 'red%'
    //     part's total quantity — the over-concentration screen that
    //     Q20 runs on stock levels, here on shipped volume. Scale
    //     shape: the name-sliced part keys broadcast and semi-filter
    //     the fact scan before the one (partkey, suppkey) exchange;
    //     per-part totals and supplier counts aggregate the ALREADY
    //     COLLAPSED pair table; the excess test is an exact integer
    //     cross-multiplication (qty·n_supp > total ⟺ qty > total/n_supp
    //     without division); the per-supplier rollup and name joins run
    //     on ≤|suppliers| rows. qty sums are 128-bit (HUGEINT / split-
    //     word DECIMAL) so no wrap at any corpus size.
    QueryDef(
      "q195_excess_shippers",
      (s, dir) => {
        val red = t(s, dir, "part")
          .where(col("p_name").startsWith("red"))
          .select(col("p_partkey"))
        import graft.operators.CacheRegistry.TrackedPersist
        val ps = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            floor(col("l_quantity") + 0.5).as("q"))
          .join(broadcast(red), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(exactSum(col("q")).as("qty"))
          // collapsed pair table, shared by the per-part totals and the
          // excess cut — the q164 rule again
          .trackedPersist()
        val pt = ps.groupBy(col("l_partkey"))
          .agg(sum(col("qty")).as("tot"), count(lit(1)).as("nsup"))
          .withColumnRenamed("l_partkey", "pk")
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        ps.join(pt, col("l_partkey") === col("pk"))
          .where(col("qty") * col("nsup") > col("tot"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_excess_parts"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"),
            col("n_excess_parts"))
          .orderBy("s_suppkey")
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |         SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS qty
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_name LIKE 'red%'
             |  GROUP BY 1, 2),
             |pt AS (SELECT l_partkey AS pk, SUM(qty) AS tot,
             |              COUNT(*) AS nsup
             |       FROM ps GROUP BY 1),
             |ex AS (SELECT l_suppkey,
             |              CAST(COUNT(*) AS BIGINT) AS n_excess_parts
             |       FROM ps JOIN pt ON l_partkey = pk
             |       WHERE qty * nsup > tot
             |       GROUP BY 1)
             |SELECT s_suppkey, s_name, n_name, n_excess_parts
             |FROM ex
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |ORDER BY s_suppkey""".stripMargin))
  )
}
