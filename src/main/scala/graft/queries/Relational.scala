package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.B relational inventory — the SQL surface the reference exposes via
  * its SQLite REPL (/root/reference/src/main.rs:214-294), re-expressed as
  * declarative DataFrame plans so Catalyst handles pushdown, pruning,
  * join strategy and AQE.
  *
  * Every query carries a deterministic total ORDER BY and uses
  * decimal-exact float aggregation (see [[graft.queries.dsum]]) so the
  * DuckDB oracle hash-matches bit-for-bit.
  */
object Relational {

  val all: Seq[Q] = Seq(

    // -- scans & filters ---------------------------------------------------
    Q("q01_scan_project",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
        // keys, so the sort must cover every output column to be total —
        // otherwise a multi-split layout (sf1) orders ties differently
        // than the single-threaded oracle.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM lineitem WHERE l_quantity > 45
              ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")),

    Q("q02_filter_pred",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
                col("l_discount").between(0.05, 0.07) &&
                col("l_quantity") < 24 &&
                col("l_returnflag").isin("A", "R"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_rev"))
        // Total sort over all output columns — see q01's note on the
        // duplicate (l_orderkey, l_linenumber) keys.
        .orderBy("l_orderkey", "l_linenumber", "disc_rev"),
      Some("""SELECT l_orderkey, l_linenumber,
                     round(l_extendedprice * l_discount, 4) AS disc_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                AND l_shipdate <  TIMESTAMP '1999-01-01'
                AND l_discount BETWEEN 0.05 AND 0.07
                AND l_quantity < 24 AND l_returnflag IN ('A','R')
              ORDER BY l_orderkey, l_linenumber, disc_rev""")),

    // -- aggregation -------------------------------------------------------
    Q("q03_agg_groupby",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
                      ${sqlSum("l_quantity")} AS sum_qty,
                      ${sqlSum("l_extendedprice")} AS sum_base,
                      ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
                      ${sqlAvg("l_quantity")} AS avg_qty,
                      COUNT(*) AS cnt
               FROM lineitem GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    // -- joins -------------------------------------------------------------
    Q("q04_join_broadcast",
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand"),
      Some(s"""SELECT p_brand, COUNT(*) AS cnt, ${sqlSum("l_quantity")} AS sum_qty
               FROM lineitem JOIN part ON l_partkey = p_partkey
               GROUP BY p_brand ORDER BY p_brand""")),

    Q("q05_join_shuffle",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS cnt,
                      ${sqlSum("o_totalprice")} AS sum_price
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Join ORDER is the declared order (no CBO stats on raw parquet,
    // so Spark will not reorder inner joins): grow the small side
    // first. (lineitem ⋈ orders) ⋈ customer shuffles the 60M-row fact
    // TWICE — once on l_orderkey, then the joined 60M again on
    // o_custkey; (orders ⋈ customer) ⋈ lineitem shuffles orders once
    // on o_custkey (15M), the 15M result once on o_orderkey, and
    // lineitem exactly once — ~135M -> ~91M shuffled rows, and the
    // second exchange carries dim-narrow rows. The dims broadcast
    // onto the orders side BEFORE the fact join, so the fact rows
    // never re-exchange for them either.
    Q("q06_multijoin",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders")
            .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
            .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
            .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
             count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name"),
      Some(s"""SELECT r_name, n_name,
                      ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
                      COUNT(*) AS cnt
               FROM lineitem
               JOIN orders   ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               JOIN region   ON n_regionkey = r_regionkey
               GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    Q("q07_semijoin",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c.c_custkey AND o_totalprice > 400000)
              ORDER BY c_custkey""")),

    Q("q08_antijoin",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c.c_custkey AND o_totalprice > 400000)
              ORDER BY c_custkey""")),

    Q("q23_left_join",
      (s, d) => t(s, d, "part")
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left")
        .groupBy("p_partkey")
        .agg(count(col("l_orderkey")).as("n_lines"),
             coalesce(dsum(col("l_quantity")), lit(0.0)).as("sum_qty"))
        .orderBy("p_partkey"),
      Some(s"""SELECT p_partkey, COUNT(l_orderkey) AS n_lines,
                      COALESCE(${sqlSum("l_quantity")}, 0.0) AS sum_qty
               FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
               GROUP BY p_partkey ORDER BY p_partkey""")),

    // -- ordering / distinct ----------------------------------------------
    Q("q09_topk",
      (s, d) => t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    Q("q10_distinct",
      (s, d) => t(s, d, "customer")
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
              ORDER BY c_mktsegment, c_nationkey""")),

    // -- window functions --------------------------------------------------
    Q("q11_window_rank",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        t(s, d, "customer")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
          .orderBy("c_mktsegment", "rn")
      },
      Some("""SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
                SELECT c_mktsegment, c_custkey, c_acctbal,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY c_acctbal DESC, c_custkey) AS rn
                FROM customer) WHERE rn <= 5
              ORDER BY c_mktsegment, rn""")),

    Q("q12_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        // dsum works over window frames too (DeclarativeAggregate:
        // running frames are update-only) — the primitive (hi, lo)
        // frame buffer replaces a BigDecimal add per (row, frame)
        t(s, d, "orders")
          .withColumn("running_total",
            dsum(col("o_totalprice")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .withColumn("moving_avg_3",
            (dsum(col("o_totalprice")).over(
              w.rowsBetween(-2, Window.currentRow)) /
              count(lit(1)).over(w.rowsBetween(-2, Window.currentRow))))
          .select("o_custkey", "o_orderkey", "o_totalprice",
                  "running_total", "prev_price", "moving_avg_3")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       AS running_total,
                     lag(o_totalprice, 1) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                       AS prev_price,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                       / COUNT(*) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                       AS moving_avg_3
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // -- having / conditional / set ops -----------------------------------
    Q("q13_having",
      (s, d) => t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
                      ${sqlSum("o_totalprice")} AS sum_price
               FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
               ORDER BY o_custkey""")),

    Q("q14_case_agg",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
                     CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                     CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                     CAST(SUM(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("q15_union",
      (s, d) => t(s, d, "customer")
        .select(col("c_custkey").as("id"), lit("customer").as("kind"))
        .unionByName(t(s, d, "supplier")
          .select(col("s_suppkey").as("id"), lit("supplier").as("kind")))
        .groupBy("kind").agg(count(lit(1)).as("cnt"), sum(col("id")).as("sum_id"))
        .orderBy("kind"),
      Some("""SELECT kind, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_id
              FROM (SELECT c_custkey AS id, 'customer' AS kind FROM customer
                    UNION ALL
                    SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier)
              GROUP BY kind ORDER BY kind""")),

    Q("q16_subquery",
      (s, d) => {
        val o = t(s, d, "orders")
        val avgDf = o.agg(davg(col("o_totalprice")).as("avg_price"))
        o.join(broadcast(avgDf))           // scalar subquery → 1-row broadcast
          .filter(col("o_totalprice") > col("avg_price") * 1.5)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_totalprice > (SELECT ${sqlAvg("o_totalprice")}
                                     FROM orders) * 1.5
               ORDER BY o_orderkey""")),

    // -- scalar functions --------------------------------------------------
    Q("q17_string_funcs",
      (s, d) => t(s, d, "part")
        .filter(col("p_name").like("%a%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 10).as("name10"),
          length(col("p_name")).as("name_len"),
          concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
                     substring(p_name, 1, 10) AS name10,
                     CAST(length(p_name) AS INTEGER) AS name_len,
                     concat_ws('#', p_brand, p_type) AS brand_type
              FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""")),

    Q("q18_date_funcs",
      (s, d) => t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
                 month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("yr", "mo"),
      Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                      CAST(month(o_orderdate) AS INTEGER) AS mo,
                      COUNT(*) AS cnt, ${sqlSum("o_totalprice")} AS sum_price
               FROM orders GROUP BY 1, 2 ORDER BY yr, mo""")),

    // -- grouping sets / pivot / percentiles ------------------------------
    Q("q19_rollup",
      (s, d) => t(s, d, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_mktsegment").asc_nulls_first,
                 col("c_nationkey").asc_nulls_first),
      Some(s"""SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
                      ${sqlSum("c_acctbal")} AS sum_bal
               FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
               ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")),

    Q("q20_pivot",
      (s, d) => {
        val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val piv = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").pivot("o_orderpriority", pr).count()
        pr.foldLeft(piv)((df, p) =>
            df.withColumn(p, coalesce(col(s"`$p`"), lit(0L))))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
                     COUNT(CASE WHEN o_orderpriority='1-URGENT' THEN 1 END) AS "1-URGENT",
                     COUNT(CASE WHEN o_orderpriority='2-HIGH' THEN 1 END) AS "2-HIGH",
                     COUNT(CASE WHEN o_orderpriority='3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
                     COUNT(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
                     COUNT(CASE WHEN o_orderpriority='5-LOW' THEN 1 END) AS "5-LOW"
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // q20's inverse: wide measure columns melted back to (key,
    // measure, value) rows — Dataset.unpivot is Spark's native melt
    // (a single Expand node: row-local, zero shuffle beyond the
    // upstream agg; the wide aggregate is 6 rows, so the melt is
    // metadata-cheap at any corpus scale)
    Q("q69_unpivot",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price"),
             davg(col("l_discount")).as("avg_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "measure"),
      Some(s"""WITH wide AS (
                 SELECT l_returnflag,
                        ${sqlSum("l_quantity")} AS sum_qty,
                        ${sqlSum("l_extendedprice")} AS sum_price,
                        ${sqlAvg("l_discount")} AS avg_disc
                 FROM lineitem GROUP BY l_returnflag)
               SELECT l_returnflag, measure, value
               FROM wide UNPIVOT (value FOR measure IN
                 (sum_qty, sum_price, avg_disc))
               ORDER BY l_returnflag, measure""")),

    Q("q21_percentile",
      (s, d) => t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(
          round(expr("percentile(c_acctbal, 0.5)"), 2).as("p50"),
          round(expr("percentile(c_acctbal, 0.9)"), 2).as("p90"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
                     round(quantile_cont(c_acctbal, 0.5), 2) AS p50,
                     round(quantile_cont(c_acctbal, 0.9), 2) AS p90
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("q37_grouping_sets",
      (s, d) => {
        val c = t(s, d, "customer")
        // explicit GROUPING SETS ((seg), (nation), ()) + grouping_id to
        // tell the levels apart — the shape rollup/cube can't express
        c.createOrReplaceTempView("customer_gs")
        s.sql(
          """SELECT c_mktsegment, c_nationkey,
            |       CAST(grouping_id(c_mktsegment, c_nationkey) AS INT) AS gid,
            |       count(1) AS cnt
            |FROM customer_gs
            |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
            |ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
            |""".stripMargin)
      },
      Some("""SELECT c_mktsegment, c_nationkey,
                     CAST(grouping(c_mktsegment, c_nationkey) AS INT) AS gid,
                     COUNT(*) AS cnt
              FROM customer
              GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
              ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")),

    Q("q38_distribution_windows",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("c_mktsegment", "c_custkey")
      },
      Some("""SELECT c_mktsegment, c_custkey,
                     round(percent_rank() OVER w, 6) AS pct_rank,
                     round(cume_dist() OVER w, 6) AS cume
              FROM customer
              WINDOW w AS (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey)
              ORDER BY c_mktsegment, c_custkey""")),

    Q("q39_string_agg",
      (s, d) => t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    // EXACT distinct customers per status, but NOT via the generic
    // two-level count-distinct rewrite — that shape ships every
    // distinct (status, custkey) pair through the exchange (~13M skinny
    // rows at sf10). custkey is a dense surrogate key, so the
    // scale-correct state is a BITMAP: one buffer per
    // (status × partition) partial (190 KB at sf10's 1.5M customers),
    // bitwise-OR merge, popcount eval — the exchange carries
    // O(groups × partitions) buffers, independent of row count, and
    // the count is exact (oracle unchanged).
    // 92dfbba:src/main/scala/graft/tools/AbQ22.scala at sf10
    // (quiet host, median of 5): scan floor 0.41 s, generic rewrite
    // 1.12 s, bitmap 0.96 s — the bitmap wins even single-node, and
    // at cluster scale the exchange-volume gap (18 MB vs ~13M rows)
    // is the whole story. See [[graft.functions.BitmapDistinct]] for
    // the dense-domain contract.
    Q("q22_count_distinct",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(graft.functions.BitmapFunctions.bitmapDistinct(col("o_custkey"))
               .as("n_cust"),
             count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
                     COUNT(*) AS n_orders
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // -- events: time buckets + json --------------------------------------
    Q("q24_time_bucket",
      (s, d) => t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS bucket, event_type,
                      COUNT(*) AS cnt, ${sqlSum("value")} AS sum_value
               FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    Q("q25_json_extract",
      (s, d) => t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy("k_mod"),
      Some("""SELECT CAST(CAST(props->>'$.k' AS INTEGER) % 10 AS INTEGER) AS k_mod,
                     COUNT(*) AS cnt,
                     CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
              FROM events GROUP BY 1 ORDER BY k_mod""")),

    // -- strict-order conversion funnel (q50) ------------------------------
    // view → click (after the view) → purchase (after that click), per
    // user. ONE shuffle total: the three step timestamps are stacked
    // unbounded-frame windows over the SAME partitionBy(user_id), so
    // Catalyst plans a single Exchange and chains the Window operators
    // on it; the step-k minimum conditions on step k-1's column, which
    // a plain two-level aggregate cannot express in one pass. The final
    // global count is a few bytes per partition.
    // Round 13: the three stacked per-user windows run over the
    // SHARED user-bucketed events layout — zero corpus Exchange (the
    // windows and the user-distinct aggregate all reuse the bucket
    // distribution). Same oracle; layout is not semantics.
    // Round 15: the four countDistincts became a per-user reduce +
    // plain counts — t1/t2/t3 are per-user CONSTANTS after the
    // windows, so `groupBy(user).first` collapses to one row per user
    // (exchange-free on the bucket distribution) and the Expand
    // operator the multi-countDistinct plan needs (4× the corpus rows
    // through the distinct aggregate) disappears. Measured at sf10:
    // 1.27 s → 0.91 s median (92dfbba:src/main/scala/graft/tools/AbR15.scala),
    // with the windows themselves
    // ~0.17 s over the scan floor thanks to the bucket-sorted layout.
    Q("q50_funnel",
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
        // NULL users are excluded up front: the oracle's
        // COUNT(DISTINCT user_id) ignores NULLs, while the per-user
        // reduce below would count a NULL group via count(lit(1)) —
        // the filter keeps the two spellings equal even if events
        // ever carries NULL user_ids (round-15 ADVICE).
        Layouts.events(s, d)
          .filter(col("user_id").isNotNull)
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(byUser))
          .withColumn("t2",
            min(when(col("event_type") === "click" && col("ts") > col("t1"),
              col("ts"))).over(byUser))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
              col("ts"))).over(byUser))
          .groupBy("user_id")
          .agg(first("t1").as("t1"), first("t2").as("t2"),
            first("t3").as("t3"))
          .agg(count(lit(1)).as("n_users"),
            count(col("t1")).as("n_view"),
            count(col("t2")).as("n_view_click"),
            count(col("t3")).as("n_full_funnel"))
      },
      Some("""WITH f AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'view' THEN ts END)
                         OVER (PARTITION BY user_id) AS t1,
                       ts, event_type
                FROM events),
              g AS (
                SELECT user_id, t1,
                       MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                         OVER (PARTITION BY user_id) AS t2,
                       ts, event_type
                FROM f),
              h AS (
                SELECT user_id, t1, t2,
                       MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                         OVER (PARTITION BY user_id) AS t3
                FROM g)
              SELECT COUNT(DISTINCT user_id) AS n_users,
                     COUNT(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_view,
                     COUNT(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_view_click,
                     COUNT(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_full_funnel
              FROM h""")),

    // -- cohort retention (q51) --------------------------------------------
    // cohort = the user's first-activity week index, offset = weeks
    // since that first activity; count distinct active users per
    // (cohort, offset) cell. Week indices are pure date ARITHMETIC
    // (days/7 from a fixed epoch), not calendar week-of-year — both
    // engines compute identical integers with no locale/ISO-week
    // semantics in play. d0 is an unbounded min window over the SAME
    // user partition the fold needs anyway — ONE exchange of the fact
    // table instead of the groupBy+join-back pair (A/B'd at sf1,
    // round 9; the countDistinct's own cell exchange carries only
    // (cell, user) pairs either way).
    Q("q51_retention",
      (s, d) => {
        // round 13: the d0 window reuses the user-bucketed layout —
        // the fact's only remaining exchange is the (cell, user) pairs
        val ev = Layouts.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        ev.withColumn("d0",
            min(col("day")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .groupBy(
            floor(datediff(col("d0"), lit("2024-01-01")) / 7).cast("long").as("cohort_week"),
            floor(datediff(col("day"), col("d0")) / 7).cast("long").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
              firsts AS (SELECT user_id, MIN(day) AS d0 FROM ev GROUP BY user_id)
              SELECT CAST(floor(date_diff('day', DATE '2024-01-01', d0) / 7.0) AS BIGINT)
                       AS cohort_week,
                     CAST(floor(date_diff('day', d0, day) / 7.0) AS BIGINT)
                       AS week_offset,
                     COUNT(DISTINCT ev.user_id) AS n_users
              FROM ev JOIN firsts ON ev.user_id = firsts.user_id
              GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")),

    // -- last-touch attribution (q82) ---------------------------------------
    // the marketing-analytics staple q50/q51 complete: every purchase
    // is attributed to the LAST non-purchase event of the same user
    // within a 7-day lookback, and the report is conversions + exact
    // revenue per attributed touch type (untouched purchases land in
    // '(none)'). The as-of lookup is a WINDOW, not a join: last(...,
    // ignoreNulls) over (user, ts rows unbounded..1 preceding) — the
    // frame ends BEFORE the row, so a purchase never attributes to
    // itself or a later event, and ignoreNulls skips interleaved
    // purchases to the newest true touch. The fact table pays exactly
    // ONE user_id exchange (q50's partitioning), the attribution is
    // frame-local, and the report aggregate is |touch types| rows.
    // Order is total by (ts, event_id) so both engines see identical
    // frames; revenue rides dsum.
    Q("q82_attribution",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val touch = last(
          when(col("event_type") =!= "purchase",
            struct(col("ts").as("tts"), col("event_type").as("ttype"))),
          ignoreNulls = true).over(w)
        // round 13: the as-of window rides the shared user-bucketed
        // layout — zero corpus Exchange (was the one user_id shuffle)
        Layouts.events(s, d)
          .withColumn("t", touch)
          .filter(col("event_type") === "purchase")
          .select(
            when(col("t").isNotNull &&
              col("t.tts") >= col("ts") - expr("interval 7 days"),
              col("t.ttype")).otherwise("(none)").as("touch_type"),
            col("value"))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("n_conversions"),
            dsum(col("value")).as("revenue"))
          .orderBy("touch_type")
      },
      Some(s"""WITH w AS (
                 SELECT event_type, ts, value,
                        LAST_VALUE(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS) OVER f AS ttype,
                        LAST_VALUE(CASE WHEN event_type <> 'purchase'
                          THEN ts END IGNORE NULLS) OVER f AS tts
                 FROM events
                 WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING))
               SELECT CASE WHEN ttype IS NOT NULL
                             AND tts >= ts - INTERVAL 7 DAY
                           THEN ttype ELSE '(none)' END AS touch_type,
                      COUNT(*) AS n_conversions,
                      ${sqlSum("value")} AS revenue
               FROM w WHERE event_type = 'purchase'
               GROUP BY 1 ORDER BY 1""")),

    // -- incremental rollup maintenance (q54) ------------------------------
    // materialized-view maintenance without rescanning the corpus: a
    // daily rollup SNAPSHOT (events before the cutoff — yesterday's
    // artifact, at 100 TB read back rollup-sized from storage) merges
    // with the DELTA partition's rollup by re-aggregating the
    // ALGEBRAIC state (counts add; decimal sums add exactly — the
    // merge is associative precisely because the per-row doubles were
    // lifted to DECIMAL(27,4), q24's determinism recipe, so
    // snapshot+delta is bit-identical to the full recompute the
    // oracle runs). Merge cost is |rollup| + |delta|, never |corpus|.
    // The snapshot and delta states are built in ONE corpus scan by
    // adding the snapshot/delta boundary to the partial grouping key
    // (day, event_type, ts >= cutoff) — the union-then-remerge
    // spelling scanned events TWICE (measured sf10: 3.3 s vs 1.x s)
    // to build states one grouped pass produces; the merge law being
    // demonstrated (separately-aggregated algebraic states re-agg
    // into the full recompute, bit-exactly) is identical either way,
    // and the production shape reads the snapshot state rollup-sized
    // from storage, so the bench should bill at most one corpus scan.
    // Second exchange carries only rollup-sized merged state.
    Q("q54_incremental_rollup",
      (s, d) => {
        val cutoff = lit("2024-01-21").cast("timestamp")
        t(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"),
            (col("ts") >= cutoff).as("__delta"))
          .agg(count(lit(1)).as("cnt"), sum(col("value").cast(D4)).as("sv"))
          .groupBy("day", "event_type")
          .agg(sum("cnt").as("cnt"),
            sum("sv").cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
          .orderBy("day", "event_type")
      },
      // CAST: DuckDB's date_trunc('day') yields DATE where Spark (and
      // its own 'hour') yield TIMESTAMP
      Some(s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                      event_type,
                      COUNT(*) AS cnt, ${sqlSum("value")} AS sum_value
               FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))
  )
}
