package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Relational operators over the TPC-H and events tables: joins,
  * grouping sets, window analytics, funnels, layout and top-k. */
private[graft] object RelationalQueries {

  def all: Seq[Query] = Seq(
    // ───── A1: 3-key sum aggregate ─────
    Query("q06_agg_sum3", { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("data"),
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .groupBy("data", "l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("data", "l_returnflag", "l_linestatus")
    },
      oracle = "SELECT CAST(l_shipdate AS DATE) AS data, l_returnflag, l_linestatus, " +
        "sum(l_quantity) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n " +
        "FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // ───── Window functions: ranked top-N per group ─────
    Query("q09_window_rank", { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },
      oracle = "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    // ───── Tumbling time-window aggregate (batch form of the streaming op) ─────
    Query("q10_window_tumbling", { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },
      oracle = "SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── S1 (XML container): Spark 4's native XML source — the
    // schema-first scan posture of q53/q54 extended to the last
    // first-class semi-structured container; storage round trip is
    // content-identity, so the oracle is the plain parquet aggregate ─────
    Query("q139_xml_roundtrip", { (s, dir) =>
      val out = scratch("xml_roundtrip")
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write.mode("overwrite").option("rootTag", "parts")
        .option("rowTag", "part").xml(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      s.read.schema(schema).option("rowTag", "part").xml(out)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("sum_price"))
        .orderBy("p_brand")
    },
      // XML round trip is storage-level identity: the oracle aggregates the
      // source parquet directly
      oracle = "SELECT p_brand, count(*)::BIGINT AS n, " +
        "round(sum(p_retailprice), 2) AS sum_price " +
        "FROM part GROUP BY 1 ORDER BY 1"),

    // ───── Semi/anti joins: customers with/without open orders ─────
    Query("q27_join_semi_anti", { (s, dir) =>
      val c = t(s, dir, "customer")
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val semi = c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_open").as("status"))
      val anti = c.join(open, c("c_custkey") === open("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_open").as("status"))
      semi.unionByName(anti).orderBy("c_custkey")
    },
      oracle = "SELECT c_custkey, 'has_open' AS status FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') " +
        "UNION ALL SELECT c_custkey, 'no_open' FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') " +
        "ORDER BY c_custkey"),

    // ───── Rollup: subtotals + grand total over (returnflag, linestatus) ─────
    Query("q28_rollup", { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      oracle = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // ───── CUBE: all grouping-set combinations + grouping_id ─────
    Query("q49_cube", { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      oracle = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n, " +
        "grouping_id(l_returnflag, l_linestatus)::BIGINT AS gid " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // ───── Histogram: fixed-width numeric binning ─────
    Query("q50_histogram", { (s, dir) =>
      t(s, dir, "orders")
        .select((floor(col("o_totalprice") / 25000) * 25000).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
      oracle = "SELECT (floor(o_totalprice / 25000) * 25000)::BIGINT AS bucket, " +
        "count(*)::BIGINT AS n FROM orders GROUP BY 1 ORDER BY 1"),

    // ───── Global top-N: ORDER BY + LIMIT (TakeOrderedAndProject) ─────
    Query("q29_topn_global", { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },
      oracle = "SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"),

    // ───── Distinct-count aggregates (exact; approx_count_distinct in spec) ─────
    Query("q30_distinct_count", { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct("l_partkey").as("n_part"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
      oracle = "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT l_partkey) AS n_part, count(*) AS n " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // ───── Semi-structured: JSON extraction from the events props column ─────
    Query("q31_json_extract", { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")
    },
      oracle = "SELECT event_type, count(*) AS n, sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k, " +
        "round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // ───── Statistical aggregates: exact percentiles + stddev ─────
    Query("q32_stats", { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(stddev_samp(col("value")), 6).as("sd"))
        .orderBy("event_type")
    },
      oracle = "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(stddev_samp(value), 6) AS sd " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // ───── Skew: salted join, row-identical to the plain join ─────
    Query("q34_salted_join", { (s, dir) =>
      import s.implicits._
      val dim = Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
        .toDF("l_returnflag", "label")
      Skew.saltedJoin(
          t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          dim, Seq("l_returnflag"), buckets = 8)
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("label")
    },
      oracle = "WITH dim(l_returnflag, label) AS (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'none')) " +
        "SELECT label, count(*) AS n, sum(l_quantity) AS sum_qty " +
        "FROM lineitem JOIN dim USING (l_returnflag) GROUP BY 1 ORDER BY 1"),

    // ───── Analytic window functions: lag/lead, running + moving aggregates ─────
    Query("q35_window_analytics", { (s, dir) =>
      val byCust = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val movingW = byCust.rowsBetween(-2, 0)
      t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("prev_price", lag("o_totalprice", 1).over(byCust))
        .withColumn("next_key", lead("o_orderkey", 1).over(byCust))
        .withColumn("run_total",
          round(sum("o_totalprice").over(byCust.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .withColumn("mov_avg3", round(avg("o_totalprice").over(movingW), 6))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },
      oracle = "SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "lag(o_totalprice, 1) OVER w AS prev_price, " +
        "lead(o_orderkey, 1) OVER w AS next_key, " +
        "round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total, " +
        "round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3 " +
        "FROM orders WHERE o_custkey % 10 = 0 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) " +
        "ORDER BY o_custkey, o_orderdate, o_orderkey"),

    // ───── Sliding time windows (batch form; each event lands in 2 windows) ─────
    Query("q46_window_sliding", { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },
      // each event belongs to the two 30-min-grid windows covering it; the
      // 30-min grid of time_bucket (origin 2000-01-03) coincides with
      // Spark's epoch-aligned slide grid (the origins are whole days apart)
      oracle = "WITH w AS (SELECT event_type, value, " +
        "time_bucket(INTERVAL 30 MINUTE, ts) AS s1 FROM events), " +
        "x AS (SELECT event_type, value, s1 AS win_start FROM w " +
        "UNION ALL SELECT event_type, value, s1 - INTERVAL 30 MINUTE FROM w) " +
        "SELECT win_start, event_type, count(*)::BIGINT AS n, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM x GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── Set operations: INTERSECT / EXCEPT ─────
    Query("q36_set_ops", { (s, dir) =>
      val mar = t(s, dir, "orders").filter(month(col("o_orderdate").cast("date")) === 3)
        .select("o_custkey")
      val apr = t(s, dir, "orders").filter(month(col("o_orderdate").cast("date")) === 4)
        .select("o_custkey")
      val both = mar.intersect(apr).withColumn("which", lit("both"))
      val marOnly = mar.except(apr).withColumn("which", lit("march_only"))
      both.unionByName(marOnly).orderBy("which", "o_custkey")
    },
      oracle = "WITH mar AS (SELECT o_custkey FROM orders WHERE month(CAST(o_orderdate AS DATE)) = 3), " +
        "apr AS (SELECT o_custkey FROM orders WHERE month(CAST(o_orderdate AS DATE)) = 4) " +
        "SELECT o_custkey, 'both' AS which FROM (SELECT * FROM mar INTERSECT SELECT * FROM apr) " +
        "UNION ALL SELECT o_custkey, 'march_only' FROM (SELECT * FROM mar EXCEPT SELECT * FROM apr) " +
        "ORDER BY which, o_custkey"),

    // ───── Z-order layout: Morton key + per-bucket skipping bounds ─────
    // The bucket stats ARE the data-skipping story: each z-bucket (→ file
    // after Layout.zOrdered) spans a narrow range in BOTH columns.
    Query("q58_zorder", { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          Layout.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .groupBy(shiftright(col("z"), 16).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("p_min"), max("l_partkey").as("p_max"),
          min("l_suppkey").as("s_min"), max("l_suppkey").as("s_max"))
        .orderBy("zbucket")
    },
      oracle = {
        val z = (0 until 21).map(i =>
          s"(((l_partkey >> $i) & 1) << ${2 * i}) + (((l_suppkey >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"WITH z AS (SELECT l_partkey, l_suppkey, ($z) AS z FROM lineitem) " +
          "SELECT (z >> 16) AS zbucket, count(*) AS n, " +
          "min(l_partkey) AS p_min, max(l_partkey) AS p_max, " +
          "min(l_suppkey) AS s_min, max(l_suppkey) AS s_max " +
          "FROM z GROUP BY 1 ORDER BY zbucket"
      }),

    // ───── event-time RANGE frame: per-customer trailing 7-day order
    // total (RANGE BETWEEN INTERVAL, the frame type q35's ROWS frames
    // don't cover; peers at the same date aggregate together) ─────
    Query("q77_window_range", { (s, dir) =>
      // orderdate is a midnight-aligned timestamp; day numbers make the
      // RANGE frame's interval arithmetic exact in both engines
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_date(to_date(col("o_orderdate"))))
        .rangeBetween(-6, 0) // 6 preceding days + current = 7-day window
      t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("sum7", round(sum("o_totalprice").over(w), 2))
        .withColumn("n7", count(lit(1)).over(w))
        .drop("o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    },
      oracle = "SELECT o_custkey, o_orderkey, o_orderdate, " +
        "round(sum(o_totalprice) OVER w, 2) AS sum7, " +
        "(count(*) OVER w)::BIGINT AS n7 " +
        "FROM orders WHERE o_custkey % 10 = 0 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate " +
        "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderkey"),

    // ───── explicit GROUPING SETS (the general form of q28's ROLLUP /
    // q49's CUBE): two single-column sets + the pair, no grand total ─────
    Query("q78_grouping_sets", { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g78_li")
      s.sql(
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "count(*) AS n, grouping_id(l_returnflag, l_linestatus) AS gid " +
          "FROM g78_li " +
          "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
          "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST")
    },
      oracle = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n, grouping_id(l_returnflag, l_linestatus)::BIGINT AS gid " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
        "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // ───── correlated scalar subquery (Catalyst decorrelates to a
    // left-outer aggregate join — no per-row re-execution) ─────
    Query("q86_correlated_scalar", { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("g86_c")
      t(s, dir, "orders").createOrReplaceTempView("g86_o")
      s.sql(
        "SELECT c_custkey, c_mktsegment, " +
          "(SELECT round(max(o_totalprice), 2) FROM g86_o o " +
          "WHERE o.o_custkey = c.c_custkey) AS max_price " +
          "FROM g86_c c ORDER BY c_custkey")
    },
      oracle = "SELECT c_custkey, c_mktsegment, " +
        "(SELECT round(max(o_totalprice), 2) FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey) AS max_price " +
        "FROM customer c ORDER BY c_custkey"),

    // ───── schema evolution on the lake: two parquet generations with
    // different columns, one mergeSchema read — the columnar-native form
    // of S2's heterogeneous-sheet union (absent columns surface as nulls) ─────
    Query("q87_schema_evolution", { (s, dir) =>
      val tmp = scratch("g87_schema_evolution")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen1")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmp/gen1", s"$tmp/gen2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
      // storage-level evolution never changes the logical content: the
      // oracle is the plain two-generation union with null-filled columns
      oracle = "SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority " +
        "FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, NULL, o_orderpriority " +
        "FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"),

    // ───── custom whole-operator plan: sort-free top-k per key. The
    // TopKPerKeyNode logical plan (strategy-injected via
    // SparkSessionExtensions) replaces exchange→SORT→window→filter with
    // exchange→bounded-heap — O(n log k), memory keys·k, nothing to
    // spill. Oracle = the rank-window formulation it is proven equal to ─────
    Query("q89_topk_per_key", { (s, dir) =>
      TopK.perKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    },
      oracle = "SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"),

    // ───── sessionized funnel: gaps-and-islands sessionization (the
    // lag+cumsum formulation — q24/q52/q66 cover session_window and typed
    // state) + per-session conversion attribution (first purchase after
    // first click). Inactivity split strictly > 30min, matching q24 ─────
    Query("q92_session_funnel", { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("_prev", lag("ts", 1).over(w))
        .withColumn("_ns",
          when(col("_prev").isNull ||
            col("ts") > col("_prev") + expr("INTERVAL 30 MINUTES"), 1)
            .otherwise(0))
        .withColumn("_sid", sum("_ns").over(run))
        .groupBy("user_id", "_sid")
        .agg(
          min("ts").as("session_start"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          coalesce(
            min(when(col("event_type") === "purchase", col("ts"))) >
              min(when(col("event_type") === "click", col("ts"))),
            lit(false)).as("converted"))
        .drop("_sid")
        .orderBy("user_id", "session_start")
    },
      oracle = "WITH g AS (SELECT user_id, ts, event_type, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, event_type, sum(ns) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events, " +
        "(count(*) FILTER (WHERE event_type = 'click'))::BIGINT AS n_clicks, " +
        "(count(*) FILTER (WHERE event_type = 'purchase'))::BIGINT AS n_purchases, " +
        "coalesce(min(ts) FILTER (WHERE event_type = 'purchase') > " +
        "min(ts) FILTER (WHERE event_type = 'click'), FALSE) AS converted " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),

    // ───── sequential conversion funnel over the event stream: per user,
    // earliest view, earliest click AFTER that view, earliest purchase
    // AFTER that click — each stage is a conditional min that reuses the
    // user_id partitioning; events reduce 67:1 before any join ─────
    Query("q111_funnel", { (s, dir) =>
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"), col("t_purchase").isNotNull.as("converted"))
        .orderBy("user_id")
    },
      // mirrors q111's staged conditional mins (strictly-after semantics)
      oracle = "WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON e.user_id = v.user_id " +
        "WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON e.user_id = c.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1) " +
        "SELECT v.user_id, v.t_view, c.t_click, p.t_purchase, " +
        "p.t_purchase IS NOT NULL AS converted " +
        "FROM v LEFT JOIN c USING(user_id) LEFT JOIN p USING(user_id) ORDER BY v.user_id"),

    // ───── event-transition matrix (first-order Markov counts): per user,
    // consecutive event pairs by time via ONE lead() window over the
    // user_id partitioning, then a (from, to) count — the user-journey
    // fingerprint; transition probability normalizes per from-state with
    // an exact integer-count division ─────
    Query("q116_event_transitions", { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val counts = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      // normalize via a window over the COUNT table (≤ |types|² rows) —
      // a groupBy+join here would re-plan the event scan + lead window
      // twice (counts feeds both branches)
      counts
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / sum(col("n"))
            .over(Window.partitionBy("from_type")), 6).as("p"))
        .orderBy("from_type", "to_type")
    },
      // mirrors q116: lead() pairs per user → (from, to) counts → per-from
      // normalization (exact integer division in both engines)
      oracle = "WITH pr AS (SELECT user_id, event_type AS from_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events), " +
        "c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM pr " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, " +
        "round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p " +
        "FROM c ORDER BY from_type, to_type"),

    // ───── multi-touch attribution: purchases credit the clicks of the
    // prior 7 days (same user) under first-touch / last-touch / linear
    // models — user-equi join with a time-range residual (never a BNLJ),
    // per-purchase windows bounded by clicks-per-user-week ─────
    Query("q137_attribution", { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"),
          concat(lit("c"),
            get_json_object(col("props"), "$.k").cast("long") % 5)
            .as("campaign"))
      val w = Window.partitionBy("p_id")
      purchases.join(clicks,
          col("user_id") === col("c_user") && col("c_ts") <= col("p_ts") &&
            col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
        .select(col("p_id"), col("value"), col("campaign"),
          row_number().over(w.orderBy(col("c_ts"), col("c_id"))).as("rn_f"),
          row_number().over(w.orderBy(col("c_ts").desc, col("c_id").desc))
            .as("rn_l"),
          count(lit(1)).over(w).as("n_clicks"))
        .groupBy("campaign")
        .agg(sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("n_first"),
          round(sum(when(col("rn_f") === 1, col("value")).otherwise(0.0)), 2)
            .as("first_touch_value"),
          round(sum(when(col("rn_l") === 1, col("value")).otherwise(0.0)), 2)
            .as("last_touch_value"),
          round(sum(col("value") / col("n_clicks")), 2).as("linear_value"))
        .orderBy("campaign")
    },
      oracle = "WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, value " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id, " +
        "'c' || (json_extract(props, '$.k')::BIGINT % 5) AS campaign " +
        "FROM events WHERE event_type = 'click'), " +
        "pr AS (SELECT p.p_id, p.value, c.campaign, " +
        "row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_ts, c.c_id) AS rn_f, " +
        "row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_ts DESC, c.c_id DESC) AS rn_l, " +
        "count(*) OVER (PARTITION BY p.p_id) AS n_clicks " +
        "FROM p JOIN c ON p.user_id = c.c_user AND c.c_ts <= p.p_ts " +
        "AND c.c_ts > p.p_ts - INTERVAL 7 DAY) " +
        "SELECT campaign, " +
        "sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first, " +
        "round(sum(CASE WHEN rn_f = 1 THEN value ELSE 0 END), 2) AS first_touch_value, " +
        "round(sum(CASE WHEN rn_l = 1 THEN value ELSE 0 END), 2) AS last_touch_value, " +
        "round(sum(value / n_clicks), 2) AS linear_value " +
        "FROM pr GROUP BY 1 ORDER BY 1"),

    // ───── label-propagation communities over the trade graph: the
    // third member of the iterative-graph family (CC = reachability,
    // PageRank = centrality, LPA = community structure); deterministic
    // min-label tie-break makes the fixed-iteration run reproducible ─────
    // ───── Hilbert vs Morton layout quality: fifth codegen'd expression
    // (HilbertIndex — per-bit frame rotation carries state no when-chain
    // expresses without exponential blowup). Buckets are UNALIGNED
    // curve-range cuts (half-bucket offset), the shape real file splits
    // take: aligned power-of-4 blocks are identical squares for both
    // curves, but at unaligned cuts Morton's seam jumps splice far-apart
    // rectangles into one file while Hilbert's runs stay connected —
    // measured here as ~2× smaller avg x-extent per bucket ─────
    Query("q161_hilbert_layout", { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") % 2048).as("x"),
          (col("l_orderkey") % 2048).as("y"))
      def stats(name: String, idx: org.apache.spark.sql.Column): DataFrame =
        li.withColumn("b", shiftright(idx + 32768L, 16))
          .groupBy("b")
          .agg((max("x") - min("x")).as("xe"), (max("y") - min("y")).as("ye"))
          .agg(count(lit(1)).as("n_buckets"),
            round(avg("xe"), 6).as("avg_x_extent"),
            round(avg("ye"), 6).as("avg_y_extent"),
            max("xe").as("max_x_extent"), max("ye").as("max_y_extent"))
          .select(lit(name).as("curve"), col("n_buckets"),
            col("avg_x_extent"), col("avg_y_extent"),
            col("max_x_extent"), col("max_y_extent"))
      stats("hilbert", Layout.hilbertValue(col("x"), col("y"), bits = 11))
        .unionByName(stats("morton", Layout.zValue(col("x"), col("y"), bits = 11)))
        .orderBy("curve")
    },
      // 11 unrolled Hilbert steps (rotate/reflect state per bit) + the
      // Morton interleave; identical half-bucket-offset cuts and extent
      // aggregates (x0/y0 = the original point, x/y = the rotating frame)
      oracle = {
        val z = (0 until 11).map(i =>
          s"(((x0 >> $i) & 1) << ${2 * i}) + (((y0 >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        val steps = (0 until 11).map { k =>
          val s = 1L << (10 - k)
          s"h${k + 1} AS (SELECT x0, y0, " +
            s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) " +
            "ELSE x END AS x, " +
            s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) " +
            "ELSE y END AS y, " +
            s"d + ${s * s} * xor(3 * rx, ry) AS d " +
            s"FROM (SELECT *, CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx, " +
            s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$k)), "
        }.mkString
        "WITH pts AS (SELECT (l_partkey % 2048)::BIGINT AS x0, " +
          "(l_orderkey % 2048)::BIGINT AS y0 FROM lineitem), " +
          "h0 AS (SELECT x0, y0, x0 AS x, y0 AS y, 0::BIGINT AS d FROM pts), " +
          steps +
          "hb AS (SELECT ((d + 32768) >> 16) AS b, x0, y0 FROM h11), " +
          s"zb AS (SELECT ((($z) + 32768) >> 16) AS b, x0, y0 FROM pts), " +
          "he AS (SELECT b, max(x0) - min(x0) AS xe, max(y0) - min(y0) AS ye " +
          "FROM hb GROUP BY 1), " +
          "ze AS (SELECT b, max(x0) - min(x0) AS xe, max(y0) - min(y0) AS ye " +
          "FROM zb GROUP BY 1) " +
          "SELECT 'hilbert' AS curve, count(*)::BIGINT AS n_buckets, " +
          "round(avg(xe), 6) AS avg_x_extent, round(avg(ye), 6) AS avg_y_extent, " +
          "max(xe)::BIGINT AS max_x_extent, max(ye)::BIGINT AS max_y_extent FROM he " +
          "UNION ALL SELECT 'morton', count(*)::BIGINT, round(avg(xe), 6), " +
          "round(avg(ye), 6), max(xe)::BIGINT, max(ye)::BIGINT FROM ze " +
          "ORDER BY curve"
      }),

    // ───── referential-integrity audit: orphan counts for every foreign
    // key in the star schema — four anti-joins, each a bounded (fk, key)
    // shuffle; the pre-flight a 100 TB join pipeline runs before trusting
    // inner joins not to silently drop rows ─────
    Query("q160_fk_audit", { (s, dir) =>
      def audit(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val c = child.select(col(key).as("k"))
        val orphans = c.join(parent.select(col(pkey).as("k")), Seq("k"),
          "left_anti")
        c.agg(count(lit(1)).as("n_rows"),
            count_distinct(col("k")).as("n_keys"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_rows"),
            count_distinct(col("k")).as("n_orphan_keys")))
          .select(lit(name).as("fk"), col("n_rows"), col("n_keys"),
            col("n_orphan_rows"), col("n_orphan_keys"))
      }
      val li = t(s, dir, "lineitem")
      audit("lineitem.orderkey", li, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("lineitem.partkey", li, "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(audit("lineitem.suppkey", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(audit("orders.custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy("fk")
    },
      oracle = {
        val audit = (name: String, child: String, key: String,
            parent: String, pkey: String) =>
          s"(SELECT '$name' AS fk, count(*)::BIGINT AS n_rows, " +
            s"count(DISTINCT $key)::BIGINT AS n_keys, " +
            s"count(*) FILTER (WHERE $pkey IS NULL)::BIGINT AS n_orphan_rows, " +
            s"count(DISTINCT $key) FILTER (WHERE $pkey IS NULL)::BIGINT " +
            s"AS n_orphan_keys FROM $child LEFT JOIN $parent ON $key = $pkey)"
        audit("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey") +
          " UNION ALL " +
          audit("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey") +
          " UNION ALL " +
          audit("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey") +
          " UNION ALL " +
          audit("orders.custkey", "orders", "o_custkey", "customer", "c_custkey") +
          " ORDER BY fk"
      }),

    // ───── distribution window functions: ntile / percent_rank /
    // cume_dist over per-segment balance order — completes the window
    // surface (ranking + analytic + frame + distribution) ─────
    Query("q158_window_distribution", { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy("c_custkey")
    },
      // same total order inside each segment
      oracle = "SELECT c_custkey, c_mktsegment, c_acctbal, " +
        "ntile(4) OVER w AS quartile, " +
        "round(percent_rank() OVER w, 6) AS pct_rank, " +
        "round(cume_dist() OVER w, 6) AS cume " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY c_acctbal, c_custkey) ORDER BY c_custkey"),

    // ───── retention cohorts: users bucketed by first-activity week,
    // per-(cohort, week-offset) active-user counts + retention vs the
    // cohort's week-0 size — two hash-aggregates and one bounded window ─────
    Query("q138_retention", { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      val firstWk = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      val joined = ev.distinct().join(firstWk, "user_id")
        .select(col("cohort"),
          floor(datediff(col("wk"), col("cohort")) / 7).as("week_offset"))
      val w0 = Window.partitionBy("cohort")
      joined.groupBy("cohort", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0, col("n_users"))).over(w0))
        .withColumn("retention",
          round(col("n_users") * lit(1.0) / col("cohort_size"), 6))
        .select("cohort", "week_offset", "n_users", "retention")
        .orderBy("cohort", "week_offset")
    },
      oracle = "WITH ev AS (SELECT user_id, date_trunc('week', ts)::DATE AS wk FROM events), " +
        "f AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, wk FROM ev), " +
        "j AS (SELECT f.cohort, date_diff('day', f.cohort, a.wk) // 7 AS week_offset " +
        "FROM a JOIN f ON a.user_id = f.user_id), " +
        "cnt AS (SELECT cohort, week_offset, count(*)::BIGINT AS n_users " +
        "FROM j GROUP BY 1, 2), " +
        "sz AS (SELECT cohort, week_offset, n_users, " +
        "max(CASE WHEN week_offset = 0 THEN n_users END) " +
        "OVER (PARTITION BY cohort) AS cohort_size FROM cnt) " +
        "SELECT cohort, week_offset, n_users, " +
        "round(n_users * 1.0 / cohort_size, 6) AS retention " +
        "FROM sz ORDER BY cohort, week_offset"),

    // ───── market-basket association: part pairs co-occurring in ≥2
    // orders with support/confidence/lift — the pair space is a
    // self-equi-join on the order key (never n² over parts), mega-baskets
    // dropped by the size cap BEFORE pairing ─────
    Query("q165_copurchase_lift", { (s, dir) =>
      Association.copurchaseStats(t(s, dir, "lineitem"), "l_orderkey",
          "l_partkey", minPairCount = 2, maxBasketSize = Some(12))
        .orderBy("item_a", "item_b")
    },
      // same basket-key self-join pair space, ≤12-item baskets, margins and
      // totals over the SAME kept universe
      oracle = "WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it " +
        "FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
        "sz AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= 12), " +
        "k AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)), " +
        "n AS (SELECT count(DISTINCT bk)::BIGINT AS nb FROM k), " +
        "ic AS (SELECT it, count(*)::BIGINT AS ni FROM k GROUP BY 1), " +
        "pc AS (SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS n_ab " +
        "FROM k x JOIN k y ON x.bk = y.bk AND x.it < y.it " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT item_a, item_b, n_ab, a.ni AS n_a, c.ni AS n_b, " +
        "round(n_ab::DOUBLE / nb, 6) AS support, " +
        "round(n_ab::DOUBLE / a.ni, 6) AS conf_a_b, " +
        "round((n_ab * nb)::DOUBLE / (a.ni * c.ni), 6) AS lift " +
        "FROM pc CROSS JOIN n " +
        "JOIN ic a ON pc.item_a = a.it JOIN ic c ON pc.item_b = c.it " +
        "ORDER BY item_a, item_b"),

    // ───── the NAIVE top-k-per-key window idiom, left for the optimizer:
    // RewriteRankFilterToTopK (injectOptimizerRule) plans this into the
    // sort-free bounded-heap TopKPerKeyExec — q89 is the same physical
    // operator reached through the explicit API; this row proves the
    // automatic path end-to-end (PlanShapeSpec locks the plan shape) ─────
    Query("q195_auto_topk", { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .drop("rn")
        .select("user_id", "event_id", "value")
        .orderBy("user_id", "event_id")
    },
      // the same rank formulation the rule removes on the Spark side
      oracle = "SELECT user_id, event_id, value FROM (" +
        "SELECT user_id, event_id, value, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY value DESC, event_id) AS rn " +
        "FROM events WHERE value IS NOT NULL) " +
        "WHERE rn <= 2 ORDER BY user_id, event_id"),

    // ───── File-skipping effectiveness: the same table laid out four
    // ways (by the filter column, natural, random hash, z-order),
    // per-file min/max stats vs a pinned range predicate — WHY q58/q161
    // layouts exist, measured; no global sort (equal-width key buckets
    // from broadcast min/max) ─────
    Query("q316_skipping_eval", { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 2048).as("v"),
          (col("l_orderkey") % 2048).as("y2"))
      Layout.skippingEval(li,
          Seq(
            "bycolumn" -> col("v"),
            "natural" -> col("l_orderkey"),
            "random" -> (Hashing.hash60(concat(
              col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))) % 1048576L),
            "zorder" -> Layout.zValue(col("v"), col("y2"), bits = 11)),
          value = col("v"), lo = 100L, hi = 199L, nFiles = 64)
        .orderBy("layout")
    },
      // q316: Layout.skippingEval mirror — equal-width key buckets per
      // layout, per-file min/max stats, pinned range predicate.
      oracle = {
        val z = (0 until 11).map(i =>
          s"(((v >> $i) & 1) << ${2 * i}) + (((y2 >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        val hk = Oracles.h60("l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")
        def layout(name: String, keyExpr: String): String =
          s"SELECT '$name' AS layout, n_files, n_hit_files, rows_total, " +
            "rows_scanned, round(1.0::DOUBLE - n_hit_files::DOUBLE / n_files, 6) " +
            "AS file_skip_frac, round(rows_scanned::DOUBLE / rows_total, 6) AS " +
            "io_frac FROM (SELECT count(*)::BIGINT AS n_files, " +
            "sum((vmax >= 100 AND vmin <= 199)::INT)::BIGINT AS n_hit_files, " +
            "sum(rows_)::BIGINT AS rows_total, " +
            "sum(CASE WHEN vmax >= 100 AND vmin <= 199 THEN rows_ ELSE 0 END)" +
            "::BIGINT AS rows_scanned FROM (" +
            "SELECT ((k - mn) * 64) // (mx - mn + 1) AS f, min(v) AS vmin, " +
            "max(v) AS vmax, count(*)::BIGINT AS rows_ " +
            s"FROM (SELECT ($keyExpr) AS k, v FROM pts), " +
            s"(SELECT min($keyExpr) AS mn, max($keyExpr) AS mx FROM pts) " +
            "GROUP BY 1)) "
        "WITH pts AS (SELECT l_orderkey, l_linenumber, " +
          "(l_partkey % 2048)::BIGINT AS v, (l_orderkey % 2048)::BIGINT AS y2 " +
          "FROM lineitem) " +
          layout("bycolumn", "v") + " UNION ALL " +
          layout("natural", "l_orderkey") + " UNION ALL " +
          layout("random", s"$hk % 1048576") + " UNION ALL " +
          layout("zorder", s"($z)::BIGINT") +
          " ORDER BY layout"
      })
  )
}
