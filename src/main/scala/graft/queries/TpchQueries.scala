package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** TPC-H queries, each a DataFrame plan checked against the
  * benchmark SQL. */
private[graft] object TpchQueries {

  def all: Seq[Query] = Seq(
    // ───── the classic TPC-H trio on the test tables (dates shifted to
    // the generated 1995-2001 range): the recognizable OLAP shapes.
    // Q1 — full-scan multi-aggregate with derived measures ─────
    Query("q96_tpch_q1", { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      oracle = "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, " +
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
        "round(avg(l_quantity), 6) AS avg_qty, round(avg(l_extendedprice), 6) AS avg_price, " +
        "round(avg(l_discount), 6) AS avg_disc, count(*)::BIGINT AS n " +
        "FROM lineitem WHERE l_shipdate <= DATE '2001-09-02' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── Q6 — the selective filter-aggregate (predicate pushdown path) ─────
    Query("q97_tpch_q6", { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },
      oracle = "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
        "AND l_shipdate < DATE '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),

    // ───── Q3 — 3-way join + agg + top-10 (shippriority column absent
    // from the generated orders; otherwise the standard shape) ─────
    Query("q98_tpch_q3", { (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < lit("1998-03-15").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .filter(col("l_shipdate") > lit("1998-03-15").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
        .limit(10)
    },
      oracle = "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "o_orderdate FROM customer c " +
        "JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1998-03-15' " +
        "AND l_shipdate > DATE '1998-03-15' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),

    // ───── TPC-H join-depth trio: Q5/Q9/Q18 shapes exercise 5-6-way
    // join ordering + the semi-join-through-agg pattern that Q1/Q6/Q3
    // (q96-q98, 1-3 tables) don't reach.
    // Q5 — local-supplier revenue: 6-way join, region filter pushed to a
    // 5-row dim chain that broadcasts; customer and supplier must share a
    // nation (the extra non-key equi-condition) ─────
    Query("q100_tpch_q5", { (s, dir) =>
      val asiaNations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      oracle = "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01' " +
        "AND o_orderdate < DATE '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    // ───── Q9 shape — product-line profit by nation and year (no
    // partsupp table in the test schema, so supply cost is the part's
    // retail price; the 5-way join + derived-column agg is the point) ─────
    Query("q101_tpch_q9", { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").contains("red")),
          col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity")).as("amount"))
        .groupBy("nation", "o_year")
        .agg(round(sum("amount"), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      oracle = "SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (" +
        "SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year, " +
        "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount " +
        "FROM part, supplier, lineitem, orders, nation " +
        "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey " +
        "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey " +
        "AND p_name LIKE '%red%') profit " +
        "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),

    // ───── Q18 shape — large-volume customers: the semi-join-through-agg
    // (orders restricted to those whose lineitems aggregate past a
    // threshold) feeding a 3-way join + re-aggregation ─────
    Query("q102_tpch_q18", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_sq"))
        .filter(col("_sq") > 300)
        .select("l_orderkey")
      val bigOrders = t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
      oracle = "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "round(sum(l_quantity), 2) AS sum_qty " +
        "FROM customer, orders, lineitem " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) " +
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
        "GROUP BY 1, 2, 3, 4, 5 " +
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"),

    // ───── TPC-H Q13 shape — customer order-count distribution: the
    // left-outer join (customers with zero orders MUST survive) into a
    // double aggregation; the classic skew probe (c_count=0 bucket) ─────
    Query("q109_tpch_q13", { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(!col("o_orderpriority").startsWith("4-"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      // mirrors q109's Q13 shape: left join keeps zero-order customers
      oracle = "WITH co AS (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count " +
        "FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority NOT LIKE '4-%') o " +
        "ON c.c_custkey = o.o_custkey GROUP BY 1) " +
        "SELECT c_count, count(*)::BIGINT AS custdist FROM co GROUP BY 1 " +
        "ORDER BY custdist DESC, c_count DESC"),

    // ───── TPC-H Q4 shape — order-priority checking: LEFT SEMI join with
    // a NON-EQUI residual (l_shipdate > o_orderdate) — the EXISTS
    // subquery shape; the semi stops probing an order at its first late
    // lineitem ─────
    Query("q119_tpch_q4", { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-04-01").cast("date"))
      o.join(t(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      oracle = "SELECT o_orderpriority, count(*)::BIGINT AS order_count FROM orders " +
        "WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) " +
        "GROUP BY 1 ORDER BY 1"),

    // ───── TPC-H Q16 shape — supplier diversity per part group: anti-join
    // blacklist (negative-balance suppliers stand in for the complaints
    // filter) feeding a count-DISTINCT aggregate over a selective dim
    // filter ─────
    Query("q115_tpch_q16", { (s, dir) =>
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      t(s, dir, "lineitem")
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(t(s, dir, "part").filter(col("p_size").isin(1, 5, 9, 13)),
          col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },
      oracle = "SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_size IN (1, 5, 9, 13) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size"),

    // ───── TPC-H Q7 — volume shipping between a nation pair, by year.
    // Both nation dims pre-filtered to the pair and broadcast; the
    // pair-direction disambiguation is a residual `supp =!= cust` after
    // the two BHJs (equivalent to the spec's OR once each side is
    // restricted to the two nations) ─────
    Query("q120_tpch_q7", { (s, dir) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1998-01-01").cast("date"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      oracle = "SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue " +
        "FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "year(l_shipdate)::BIGINT AS l_year, " +
        "l_extendedprice * (1 - l_discount) AS volume " +
        "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
        "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey " +
        "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey " +
        "AND c_nationkey = n2.n_nationkey " +
        "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
        "AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // ───── TPC-H Q8 — national market share inside a region/product
    // slice: the deepest join in the suite (lineitem→part→orders→
    // customer→nation→region + supplier→nation), with all dims broadcast
    // so the fact table shuffles only for the final year aggregate ─────
    Query("q121_tpch_q8", { (s, dir) =>
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("an_key"))
      val suppNation = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("an_key"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
          col("nation"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("nation") === "NATION_3", col("volume")).otherwise(0.0)) /
            sum(col("volume")), 6).as("mkt_share"))
        .orderBy("o_year")
    },
      oracle = "SELECT o_year, round(sum(CASE WHEN nation = 'NATION_3' THEN volume " +
        "ELSE 0 END) / sum(volume), 6) AS mkt_share " +
        "FROM (SELECT year(o_orderdate)::BIGINT AS o_year, " +
        "l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation " +
        "FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region " +
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
        "AND l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey " +
        "AND p_type = 'PROMO') " +
        "GROUP BY 1 ORDER BY 1"),

    // ───── TPC-H Q10 — returned-item reporting: top 20 customers by
    // revenue lost to returns in a quarter; the agg keys carry the
    // customer attributes so no second join is needed after the
    // aggregate ─────
    Query("q122_tpch_q10", { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate") < lit("1996-04-01").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        // per-row cent quantization BEFORE the sum: each product is the
        // same binary double in any engine, integer cent sums are exact
        // in any order — the rounded per-customer sum can otherwise land
        // on a half-cent whose HALF_UP (Spark, decimal-string) and
        // binary (DuckDB) roundings disagree
        .agg(round(sum(round(
            col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100,
          2).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      oracle = "SELECT c_custkey, c_name, " +
        "round(sum(round(l_extendedprice * (1 - l_discount) * 100)) / 100, 2) AS revenue, " +
        "c_acctbal, n_name " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    // ───── TPC-H Q12 shape — shipping-mode priority audit (no
    // l_shipmode/commitdate in the test schema: "slow" is shipdate
    // more than 30 days past the order date): per-linestatus counts of
    // critical vs non-critical order priorities among slow shipments ─────
    Query("q123_tpch_q12", { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },
      oracle = "SELECT l_linestatus, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 " +
        "ELSE 0 END)::BIGINT AS high_line_count, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 " +
        "ELSE 1 END)::BIGINT AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY " +
        "GROUP BY 1 ORDER BY 1"),

    // ───── TPC-H Q14 — promo revenue share for one ship-month: the
    // conditional-over-total ratio computed in ONE aggregate over the
    // BHJ'd part type ─────
    Query("q124_tpch_q14", { (s, dir) =>
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("date") &&
          col("l_shipdate") < lit("1996-10-01").cast("date"))
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", vol).otherwise(0.0)) / sum(vol),
          6).as("promo_revenue"))
    },
      oracle = "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / " +
        "sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'"),

    // ───── TPC-H Q15 — top supplier: quarterly revenue per supplier,
    // equality against the 1-row max (broadcast — the "view + scalar
    // subquery" of the spec). Revenue is 2dp-rounded BEFORE the max so
    // the equality compares identical values in any engine ─────
    Query("q125_tpch_q15", { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("_max_rev"))
      rev.join(broadcast(top), col("total_revenue") === col("_max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },
      oracle = "WITH revenue AS (SELECT l_suppkey, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue " +
        "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
        "AND l_shipdate < DATE '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue " +
        "FROM supplier JOIN revenue ON s_suppkey = l_suppkey " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue) " +
        "ORDER BY s_suppkey"),

    // ───── TPC-H Q17 shape — small-quantity-order revenue: per-part
    // 20%-of-average quantity threshold (correlated agg subquery) joined
    // back against the same brand slice; the threshold is 6dp-rounded so
    // the boundary predicate is engine-stable ─────
    Query("q126_tpch_q17", { (s, dir) =>
      val brandParts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val rel = t(s, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val thr = rel.groupBy(col("p_partkey").as("t_partkey"))
        .agg(round(avg(col("l_quantity")) * 0.2, 6).as("qty_thr"))
      rel.join(broadcast(thr), col("p_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_thr"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },
      oracle = "SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#23' " +
        "AND l_quantity < (SELECT round(avg(l2.l_quantity) * 0.2, 6) " +
        "FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"),

    // ───── TPC-H Q19 — disjunctive brand/size/quantity predicates: one
    // equi-join on partkey with the three-arm OR as a residual filter
    // (Catalyst keeps the BHJ; no cross product) ─────
    Query("q127_tpch_q19", { (s, dir) =>
      val arm = (brand: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#12", 5, 1, 11) || arm("Brand#23", 10, 10, 20) ||
          arm("Brand#20", 15, 20, 30))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    },
      oracle = "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 30)"),

    // ───── TPC-H Q21 shape — suppliers who kept orders waiting ("late" =
    // shipped >60 days after the order date; no receipt/commit dates in
    // the test schema). The double EXISTS/NOT-EXISTS is ONE per-order
    // aggregate (distinct suppliers, distinct LATE suppliers) joined back:
    // a late row qualifies iff the order is multi-supplier and this is
    // the only late supplier ─────
    Query("q128_tpch_q21", { (s, dir) =>
      // ONE lineitem scan + ONE wide shuffle on (order, supplier); the
      // double EXISTS/NOT-EXISTS becomes a per-pair aggregate (late flag
      // + late-row count) and a per-order WINDOW over those pairs — no
      // Expand-based distinct rewrite, no join-back, no second fact
      // scan; the window partition is bounded by suppliers-per-order
      val perSupp = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("supp_late"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late_rows"))
      val w = Window.partitionBy("l_orderkey")
      perSupp
        // both window aggs in ONE select → a single Window node (an
        // intermediate projection would block CollapseWindow)
        .select(col("*"), count(lit(1)).over(w).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).over(w).as("n_late"))
        .filter(col("supp_late") && col("n_supp") > 1 && col("n_late") === 1)
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum(col("n_late_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
      oracle = "SELECT s_name, count(*)::BIGINT AS numwait " +
        "FROM supplier, lineitem l1, orders " +
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey " +
        "AND o_orderstatus = 'F' " +
        "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"),

    // ───── TPC-H Q22 shape — rich inactive customers: global
    // positive-balance average (1-row broadcast threshold) + anti-join
    // against orders, grouped by market segment (the test schema's
    // stand-in for the phone country code) ─────
    Query("q129_tpch_q22", { (s, dir) =>
      val cust = t(s, dir, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(round(avg(col("c_acctbal")), 6).as("bal_thr"))
      cust.join(broadcast(thr)).filter(col("c_acctbal") > col("bal_thr"))
        // "inactive" = no orders in the trailing years of the generated
        // range (every test customer has SOME lifetime order)
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy("segment")
    },
      oracle = "SELECT c_mktsegment AS segment, count(*)::BIGINT AS numcust, " +
        "round(sum(c_acctbal), 2) AS totacctbal " +
        "FROM customer " +
        "WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer " +
        "WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= DATE '1999-01-01') " +
        "GROUP BY 1 ORDER BY 1"),

    // ───── TPC-H Q2 shape — min-cost supplier per part (no partsupp
    // table: the observed per-(part, supplier) mean unit price from
    // lineitem stands in for ps_supplycost). The correlated MIN subquery
    // is a per-part aggregate joined back on (part, cost); unit costs are
    // 2dp-rounded BEFORE the min so the equality is engine-stable ─────
    Query("q130_tpch_q2", { (s, dir) =>
      val cost = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_size") === 15).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(round(avg(col("l_extendedprice") / col("l_quantity")), 2)
          .as("unit_cost"))
      val minCost = cost.groupBy(col("p_partkey").as("m_partkey"))
        .agg(min(col("unit_cost")).as("min_cost"))
      val euroSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region")
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
      cost.join(minCost, col("p_partkey") === col("m_partkey") &&
          col("unit_cost") === col("min_cost"))
        .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
          "unit_cost")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      oracle = "WITH cost AS (SELECT p_partkey, p_brand, l_suppkey, " +
        "round(avg(l_extendedprice / l_quantity), 2) AS unit_cost " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_size = 15 GROUP BY 1, 2, 3) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost " +
        "FROM cost, supplier, nation, region " +
        "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND n_regionkey = r_regionkey AND r_name = 'EUROPE' " +
        "AND unit_cost = (SELECT min(c2.unit_cost) FROM cost c2 " +
        "WHERE c2.p_partkey = cost.p_partkey) " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),

    // ───── TPC-H Q11 shape — important stock: per-part inventory value
    // (lineitem revenue of one nation's suppliers stands in for
    // supplycost×availqty), kept where the part's share exceeds a fixed
    // fraction of the 1-row global total (broadcast scalar — the spec's
    // HAVING > SELECT sum(...)*fraction) ─────
    Query("q131_tpch_q11", { (s, dir) =>
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = t(s, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice")), 2).as("part_value"))
      val thr = value.agg(round(sum(col("part_value")) * 0.001, 6)
        .as("value_thr"))
      value.join(broadcast(thr)).filter(col("part_value") > col("value_thr"))
        .select("l_partkey", "part_value")
        .orderBy(col("part_value").desc, col("l_partkey"))
    },
      oracle = "WITH value AS (SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_5') " +
        "GROUP BY 1) " +
        "SELECT l_partkey, part_value FROM value " +
        "WHERE part_value > (SELECT round(sum(part_value) * 0.001, 6) FROM value) " +
        "ORDER BY part_value DESC, l_partkey"),

    // ───── TPC-H Q20 shape — suppliers with excess shipments: the
    // double-nested IN: parts named like '%red%' → per-(supplier, part)
    // 1996 volume vs half the part's total 1996 volume → suppliers with
    // any excess pair, restricted to one nation. Semi-join chain end to
    // end; the half-total threshold is a per-part aggregate broadcast
    // back (6dp-rounded, engine-stable) ─────
    Query("q132_tpch_q20", { (s, dir) =>
      val li96 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("red")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val perSupp = li96.groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("supp_qty"))
      val half = li96.groupBy(col("l_partkey").as("h_partkey"))
        .agg(round(sum(col("l_quantity")) * 0.5, 6).as("half_qty"))
      val excess = perSupp
        .join(half, col("l_partkey") === col("h_partkey"))
        .filter(col("supp_qty") > col("half_qty"))
        .select("l_suppkey")
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    },
      oracle = "WITH li96 AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem " +
        "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
        "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')), " +
        "ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty " +
        "FROM li96 GROUP BY 1, 2), " +
        "h AS (SELECT l_partkey, round(sum(l_quantity) * 0.5, 6) AS half_qty " +
        "FROM li96 GROUP BY 1) " +
        "SELECT s_name, s_acctbal FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' " +
        "AND s_suppkey IN (SELECT ps.l_suppkey FROM ps JOIN h " +
        "ON ps.l_partkey = h.l_partkey WHERE ps.supp_qty > h.half_qty) " +
        "ORDER BY s_name")
  )
}
