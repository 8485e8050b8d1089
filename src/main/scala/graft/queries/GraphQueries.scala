package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Graph operators over the customer/supplier/part graphs: PageRank,
  * HITS, BFS, k-core, triangles and link prediction. */
private[graft] object GraphQueries {

  def all: Seq[Query] = Seq(
    // ───── PageRank over the bipartite customer↔supplier trade graph
    // (who-buys-from-whom, symmetric): 5 fixed iterations of
    // Graph.pageRank — the weighted-propagation sibling of the CC
    // iteration; per-iteration 9dp rounding keeps the float fold
    // engine-identical so the full iterative computation hash-matches ─────
    Query("q133_pagerank", { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("id").as("node_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node_id"))
        .limit(100)
    },
      // the 5 PageRank iterations unrolled as CTEs (recursive CTEs can't
      // re-aggregate per level); per-level round(…, 9) mirrors the Spark side
      oracle = {
        val step = (k: Int) =>
          s"r$k AS (SELECT e.dst AS id, round(0.15 + 0.85 * " +
            s"sum(r.rank / d.outdeg), 9) AS rank FROM e " +
            s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
            "GROUP BY 1), "
        "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
          "1000000 + l_suppkey AS supp FROM orders " +
          "JOIN lineitem ON o_orderkey = l_orderkey), " +
          "e AS (SELECT cust AS src, supp AS dst FROM rel " +
          "UNION ALL SELECT supp, cust FROM rel), " +
          "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
          "r0 AS (SELECT DISTINCT src AS id, 1.0 AS rank FROM e), " +
          (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
          "SELECT id AS node_id, round(rank, 6) AS rank FROM r5 " +
          "ORDER BY rank DESC, node_id LIMIT 100"
      }),

    // ───── k-core peel over the part co-purchase graph: 3 delete-rounds
    // of degree-<4 nodes — dense-community extraction, the fifth member
    // of the iterative-graph family ─────
    Query("q155_kcore", { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.kCore(pairs, "a", "b", k = 4, rounds = 3)
        .orderBy("node")
    },
      // 3 unrolled peel rounds (degree < 4 deleted with its edges)
      oracle = {
        val peel = (r: Int) =>
          s"k$r AS (SELECT src FROM s${r - 1} GROUP BY src HAVING count(*) >= 4), " +
            s"s$r AS (SELECT s.src, s.dst FROM s${r - 1} s " +
            s"JOIN k$r x ON s.src = x.src JOIN k$r y ON s.dst = y.src), "
        "WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
          "GROUP BY 1, 2), " +
          "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
          "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
          "s0 AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
          (1 to 3).map(peel).mkString.stripSuffix(", ") + " " +
          "SELECT src AS node, count(*)::BIGINT AS deg FROM s3 " +
          "GROUP BY 1 ORDER BY 1"
      }),

    // ───── multi-source BFS over the bipartite trade graph: hop
    // distance from the seed suppliers, frontier capped at 3 rounds —
    // fourth member of the iterative-graph family (reachability =
    // CC, centrality = PR, structure = LPA, distance = BFS) ─────
    Query("q147_bfs_distances", { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") % 10 === 0)
        .select((col("s_suppkey") + 1000000L).as("id"))
      Graph.bfsDistances(edges, "src", "dst", seeds, "id", maxHops = 3)
        .orderBy("id")
    },
      // 3 unrolled min-merge rounds from the seed suppliers
      oracle = {
        val step = (k: Int) =>
          s"d$k AS (SELECT id, min(dist) AS dist FROM (" +
            s"SELECT * FROM d${k - 1} UNION ALL " +
            s"SELECT e.dst, d.dist + 1 FROM e JOIN d${k - 1} d ON d.id = e.src) " +
            "GROUP BY 1), "
        "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
          "1000000 + l_suppkey AS supp FROM orders " +
          "JOIN lineitem ON o_orderkey = l_orderkey), " +
          "e AS (SELECT cust AS src, supp AS dst FROM rel " +
          "UNION ALL SELECT supp, cust FROM rel), " +
          "d0 AS (SELECT 1000000 + s_suppkey AS id, 0 AS dist FROM supplier " +
          "WHERE s_suppkey % 10 = 0), " +
          (1 to 3).map(step).mkString.stripSuffix(", ") + " " +
          "SELECT id, dist::BIGINT AS dist FROM d3 ORDER BY id"
      }),

    // ───── triangle scorecard over the part co-purchase graph (parts
    // co-ordered ≥2 times): degree-ordered orientation keeps wedge
    // fan-out off the hot keys — the power-law survival trick ─────
    Query("q148_triangles", { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.triangleStats(pairs, "a", "b")
    },
      // id-ordered triangle enumeration ≡ the degree-oriented count (both
      // enumerate each triangle exactly once)
      oracle = "WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
        "GROUP BY 1, 2), " +
        "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "d AS (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e0 " +
        "UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "tri AS (SELECT count(*)::BIGINT AS n_triangles FROM e0 x " +
        "JOIN e0 y ON x.a = y.a AND x.b < y.b " +
        "JOIN e0 z ON z.a = x.b AND z.b = y.b), " +
        "ns AS (SELECT count(*)::BIGINT AS n_nodes, " +
        "sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges FROM d), " +
        "es AS (SELECT count(*)::BIGINT AS n_edges FROM e0) " +
        "SELECT ns.n_nodes, es.n_edges, ns.n_wedges, tri.n_triangles, " +
        "round(3.0 * tri.n_triangles / ns.n_wedges, 6) AS global_clustering " +
        "FROM ns, es, tri"),

    Query("q143_label_propagation", { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      Graph.labelPropagation(edges, "src", "dst", iterations = 4)
        .groupBy("label")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("label")
    },
      // 4 unrolled LPA rounds; the (count DESC, label) tie-break mirrors
      // the Spark window exactly
      oracle = {
        val step = (k: Int) =>
          s"l$k AS (SELECT dst AS id, label FROM (" +
            "SELECT e.dst, l.label, count(*) AS n, " +
            "row_number() OVER (PARTITION BY e.dst " +
            "ORDER BY count(*) DESC, l.label) AS rn " +
            s"FROM e JOIN l${k - 1} l ON l.id = e.src GROUP BY e.dst, l.label) " +
            "WHERE rn = 1), "
        "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
          "1000000 + l_suppkey AS supp FROM orders " +
          "JOIN lineitem ON o_orderkey = l_orderkey), " +
          "e AS (SELECT cust AS src, supp AS dst FROM rel " +
          "UNION ALL SELECT supp, cust FROM rel), " +
          "l0 AS (SELECT DISTINCT src AS id, src AS label FROM e), " +
          (1 to 4).map(step).mkString.stripSuffix(", ") + " " +
          "SELECT label, count(*)::BIGINT AS n_members FROM l4 " +
          "GROUP BY 1 ORDER BY 1"
      }),

    // ───── HITS hubs/authorities over the DIRECTED customer→supplier
    // trade graph — PageRank's dual-score sibling (q133 ranks the
    // symmetrized graph; HITS separates "buys broadly" from "supplies
    // broadly"); 4 max-normalized iterations, 9dp-rounded per round ─────
    Query("q197_hits", { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      Graph.hits(rel, "src", "dst", iterations = 4)
        .select(col("id").as("node_id"),
          round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node_id")
    },
      // HITS over the directed customer→supplier graph, 4 unrolled
      // max-normalized iterations mirroring `Graph.hits` step for step:
      // h₁ = outdeg (Σ of the all-ones authority init), every score
      // round(x/max, 9) per round, 6dp on output. Every CTE is
      // MATERIALIZED: DuckDB inlines a plain CTE at each reference, and each
      // round reads the one before it several times, so the inlined chain
      // re-ran the earlier rounds over and over (718 s at sf0.01 on two
      // DuckDB threads, 0.6 s materialized, the same 1600 rows).
      oracle = {
        val iters = 4
        val sb = new StringBuilder
        sb ++= "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src, " +
          "l_suppkey + 1000000 AS dst FROM orders " +
          "JOIN lineitem ON o_orderkey = l_orderkey), " +
          "h1r AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS h FROM e GROUP BY 1), " +
          "h1 AS MATERIALIZED (SELECT src AS id, round(h / (SELECT max(h) FROM h1r), 9) " +
          "AS h FROM h1r), " +
          "a1r AS MATERIALIZED (SELECT dst, sum(h1.h) AS a FROM e " +
          "JOIN h1 ON e.src = h1.id GROUP BY 1), " +
          "a1 AS MATERIALIZED (SELECT dst AS id, round(a / (SELECT max(a) FROM a1r), 9) " +
          "AS a FROM a1r)"
        for (i <- 2 to iters) {
          sb ++= s", h${i}r AS MATERIALIZED (SELECT src, sum(a${i - 1}.a) AS h FROM e " +
            s"JOIN a${i - 1} ON e.dst = a${i - 1}.id GROUP BY 1)"
          sb ++= s", h$i AS MATERIALIZED (SELECT src AS id, " +
            s"round(h / (SELECT max(h) FROM h${i}r), 9) AS h FROM h${i}r)"
          sb ++= s", a${i}r AS MATERIALIZED (SELECT dst, sum(h$i.h) AS a FROM e " +
            s"JOIN h$i ON e.src = h$i.id GROUP BY 1)"
          sb ++= s", a$i AS MATERIALIZED (SELECT dst AS id, " +
            s"round(a / (SELECT max(a) FROM a${i}r), 9) AS a FROM a${i}r)"
        }
        sb ++= s" SELECT coalesce(h$iters.id, a$iters.id) AS node_id, " +
          s"round(coalesce(h$iters.h, 0), 6) AS hub, " +
          s"round(coalesce(a$iters.a, 0), 6) AS authority " +
          s"FROM h$iters FULL JOIN a$iters ON h$iters.id = a$iters.id " +
          "ORDER BY node_id"
        sb.toString
      }),

    // ───── personalized PageRank: restarts pinned to nation-1 customers
    // — rank measures proximity to the seed cohort through the symmetric
    // trade graph, not global centrality (q133's complement) ─────
    Query("q205_ppr", { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 1).select(col("c_custkey").as("id"))
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "id",
          iterations = 5)
        .select(col("id").as("node_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node_id"))
        .limit(100)
    },
      // q133's unrolled CTE ladder with restart mass pinned to the seed
      // table: rank_k = 0.15·1_seed + 0.85·Σ contribs, full join per round
      oracle = {
        val step = (k: Int) =>
          s"c$k AS (SELECT e.dst AS id, sum(r.rank / d.outdeg) AS c FROM e " +
            s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
            "GROUP BY 1), " +
            s"r$k AS (SELECT coalesce(c$k.id, sb.id) AS id, " +
            s"round(coalesce(sb.base, 0) + 0.85 * coalesce(c$k.c, 0), 9) AS rank " +
            s"FROM c$k FULL JOIN sb ON c$k.id = sb.id), "
        "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
          "1000000 + l_suppkey AS supp FROM orders " +
          "JOIN lineitem ON o_orderkey = l_orderkey), " +
          "e AS (SELECT cust AS src, supp AS dst FROM rel " +
          "UNION ALL SELECT supp, cust FROM rel), " +
          "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
          "sb AS (SELECT DISTINCT c_custkey AS id, 0.15 AS base " +
          "FROM customer WHERE c_nationkey = 1), " +
          "r0 AS (SELECT id, 1.0 AS rank FROM sb), " +
          (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
          "SELECT id AS node_id, round(rank, 6) AS rank FROM r5 " +
          "ORDER BY rank DESC, node_id LIMIT 100"
      }),

    // ───── Adamic–Adar link prediction over the supplier side of the
    // trade graph: supplier pairs sharing low-degree customers, scored
    // Σ 1/ln(deg) — rare shared customers weigh more; degree cap 15
    // prunes the dense-hub customers that carry ~0 signal ─────
    Query("q213_adamic_adar", { (s, dir) =>
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      Graph.adamicAdar(e, "supp", "cust", maxDegree = 15, minCommon = 2)
        .orderBy("id_a", "id_b")
    },
      // capped-degree incidence self-join; a shared neighbor implies
      // deg >= 2 so ln(deg) is never 0
      oracle = "WITH e AS (SELECT DISTINCT l_suppkey AS l, o_custkey AS r " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "d AS (SELECT r, count(*)::BIGINT AS deg FROM e GROUP BY 1 " +
        "HAVING count(*) <= 15), " +
        "k AS (SELECT e.l, e.r, d.deg FROM e JOIN d USING (r)) " +
        "SELECT x.l AS id_a, y.l AS id_b, count(*)::BIGINT AS common, " +
        "round(sum(1.0::DOUBLE / ln(x.deg)), 6) AS aa " +
        "FROM k x JOIN k y ON x.r = y.r AND x.l < y.l " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b"),

    // ───── per-node local clustering coefficient on q148's part
    // co-purchase graph: 2T(v)/(deg(deg−1)) — tight-community / bot-ring
    // node feature; triangles credit all three corners via one explode
    // over the degree-oriented closed wedges ─────
    Query("q214_local_clustering", { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.localClustering(pairs, "a", "b")
        .orderBy("node_id")
    },
      // q148's co-purchase edges; canonical a<b<c triangle enumeration,
      // three corner credits each — triangle counts are exact integers so
      // the oracle need not mirror the degree-oriented generation order
      oracle = "WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
        "GROUP BY 1, 2), " +
        "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "d AS (SELECT n, count(*)::BIGINT AS deg FROM (SELECT a AS n FROM e0 " +
        "UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "tri AS (SELECT x.a AS u, x.b AS v, y.b AS w FROM e0 x " +
        "JOIN e0 y ON x.a = y.a AND x.b < y.b " +
        "JOIN e0 z ON z.a = x.b AND z.b = y.b), " +
        "tn AS (SELECT n, count(*)::BIGINT AS n_tri FROM (" +
        "SELECT u AS n FROM tri UNION ALL SELECT v FROM tri " +
        "UNION ALL SELECT w FROM tri) GROUP BY 1) " +
        "SELECT d.n AS node_id, d.deg, coalesce(tn.n_tri, 0)::BIGINT AS n_tri, " +
        "CASE WHEN d.deg >= 2 THEN round(2.0 * coalesce(tn.n_tri, 0) / " +
        "(d.deg * (d.deg - 1)), 6) END AS lcc " +
        "FROM d LEFT JOIN tn ON d.n = tn.n ORDER BY node_id"),

    // ───── Web link graph end to end: synthesized pages → href
    // extraction (Html.hrefs) → distinct domain edges → pageRank over
    // the 20-domain graph — raw-scrape graph analytics as ONE
    // declarative plan (the q133 engine on q255's extraction) ─────
    Query("q270_link_graph", { (s, dir) =>
      val t1 = concat(lit("src"), pmod(col("doc_id") + 1, lit(20)).cast("string"))
      val t2 = concat(lit("src"), pmod(col("doc_id") + 5, lit(20)).cast("string"))
      val html = concat(
        lit("<html><body><a href=\"/s/"), col("source"),
        lit("\">self</a><a href=\"/s/"), t1, lit("\">next</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href=\"/s/"), t2, lit("\">also</a>")))
          .otherwise(lit("")),
        lit("</body></html>"))
      val edges = t(s, dir, "documents")
        .select(col("source").as("src"), html.as("_h"))
        .select(col("src"), explode(Html.hrefs(col("_h"))).as("_href"))
        .select(col("src"),
          regexp_extract(col("_href"), "^/s/(.*)$", 1).as("dst"))
        .filter(col("dst") =!= col("src") && col("dst") =!= "")
        .distinct()
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("id").as("domain"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("domain"))
    },
      // same page synthesis + href regex + the q133 unrolled-step chain
      oracle = {
        val step = (k: Int) =>
          s"r$k AS (SELECT e.dst AS id, round(0.15 + 0.85 * " +
            s"sum(r.rank / d.outdeg), 9) AS rank FROM e " +
            s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
            "GROUP BY 1), "
        "WITH h AS (SELECT doc_id, source, '<html><body><a href=\"/s/' || " +
          "source || '\">self</a><a href=\"/s/src' || ((doc_id + 1) % 20) || " +
          "'\">next</a>' || CASE WHEN doc_id % 2 = 0 THEN " +
          "'<a href=\"/s/src' || ((doc_id + 5) % 20) || '\">also</a>' " +
          "ELSE '' END || '</body></html>' AS html FROM documents), " +
          "x AS (SELECT source AS src, unnest(regexp_extract_all(html, " +
          "'(?i)<a\\b[^>]*href=\"([^\"]*)\"', 1)) AS href FROM h), " +
          "e AS (SELECT DISTINCT src, regexp_extract(href, '^/s/(.*)$', 1) " +
          "AS dst FROM x WHERE regexp_extract(href, '^/s/(.*)$', 1) <> src " +
          "AND regexp_extract(href, '^/s/(.*)$', 1) <> ''), " +
          "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
          "r0 AS (SELECT DISTINCT src AS id, 1.0::DOUBLE AS rank FROM e), " +
          (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
          "SELECT id AS domain, round(rank, 6) AS rank FROM r5 " +
          "ORDER BY rank DESC, domain"
      })
  )
}
