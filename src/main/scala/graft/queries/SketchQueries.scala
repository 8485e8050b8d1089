package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Sketches and profiling: HLL, count-min, KMV, q-digest, Merkle
  * digests and data-quality profiles. */
private[graft] object SketchQueries {

  def all: Seq[Query] = Seq(
    // ───── Profiling: one-pass per-column stats ─────
    Query("q45_profile", { (s, dir) =>
      Profile.numericProfile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy("col_name")
    },
      oracle = Seq("o_orderkey", "o_custkey", "o_totalprice").map { c =>
        s"SELECT '$c' AS col_name, count($c)::BIGINT AS n_non_null, " +
          s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null, " +
          s"count(DISTINCT $c)::BIGINT AS n_distinct, " +
          s"round(min($c)::DOUBLE, 6) AS min_v, round(max($c)::DOUBLE, 6) AS max_v, " +
          s"round(avg($c), 2) AS avg_v FROM orders"
      }.mkString("", " UNION ALL ", " ORDER BY col_name")),

    // ───── data-quality expectation gate (deequ-shaped): declarative
    // constraints in ONE aggregate pass, one report row per check; the
    // o_custkey range check fails by design so the report demonstrably
    // carries violations, not just green rows ─────
    Query("q105_quality_checks", { (s, dir) =>
      Profile.qualityChecks(t(s, dir, "orders"),
          minRows = 1000,
          uniqueKeys = Seq("o_orderkey"),
          notNullCols = Seq("o_custkey", "o_totalprice"),
          ranges = Map(
            "o_custkey" -> (0.0, 1000.0),      // violated: custkeys exceed 1000
            "o_totalprice" -> (0.0, 1000000.0)))
        .orderBy("chk")
    },
      oracle = "WITH a AS (SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nd, " +
        "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_c, " +
        "sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn_t, " +
        "sum(CASE WHEN o_custkey < 0 OR o_custkey > 1000 THEN 1 ELSE 0 END) AS rg_c, " +
        "sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS rg_t " +
        "FROM orders) " +
        "SELECT * FROM (" +
        "SELECT 'min_rows' AS chk, n::DOUBLE AS value, n >= 1000 AS pass FROM a " +
        "UNION ALL SELECT 'unique:o_orderkey', (n - nd)::DOUBLE, n = nd FROM a " +
        "UNION ALL SELECT 'not_null:o_custkey', nn_c::DOUBLE, nn_c = 0 FROM a " +
        "UNION ALL SELECT 'not_null:o_totalprice', nn_t::DOUBLE, nn_t = 0 FROM a " +
        "UNION ALL SELECT 'range:o_custkey', rg_c::DOUBLE, rg_c = 0 FROM a " +
        "UNION ALL SELECT 'range:o_totalprice', rg_t::DOUBLE, rg_t = 0 FROM a" +
        ") ORDER BY chk"),

    // ───── per-source corpus scorecard: doc count, mean token/char
    // length, language entropy — the feed-quality report behind mixing
    // weights; entropy folds per-lang counts in sorted order so the float
    // result is deterministic (no cross-partition double-sum ordering) ─────
    Query("q118_source_scorecard", { (s, dir) =>
      Profile.sourceScorecard(tb(s, dir, "documents"),
          "source", "lang", "text", "n_chars")
        .orderBy("source")
    },
      // mirrors sourceScorecard: exact integer means; entropy folded over
      // lang-ordered per-language terms (list_reduce ≡ the array fold)
      oracle = "WITH b AS (SELECT source, lang, len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS tok, " +
        "n_chars FROM documents), " +
        "sl AS (SELECT source, lang, count(*)::BIGINT AS c, sum(tok)::BIGINT AS t, " +
        "sum(n_chars)::BIGINT AS ch FROM b GROUP BY 1, 2), " +
        "s AS (SELECT source, sum(c)::BIGINT AS n_docs, sum(t)::BIGINT AS tok, " +
        "sum(ch)::BIGINT AS chars, " +
        "list_reduce(list_prepend(0.0, list(c * ln(c::DOUBLE) ORDER BY lang)), " +
        "(a, b) -> a + b) AS sclnc FROM sl GROUP BY 1) " +
        "SELECT source, n_docs, round(tok * 1.0 / n_docs, 6) AS mean_tok, " +
        "round(chars * 1.0 / n_docs, 6) AS mean_chars, " +
        "round(ln(n_docs::DOUBLE) - sclnc / n_docs, 6) AS lang_entropy " +
        "FROM s ORDER BY source"),

    // ───── deterministic HyperLogLog: per-type distinct user-days,
    // estimate vs exact — the mergeable-sketch path approx_count_distinct
    // can't oracle (its register encoding is engine-private); hash-derived
    // registers + a bucket-ordered finalization fold make this one
    // bit-reproducible on any engine ─────
    Query("q136_hll_distinct", { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("val",
        concat_ws(":", col("user_id"), date_format(col("ts"), "yyyy-MM-dd")))
      val est = Sketches.hllDistinct(ev, "event_type", col("val"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("val")).as("n_exact"))
      exact.join(est, Seq("event_type"))
        .withColumn("rel_err",
          round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 6))
        .orderBy("event_type")
    },
      // same 60-bit-hash registers, same bucket-ordered fold, same
      // small-range correction; 2^-r terms are exact doubles so the only
      // float care is the fold order (list() ORDER BY bucket)
      oracle = "WITH v AS (SELECT event_type, user_id::VARCHAR || ':' || " +
        "strftime(ts, '%Y-%m-%d') AS val FROM events), " +
        "d AS (SELECT DISTINCT event_type, val FROM v), " +
        "h AS (SELECT event_type, ('0x' || substr(md5(val), 1, 15))::BIGINT AS hh FROM d), " +
        "b AS (SELECT event_type, hh % 256 AS bucket, " +
        "CASE WHEN hh // 256 = 0 THEN 53 ELSE 53 - length(bin(hh // 256)) END AS rho FROM h), " +
        "r AS (SELECT event_type, bucket, max(rho) AS mr FROM b GROUP BY 1, 2), " +
        "s AS (SELECT event_type, count(*) AS n_present, " +
        "list_reduce(list_prepend(0.0, list(pow(2.0, -mr) ORDER BY bucket)), " +
        "(a, b) -> a + b) AS sum_present FROM r GROUP BY 1), " +
        "e AS (SELECT event_type, 256 - n_present AS v_zero, " +
        "(0.7213 / (1 + 1.079 / 256)) * 65536 / (sum_present + (256 - n_present)) AS e_raw FROM s), " +
        "x AS (SELECT event_type, count(DISTINCT val)::BIGINT AS n_exact FROM v GROUP BY 1) " +
        "SELECT x.event_type, x.n_exact, " +
        "round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) AS hll_est, " +
        "round(abs(round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) - n_exact) / n_exact, 6) AS rel_err " +
        "FROM x JOIN e ON x.event_type = e.event_type ORDER BY 1"),

    // ───── histogram quantile sketch: 1024 equal-width bins between the
    // global min/max, quantiles interpolated off the cumulative counts —
    // the fourth mergeable sketch (HLL, CMS, KMV, histogram), oracle-able
    // where percentile_approx's state is engine-private; reported beside
    // the exact interpolated percentile with abs_err ─────
    Query("q156_histogram_quantiles", { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ps = Seq(0.5, 0.9, 0.99)
      val est = Sketches.histogramQuantiles(li, col("l_extendedprice"), ps)
      val exact = li
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
          .as("exs"))
        .select(posexplode(col("exs")).as(Seq("i", "ex")))
        .select(element_at(lit(ps.toArray), col("i") + 1).as("p"),
          round(col("ex"), 6).as("exact"))
      est.join(exact, "p")
        .withColumn("abs_err", round(abs(col("hq_est") - col("exact")), 6))
        .orderBy("p")
    },
      // same 1024-bin grid + cumulative fold + interpolation arithmetic;
      // exact side is quantile_cont ≡ Spark's interpolated percentile()
      oracle = "WITH b AS (SELECT min(l_extendedprice)::DOUBLE AS lo, " +
        "max(l_extendedprice)::DOUBLE AS hi, count(*)::BIGINT AS n FROM lineitem), " +
        "bb AS (SELECT CASE WHEN b.hi = b.lo THEN 0 ELSE least(1023, " +
        "floor((l_extendedprice - b.lo) / ((b.hi - b.lo) / 1024))::INT) END AS bin " +
        "FROM lineitem, b), " +
        "c AS (SELECT bin, count(*)::BIGINT AS cnt FROM bb GROUP BY 1), " +
        "cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM c), " +
        "p AS (SELECT unnest([0.5, 0.9, 0.99]) AS p), " +
        "sel AS (SELECT p.p, b.lo, b.hi, b.n, min(cc.bin) AS bin " +
        "FROM p CROSS JOIN b CROSS JOIN cc " +
        "WHERE cc.cum >= p.p * b.n GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT s.p, round(CASE WHEN s.hi = s.lo THEN s.lo ELSE s.lo + " +
        "((s.hi - s.lo) / 1024) * (s.bin + (s.p * s.n - (cc.cum - cc.cnt)) / cc.cnt) " +
        "END, 6) AS hq_est FROM sel s JOIN cc ON cc.bin = s.bin), " +
        "x0 AS (SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS q1, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS q2, " +
        "round(quantile_cont(l_extendedprice, 0.99), 6) AS q3 FROM lineitem), " +
        "x AS (SELECT unnest([0.5, 0.9, 0.99]) AS p, " +
        "unnest([q1, q2, q3]) AS exact FROM x0) " +
        "SELECT f.p, f.hq_est, x.exact, round(abs(f.hq_est - x.exact), 6) " +
        "AS abs_err FROM f JOIN x USING (p) ORDER BY p"),

    // ───── count-min sketch heavy-hitter report: depth×width counter
    // grid (a ≤256-row hash-aggregate regardless of stream size, the
    // mergeable-sketch shape again), probed for the exact top-20 keys —
    // the one-sided estimator's overestimate is visible because width 64
    // < 150 distinct users forces collisions ─────
    Query("q144_cms_heavy_hitters", { (s, dir) =>
      val ev = t(s, dir, "events")
      val counters = Sketches.cmsCounters(ev, col("user_id"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
      Sketches.cmsEstimate(counters, top, "user_id")
        .withColumn("overest", col("cms_est") - col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },
      // same permute constants as Hashing.permute; counters then probes
      oracle = Oracles.cmsOracle),

    // ───── KMV (k-minimum-values) distinct sketch per event type plus
    // the merged '__all__' sketch — bottom-k per group runs on the
    // sort-free TopKPerKey operator (ascending = min-k, state k rows per
    // group); estimates land within ~1/√k of exact, reported as rel_err ─────
    Query("q145_kmv_distinct", { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"),
        concat_ws(":", col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd")).as("val"))
      val tagged = ev.unionByName(
        ev.select(lit("__all__").as("event_type"), col("val")))
      val sk = Sketches.kmvDistinct(tagged, "event_type", col("val"))
      val exact = tagged.groupBy("event_type")
        .agg(count_distinct(col("val")).as("exact_distinct"))
      sk.join(exact, "event_type")
        .withColumn("rel_err", round(
          abs(col("kmv_est") - col("exact_distinct")) /
            col("exact_distinct"), 6))
        .orderBy("event_type")
    },
      // bottom-64 distinct hashes per group; (k-1)*2^60/h_(k) estimator
      oracle = "WITH v AS (SELECT event_type, user_id::VARCHAR || ':' || " +
        "strftime(ts, '%Y-%m-%d') AS val FROM events), " +
        "a AS (SELECT * FROM v UNION ALL SELECT '__all__', val FROM v), " +
        "d AS (SELECT DISTINCT event_type, " +
        "('0x' || substr(md5(val), 1, 15))::BIGINT AS h FROM a), " +
        "r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY h) AS rn FROM d), " +
        "s AS (SELECT event_type, count(*)::BIGINT AS n_kept, max(h) AS kth " +
        "FROM r WHERE rn <= 64 GROUP BY 1), " +
        "x AS (SELECT event_type, count(DISTINCT val)::BIGINT AS exact_distinct " +
        "FROM a GROUP BY 1) " +
        "SELECT s.event_type, s.n_kept, " +
        "CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END AS kmv_est, " +
        "x.exact_distinct, " +
        "round(abs(CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END " +
        "- x.exact_distinct) / x.exact_distinct, 6) AS rel_err " +
        "FROM s JOIN x USING (event_type) ORDER BY event_type"),

    // ───── join-key skew pre-flight (`Profile.skewProfile`): per-key
    // count distribution + skew factor + named heavy hitters for three
    // representative keys — what an operator reads before choosing a
    // salting factor or trusting AQE's skew split ─────
    Query("q140_skew_profile", { (s, dir) =>
      Profile.skewProfile(t(s, dir, "events"), "user_id")
        .unionByName(Profile.skewProfile(t(s, dir, "lineitem"), "l_orderkey"))
        .unionByName(Profile.skewProfile(t(s, dir, "documents"), "source"))
        .orderBy("key_col")
    },
      // per key column: stats over the per-key count table + ordered
      // heavy-hitter agg (quantile_cont ≡ Spark's interpolating percentile)
      oracle = {
        val prof = (label: String, table: String, key: String) =>
          s"(WITH c AS (SELECT $key::VARCHAR AS k, count(*) AS cnt " +
            s"FROM $table GROUP BY 1), " +
            "s AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows, " +
            "max(cnt)::BIGINT AS max_cnt, round(quantile_cont(cnt, 0.99), 6) AS p99_cnt, " +
            "round(sum(cnt) * 1.0 / count(*), 6) AS mean_cnt, " +
            "round(max(cnt) / (sum(cnt) * 1.0 / count(*)), 6) AS skew_factor FROM c), " +
            "t AS (SELECT string_agg(k || ':' || cnt, ';' ORDER BY cnt DESC, k) AS top_keys " +
            "FROM (SELECT k, cnt FROM c ORDER BY cnt DESC, k LIMIT 5)) " +
            s"SELECT '$label' AS key_col, s.n_keys, s.n_rows, s.max_cnt, " +
            "s.p99_cnt, s.mean_cnt, s.skew_factor, t.top_keys FROM s, t)"
        prof("user_id", "events", "user_id") + " UNION ALL " +
          prof("l_orderkey", "lineitem", "l_orderkey") + " UNION ALL " +
          prof("source", "documents", "source") + " ORDER BY key_col"
      }),

    // ───── Benford first-digit audit: leading significant digit of
    // extended price vs log10(1+1/d) — digit from the STRING rendering
    // (float log10 of exact powers of ten misbuckets whole decades);
    // one codegen'd regexp projection + one ≤9-row agg ─────
    Query("q174_benford", { (s, dir) =>
      Profile.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")
    },
      // leading digit from the string rendering on both engines (the
      // scientific-notation mantissa digit IS the significant digit)
      oracle = "WITH d AS (SELECT regexp_extract(l_extendedprice::VARCHAR, '[1-9]') " +
        "AS ds FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_extendedprice <> 0), " +
        "c AS (SELECT ds::INT AS digit, count(*)::BIGINT AS n FROM d " +
        "WHERE ds <> '' GROUP BY 1), " +
        "e AS (SELECT digit, n, " +
        "round(n::DOUBLE / sum(n) OVER (), 6) AS obs_share, " +
        "round(log10(1 + 1.0 / digit), 6) AS benford_share FROM c), " +
        "f AS (SELECT digit, n, obs_share, benford_share, " +
        "round(abs(obs_share - benford_share), 6) AS abs_dev FROM e) " +
        "SELECT digit, n, obs_share, benford_share, abs_dev, " +
        "round(avg(abs_dev) OVER (), 6) AS mad_total FROM f ORDER BY digit"),

    // ───── KMV set algebra: distinct-user union/intersection estimates
    // between every event-type pair FROM THE SKETCHES ALONE (merged
    // bottom-k = the union's sketch; both-membership fraction = Jaccard)
    // beside the exact verify join — the mergeable-sketch payoff ─────
    Query("q187_kmv_setops", { (s, dir) =>
      Sketches.kmvSetOps(t(s, dir, "events"), "event_type", col("user_id"),
          k = 64)
        .orderBy("group_a", "group_b")
    },
      // bottom-64 per group, merged bottom-64 per pair, both-membership
      // fraction × the union estimate; exact side = one hash self-join
      oracle = "WITH d AS (SELECT DISTINCT event_type AS g, " +
        "('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h " +
        "FROM events), " +
        "r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) " +
        "AS rn FROM d), " +
        "sk AS (SELECT g, h FROM r WHERE rn <= 64), " +
        "gp AS (SELECT a.g AS ga, b.g AS gb FROM (SELECT DISTINCT g FROM sk) a " +
        "JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g), " +
        "mg AS (SELECT DISTINCT ga, gb, h FROM (" +
        "SELECT gp.ga, gp.gb, sk.h FROM gp JOIN sk ON sk.g = gp.ga " +
        "UNION ALL SELECT gp.ga, gp.gb, sk.h FROM gp JOIN sk ON sk.g = gp.gb)), " +
        "mr AS (SELECT ga, gb, h, row_number() OVER " +
        "(PARTITION BY ga, gb ORDER BY h) AS rn FROM mg), " +
        "mk AS (SELECT ga, gb, h FROM mr WHERE rn <= 64), " +
        "ag AS (SELECT mk.ga, mk.gb, count(*)::BIGINT AS n_kept, " +
        "max(mk.h) AS kth, sum(CASE WHEN sa.h IS NOT NULL " +
        "AND sb.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both " +
        "FROM mk LEFT JOIN sk sa ON sa.g = mk.ga AND sa.h = mk.h " +
        "LEFT JOIN sk sb ON sb.g = mk.gb AND sb.h = mk.h GROUP BY 1, 2), " +
        "est AS (SELECT ga, gb, CASE WHEN n_kept < 64 THEN n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END " +
        "AS union_est, CASE WHEN n_kept < 64 THEN n_both::DOUBLE " +
        "ELSE round(n_both / 64.0 * " +
        "(63 * 1152921504606846976::DOUBLE / kth::DOUBLE), 6) END " +
        "AS inter_est FROM ag), " +
        "nd AS (SELECT g, count(*)::BIGINT AS nd FROM d GROUP BY 1), " +
        "ix AS (SELECT x.g AS ga, y.g AS gb, count(*)::BIGINT AS exact_inter " +
        "FROM d x JOIN d y ON x.h = y.h AND x.g < y.g GROUP BY 1, 2) " +
        "SELECT est.ga AS group_a, est.gb AS group_b, na.nd AS n_a, " +
        "nb.nd AS n_b, union_est, inter_est, " +
        "(na.nd + nb.nd - coalesce(ix.exact_inter, 0))::BIGINT AS exact_union, " +
        "coalesce(ix.exact_inter, 0)::BIGINT AS exact_inter, " +
        "round(abs(union_est - (na.nd + nb.nd - coalesce(ix.exact_inter, 0))) " +
        "/ (na.nd + nb.nd - coalesce(ix.exact_inter, 0)), 6) AS union_rel_err, " +
        "CASE WHEN coalesce(ix.exact_inter, 0) > 0 THEN " +
        "round(abs(inter_est - coalesce(ix.exact_inter, 0)) " +
        "/ coalesce(ix.exact_inter, 0), 6) END AS inter_rel_err " +
        "FROM est JOIN nd na ON na.g = est.ga JOIN nd nb ON nb.g = est.gb " +
        "LEFT JOIN ix ON ix.ga = est.ga AND ix.gb = est.gb " +
        "ORDER BY group_a, group_b"),

    // ───── profile drift: the data-contract diff between the month's
    // halves — null-rate delta, distinct ratio, min/max/avg drift per
    // column; one aggregate pass per side ─────
    Query("q188_profile_diff", { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Profile.profileDiff(ev.filter(col("ts") < cut),
          ev.filter(col("ts") >= cut), Seq("value", "user_id"))
        .orderBy("col_name")
    },
      // per-column stats per half, joined on column name
      oracle = {
        def side(src: String, sfx: String) =
          Seq("value", "user_id").map { c =>
            s"SELECT '$c' AS col_name, count($c)::BIGINT AS n_$sfx, " +
              s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_$sfx, " +
              s"count(DISTINCT $c)::BIGINT AS nd_$sfx, " +
              s"round(min($c)::DOUBLE, 6) AS min_$sfx, " +
              s"round(max($c)::DOUBLE, 6) AS max_$sfx, " +
              s"round(avg($c), 2) AS avg_$sfx FROM $src"
          }.mkString("(", " UNION ALL ", ")")
        "WITH r0 AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'), " +
          "c0 AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'), " +
          s"pr AS ${side("r0", "ref")}, pc AS ${side("c0", "cur")} " +
          "SELECT col_name, n_ref, n_cur, " +
          "round(nn_ref::DOUBLE / (n_ref + nn_ref), 6) AS null_rate_ref, " +
          "round(nn_cur::DOUBLE / (n_cur + nn_cur), 6) AS null_rate_cur, " +
          "nd_ref AS n_distinct_ref, nd_cur AS n_distinct_cur, " +
          "CASE WHEN nd_ref > 0 THEN round(nd_cur::DOUBLE / nd_ref, 6) END " +
          "AS distinct_ratio, " +
          "min_ref, min_cur, max_ref, max_cur, avg_ref, avg_cur, " +
          "round(avg_cur - avg_ref, 2) AS avg_delta " +
          "FROM pr JOIN pc USING (col_name) ORDER BY col_name"
      }),

    // ───── fingerprint screen in front of q190's row diff: per-group
    // (count, XOR-of-row-hash) on both snapshots, 8 bytes per group
    // compared instead of any row — floats ride as decimal(18,2) per the
    // documented recipe (float→string rendering is engine-specific) ─────
    Query("q193_fingerprint_screen", { (s, dir) =>
      val o = t(s, dir, "orders")
      val ref = o
        .withColumn("price_d", col("o_totalprice").cast("decimal(18,2)"))
      // edits touch ONLY status-'O' rows: the screen must flag O and
      // clear F/P with equal (count, fingerprint) — 8 bytes per group
      // decide which groups need q190's row-level diff
      val cur = o
        .withColumn("price_d",
          when(col("o_orderstatus") === "O" && col("o_orderkey") % 3 === 0,
            col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).cast("decimal(18,2)"))
      val cols = Seq("o_orderkey", "o_custkey", "price_d", "o_orderpriority")
      val fr = Profile.tableFingerprint(ref, cols, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_rows").as("n_ref"),
          col("fingerprint").as("fp_ref"))
      val fc = Profile.tableFingerprint(cur, cols, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_rows").as("n_cur"),
          col("fingerprint").as("fp_cur"))
      fr.join(fc, Seq("o_orderstatus"), "full")
        .withColumn("equal", coalesce(
          col("n_ref") === col("n_cur") && col("fp_ref") === col("fp_cur"),
          lit(false)))
        .orderBy("o_orderstatus")
    },
      // same snapshot derivations; row hash = md5 over chr(31)-joined
      // strings with chr(1) null markers, XOR-folded per group
      oracle = {
        def fp(src: String, n: String, f: String) =
          s"SELECT o_orderstatus, count(*)::BIGINT AS $n, " +
            "bit_xor(('0x' || substr(md5(concat_ws(chr(31), " +
            "coalesce(o_orderkey::VARCHAR, chr(1)), " +
            "coalesce(o_custkey::VARCHAR, chr(1)), " +
            "coalesce(price_d::VARCHAR, chr(1)), " +
            "coalesce(o_orderpriority, chr(1)))), 1, 15))::BIGINT) " +
            s"AS $f FROM $src GROUP BY 1"
        "WITH r AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
          "o_totalprice::DECIMAL(18,2) AS price_d, o_orderpriority " +
          "FROM orders), " +
          "c AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
          "(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 3 = 0 " +
          "THEN o_totalprice + 10.0 ELSE o_totalprice END)::DECIMAL(18,2) " +
          "AS price_d, o_orderpriority FROM orders), " +
          s"fr AS (${fp("r", "n_ref", "fp_ref")}), " +
          s"fc AS (${fp("c", "n_cur", "fp_cur")}) " +
          "SELECT coalesce(fr.o_orderstatus, fc.o_orderstatus) AS o_orderstatus, " +
          "n_ref, fp_ref, n_cur, fp_cur, " +
          "coalesce(n_ref = n_cur AND fp_ref = fp_cur, FALSE) AS equal " +
          "FROM fr FULL JOIN fc ON fr.o_orderstatus = fc.o_orderstatus " +
          "ORDER BY 1"
      }),

    // ───── q-digest quantile sketch (Shrivastava 2004): prices
    // quantized by a FIXED power-of-two bin (exact float division) into
    // [0, 4096), exact leaf counts (the only data-scale pass), 12
    // level-synchronous compression rounds at tau = n/64, post-order
    // quantile read — the rank member completing the HLL/CMS/KMV
    // mergeable-sketch family, est-vs-exact per prob ─────
    Query("q325_qdigest", { (s, dir) =>
      val v = least(floor(col("l_extendedprice") / 32).cast("long"),
        lit(4095L))
      Sketches.qdigestQuantiles(
          t(s, dir, "lineitem").select(v.as("v")), col("v"),
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), levels = 12, k = 64)
        .orderBy("p")
    },
      oracle = Oracles.qdigest(12, 64, Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))),

    // ───── q-digest DIGEST-level merge: lineitem split 4 ways by
    // l_orderkey, each shard compressed into its OWN digest (shard
    // τ = n_s/k), merged by node-count addition + ONE re-compression at
    // the combined τ — the executor-ships-digests path; reported beside
    // the whole-corpus build so the parity (and any sharding drift) is
    // a released column, not a claim. ONE data-scale (shard, v)
    // hash-aggregate; shards, merge, whole build, and exact quantiles
    // all run driver-side on the ≤ 4·4096-row collected histogram ─────
    Query("q328_qdigest_merge", { (s, dir) =>
      Sketches.qdigestMergeReport(
          t(s, dir, "lineitem"),
          least(floor(col("l_extendedprice") / 32).cast("long"),
            lit(4095L)),
          col("l_orderkey") % 4,
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), levels = 12, k = 64)
        .orderBy("p")
    },
      // q328: Sketches.qdigestMergedQuantiles mirror + whole-build parity.
      // Each of `nShards` shards replays the q325 chained-CTE compression
      // with its OWN τ = n_s/k; the union of the shard digests sums counts
      // by node id and re-compresses ONCE at the combined τ (the same
      // round chain — nodes off the processed level ride along, so a
      // mixed-depth merged map compresses exactly like the Scala loop);
      // the whole-corpus build runs beside it and the parity lands in
      // merged_eq_whole. ~6·levels materialized CTEs, all ≤ 2^levels rows.
      oracle = {
        val levels: Int = 12
        val k: Int = 64
        val probs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
        val nShards: Int = 4
        val quantShardSql: String = "SELECT least(floor(l_extendedprice / 32)::BIGINT, 4095) AS v, " + "l_orderkey % 4 AS s FROM lineitem"
        val cap = 1L << levels
        // one compression chain: pfx names the node CTEs, tauCte the τ source.
        // Unlike the q325 pure-leaf chain, each round RE-AGGREGATES by id:
        // a mixed-depth map (the merged digest) can merge children into a
        // parent id that ALREADY holds a count — the Scala TreeMap adds into
        // it, so the SQL must too, or the node set carries a duplicate row
        // (right cum sums, wrong n_nodes)
        def rounds(pfx: String, tauCte: String): String =
          (levels to 1 by -1).map { l =>
            val lo = 1L << l
            val hi = 1L << (l + 1)
            s"r$pfx$l AS MATERIALIZED (SELECT id // 2 AS pid, " +
              s"sum(cnt)::BIGINT AS csum " +
              s"FROM $pfx$l WHERE id >= $lo AND id < $hi GROUP BY 1), " +
              s"$pfx${l - 1} AS MATERIALIZED (SELECT id, sum(cnt)::BIGINT " +
              "AS cnt FROM (" +
              s"SELECT id, cnt FROM $pfx$l WHERE id < $lo OR id >= $hi " +
              s"UNION ALL SELECT d.id, d.cnt FROM $pfx$l d JOIN r$pfx$l r " +
              s"ON d.id // 2 = r.pid WHERE d.id >= $lo AND d.id < $hi " +
              s"AND r.csum > (SELECT tau FROM $tauCte) " +
              s"UNION ALL SELECT r.pid AS id, r.csum AS cnt FROM r$pfx$l r " +
              s"WHERE r.csum <= (SELECT tau FROM $tauCte)) GROUP BY 1)"
          }.mkString(", ")
        val shardChains = (0 until nShards).map { s =>
          s"t_s$s AS MATERIALIZED (SELECT count(*)::BIGINT AS n, " +
            s"count(*) // $k AS tau FROM q WHERE s = $s), " +
            s"ds$s$levels AS MATERIALIZED (SELECT $cap + v AS id, " +
            s"count(*)::BIGINT AS cnt FROM q WHERE s = $s GROUP BY 1), " +
            rounds(s"ds$s", s"t_s$s")
        }.mkString(", ")
        val mergedUnion = (0 until nShards).map(s => s"SELECT id, cnt FROM ds${s}0")
          .mkString(" UNION ALL ")
        def spine(pfx: String, node0: String): String =
          s"sp$pfx AS (SELECT n0.id, n0.cnt, " +
            s"(1::BIGINT << ($levels - lv.d)) AS width, " +
            s"(n0.id + 1) * (1::BIGINT << ($levels - lv.d)) - $cap - 1 AS rgt " +
            s"FROM $node0 n0 JOIN lv ON n0.id >= lv.lo AND n0.id < lv.hi), " +
            s"c$pfx AS MATERIALIZED (SELECT rgt, width, cnt, sum(cnt) OVER " +
            s"(ORDER BY rgt, width ROWS UNBOUNDED PRECEDING) AS cum FROM sp$pfx)"
        def firstReach(cte: String): String =
          s"(SELECT $cte.rgt FROM $cte WHERE $cte.cum >= " +
            s"greatest(1, ceil(pr.p * tm.n)) " +
            s"ORDER BY $cte.rgt, $cte.width LIMIT 1)::BIGINT"
        val lvRows = (0 to levels)
          .map(d => s"($d, ${1L << d}::BIGINT, ${1L << (d + 1)}::BIGINT)")
          .mkString(", ")
        val pList = probs.map(p => s"$p::DOUBLE").mkString("[", ", ", "]")
        s"WITH q AS MATERIALIZED ($quantShardSql), " +
          s"tm AS MATERIALIZED (SELECT count(*)::BIGINT AS n, " +
          s"count(*) // $k AS tau FROM q), " +
          s"$shardChains, " +
          s"md$levels AS MATERIALIZED (SELECT id, sum(cnt)::BIGINT AS cnt " +
          s"FROM ($mergedUnion) GROUP BY 1), " +
          rounds("md", "tm") + ", " +
          "hw AS MATERIALIZED (SELECT v, count(*)::BIGINT AS cnt " +
          "FROM q GROUP BY 1), " +
          s"dw$levels AS MATERIALIZED (SELECT $cap + v AS id, cnt FROM hw), " +
          rounds("dw", "tm") + ", " +
          s"lv AS (SELECT * FROM (VALUES $lvRows) x(d, lo, hi)), " +
          spine("M", "md0") + ", " + spine("W", "dw0") + ", " +
          "hc AS MATERIALIZED (SELECT v, sum(cnt) OVER (ORDER BY v " +
          "ROWS UNBOUNDED PRECEDING) AS cum FROM hw), " +
          "nnm AS (SELECT count(*)::BIGINT AS n_nodes_merged FROM md0), " +
          "nnw AS (SELECT count(*)::BIGINT AS n_nodes_whole FROM dw0), " +
          s"pr AS (SELECT unnest($pList) AS p), " +
          "base AS (SELECT pr.p, tm.n, " +
          s"${firstReach("cM")} AS qd_merged, " +
          s"${firstReach("cW")} AS qd_whole, " +
          "(SELECT hc.v FROM hc WHERE hc.cum >= greatest(1, " +
          "ceil(pr.p * tm.n)) ORDER BY hc.v LIMIT 1)::BIGINT AS exact_q " +
          "FROM pr CROSS JOIN tm) " +
          "SELECT b.p, b.n, nnm.n_nodes_merged, nnw.n_nodes_whole, " +
          "b.qd_merged, b.qd_whole, b.exact_q, " +
          "(b.qd_merged - b.exact_q)::BIGINT AS err_merged, " +
          "(b.qd_merged = b.qd_whole)::INT AS merged_eq_whole " +
          "FROM base b CROSS JOIN nnm CROSS JOIN nnw ORDER BY p"
      }),

    // ───── Merkle dataset digest: rows → 4096 leaf buckets, each an
    // additive lattice-style multiset hash (8×32-bit limb sums of the
    // 256-bit sha2 row hash) built in ONE map-side-combinable
    // hash-agg, md5-combined pairwise up to the root driver-side
    // (bounded by the sketch param, the q328 posture). Version diff
    // descends only differing subtrees: equal roots end a 100 TB
    // audit in one digest comparison. Threat model in the scaladoc:
    // corruption/version-drift detection with k-sum margin, NOT an
    // authenticated (keyed) structure ─────
    Query("q333_merkle_digest", { (s, dir) =>
      Profile.merkleTree(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderpriority"),
          col("o_orderkey"), levels = 12)
        .orderBy("level", "idx")
    },
      // leaf buckets + 12 materialized pairwise-md5 rollup rounds
      oracle = Oracles.merkleDigest(12)),

    // ───── INCREMENTAL Merkle maintenance: a CDC-style delta feed
    // corrects the q333 tree by SUBTRACTING each changed row's OLD
    // limbs and ADDING its NEW limbs into its leaf (addition is
    // invertible — updates, inserts and deletes all maintain; one
    // pass over the DELTA only, the base is never re-scanned) + a
    // driver re-fold. The feed exercises all three verbs: mod-11/13
    // updates, mod-17 deletes, and fresh inserted keys. The oracle is
    // a FULL REBUILD over the updated table: all 8191 node digests
    // must agree, which is exactly the incremental-maintenance law ─────
    Query("q337_merkle_update", { (s, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
      val base = t(s, dir, "orders").select(cols.map(col): _*)
      val upd = col("o_orderkey") % 11 === 0 || col("o_orderkey") % 13 === 0
      val del = col("o_orderkey") % 17 === 0 && !upd
      val newRows = base.filter(upd)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("X-URGENT"))
            .otherwise(col("o_orderpriority")))
        .withColumn("o_custkey",
          when(col("o_orderkey") % 13 === 0, col("o_custkey") + 1)
            .otherwise(col("o_custkey")))
      val inserted = base.filter(col("o_orderkey") % 19 === 0)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_custkey"), lit("5-LOW").as("o_orderpriority"))
      val deltas = Profile.merkleLeafDeltas(
        deleted = base.filter(upd || del),
        inserted = newRows.unionByName(inserted),
        cols, col("o_orderkey"), levels = 12)
      Profile.merkleApplyDeltas(
          Profile.merkleLeaves(base, cols, col("o_orderkey"), levels = 12),
          deltas, levels = 12)
        .orderBy("level", "idx")
    },
      // the incremental update must equal a FULL REBUILD over the
      // updated table (mod-11/13 updates, mod-17 deletes, mod-19
      // inserts) — the oracle IS the rebuild
      oracle = Oracles.merkleDigest(12,
        table = "(SELECT o_orderkey, " +
          "CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1 " +
          "ELSE o_custkey END AS o_custkey, " +
          "CASE WHEN o_orderkey % 11 = 0 THEN 'X-URGENT' " +
          "ELSE o_orderpriority END AS o_orderpriority FROM orders " +
          "WHERE NOT (o_orderkey % 17 = 0 AND o_orderkey % 11 <> 0 " +
          "AND o_orderkey % 13 <> 0) " +
          "UNION ALL SELECT o_orderkey + 10000000, o_custkey, '5-LOW' " +
          "FROM orders WHERE o_orderkey % 19 = 0) u"))
  )
}
