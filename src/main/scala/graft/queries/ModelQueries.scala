package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Statistical models and privacy: classifiers, calibration,
  * drift and agreement statistics, and anonymity/DP releases. */
private[graft] object ModelQueries {

  def all: Seq[Query] = Seq(
    // ───── trained quality classifier: logistic regression fit on the
    // corpus by 3 lazily-unrolled full-batch GD steps (each step = one
    // map-side-combinable average + a 1-row broadcast re-entry; no
    // driver collect), then every doc scored — the model-based corpus
    // filter slot (fastText-classifier shape) beside the heuristic q20.
    // Label: lang='en'; features: en-stopword ratio, punct ratio,
    // saturating length ─────
    Query("q163_logreg_quality", { (s, dir) =>
      scoredDocsQuality(s, dir)
        .select(col("doc_id"), col("y"), col("prob"), col("pred"))
        .orderBy("doc_id")
    },
      // the 3 GD steps unrolled as CTEs g1→g2→g3, each re-reading the
      // feature CTE with the previous 1-row weights cross-joined — the
      // identical formulation (min() over the constant weight columns, the
      // same left-assoc z), so both engines walk the same float path
      oracle = Oracles.logregScoredCte + " SELECT doc_id, y, prob, prob >= 0.5 AS pred " +
        "FROM scored ORDER BY doc_id"),

    // ───── per-key OLS trend: slope/intercept/corr of event value over
    // time per event type — drift detection as one hash-aggregate whose
    // shuffle carries (key, moments) only. x is re-based to days since
    // the window start: centering keeps var_pop cancellation-free at
    // 100 TB row counts ─────
    Query("q164_trend", { (s, dir) =>
      val x = (col("ts").cast("double") - lit(1704067200.0)) / lit(86400.0)
      Models.linearTrend(t(s, dir, "events"), Seq("event_type"),
          x, col("value"))
        .orderBy("event_type")
    },
      // Per-event-type OLS trend (mirrors `Models.linearTrend`): the same
      // covar_pop/var_pop/corr moment formulation over x re-based to days
      // since the window start; DuckDB's epoch() keeps microseconds as a
      // fractional double exactly like Spark's timestamp→double cast.
      oracle = "WITH p AS (SELECT event_type, " +
        "(epoch(ts) - 1704067200.0)/86400.0 AS x, value AS v FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL) " +
        "SELECT event_type, count(*)::BIGINT AS n, " +
        "round(covar_pop(x, v)/var_pop(x), 6) AS slope, " +
        "round(avg(v) - (covar_pop(x, v)/var_pop(x))*avg(x), 6) AS intercept, " +
        "round(covar_pop(x, v)/sqrt(var_pop(x)*var_pop(v)), 6) AS r " +
        "FROM p GROUP BY 1 ORDER BY 1"),

    // ───── χ² independence test: is document language independent of
    // source? One hash-agg collapses the corpus to the contingency table;
    // margins/totals are windows over that ≤|A|·|B|-row frame ─────
    Query("q168_chisq", { (s, dir) =>
      Models.chiSquareIndependence(t(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")
    },
      // full margin cross grid (zero-observed cells carry χ² mass too);
      // expected = exact integer margin product cast to DOUBLE before the
      // divide (matches Spark's long·long/long); dof via scalar subqueries
      oracle = "WITH c AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS observed " +
        "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "rm AS (SELECT a, sum(observed)::BIGINT AS ra FROM c GROUP BY 1), " +
        "cm AS (SELECT b, sum(observed)::BIGINT AS cb FROM c GROUP BY 1), " +
        "g AS (SELECT rm.a, cm.b, coalesce(c.observed, 0)::BIGINT AS observed, " +
        "round((ra * cb)::DOUBLE / (SELECT sum(observed) FROM c)::DOUBLE, 6) " +
        "AS expected FROM rm CROSS JOIN cm " +
        "LEFT JOIN c ON c.a = rm.a AND c.b = cm.b), " +
        "f AS (SELECT a, b, observed, expected, " +
        "round(power(observed - expected, 2) / expected, 6) AS contrib FROM g) " +
        "SELECT a, b, observed, expected, contrib, " +
        "round(sum(contrib) OVER (), 6) AS chi2, " +
        "(((SELECT count(DISTINCT a) FROM c) - 1) " +
        "* ((SELECT count(DISTINCT b) FROM c) - 1))::BIGINT AS dof " +
        "FROM f ORDER BY a, b"),

    // ───── weight-of-evidence / information value: account balance
    // binned equal-width ×10 against the has-any-order label — the
    // feature-screening transform of a training pipeline; smoothing keeps
    // empty bin sides finite on both engines ─────
    Query("q169_woe_iv", { (s, dir) =>
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
        .distinct().withColumn("_has", lit(true))
      val f = t(s, dir, "customer").join(buyers, Seq("c_custkey"), "left")
        .withColumn("label", coalesce(col("_has"), lit(false)))
      Models.woeIv(f, "c_acctbal", "label", nBins = 10)
        .orderBy("bin")
    },
      // equal-width 10-bin WOE with Laplace ½-smoothing; label = customer
      // placed ≥1 order
      oracle = "WITH f AS (SELECT c_acctbal::DOUBLE AS f, " +
        "(o.ck IS NOT NULL) AS y FROM customer LEFT JOIN " +
        "(SELECT DISTINCT o_custkey AS ck FROM orders) o ON c_custkey = o.ck " +
        "WHERE c_acctbal IS NOT NULL), " +
        "b AS (SELECT min(f) AS lo, max(f) AS hi FROM f), " +
        "bn AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, " +
        "floor((f - lo) / ((hi - lo) / 10)))::INT END AS bin, " +
        "lo, (hi - lo) / 10 AS w, y FROM f CROSS JOIN b), " +
        "p AS (SELECT bin, round(lo + bin * w, 6) AS bin_lo, " +
        "count(*)::BIGINT AS n, " +
        "sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos, " +
        "sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n_neg " +
        "FROM bn GROUP BY 1, 2), " +
        "q AS (SELECT bin, bin_lo, n, n_pos, n_neg, " +
        "(n_pos + 0.5) / (sum(n_pos) OVER () + 0.5 * count(*) OVER ()) AS pr, " +
        "(n_neg + 0.5) / (sum(n_neg) OVER () + 0.5 * count(*) OVER ()) AS nr " +
        "FROM p) " +
        "SELECT bin, bin_lo, n, n_pos, n_neg, round(ln(pr / nr), 6) AS woe, " +
        "round((pr - nr) * ln(pr / nr), 6) AS iv_contrib, " +
        "round(sum(round((pr - nr) * ln(pr / nr), 6)) OVER (), 6) AS iv " +
        "FROM q ORDER BY bin"),

    // ───── Kaplan–Meier survival: user churn over first→last activity
    // span, right-censored at the corpus horizon (active within the last
    // 7 days = still alive, "survived ≥ t" not "churned at t") — one
    // hash-agg to the duration grid, suffix-sum at-risk window, running
    // exp-sum-ln product ─────
    Query("q172_survival", { (s, dir) =>
      // subject = (user, event_type) activity stream — the per-user span
      // collapses to 3 distinct durations (everyone is active all month);
      // the per-stream grain spreads the curve over ~19 steps
      val u = t(s, dir, "events").groupBy("user_id", "event_type")
        .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
      val horizon = u.agg(max(col("l")).as("m"))
      val subjects = u.crossJoin(broadcast(horizon))
        .select(datediff(col("l"), col("f")).as("dur"),
          (col("l") < date_sub(col("m"), 7)).as("churned"))
      Models.kaplanMeier(subjects, "dur", "churned")
        .orderBy("t")
    },
      // duration grid + suffix-sum at-risk + exp-sum-ln running product;
      // the d = n_risk arm pinned to exactly 0 on both engines
      oracle = "WITH u AS (SELECT user_id, event_type, min(ts::DATE) AS f, " +
        "max(ts::DATE) AS l FROM events GROUP BY 1, 2), " +
        "mx AS (SELECT max(l) AS m FROM u), " +
        "s AS (SELECT date_diff('day', f, l) AS t, (l < m - 7) AS e " +
        "FROM u CROSS JOIN mx), " +
        "g AS (SELECT t, count(*)::BIGINT AS n_subjects, " +
        "sum(CASE WHEN e THEN 1 ELSE 0 END)::BIGINT AS d FROM s GROUP BY 1), " +
        "r AS (SELECT t, n_subjects, d, sum(n_subjects) OVER " +
        "(ORDER BY t DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk FROM g) " +
        "SELECT t, n_subjects, d, n_risk, " +
        "CASE WHEN min(n_risk - d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) > 0 " +
        "THEN round(exp(sum(CASE WHEN d < n_risk " +
        "THEN ln(1 - d::DOUBLE / n_risk) END) OVER " +
        "(ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) ELSE 0.0 END AS survival " +
        "FROM r ORDER BY t"),

    // ───── Welch two-sample t-test: deterministic hash-split A/B arms
    // over event value — ONE conditional-moment hash-agg, six doubles
    // cross the wire at any scale ─────
    Query("q176_ab_test", { (s, dir) =>
      val arm = pmod(Hashing.hash60(col("user_id").cast("string")), lit(2L))
        .cast("int").as("arm")
      Models.welchTTest(t(s, dir, "events").select(arm, col("value")),
        "arm", "value")
    },
      // hash60 % 2 arm split (bit-identical to Spark's pmod(hash60, 2));
      // one conditional-moment aggregate, Welch–Satterthwaite df
      oracle = "WITH e AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))" +
        "::BIGINT % 2 AS arm, value AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "a AS (SELECT count(CASE WHEN arm = 0 THEN 1 END)::BIGINT AS n_a, " +
        "count(CASE WHEN arm = 1 THEN 1 END)::BIGINT AS n_b, " +
        "avg(CASE WHEN arm = 0 THEN v END) AS ma, " +
        "avg(CASE WHEN arm = 1 THEN v END) AS mb, " +
        "var_samp(CASE WHEN arm = 0 THEN v END) AS va, " +
        "var_samp(CASE WHEN arm = 1 THEN v END) AS vb FROM e) " +
        "SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, " +
        "round(va, 6) AS var_a, round(vb, 6) AS var_b, " +
        "round((ma - mb) / sqrt(va/n_a + vb/n_b), 6) AS t_stat, " +
        "round(power(va/n_a + vb/n_b, 2) / " +
        "(power(va/n_a, 2)/(n_a - 1) + power(vb/n_b, 2)/(n_b - 1)), 6) " +
        "AS df_welch, " +
        "(round(abs((ma - mb) / sqrt(va/n_a + vb/n_b)), 6) >= 1.96) " +
        "AS significant FROM a"),

    // ───── calibration report for the trained quality classifier:
    // SCORE-QUANTILE deciles (the 3-step model's probs span ~0.03 —
    // fixed [0,1] bins would collapse to one row), per-bin mean prob vs
    // observed positive rate + global Brier — pos_rate tracking
    // mean_prob is what "trust the score as a probability" means ─────
    Query("q177_calibration", { (s, dir) =>
      Models.calibrationByQuantile(scoredDocsQuality(s, dir), "prob", "y",
          nBins = 10)
        .orderBy("bin")
    },
      // Score-quantile calibration deciles over the shared scored frame:
      // bin = number of 6dp-rounded quantile cuts strictly below the score
      // (quantile_cont ≡ Spark's interpolated percentile); Brier = global
      // Σ(p−y)²/N off the same per-bin partials.
      oracle = {
        val qs = (1 until 10).map(i => s"0.${i}").mkString(", ")
        Oracles.logregScoredCte + s", k AS (SELECT list_transform(" +
          s"quantile_cont(prob, [$qs]), c -> round(c, 6)) AS cuts FROM scored), " +
          "c AS (SELECT len(list_filter(k.cuts, c -> prob > c))::INT AS bin, " +
          "prob, y FROM scored CROSS JOIN k), " +
          "b AS (SELECT bin, count(*)::BIGINT AS n, " +
          "round(avg(prob), 6) AS mean_prob, round(avg(y), 6) AS pos_rate, " +
          "sum(power(prob - y, 2)) AS se FROM c GROUP BY 1) " +
          "SELECT bin, n, mean_prob, pos_rate, " +
          "round(sum(se) OVER () / sum(n) OVER (), 6) AS brier " +
          "FROM b ORDER BY bin"
      }),

    // ───── PSI feature drift: event value distribution, first half of
    // the month (reference) vs second half (current) — equal-width bins
    // over the REFERENCE range, out-of-range current values clamp into
    // the edge bins, smoothed shares keep empty bins finite ─────
    Query("q178_psi_drift", { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Models.psiDrift(ev.filter(col("ts") < cut),
          ev.filter(col("ts") >= cut), "value", nBins = 10)
        .orderBy("bin")
    },
      // reference-range bins, clamped current, ½-smoothed shares, bin spine
      oracle = Oracles.psiDriftOracle),

    // ───── ROC AUC via Mann–Whitney midranks over the DISTINCT-SCORE
    // grid (6dp-rounded probs bound the grid at ~10⁶ rows at any corpus
    // size) — no threshold sweep, ties count ½ ─────
    Query("q179_auc", { (s, dir) =>
      Models.aucRank(scoredDocsQuality(s, dir), "prob", "y")
    },
      // Mann–Whitney midrank AUC over the distinct-score grid of the
      // shared scored frame.
      oracle = Oracles.logregScoredCte + ", g AS (SELECT prob AS s, count(*)::BIGINT AS cnt, " +
        "sum(y) AS pos FROM scored GROUP BY 1), " +
        "r AS (SELECT s, cnt, pos, coalesce(sum(cnt) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM g), " +
        "a AS (SELECT sum(pos)::BIGINT AS n_pos, " +
        "(sum(cnt) - sum(pos))::BIGINT AS n_neg, " +
        "sum(pos * (cumb + (cnt + 1.0) / 2.0)) AS rpos FROM r), " +
        "o AS (SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
        "round((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) END " +
        "AS auc FROM a) " +
        "SELECT n_pos, n_neg, auc, round(auc * 2 - 1, 6) AS gini FROM o"),

    // ───── mutual information lang ↔ source: χ²'s information-theoretic
    // sibling — per-cell PMI + corpus MI/entropies/NMI, all windows over
    // the one-hash-agg contingency table ─────
    Query("q180_mutual_info", { (s, dir) =>
      Models.mutualInformation(t(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")
    },
      // contingency windows; ln of the exact integer ratio cast once;
      // NMI from the already-rounded totals (matches Spark's column reuse)
      oracle = "WITH c AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS n " +
        "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "w AS (SELECT a, b, n, sum(n) OVER (PARTITION BY a) AS na, " +
        "sum(n) OVER (PARTITION BY b) AS nb, sum(n) OVER () AS nt FROM c), " +
        "e AS (SELECT a, b, n, " +
        "round(ln((n * nt)::DOUBLE / (na * nb)), 6) AS pmi, " +
        "(n::DOUBLE / nt) * ln((n * nt)::DOUBLE / (na * nb)) AS mi_term, " +
        "(n::DOUBLE / na) * (na::DOUBLE / nt) * ln(na::DOUBLE / nt) AS ha_term, " +
        "(n::DOUBLE / nb) * (nb::DOUBLE / nt) * ln(nb::DOUBLE / nt) AS hb_term " +
        "FROM w), " +
        "f AS (SELECT a, b, n, pmi, round(sum(mi_term) OVER (), 6) AS mi, " +
        "round(-sum(ha_term) OVER (), 6) AS h_a, " +
        "round(-sum(hb_term) OVER (), 6) AS h_b FROM e) " +
        "SELECT a, b, n, pmi, mi, h_a, h_b, " +
        "CASE WHEN h_a > 0 AND h_b > 0 THEN " +
        "round(mi / sqrt(h_a * h_b), 6) END AS nmi " +
        "FROM f ORDER BY a, b"),

    // ───── Jensen–Shannon divergence of each source's language mix from
    // the corpus-wide mix — which feeds deviate before they're weighted;
    // margin-grid so never-emitted languages still carry their mass ─────
    Query("q181_jsd_sources", { (s, dir) =>
      Models.jsdByGroup(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")
    },
      // margin grid (never-emitted categories carry their ½·q·ln(q/m)
      // mass), zero-safe p·ln p arm, per-group fold
      oracle = "WITH cc AS (SELECT source AS g, lang AS c, count(*)::BIGINT AS n " +
        "FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "gm AS (SELECT g, sum(n)::BIGINT AS ng FROM cc GROUP BY 1), " +
        "cm AS (SELECT c, sum(n)::BIGINT AS nc FROM cc GROUP BY 1), " +
        "nt AS (SELECT sum(n)::BIGINT AS total FROM cc), " +
        "grid AS (SELECT gm.g, cm.c, gm.ng, cm.nc, " +
        "coalesce(cc.n, 0)::BIGINT AS gn FROM gm CROSS JOIN cm " +
        "LEFT JOIN cc ON cc.g = gm.g AND cc.c = cm.c), " +
        "tm AS (SELECT g, ng, " +
        "(CASE WHEN gn > 0 THEN (gn::DOUBLE / ng) * " +
        "ln((gn::DOUBLE / ng) / ((gn::DOUBLE / ng + nc::DOUBLE / total) / 2)) " +
        "ELSE 0.0 END) / 2 + (nc::DOUBLE / total) * " +
        "ln((nc::DOUBLE / total) / ((gn::DOUBLE / ng + nc::DOUBLE / total) / 2)) " +
        "/ 2 AS term FROM grid CROSS JOIN nt), " +
        "agg AS (SELECT g AS source, max(ng) AS n_rows, " +
        "round(sum(term), 6) AS jsd FROM tm GROUP BY 1) " +
        "SELECT source, n_rows, jsd, " +
        "round(n_rows::DOUBLE / sum(n_rows) OVER (), 6) AS corpus_share " +
        "FROM agg ORDER BY source"),

    // ───── RFM segmentation: recency/frequency/monetary quintile scores
    // off strict comparisons against 6dp-rounded percentile cuts (the
    // calibration tie rule), recency inverted ─────
    Query("q182_rfm", { (s, dir) =>
      Models.rfmSegments(t(s, dir, "orders"), "o_custkey", "o_orderdate",
          "o_totalprice")
        .orderBy("o_custkey")
    },
      // per-customer RFM + strict comparisons against 6dp quintile cuts;
      // recency inverted (recent = 5)
      oracle = "WITH pc AS (SELECT o_custkey, max(o_orderdate) AS lastd, " +
        "count(*)::BIGINT AS frequency, " +
        "round(sum(o_totalprice), 2) AS monetary FROM orders " +
        "WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL " +
        "GROUP BY 1), " +
        "h AS (SELECT max(lastd) AS hz FROM pc), " +
        "b AS (SELECT o_custkey, " +
        "date_diff('day', lastd, hz)::DOUBLE AS recency_days, " +
        "frequency, monetary FROM pc CROSS JOIN h), " +
        "k AS (SELECT list_transform(quantile_cont(recency_days, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cr, " +
        "list_transform(quantile_cont(frequency, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cf, " +
        "list_transform(quantile_cont(monetary, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cm FROM b), " +
        "sc AS (SELECT o_custkey, recency_days, frequency, monetary, " +
        "5 - len(list_filter(cr, x -> recency_days > x))::INT AS r_score, " +
        "len(list_filter(cf, x -> frequency > x))::INT + 1 AS f_score, " +
        "len(list_filter(cm, x -> monetary > x))::INT + 1 AS m_score " +
        "FROM b CROSS JOIN k) " +
        "SELECT o_custkey, recency_days, frequency, monetary, " +
        "r_score, f_score, m_score, " +
        "r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS rfm " +
        "FROM sc ORDER BY o_custkey"),

    // ───── Zipf-law fit: ln(freq) over ln(rank) OLS across the top-500
    // vocabulary — q57's vocab composed straight into q164's trend op;
    // a natural corpus follows slope ≈ −1 ─────
    Query("q186_zipf", { (s, dir) =>
      val vocab = TextAnalysis.buildVocab(tb(s, dir, "documents"), "text",
        size = 500)
      Models.linearTrend(vocab, Seq.empty,
        log(col("token_id") + lit(1.0)), log(col("freq")))
    },
      // q57's vocab CTE composed into the OLS moment formulation
      oracle = "WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) " +
        "AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token), " +
        "v0 AS (SELECT token, freq, (row_number() OVER " +
        "(ORDER BY freq DESC, token) - 1)::INT AS token_id FROM c), " +
        "v AS (SELECT * FROM v0 WHERE token_id < 500), " +
        "p AS (SELECT ln(token_id + 1.0) AS x, ln(freq::DOUBLE) AS y FROM v) " +
        "SELECT count(*)::BIGINT AS n, " +
        "round(covar_pop(x, y) / var_pop(x), 6) AS slope, " +
        "round(avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x), 6) " +
        "AS intercept, " +
        "round(covar_pop(x, y) / sqrt(var_pop(x) * var_pop(y)), 6) AS r " +
        "FROM p"),

    // ───── two-sample KS drift test between the month's halves — the
    // nonparametric sibling of q178's PSI: sup-CDF gap on the exact
    // distinct-value grid, α=0.05 critical value, reject decision ─────
    Query("q191_ks_drift", { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Models.ksTest(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "value")
    },
      // per-side value counts full-joined into the distinct-value grid,
      // running CDFs, rounded sup gap; d_at = min v among argmax ties
      oracle = "WITH r AS (SELECT value::DOUBLE AS v, count(*)::BIGINT AS n_ref " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL " +
        "GROUP BY 1), " +
        "c AS (SELECT value::DOUBLE AS v, count(*)::BIGINT AS n_cur " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL " +
        "GROUP BY 1), " +
        "g AS (SELECT coalesce(r.v, c.v) AS v, coalesce(n_ref, 0) AS n_ref, " +
        "coalesce(n_cur, 0) AS n_cur FROM r FULL JOIN c ON r.v = c.v), " +
        "cdf AS (SELECT v, sum(n_ref) OVER () AS nr, sum(n_cur) OVER () AS nc, " +
        "round(abs(sum(n_ref) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)::DOUBLE / sum(n_ref) OVER () " +
        "- sum(n_cur) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)::DOUBLE / sum(n_cur) OVER ()), 6) AS d FROM g), " +
        "top AS (SELECT max(d) AS d_stat, max(nr) AS n_ref, max(nc) AS n_cur " +
        "FROM cdf), " +
        "at AS (SELECT min(v) AS d_at FROM cdf, top WHERE cdf.d = top.d_stat) " +
        "SELECT d_stat, d_at, n_ref::BIGINT AS n_ref, n_cur::BIGINT AS n_cur, " +
        "round(1.358 * sqrt((n_ref + n_cur)::DOUBLE / (n_ref * n_cur)), 6) " +
        "AS crit_05, d_stat > round(1.358 * sqrt((n_ref + n_cur)::DOUBLE " +
        "/ (n_ref * n_cur)), 6) AS drifted FROM top, at"),

    // ───── FIXED-bin calibration report (q177's quantile sibling): a
    // hash-uniform score genuinely spans [0,1), so the fixed deciles all
    // populate — the report shape model registries expect when scores
    // really are probabilities; same per-bin mean-prob / pos-rate /
    // global Brier columns ─────
    Query("q196_calibration_fixed", { (s, dir) =>
      val scored = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(
          (pmod(Hashing.hash60(col("event_id").cast("string")), lit(1000000L))
            .cast("double") / 1000000d).as("prob"),
          when(col("value") > 0, 1.0).otherwise(0.0).as("y"))
      Models.calibrationReport(scored, "prob", "y", nBins = 10)
        .orderBy("bin")
    },
      // fixed [0,1] deciles over a hash-uniform score; per-bin stats +
      // windowed global Brier — the q177 shape without the quantile cuts
      oracle = "WITH s AS (SELECT (('0x' || substr(md5(event_id::VARCHAR), 1, 15))" +
        "::BIGINT % 1000000)::DOUBLE / 1000000 AS prob, " +
        "CASE WHEN value > 0 THEN 1.0 ELSE 0.0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "b AS (SELECT least(9, floor(prob * 10))::INT AS bin, " +
        "count(*)::BIGINT AS n, round(avg(prob), 6) AS mean_prob, " +
        "round(avg(y), 6) AS pos_rate, sum(power(prob - y, 2)) AS se " +
        "FROM s GROUP BY 1) " +
        "SELECT bin, n, mean_prob, pos_rate, " +
        "round(sum(se) OVER () / sum(n) OVER (), 6) AS brier " +
        "FROM b ORDER BY bin"),

    // ───── confusion matrix of the heuristic langid vs the declared
    // lang column — the labeler audit before trusting it to route data;
    // cell grid + margin shares + global accuracy, all windows over the
    // ≤|langs|² grid ─────
    Query("q199_confusion", { (s, dir) =>
      Models.confusionMatrix(
          tb(s, dir, "documents").select(
            col("lang").as("actual"),
            TextAnalysis.langIdText(col("text")).as("predicted")),
          "actual", "predicted")
        .orderBy("actual", "predicted")
    },
      // langid-vs-declared-language confusion matrix: q19's prediction CTE
      // joined back to the declared `lang`, collapsed to the cell grid;
      // margins and the global accuracy are windows over the grid.
      oracle = {
        val scores = Seq("de", "en", "es", "fr")
          .map(l => s"${Oracles.hitRatioSql(Oracles.langList(l))} AS s_$l").mkString(", ")
        s"WITH ${Oracles.tokCte}, " +
          s"sc AS (SELECT doc_id, $scores FROM tok), " +
          "m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, " +
          "greatest(s_de, s_en, s_es, s_fr) AS mx FROM sc), " +
          "p AS (SELECT doc_id, CASE WHEN mx <= 0.0 THEN 'und' " +
          "WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' " +
          "WHEN s_es = mx THEN 'es' ELSE 'fr' END AS predicted FROM m), " +
          "j AS (SELECT d.lang AS actual, p.predicted FROM documents d " +
          "JOIN p USING (doc_id) WHERE d.lang IS NOT NULL), " +
          "c AS (SELECT actual, predicted, count(*)::BIGINT AS n " +
          "FROM j GROUP BY 1, 2) " +
          "SELECT actual, predicted, n, " +
          "round(n::DOUBLE / sum(n) OVER (PARTITION BY actual), 6) AS row_share, " +
          "round(n::DOUBLE / sum(n) OVER (PARTITION BY predicted), 6) AS col_share, " +
          "round(sum(CASE WHEN actual = predicted THEN n ELSE 0 END) OVER ()" +
          "::DOUBLE / sum(n) OVER (), 6) AS accuracy " +
          "FROM c ORDER BY actual, predicted"
      }),

    // ───── leave-one-out target encoding with m=10 smoothing: encode
    // order priority against the high-value flag excluding each row's own
    // label — the leakage-safe categorical encoder; binary y keeps every
    // partial sum an exact integer ─────
    Query("q203_target_encode", { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        when(col("o_totalprice") > 100000, 1.0).otherwise(0.0).as("y"))
      Models.targetEncode(o, "cat", "y", m = 10.0)
        .select(col("o_orderkey"), col("cat"), col("y"), col("enc"))
        .orderBy("o_orderkey")
    },
      // binary y keeps category sums exact integers; prior is the 1-row
      // global mean re-entered per row
      oracle = "WITH o AS (SELECT o_orderkey, o_orderpriority AS cat, " +
        "(CASE WHEN o_totalprice > 100000 THEN 1.0 ELSE 0.0 END)::DOUBLE AS y " +
        "FROM orders), " +
        "p AS (SELECT sum(y) / count(y) AS prior FROM o) " +
        "SELECT o_orderkey, cat, y, " +
        "round((sum(y) OVER (PARTITION BY cat) - y + 10.0 * p.prior) / " +
        "(count(y) OVER (PARTITION BY cat) - 1 + 10.0), 6) AS enc " +
        "FROM o, p ORDER BY o_orderkey"),

    // ───── Wilson-score pass-rate intervals per source over the Gopher
    // gate: which sources meet the quality bar with CONFIDENCE (a 3/3
    // source is not safer than a 940/1000 one) ─────
    Query("q242_wilson_pass_rate", { (s, dir) =>
      val flags = TextAnalysis.gopherRules(tb(s, dir, "documents"),
        "source", "text", minStopHits = 1)
      Models.wilsonPassRate(flags, "source", "pass", z = 1.96)
        .orderBy("source")
    },
      // Mirrors Models.wilsonPassRate over the per-source Gopher pass flag
      // (q242): one count/sum aggregate per source, then the Wilson algebra
      // in the op's exact association order (z literals cast ::DOUBLE — the
      // bare-DECIMAL trap).
      oracle = {
        val minStopHits: Int = 1
        val z: Double = 1.96
        val zz = s"($z::DOUBLE * $z::DOUBLE)"
        val p = "(k / n)"
        val half = s"$z::DOUBLE * sqrt($p * (1.0::DOUBLE - $p) / n + " +
          s"$zz / (4.0::DOUBLE * n * n))"
        val den = s"(1.0::DOUBLE + $zz / n)"
        s"${Oracles.gopherCtes(minStopHits)}, " +
          s"p AS (SELECT source, CASE WHEN ${Oracles.gopherPass} THEN 1 ELSE 0 END AS ps FROM r), " +
          "a AS (SELECT source, count(*)::DOUBLE AS n, sum(ps)::DOUBLE AS k " +
          "FROM p GROUP BY 1) " +
          "SELECT source, n::BIGINT AS n, k::BIGINT AS n_pass, " +
          s"round($p, 6) AS rate, " +
          s"round((($p + $zz / (2.0::DOUBLE * n)) - $half) / $den, 6) AS lo, " +
          s"round((($p + $zz / (2.0::DOUBLE * n)) + $half) / $den, 6) AS hi " +
          "FROM a ORDER BY source"
      }),

    // ───── Active-learning uncertainty sampling: the labeling-budget
    // selector over the q163 trained quality classifier — the 100 docs
    // whose scores sit closest to the 0.5 decision boundary, via
    // TakeOrderedAndProject (distributed top-k; the rank window runs
    // over ONLY the selected 100 rows — the vocabCoverage posture) ─────
    Query("q252_uncertainty_sample", { (s, dir) =>
      val sc = scoredDocsQuality(s, dir)
        .select(col("doc_id"), col("prob"),
          abs(col("prob") - 0.5).as("_u"))
      sc.orderBy(col("_u"), col("doc_id")).limit(100)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("_u"), col("doc_id"))))
        .select(col("doc_id"), col("prob"), col("rnk"))
        .orderBy("rnk")
    },
      // Mirrors q252: the shared scored frame ranked by distance to the
      // 0.5 decision boundary (6dp-rounded probs are identical doubles in
      // both engines, so the |prob − 0.5| order needs no extra rounding),
      // doc_id ties, first 100.
      oracle = Oracles.logregScoredCte + ", r AS (SELECT doc_id, prob, " +
        "row_number() OVER (ORDER BY abs(prob - 0.5), doc_id) AS rnk " +
        "FROM scored) " +
        "SELECT doc_id, prob, rnk::INT AS rnk FROM r WHERE rnk <= 100 " +
        "ORDER BY rnk"),

    // ───── Multinomial Naive Bayes quality classifier: the GENERATIVE
    // twin of q163's logreg on the same task (is-English), fit on the
    // corpus itself — vocab-capped Laplace token likelihoods broadcast
    // as one ≤512-row model, scored in a single tokenize pass ─────
    Query("q253_naive_bayes", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(docs, "text", y, vocabSize = 512)
      Models.naiveBayesScore(docs.withColumn("y", y), model, "doc_id", "text")
        .select(col("doc_id"), col("y").cast("int").as("y"),
          col("log_odds"), col("pred"))
        .orderBy("doc_id")
    },
      // full NB recomputation: top-512 vocab, Laplace per-class token
      // likelihoods with multiplicity, doc-count prior, OOV skipped
      oracle = Oracles.naiveBayes(512)),

    // ───── k-anonymity / l-diversity release audit: one hash-agg over
    // (event_type, day) cohorts, sensitive = user_id — the structured-
    // channel privacy gate next to q69's free-text PII scrub ─────
    Query("q254_k_anonymity", { (s, dir) =>
      Privacy.kAnonymityAudit(
          t(s, dir, "events").withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), col("user_id"), k = 30, l = 10)
        .orderBy("event_type", "day")
    },
      // cohort sizes + distinct sensitive counts per (event_type, day)
      oracle = Oracles.kAnonymitySql),

    // ───── Bradley–Terry preference aggregation (the RLHF leaderboard
    // op): deterministic synthetic matches — each doc vs its successor
    // from a different source, longer doc wins (tie → lower source) —
    // aggregated to a ≤sources² win matrix in ONE distributed hash-agg,
    // then 20 MM rounds driver-side (the bpeTrainDriver bounded-model
    // posture), 9dp-rounded per step in both engines ─────
    Query("q256_bradley_terry", { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val a = d.select(col("doc_id").as("_k"), col("source").as("sa"),
        col("n_chars").as("ca"))
      val b = d.select((col("doc_id") - 1).as("_k"), col("source").as("sb"),
        col("n_chars").as("cb"))
      val pairs = a.join(b, Seq("_k")).filter(col("sa") =!= col("sb"))
        .select(
          when(col("ca") > col("cb"), col("sa"))
            .when(col("cb") > col("ca"), col("sb"))
            .when(col("sa") < col("sb"), col("sa"))
            .otherwise(col("sb")).as("winner"),
          when(col("ca") > col("cb"), col("sb"))
            .when(col("cb") > col("ca"), col("sa"))
            .when(col("sa") < col("sb"), col("sb"))
            .otherwise(col("sa")).as("loser"))
      Models.bradleyTerry(pairs, "winner", "loser", iters = 20)
        .orderBy("item")
    },
      // Mirrors the q256 synthetic match stream + Models.bradleyTerry: the
      // MM recurrence runs as a recursive CTE carrying the rating vector as
      // a LIST, with the win vector and the flattened games matrix built
      // once and cross-joined in (single recursive reference). Per-step
      // 9dp rounding after sum-normalization, exactly the Scala loop.
      oracle = {
        val iters: Int = 20
        "WITH RECURSIVE " +
          "d AS (SELECT doc_id, source, n_chars FROM documents), " +
          "p AS (SELECT CASE WHEN a.n_chars > b.n_chars THEN a.source " +
          "WHEN b.n_chars > a.n_chars THEN b.source " +
          "WHEN a.source < b.source THEN a.source ELSE b.source END AS winner, " +
          "CASE WHEN a.n_chars > b.n_chars THEN b.source " +
          "WHEN b.n_chars > a.n_chars THEN a.source " +
          "WHEN a.source < b.source THEN b.source ELSE a.source END AS loser " +
          "FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 " +
          "AND a.source <> b.source), " +
          "cnt AS (SELECT winner, loser, count(*)::BIGINT AS n FROM p " +
          "GROUP BY 1, 2), " +
          "items AS (SELECT row_number() OVER (ORDER BY item) - 1 AS i, item " +
          "FROM (SELECT winner AS item FROM cnt UNION SELECT loser FROM cnt)), " +
          "mm AS (SELECT count(*)::BIGINT AS m FROM items), " +
          "wv AS (SELECT list(w ORDER BY i) AS wv FROM (SELECT i.i, " +
          "coalesce(sum(c.n), 0)::DOUBLE AS w FROM items i " +
          "LEFT JOIN cnt c ON c.winner = i.item GROUP BY 1)), " +
          "grid AS (SELECT a.i AS i, b.i AS j, coalesce(sum(c.n), 0)::DOUBLE " +
          "AS n FROM items a CROSS JOIN items b LEFT JOIN cnt c " +
          "ON (c.winner = a.item AND c.loser = b.item) " +
          "OR (c.winner = b.item AND c.loser = a.item) GROUP BY 1, 2), " +
          "nv AS (SELECT list(n ORDER BY i, j) AS nv FROM grid), " +
          "it(iter, r) AS (" +
          "SELECT 0, list_transform(range(m), x -> 1.0::DOUBLE) FROM mm " +
          "UNION ALL " +
          "SELECT iter + 1, list_transform(u, x -> round(x / list_sum(u), 9)) " +
          "FROM (SELECT iter, list_transform(range(m), i -> " +
          "CASE WHEN dnm[i+1] = 0 THEN r[i+1] ELSE wv[i+1] / dnm[i+1] END) AS u " +
          "FROM (SELECT iter, r, wv.wv, mm.m, list_transform(range(m), i -> " +
          "list_sum(list_transform(range(m), j -> CASE WHEN j = i OR " +
          "nv[i*m+j+1] = 0 THEN 0.0::DOUBLE ELSE nv[i*m+j+1] / " +
          "(r[i+1] + r[j+1]) END))) AS dnm " +
          s"FROM it, wv, nv, mm WHERE iter < $iters))), " +
          s"fin AS (SELECT r FROM it WHERE iter = $iters) " +
          "SELECT i.item, wi.wins, ga.games, fin.r[i.i + 1] AS rating " +
          "FROM items i CROSS JOIN fin " +
          "JOIN (SELECT i.i, coalesce(sum(c.n), 0)::BIGINT AS wins " +
          "FROM items i LEFT JOIN cnt c ON c.winner = i.item GROUP BY 1) wi " +
          "ON wi.i = i.i " +
          "JOIN (SELECT i, sum(n)::BIGINT AS games FROM grid GROUP BY 1) ga " +
          "ON ga.i = i.i ORDER BY i.item"
      }),

    // ───── Mislabel mining (the cleanlab shape): docs where the q253
    // trained classifier CONFIDENTLY disagrees with the stored label —
    // the label-noise review queue; model chain + one filter ─────
    Query("q269_label_disagreement", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(docs, "text", y, vocabSize = 512)
      Models.naiveBayesScore(docs.withColumn("y", y), model, "doc_id", "text")
        .filter(col("pred") =!= col("y") && abs(col("log_odds")) >= 1.0)
        .select(col("doc_id"), col("y").cast("int").as("y"),
          col("log_odds"), col("pred"))
        .orderBy("doc_id")
    },
      // the q253 recomputation filtered to confident disagreements
      oracle = "SELECT doc_id, y, log_odds, pred FROM (" +
        Oracles.naiveBayes(512).replaceAll(" ORDER BY l.doc_id$", "") +
        ") WHERE pred <> y AND abs(log_odds) >= 1.0 ORDER BY doc_id"),

    // ───── pass@k (Chen et al. 2021 eq. 1): docs as eval attempts — 60
    // problems, per-problem pass rate 20-79% via hash-uniform draws —
    // aggregated to the unbiased 1−C(n−c,k)/C(n,k) estimator at k=1/5/10;
    // one hash-agg, bounded k-term product per problem row ─────
    Query("q281_pass_at_k", { (s, dir) =>
      val attempts = t(s, dir, "documents").select(
        (col("doc_id") % 60).as("problem"),
        (Hashing.hash60(concat(col("doc_id").cast("string"),
          lit(":attempt"))) % 100 < lit(20) + col("doc_id") % 60).as("ok"))
      Models.passAtK(attempts, "problem", col("ok"), Seq(1, 5, 10))
        .orderBy("problem")
    },
      // q281: Models.passAtK mirror — the same left-fold product
      // (list_reduce's first-element seed ≡ Spark's 1.0 seed exactly, since
      // 1·t₀ = t₀ in IEEE doubles) with identical n<k / n−c<k guards.
      oracle = {
        def est(k: Int): String =
          s"CASE WHEN n < $k THEN NULL WHEN n - c < $k THEN 1.0::DOUBLE " +
            s"ELSE round(1.0::DOUBLE - list_reduce(list_transform(range($k), " +
            s"i -> (n - c - i)::DOUBLE / (n - i)), (x, y) -> x * y), 6) END " +
            s"AS pass_at_$k"
        "WITH a AS (SELECT doc_id % 60 AS problem, " +
          "CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':attempt'), 1, 15))" +
          "::BIGINT % 100 < 20 + doc_id % 60 THEN 1 ELSE 0 END AS ok " +
          "FROM documents), " +
          "g AS (SELECT problem, count(*)::BIGINT AS n, sum(ok)::BIGINT AS c " +
          "FROM a GROUP BY 1) " +
          s"SELECT problem, n, c, ${est(1)}, ${est(5)}, ${est(10)} " +
          "FROM g ORDER BY problem"
      }),

    // ───── t-closeness (Li et al. 2007): per-(event_type, weekday)
    // cohort, total-variation distance between the cohort's sensitive
    // distribution (user bucket) and the global one — the leak
    // l-diversity misses; (quasi, v) grid + broadcast global marginal ─────
    Query("q283_t_closeness", { (s, dir) =>
      val e = t(s, dir, "events").select(
        col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"),
        (col("user_id") % 5).as("ubkt"))
      Privacy.tCloseness(e, Seq("event_type", "dow"), col("ubkt"), t = 0.2)
        .orderBy("event_type", "dow")
    },
      // DuckDB dayofweek is 0=Sunday vs Spark's 1=Sunday → +1
      oracle = "WITH b AS (SELECT event_type, dayofweek(ts) + 1 AS dow, " +
        "user_id % 5 AS v FROM events), " +
        "tot AS (SELECT count(*)::DOUBLE AS n FROM b), " +
        "cv AS (SELECT event_type, dow, v, count(*)::BIGINT AS cnt " +
        "FROM b GROUP BY 1, 2, 3), " +
        "gl AS (SELECT v, count(*)::DOUBLE / (SELECT n FROM tot) AS gp " +
        "FROM b GROUP BY 1), " +
        "sz AS (SELECT event_type, dow, sum(cnt)::BIGINT AS group_size " +
        "FROM cv GROUP BY 1, 2), " +
        "agg AS (SELECT cv.event_type, cv.dow, " +
        "sum(abs(cv.cnt::DOUBLE / sz.group_size - gl.gp)) AS part1, " +
        "sum(gl.gp) AS covered FROM cv " +
        "JOIN gl USING (v) JOIN sz USING (event_type, dow) GROUP BY 1, 2) " +
        "SELECT a.event_type, a.dow, sz.group_size, " +
        "round(0.5::DOUBLE * (a.part1 + (1.0::DOUBLE - a.covered)), 6) " +
        "AS t_dist, " +
        "(round(0.5::DOUBLE * (a.part1 + (1.0::DOUBLE - a.covered)), 6) " +
        "> 0.2::DOUBLE)::INT AS violates_t " +
        "FROM agg a JOIN sz USING (event_type, dow) " +
        "ORDER BY event_type, dow"),

    // ───── Poisson bootstrap (Chamandy et al. 2012): per-source CI for
    // mean doc length — each row draws a deterministic hash-Poisson(1)
    // replication count per resample, so the distributed corpus never
    // needs its row count up front; integer metric → exact resample
    // sums, CI = exact order statistics over the B resample means ─────
    Query("q294_poisson_bootstrap", { (s, dir) =>
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("v"))
      Models.bootstrapCI(d, "source", "doc_id", "v", b = 40, alpha = 0.05)
        .orderBy("source")
    },
      // q294: Models.bootstrapCI mirror — the λ=1 CDF literals come from
      // the same Scala Seq; resample sums are exact integers.
      oracle = {
        val cdf = graft.ops.Models.poissonCdf1.zipWithIndex
          .map { case (p, k) => s"WHEN u < $p::DOUBLE THEN $k" }
          .mkString("CASE ", " ", " ELSE 6 END")
        "WITH d AS (SELECT source, doc_id, length(text)::BIGINT AS v " +
          "FROM documents), " +
          "e AS (SELECT source, doc_id, v, unnest(range(40)) AS b FROM d), " +
          "uw AS (SELECT source, b, v, " +
          "((('0x' || substr(md5(doc_id::VARCHAR || ':bs:' || b::VARCHAR), " +
          "1, 15))::BIGINT % 1000000000)::DOUBLE / 1000000000.0::DOUBLE) AS u " +
          "FROM e), " +
          s"p AS (SELECT source, b, v, $cdf AS w FROM uw), " +
          "rm AS (SELECT source, b, sum(w * v)::BIGINT AS ws, " +
          "sum(w)::BIGINT AS wn FROM p GROUP BY 1, 2 HAVING sum(w) > 0), " +
          "ms AS (SELECT source, ws::DOUBLE / wn AS m FROM rm), " +
          "ci AS (SELECT source, count(*)::BIGINT AS n_resamples, " +
          "list_sort(list(m)) AS srt FROM ms GROUP BY 1), " +
          "base AS (SELECT source, count(*)::BIGINT AS n, " +
          "round(sum(v)::DOUBLE / count(*), 6) AS mean FROM d GROUP BY 1) " +
          "SELECT base.source, n, mean, n_resamples, " +
          "round(srt[least(1, n_resamples)::INT], 6) AS boot_lo, " +
          "round(srt[least(39, n_resamples)::INT], 6) AS boot_hi " +
          "FROM base LEFT JOIN ci USING (source) ORDER BY source"
      }),

    // ───── Split-conformal calibration (Lei et al. 2018): per-lang
    // q̂ = ⌈(n_cal+1)·9/10⌉-th smallest |y−ŷ| on the hash-split
    // calibration half, coverage CHECKED on the test half — integer
    // nonconformity + rational coverage keep both engines rank-exact ─────
    Query("q295_conformal", { (s, dir) =>
      val y = length(col("text")).cast("long")
      val pred = floor((y * 92) / lit(100)).cast("long") +
        (Hashing.hash60(concat(col("doc_id").cast("string"), lit(":pe")))
          % 21 - 10)
      val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
        y.as("y"), pred.as("pred"))
      Models.splitConformal(d, "lang", "doc_id", "y", "pred",
          coverNum = 9, coverDen = 10)
        .orderBy("lang")
    },
      // q295: Models.splitConformal mirror — integer rank arithmetic.
      oracle = "WITH d AS (SELECT lang, doc_id, length(text)::BIGINT AS y, " +
        "(length(text)::BIGINT * 92) // 100 + " +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':pe'), 1, 15))::BIGINT " +
        "% 21 - 10) AS pred FROM documents), " +
        "s AS (SELECT lang, doc_id, abs(y - pred) AS sc, " +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':cf'), 1, 15))::BIGINT " +
        "% 100 < 50) AS cal FROM d), " +
        "c AS (SELECT lang, doc_id, sc, row_number() OVER " +
        "(PARTITION BY lang ORDER BY sc, doc_id) AS r, " +
        "count(*) OVER (PARTITION BY lang) AS n_cal FROM s WHERE cal), " +
        "q AS (SELECT lang, n_cal, sc AS qhat, " +
        "(((n_cal + 1) * 9 + 9) // 10 > n_cal)::INT AS unbounded FROM c " +
        "WHERE r = least(((n_cal + 1) * 9 + 9) // 10, n_cal)), " +
        "t AS (SELECT s.lang, s.sc, q.qhat, q.n_cal, q.unbounded FROM s " +
        "JOIN q USING (lang) WHERE NOT cal) " +
        "SELECT lang, max(n_cal)::BIGINT AS n_cal, count(*)::BIGINT AS n_test, " +
        "max(qhat)::BIGINT AS qhat, max(unbounded)::INT AS unbounded, " +
        "round(sum(CASE WHEN sc <= qhat OR unbounded = 1 THEN 1 ELSE 0 END)" +
        "::DOUBLE / count(*), 6) AS coverage, " +
        "round(9::DOUBLE / 10, 6) AS target FROM t GROUP BY 1 ORDER BY lang"),

    // ───── Fleiss' kappa per source: 5-rater synthetic panel (60%
    // truth-biased labels), balanced items only, κ from 6dp-rounded
    // P̄/P_e — the multi-annotator agreement gate beside q269's pairwise
    // label disagreement ─────
    Query("q299_fleiss_kappa", { (s, dir) =>
      val r = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(sequence(lit(0), lit(4))).as("a"))
      def h(tag: String) = Hashing.hash60(concat(
        col("doc_id").cast("string"), lit(tag), col("a").cast("string")))
      val truth = concat(lit("c"), (col("doc_id") % 4).cast("string"))
      val noisy = concat(lit("c"), (h(":l") % 4).cast("string"))
      val lb = r.select(col("source"), col("doc_id"),
        when(h(":r") % 10 < 6, truth).otherwise(noisy).as("label"))
      Models.fleissKappa(lb, "source", "doc_id", "label", nRaters = 5)
        .orderBy("source")
    },
      // q299: Models.fleissKappa mirror — 5-rater synthetic panel, balanced
      // items only, κ from the 6dp-rounded P̄/P_e.
      oracle = {
        val uH = Oracles.h60("doc_id::VARCHAR || ':r' || a::VARCHAR")
        val lH = Oracles.h60("doc_id::VARCHAR || ':l' || a::VARCHAR")
        "WITH r AS (SELECT doc_id, source, unnest(range(5)) AS a FROM documents), " +
          s"lb AS (SELECT source, doc_id, CASE WHEN $uH % 10 < 6 " +
          "THEN 'c' || (doc_id % 4)::VARCHAR " +
          s"ELSE 'c' || ($lH % 4)::VARCHAR END AS label FROM r), " +
          "cnt AS (SELECT source, doc_id, label, count(*)::BIGINT AS nij " +
          "FROM lb GROUP BY 1, 2, 3), " +
          "it AS (SELECT source, doc_id, sum(nij) AS n_i, " +
          "sum(nij * nij) AS sq_i FROM cnt GROUP BY 1, 2), " +
          "grp AS (SELECT source, " +
          "sum(CASE WHEN n_i = 5 THEN 1 ELSE 0 END)::BIGINT AS n_items, " +
          "sum(CASE WHEN n_i <> 5 THEN 1 ELSE 0 END)::BIGINT AS n_unbalanced, " +
          "sum(CASE WHEN n_i = 5 THEN sq_i ELSE 0 END)::BIGINT AS sum_sq " +
          "FROM it GROUP BY 1), " +
          "cat AS (SELECT c.source, c.label, sum(nij)::BIGINT AS cat_tot " +
          "FROM cnt c JOIN it USING (source, doc_id) WHERE n_i = 5 GROUP BY 1, 2), " +
          "ca AS (SELECT source, count(*)::BIGINT AS n_categories, " +
          "sum(cat_tot * cat_tot)::BIGINT AS sum_cat2 FROM cat GROUP BY 1), " +
          "f AS (SELECT g.source, n_items, n_unbalanced, n_categories, " +
          "CASE WHEN n_items > 0 THEN round((sum_sq - n_items * 5)::DOUBLE / " +
          "(n_items * 5 * 4), 6) END AS pbar, " +
          "CASE WHEN n_items > 0 THEN round(sum_cat2::DOUBLE / " +
          "(n_items * 5 * n_items * 5), 6) END AS pe " +
          "FROM grp g LEFT JOIN ca USING (source)) " +
          "SELECT source, n_items, n_unbalanced, n_categories, pbar, pe, " +
          "CASE WHEN pe < 1.0 THEN round((pbar - pe) / (1.0 - pe), 6) END AS kappa " +
          "FROM f ORDER BY source"
      }),

    // ───── Entropy l-diversity over (lang, source) cohorts: Shannon
    // entropy of a skewed synthetic sensitive attribute vs ln(l) — the
    // stronger-than-distinct-l release audit beside q254/q283 ─────
    Query("q300_entropy_ldiv", { (s, dir) =>
      val d = tb(s, dir, "documents")
      // moduli COPRIME with the (lang, source) synthesis grid: doc_ids in
      // a cohort are congruent mod 20, so the old %10/%4 arms made every
      // cohort single-valued (entropy trivially 0 everywhere); %7 mixes —
      // 79/97 sf0.01 cohorts carry 2-4 sensitive values, skew preserved
      val sens = when(col("doc_id") % 7 < 4, lit("c0"))
        .otherwise(concat(lit("c"), (col("doc_id") % 7).cast("string")))
      Privacy.entropyLDiversity(d, Seq("lang", "source"), sens, l = 3)
        .orderBy("lang", "source")
    },
      // q300: Privacy.entropyLDiversity mirror — skewed synthetic sensitive
      // attribute over (lang, source) cohorts, entropy in nats, l = 3.
      oracle = "WITH s AS (SELECT lang, source, CASE WHEN doc_id % 7 < 4 THEN 'c0' " +
        "ELSE 'c' || (doc_id % 7)::VARCHAR END AS v FROM documents), " +
        "cv AS (SELECT lang, source, v, count(*)::BIGINT AS cnt " +
        "FROM s GROUP BY 1, 2, 3), " +
        "g AS (SELECT lang, source, sum(cnt)::BIGINT AS group_size, " +
        "count(*)::BIGINT AS l_distinct, sum(cnt * ln(cnt)) AS clogc " +
        "FROM cv GROUP BY 1, 2), " +
        "e AS (SELECT lang, source, group_size, l_distinct, " +
        "round(greatest(ln(group_size) - clogc / group_size, 0.0), 6) " +
        "AS entropy FROM g) " +
        "SELECT lang, source, group_size, l_distinct, entropy, " +
        "round(exp(entropy), 6) AS eff_values, " +
        "(entropy < ln(3.0))::INT AS violates_entropy_l " +
        "FROM e ORDER BY lang, source"),

    // ───── ε-DP noisy count release over (lang, source): seeded
    // inverse-CDF Laplace(1/ε) noise from the group-key hash, clamped
    // integer release, raw counts never emitted — the reproducible
    // release channel completing the privacy family ─────
    Query("q301_dp_release", { (s, dir) =>
      // "dp" is the harness salt (the oracle must replay the draw); a
      // production release keeps its salt secret — see dpNoisyRelease
      Privacy.dpNoisyCount(tb(s, dir, "documents"), Seq("lang", "source"),
          epsilon = 1.0, salt = "dp")
        .orderBy("lang", "source")
    },
      // q301: Privacy.dpNoisyCount mirror — seeded inverse-CDF Laplace(1/ε)
      // noise from the group-key hash, clamped integer release.
      oracle = {
        val uH = Oracles.h60("lang || '|' || source || '|dp'")
        "WITH g AS (SELECT lang, source, count(*)::BIGINT AS c " +
          "FROM documents GROUP BY 1, 2), " +
          s"u AS (SELECT lang, source, c, (($uH % 1000000000)::DOUBLE / " +
          "1000000000.0::DOUBLE) AS u FROM g), " +
          "n AS (SELECT lang, source, c, round(-1.0 * sign(u - 0.5) * " +
          "ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM u) " +
          "SELECT lang, source, 1.0::DOUBLE AS epsilon, " +
          "greatest(round(c + noise), 0.0)::BIGINT AS released " +
          "FROM n ORDER BY lang, source"
      }),

    // ───── Luhn-validated PAN scan: 13-19 digit candidates gated by the
    // ISO 7812 checksum (pinned valid/perturbed synthesis), last-4
    // masking — the validation layer q69's pattern scrubber lacks ─────
    Query("q308_luhn_pan", { (s, dir) =>
      val pans = Privacy.pinnedPansV1
      val pick = pans.zipWithIndex.tail.foldLeft(
        when(col("doc_id") % pans.size === 0, lit(pans.head))) {
        case (acc, (p, i)) => acc.when(col("doc_id") % pans.size === i, lit(p))
      }
      val d = tb(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" card "), pick).as("dirty"))
      Privacy.luhnPanScan(d, "doc_id", "dirty").orderBy("doc_id")
    },
      // q308: Privacy.luhnPanScan mirror — the pinned PAN list drives both
      // the synthesis CASE and this SQL, digit-position Luhn all integer.
      oracle = {
        val pick = graft.ops.Privacy.pinnedPansV1.zipWithIndex
          .map { case (p, i) => s"WHEN $i THEN '$p'" }
          .mkString(s"CASE doc_id % ${graft.ops.Privacy.pinnedPansV1.size} ",
            " ", " END")
        val dig = "substr(cand, (pos + 1)::INT, 1)::INT"
        "WITH d AS (SELECT doc_id, text || ' card ' || (" + pick + ") AS dirty " +
          "FROM documents), " +
          "c AS (SELECT doc_id, unnest(regexp_extract_all(dirty, " +
          "'\\b\\d{13,19}\\b')) AS cand FROM d), " +
          "g AS (SELECT doc_id, cand, unnest(range(len(cand))) AS pos FROM c), " +
          "s AS (SELECT doc_id, cand, sum(CASE WHEN (len(cand) - 1 - pos) % 2 = 1 " +
          s"THEN CASE WHEN $dig * 2 > 9 THEN $dig * 2 - 9 ELSE $dig * 2 END " +
          s"ELSE $dig END)::BIGINT AS t FROM g GROUP BY 1, 2), " +
          "v AS (SELECT doc_id, cand, (t % 10 = 0)::INT AS valid FROM s) " +
          "SELECT doc_id, count(*)::BIGINT AS n_candidates, " +
          "sum(valid)::BIGINT AS n_valid, " +
          "coalesce(array_to_string(list_sort(list('****' || substr(cand, -4, 4)) " +
          "FILTER (WHERE valid = 1)), ';'), '') AS masked, " +
          "(sum(valid) > 0)::INT AS has_pan " +
          "FROM v GROUP BY doc_id ORDER BY doc_id"
      }),

    // ───── Krippendorff's alpha per source: VARIABLE 3-5 rater panel
    // (the unbalance Fleiss q299 cannot take), exact integer 12/(m−1)
    // scaling so no float accumulates anywhere before the final
    // division ─────
    Query("q311_krippendorff", { (s, dir) =>
      val r = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(sequence(lit(0),
          (lit(2) + col("doc_id") % 3).cast("int"))).as("a"))
      def h(tag: String) = Hashing.hash60(concat(
        col("doc_id").cast("string"), lit(tag), col("a").cast("string")))
      val truth = concat(lit("c"), (col("doc_id") % 4).cast("string"))
      val noisy = concat(lit("c"), (h(":kl") % 4).cast("string"))
      val lb = r.select(col("source"), col("doc_id"),
        when(h(":kr") % 10 < 6, truth).otherwise(noisy).as("label"))
      Models.krippendorffAlpha(lb, "source", "doc_id", "label")
        .orderBy("source")
    },
      // q311: Models.krippendorffAlpha mirror — variable 3-5 rater panel,
      // integer 12/(m−1) scaling, one double division at the end.
      oracle = {
        val uH = Oracles.h60("doc_id::VARCHAR || ':kr' || a::VARCHAR")
        val lH = Oracles.h60("doc_id::VARCHAR || ':kl' || a::VARCHAR")
        "WITH r AS (SELECT doc_id, source, unnest(range(3 + doc_id % 3)) AS a " +
          "FROM documents), " +
          s"lb AS (SELECT source, doc_id, CASE WHEN $uH % 10 < 6 " +
          "THEN 'c' || (doc_id % 4)::VARCHAR " +
          s"ELSE 'c' || ($lH % 4)::VARCHAR END AS label FROM r), " +
          "cnt AS (SELECT source, doc_id, label, count(*)::BIGINT AS nuc " +
          "FROM lb GROUP BY 1, 2, 3), " +
          "unit AS (SELECT source, doc_id, sum(nuc) AS m, " +
          "sum(nuc * nuc) AS sq FROM cnt GROUP BY 1, 2), " +
          "grp AS (SELECT source, " +
          "sum(CASE WHEN m BETWEEN 2 AND 5 THEN 1 ELSE 0 END)::BIGINT AS n_units, " +
          "sum(CASE WHEN m = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unpairable, " +
          "sum(CASE WHEN m > 5 THEN 1 ELSE 0 END)::BIGINT AS n_oversize, " +
          "sum(CASE WHEN m BETWEEN 2 AND 5 THEN " +
          "(CASE m WHEN 2 THEN 12 WHEN 3 THEN 6 WHEN 4 THEN 4 ELSE 3 END) * " +
          "(m * m - sq) ELSE 0 END)::BIGINT AS a, " +
          "sum(CASE WHEN m BETWEEN 2 AND 5 THEN m ELSE 0 END)::BIGINT AS n " +
          "FROM unit GROUP BY 1), " +
          "lbl AS (SELECT c.source, c.label, sum(nuc)::BIGINT AS nc " +
          "FROM cnt c JOIN unit USING (source, doc_id) " +
          "WHERE m BETWEEN 2 AND 5 GROUP BY 1, 2), " +
          "la AS (SELECT source, count(*)::BIGINT AS n_categories, " +
          "sum(nc * nc)::BIGINT AS sumc2 FROM lbl GROUP BY 1) " +
          "SELECT g.source, n_units, n_unpairable, n_oversize, n, n_categories, " +
          "CASE WHEN n > 1 AND n * n - sumc2 > 0 THEN " +
          "round(1.0::DOUBLE - (n - 1) * a / (12 * (n * n - sumc2)), 6) " +
          "END AS alpha FROM grp g LEFT JOIN la USING (source) ORDER BY source"
      }),

    // ───── Benjamini–Hochberg FDR over a hypothesis family (seeded
    // p-values, 1-in-17 planted signals): rank-threshold arithmetic,
    // discoveries at or below k* — the many-metrics correction q176's
    // single test lacks ─────
    Query("q315_bh_fdr", { (s, dir) =>
      val u = (Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":pv"))) % 1000000000L).cast("double") / 1e9
      val p = round(u * when(col("doc_id") % 17 === 0, lit(0.001))
        .otherwise(lit(1.0)), 6)
      val d = tb(s, dir, "documents").select(col("doc_id"), p.as("p"))
      Models.bhFdr(d, "doc_id", "p", q = 0.05).orderBy("rank")
    },
      // q315: Models.bhFdr mirror — seeded p-values with planted signals,
      // the same rank-threshold arithmetic.
      oracle = {
        val uH = Oracles.h60("doc_id::VARCHAR || ':pv'")
        "WITH d AS (SELECT doc_id, round(" +
          s"(($uH % 1000000000)::DOUBLE / 1000000000.0::DOUBLE) * " +
          "(CASE WHEN doc_id % 17 = 0 THEN 0.001::DOUBLE ELSE 1.0::DOUBLE END), " +
          "6) AS p FROM documents), " +
          "r AS (SELECT doc_id, p, row_number() OVER (ORDER BY p, doc_id)" +
          "::BIGINT AS rank, count(*) OVER () AS m FROM d), " +
          "f AS (SELECT doc_id, p, rank, round(rank * 0.05::DOUBLE / m, 6) AS " +
          "threshold, (p <= rank * 0.05::DOUBLE / m) AS pass, m FROM r), " +
          "ks AS (SELECT max(CASE WHEN pass THEN rank END) AS kstar FROM f) " +
          "SELECT doc_id, p, rank, threshold, " +
          "(rank <= coalesce(kstar, 0))::INT AS discovery " +
          "FROM f CROSS JOIN ks ORDER BY rank"
      }),

    // ───── Temperature-scaling grid search (Guo 2017): σ(z/T) NLL over
    // a pinned grid, integer-synthesized labels (no libm in the truth
    // channel), smallest-T argmin tie-break ─────
    Query("q319_temp_scaling", { (s, dir) =>
      val zi = (Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":z"))) % 2001 - 1000)
      val hy = Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":y"))) % 1000000
      val d = tb(s, dir, "documents").select(col("doc_id"),
        (zi.cast("double") / 1000.0).as("z"),
        (hy < lit(500000) + lit(450) * zi).cast("int").as("y"))
      Models.temperatureScaling(d, "doc_id", "z", "y").orderBy("t")
    },
      // q319: Models.temperatureScaling mirror — integer label synthesis
      // (no libm in the threshold), same σ/NLL/rounding chain per grid T.
      oracle = {
        val zH = Oracles.h60("doc_id::VARCHAR || ':z'")
        val yH = Oracles.h60("doc_id::VARCHAR || ':y'")
        val grid = Seq(0.25, 0.33, 0.5, 0.75, 1.0, 1.5, 2.0, 4.0)
          .map(t => s"$t::DOUBLE").mkString("[", ", ", "]")
        // same [ε, 1−ε] saturation clamp as Models.temperatureScaling
        val p = "least(greatest(1.0::DOUBLE / (1.0::DOUBLE + " +
          "exp(0.0::DOUBLE - (z / t))), 1e-12::DOUBLE), " +
          "(1.0::DOUBLE - 1e-12::DOUBLE))"
        s"WITH d AS (SELECT doc_id, ($zH % 2001 - 1000) AS zi, " +
          s"$yH % 1000000 AS hy FROM documents), " +
          "b AS (SELECT doc_id, zi::DOUBLE / 1000.0::DOUBLE AS z, " +
          "(hy < 500000 + 450 * zi)::INT AS y FROM d), " +
          s"g AS (SELECT unnest($grid) AS t), " +
          s"r AS (SELECT t, round(0.0::DOUBLE - (y * ln($p) + " +
          s"(1 - y) * ln(1.0::DOUBLE - $p)), 6) AS nll FROM b CROSS JOIN g), " +
          "pt AS (SELECT t, count(*)::BIGINT AS n, " +
          "round(sum(nll) / count(*), 6) AS mean_nll FROM r GROUP BY 1), " +
          "bst AS (SELECT t AS bt, mean_nll AS bm FROM pt " +
          "ORDER BY mean_nll, t LIMIT 1) " +
          "SELECT t, n, mean_nll, (mean_nll = bm AND t = bt)::INT AS is_best " +
          "FROM pt CROSS JOIN bst ORDER BY t"
      }),

    // ───── GRPO group-relative advantage (Shao 2024): 8-completion
    // prompt groups, integer milli-rewards (exact Σr/Σr² in any
    // summation order — no stddev-algorithm divergence), population-std
    // advantage, zero-std groups (every 13th: constant verifier score)
    // → advantage 0, best-of-n flag — the RLVR batch-prep op beside
    // q281 pass@k and q252 uncertainty sampling ─────
    Query("q324_group_advantage", { (s, dir) =>
      val g = floor(col("doc_id") / 8).cast("long")
      val hr = Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":r"))) % 2001
      val reward = when(g % 13 === 0, lit(500L)).otherwise(hr)
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), g.as("prompt_id"), reward.as("r"))
      Models.groupAdvantage(d, "prompt_id", "doc_id", "r")
        .orderBy("prompt_id", "doc_id")
    },
      // q324: Models.groupAdvantage mirror — integer reward sums (exact in
      // any order), population std from Σr²/n − mean², zero-std groups →
      // advantage 0, best = max reward with lowest-id tie.
      oracle = {
        val hr = Oracles.h60("doc_id::VARCHAR || ':r'")
        "WITH b AS (SELECT doc_id, doc_id // 8 AS prompt_id, " +
          s"CASE WHEN (doc_id // 8) % 13 = 0 THEN 500 ELSE $hr % 2001 END AS r " +
          "FROM documents), " +
          "g AS (SELECT prompt_id, count(*)::BIGINT AS n, sum(r)::BIGINT AS s, " +
          "sum(r*r)::BIGINT AS s2 FROM b GROUP BY 1), " +
          "m AS (SELECT prompt_id, n, s::DOUBLE / n AS mean, " +
          "sqrt(greatest(s2::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n), " +
          "0.0::DOUBLE)) AS std FROM g), " +
          "rk AS (SELECT doc_id, prompt_id, r, row_number() OVER " +
          "(PARTITION BY prompt_id ORDER BY r DESC, doc_id) AS rn FROM b) " +
          "SELECT rk.prompt_id, rk.doc_id, rk.r::DOUBLE AS reward, " +
          "m.n AS group_size, round(m.mean, 6) AS mean_r, " +
          "round(m.std, 6) AS std_r, " +
          "CASE WHEN m.std > 0 THEN round((rk.r - m.mean) / m.std, 6) " +
          "ELSE 0.0::DOUBLE END AS advantage, " +
          "(rk.rn = 1)::INT AS is_best " +
          "FROM rk JOIN m USING (prompt_id) ORDER BY prompt_id, doc_id"
      }),

    // ───── DPO preference-pair construction: 8 completions per prompt
    // (doc_id ⟫ 3), best-vs-worst by score with deterministic struct
    // tie-breaks, margin-gated; ONE map-side-combinable hash agg — the
    // shuffle carries two structs per prompt, not the completions ─────
    Query("q332_dpo_pairs", { (s, dir) =>
      val r = t(s, dir, "documents").select(
        shiftright(col("doc_id"), 3).as("prompt_id"),
        col("doc_id").as("rid"),
        length(col("text")).as("s"))
      Models.dpoPairs(r, "prompt_id", "rid", "s", minMargin = 40.0)
        .orderBy("prompt_id")
    },
      // q332: DPO pair construction — the struct-max/min tie-break
      // (higher id wins the chosen side, lower id the rejected side)
      // mirrored as row_number with the matching two-key ORDER BY.
      oracle = "WITH r AS (SELECT doc_id // 8 AS prompt_id, doc_id AS rid, " +
        "length(text)::DOUBLE AS s FROM documents), " +
        "c AS (SELECT prompt_id, rid, s, row_number() OVER " +
        "(PARTITION BY prompt_id ORDER BY s DESC, rid DESC) AS rc, " +
        "row_number() OVER (PARTITION BY prompt_id ORDER BY s ASC, rid ASC) AS rr, " +
        "count(*) OVER (PARTITION BY prompt_id) AS n FROM r), " +
        "ch AS (SELECT prompt_id, n, rid AS chosen_id, s AS chosen_score " +
        "FROM c WHERE rc = 1), " +
        "rj AS (SELECT prompt_id, rid AS rejected_id, s AS rejected_score " +
        "FROM c WHERE rr = 1) " +
        "SELECT ch.prompt_id, n::BIGINT AS n_responses, chosen_id, " +
        "chosen_score, rejected_id, rejected_score, " +
        "chosen_score - rejected_score AS margin " +
        "FROM ch JOIN rj USING (prompt_id) " +
        "WHERE n >= 2 AND chosen_id <> rejected_id " +
        "AND chosen_score - rejected_score >= 40.0::DOUBLE " +
        "ORDER BY prompt_id")
  )
}
