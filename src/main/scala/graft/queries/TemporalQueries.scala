package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Time-series operators: as-of and range joins, gap fill,
  * smoothing, change detection, seasonality and forecasting. */
private[graft] object TemporalQueries {

  def all: Seq[Query] = Seq(
    // ───── As-of join: clicks pick up the latest prior purchase value ─────
    Query("q41_asof_join", { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("click_val"))
      // pre-aggregate (user, ts) so equal-timestamp right rows are
      // deterministic — the as-of contract (see asofJoinBackward scaladoc)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purch_val"))
      Temporal.asofJoinBackward(clicks, purchases,
          keys = Seq("user_id"), lTime = "ts", rTime = "ts",
          payload = Seq("purch_val"))
        .select("event_id", "user_id", "click_val", "purch_val")
        .orderBy("event_id")
    },
      // Backward as-of join: clicks pick up the latest prior (or equal-time)
      // purchase value per user; DuckDB's native ASOF LEFT JOIN is the
      // oracle for the Spark union+running-window formulation.
      oracle = "WITH p AS (SELECT user_id, ts, max(value) AS purch_val FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "c AS (SELECT event_id, user_id, ts, value AS click_val FROM events " +
        "WHERE event_type = 'click') " +
        "SELECT c.event_id, c.user_id, c.click_val, p.purch_val " +
        "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts " +
        "ORDER BY c.event_id"),

    // ───── Binned interval join: clicks inside 2h post-purchase windows ─────
    Query("q42_range_join", { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      val pairs = Temporal.rangeJoinBinned(clicks, windows,
        keys = Seq("user_id"), pTime = "ts",
        startCol = "w_start", endCol = "w_end", binSeconds = 3600)
      clicks.join(pairs.groupBy("event_id").agg(count(lit(1)).as("n_cover")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_cover"), lit(0L)).as("n_cover"))
        .orderBy("event_id")
    },
      // Interval-containment join: clicks within the half-open 2-hour window
      // after any same-user purchase, counted per click (0 when none). The
      // plain inequality LEFT JOIN is the oracle for the binned equi-join.
      oracle = "WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT c.event_id, c.user_id, count(p.w_start)::BIGINT AS n_cover " +
        "FROM c LEFT JOIN p ON c.user_id = p.user_id " +
        "AND c.ts >= p.w_start AND c.ts < p.w_end " +
        "GROUP BY 1, 2 ORDER BY 1"),

    // ───── Point-in-time join: facts pick up the SCD2 version valid at the fact date ─────
    Query("q64_pit_join", { (s, dir) =>
      val cust = t(s, dir, "customer")
      val dim0 = cust.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("attr"),
        to_date(lit("1992-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val upd = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          concat(lit("SEG-"), col("c_mktsegment")).as("attr"))
      val dim = MergeUpdate.scd2(dim0, upd, Seq("k"), "attr",
        "valid_from", "valid_to", to_date(lit("1995-06-01")))
      val facts = t(s, dir, "orders").select(col("o_custkey"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("odate"))
      Temporal.pointInTimeJoin(facts, dim, "o_custkey", "k",
          "odate", "valid_from", "valid_to")
        .groupBy("attr")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("attr")
    },
      // scd2 over the %3 update set: every updated key closes its 1992 row
      // at 1995-06-01 and opens a SEG- row; facts then join the version
      // whose [valid_from, valid_to) covers the order date
      oracle = "WITH dim AS (" +
        "SELECT c_custkey AS k, c_mktsegment AS attr, DATE '1992-01-01' AS vf, " +
        "CASE WHEN c_custkey % 3 = 0 THEN DATE '1995-06-01' END AS vt FROM customer " +
        "UNION ALL SELECT c_custkey, 'SEG-' || c_mktsegment, DATE '1995-06-01', NULL " +
        "FROM customer WHERE c_custkey % 3 = 0), " +
        "j AS (SELECT o.o_totalprice, d.attr FROM orders o LEFT JOIN dim d " +
        "ON o.o_custkey = d.k AND CAST(o.o_orderdate AS DATE) >= d.vf " +
        "AND (d.vt IS NULL OR CAST(o.o_orderdate AS DATE) < d.vt)) " +
        "SELECT attr, count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS sum_price " +
        "FROM j GROUP BY 1 ORDER BY 1"),

    // ───── trailing z-score anomaly detection: each daily point scored
    // against its own trailing-7 window (leave-current-out, so a spike
    // can't dilute its own baseline); ONE bounded-frame window per key —
    // never a history self-join ─────
    Query("q154_anomaly_zscore", { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      Temporal.anomalyZScores(daily, "user_id", "day", "v")
        .orderBy("user_id", "day")
    },
      // leave-current-out trailing window; μ/σ rounded before the division
      oracle = "WITH o AS (SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT user_id, day, v, round(avg(v) OVER win, 6) AS mu, " +
        "round(stddev_samp(v) OVER win, 6) AS sigma, count(v) OVER win AS n " +
        "FROM o WINDOW win AS (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, day, v, mu, sigma, CASE WHEN sigma > 0 " +
        "THEN round((v - mu) / sigma, 6) END AS zscore " +
        "FROM w WHERE n >= 4 AND ((sigma > 0 " +
        "AND abs(round((v - mu) / sigma, 6)) >= 2) " +
        "OR (sigma = 0 AND v <> mu)) ORDER BY 1, 2"),

    // ───── time-series resample: daily per-user activity with calendar
    // gaps restored (per-key spine, never the global range) and values
    // forward-filled by ONE running window per key ─────
    Query("q149_gapfill_ffill", { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      Temporal.gapFillDaily(daily, "user_id", "day", "v")
        .orderBy("user_id", "day")
    },
      // per-key generate_series spine + IGNORE NULLS running last
      oracle = "WITH o AS (SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT user_id, unnest(generate_series(min(day), max(day), " +
        "INTERVAL 1 DAY))::DATE AS day FROM o GROUP BY user_id), " +
        "j AS (SELECT sp.user_id, sp.day, o.v FROM sp " +
        "LEFT JOIN o USING (user_id, day)) " +
        "SELECT user_id, day, v, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS v_filled, (v IS NULL) AS is_gap " +
        "FROM j ORDER BY 1, 2"),

    // ───── sweep-line interval concurrency: each event opens a
    // (300 + ⌊value⌋)-second interval; peak simultaneous open intervals
    // per type and the earliest instant it is reached — 2 delta rows per
    // interval + one running-sum window, never a self-theta-join ─────
    Query("q166_interval_concurrency", { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("event_type"), col("ts"),
          expr("ts + make_interval(0, 0, 0, 0, 0, 0, 300 + floor(value))")
            .as("te"))
      Temporal.maxConcurrency(iv, "event_type", "ts", "te")
        .orderBy("event_type")
    },
      // ±1 deltas summed per unique instant, then one running sum per key;
      // peak_at = earliest instant attaining the per-key max
      oracle = "WITH iv AS (SELECT event_type AS k, ts AS s, " +
        "ts + to_seconds((300 + floor(value))::BIGINT) AS e FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL " +
        // e > s: Temporal.maxConcurrency drops non-positive-duration
        // intervals; both sides must share the degenerate-interval contract
        "AND (300 + floor(value)) > 0), " +
        "d AS (SELECT k, s AS t, 1 AS d FROM iv " +
        "UNION ALL SELECT k, e, -1 FROM iv), " +
        "g AS (SELECT k, t, sum(d)::BIGINT AS d FROM d GROUP BY 1, 2), " +
        "r AS (SELECT k, t, sum(d) OVER (PARTITION BY k ORDER BY t " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS open FROM g), " +
        "p AS (SELECT k, t, open, max(open) OVER (PARTITION BY k) AS mx FROM r) " +
        "SELECT k AS event_type, mx AS peak, min(t) AS peak_at " +
        "FROM p WHERE open = mx GROUP BY 1, 2 ORDER BY 1"),

    // ───── windowed EWMA: hourly mean value per type smoothed with
    // α=0.3 over the trailing 12 hours — one bounded-frame window plus a
    // single fold over the collected frame, no history self-join ─────
    Query("q167_ewma", { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(col("value")).as("v"))
      Temporal.ewma(hourly, "event_type", "hr", "v", alpha = 0.3,
          lookback = 12)
        .select(col("event_type"), col("hr"), round(col("v"), 6).as("v"),
          col("ewma"))
        .orderBy("event_type", "hr")
    },
      // trailing-12 decay dot product via a bounded rn-range self-join —
      // the independent formulation of the window-fold; closed-form
      // geometric denominator
      oracle = "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
        "avg(value) AS v FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2), " +
        "r AS (SELECT event_type, hr, v, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY hr) AS rn FROM h) " +
        "SELECT a.event_type, a.hr, round(a.v, 6) AS v, " +
        "round(sum(b.v * power(0.7, a.rn - b.rn)) * 0.3 " +
        "/ (1 - power(0.7, count(*))), 6) AS ewma " +
        "FROM r a JOIN r b ON a.event_type = b.event_type " +
        "AND b.rn BETWEEN a.rn - 11 AND a.rn " +
        "GROUP BY a.event_type, a.hr, a.rn, a.v ORDER BY 1, 2"),

    // ───── daily OHLC bars: first/last value in (ts, event_id) order —
    // the unique tie column makes open/close deterministic — plus
    // min/max/count, one window + one hash-agg per (type, day) ─────
    Query("q170_ohlc", { (s, dir) =>
      Temporal.ohlcDaily(t(s, dir, "events"), "event_type", "ts", "value",
          tieCol = "event_id")
        .orderBy("event_type", "day")
    },
      // full-frame first/last in (ts, event_id) order, then one hash-agg
      oracle = "WITH e AS (SELECT event_type, ts::DATE AS day, value AS v, ts, " +
        "event_id FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "w AS (SELECT event_type, day, v, first_value(v) OVER win AS o, " +
        "last_value(v) OVER win AS c FROM e WINDOW win AS " +
        "(PARTITION BY event_type, day ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
        "SELECT event_type, day, min(o) AS open, max(v) AS high, " +
        "min(v) AS low, min(c) AS close, count(*)::BIGINT AS n " +
        "FROM w GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── rolling correlation: click-vs-view hourly mean value, Pearson
    // r over the trailing 24 hours once ≥12 aligned pairs exist — the
    // raw-event collapse parallelizes; the unpartitioned window runs over
    // the calendar-bounded hourly grain only ─────
    Query("q171_rolling_corr", { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      Temporal.rollingCorr(hourly, "hr", "x", "y", lookback = 24,
          minPeriods = 12)
        .select(col("hr"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"), col("n_pairs"), col("roll_corr"))
        .orderBy("hr")
    },
      // trailing-24 Pearson r over the aligned hourly pair, ≥12 pairs
      oracle = "WITH h AS (SELECT date_trunc('hour', ts) AS hr, " +
        "avg(CASE WHEN event_type = 'click' THEN value END) AS x, " +
        "avg(CASE WHEN event_type = 'view' THEN value END) AS y " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1), " +
        "r AS (SELECT hr, x, y, count(CASE WHEN x IS NOT NULL " +
        "AND y IS NOT NULL THEN 1 END) OVER win AS n_pairs, " +
        "round(corr(x, y) OVER win, 6) AS rc FROM h WINDOW win AS " +
        "(ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT hr, round(x, 6) AS x, round(y, 6) AS y, n_pairs, " +
        "CASE WHEN n_pairs >= 12 THEN rc END AS roll_corr " +
        "FROM r WHERE n_pairs >= 12 ORDER BY hr"),

    // ───── cross-correlation lag scan: does click value lead view value?
    // Pearson r at every hourly lag in [−6, +6] — the broadcast lag
    // dimension × ONE shifted-instant equi-join, one moment agg per lag ─────
    Query("q173_lag_corr", { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      Temporal.crossCorrLags(hourly, "hr", "x", "y", maxLag = 6,
          stepSeconds = 3600L)
        .orderBy("lag")
    },
      // broadcast lag dimension × shifted-instant equi-join (interval
      // shift vs Spark's epoch arithmetic — independent alignments)
      oracle = "WITH h AS (SELECT date_trunc('hour', ts) AS hr, " +
        "avg(CASE WHEN event_type = 'click' THEN value END) AS x, " +
        "avg(CASE WHEN event_type = 'view' THEN value END) AS y " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1), " +
        "l AS (SELECT unnest(range(-6, 7))::INT AS lag), " +
        "j AS (SELECT l.lag, a.x AS x, b.y AS y FROM h a CROSS JOIN l " +
        "JOIN h b ON b.hr = a.hr + to_hours(l.lag::BIGINT) " +
        "WHERE a.x IS NOT NULL AND b.y IS NOT NULL) " +
        "SELECT lag, count(*)::BIGINT AS n, " +
        "CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0 THEN " +
        "round(covar_pop(x, y) / sqrt(var_pop(x) * var_pop(y)), 6) END AS r " +
        "FROM j GROUP BY 1 ORDER BY 1"),

    // ───── robust outliers via modified z-score (Iglewicz–Hoaglin):
    // |0.6745·(v−median)/MAD| ≥ 3.5 per event type — median-based, so a
    // heavy tail can't dilute its own baseline the way μ/σ lets it;
    // exact-median formulation (oracle-checkable); swap in the histogram
    // sketch at 100 TB ─────
    Query("q175_mad_outliers", { (s, dir) =>
      Temporal.madOutliers(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("mz"))
        .orderBy("event_id")
    },
      // exact interpolated medians (quantile_cont ≡ Spark percentile),
      // 6dp-rounded before the division; MAD = 0 flags any deviation
      oracle = "WITH m AS (SELECT event_type, " +
        "round(quantile_cont(value, 0.5), 6) AS med FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1), " +
        "j AS (SELECT e.event_id, e.event_type, e.value, m.med FROM events e " +
        "JOIN m USING (event_type) WHERE e.value IS NOT NULL), " +
        "md AS (SELECT event_type, " +
        "round(quantile_cont(abs(value - med), 0.5), 6) AS mad FROM j " +
        "GROUP BY 1), " +
        "x AS (SELECT j.event_id, j.event_type, j.value, j.med, md.mad, " +
        "CASE WHEN md.mad > 0 THEN " +
        "round(0.6745 * (j.value - j.med) / md.mad, 6) END AS mz " +
        "FROM j JOIN md USING (event_type)) " +
        "SELECT event_id, event_type, value, med, mad, mz FROM x " +
        "WHERE (mad > 0 AND abs(mz) >= 3.5) OR (mad = 0 AND value <> med) " +
        "ORDER BY event_id"),

    // ───── CUSUM change-point detection: daily mean value per type vs
    // its first-week baseline — the recursive max-reset statistic
    // re-expressed as running-sum minus running-extremum (two window
    // layers, no recursion); catches sustained small shifts a per-point
    // z-score never flags ─────
    Query("q184_cusum", { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("v"))
      Temporal.cusumChangePoints(daily, "event_type", "day", "v",
          baselineN = 7, slack = 0.5, threshold = 4.0)
        .select(col("event_type"), col("day"), round(col("v"), 6).as("v"),
          col("zscore"), col("s_pos"), col("s_neg"), col("change_flag"))
        .orderBy("event_type", "day")
    },
      // running-sum-minus-running-extremum CUSUM over 6dp z; baseline =
      // first 7 rows per key, rounded σ > 0 gate matches the Spark side
      oracle = "WITH d AS (SELECT event_type AS k, ts::DATE AS day, avg(value) AS v " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT k, day, v, row_number() OVER " +
        "(PARTITION BY k ORDER BY day) AS rn FROM d), " +
        "b AS (SELECT k, round(avg(v), 6) AS mu, " +
        "round(stddev_samp(v), 6) AS sigma FROM r WHERE rn <= 7 GROUP BY 1), " +
        "z AS (SELECT r.k, day, v, round((v - mu) / sigma, 6) AS z " +
        "FROM r JOIN b ON r.k = b.k WHERE sigma > 0), " +
        "c AS (SELECT k, day, v, z, sum(z - 0.5) OVER w AS cpos, " +
        "sum(z + 0.5) OVER w AS cneg FROM z WINDOW w AS " +
        "(PARTITION BY k ORDER BY day ROWS UNBOUNDED PRECEDING)), " +
        "s AS (SELECT k, day, v, z, " +
        "round(cpos - least(0.0, min(cpos) OVER w), 6) AS s_pos, " +
        "round(greatest(0.0, max(cneg) OVER w) - cneg, 6) AS s_neg FROM c " +
        "WINDOW w AS (PARTITION BY k ORDER BY day ROWS UNBOUNDED PRECEDING)) " +
        "SELECT k AS event_type, day, round(v, 6) AS v, z AS zscore, " +
        "s_pos, s_neg, (s_pos >= 4.0 OR s_neg >= 4.0) AS change_flag " +
        "FROM s ORDER BY 1, 2"),

    // ───── seasonal-naive backtest: the baseline a forecaster must
    // beat — weekly-seasonal vs yesterday's-value forecasts scored on
    // the SAME evaluation rows, MAE each + improvement ratio ─────
    Query("q185_backtest", { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("v"))
      Temporal.seasonalNaiveBacktest(daily, "event_type", "day", "v",
          season = 7)
        .orderBy("event_type")
    },
      // both forecasts lag off one ordered pass; scored on the SAME rows
      oracle = "WITH d AS (SELECT event_type AS k, ts::DATE AS day, avg(value) AS v " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "l AS (SELECT k, v, lag(v, 1) OVER w AS f1, lag(v, 7) OVER w AS fs " +
        "FROM d WINDOW w AS (PARTITION BY k ORDER BY day)), " +
        "e AS (SELECT k, v, f1, fs FROM l " +
        "WHERE f1 IS NOT NULL AND fs IS NOT NULL), " +
        "a AS (SELECT k AS event_type, count(*)::BIGINT AS n, " +
        "round(avg(abs(v - f1)), 6) AS mae_naive1, " +
        "round(avg(abs(v - fs)), 6) AS mae_seasonal FROM e GROUP BY 1) " +
        "SELECT event_type, n, mae_naive1, mae_seasonal, " +
        "CASE WHEN mae_seasonal > 0 THEN " +
        "round(mae_naive1 / mae_seasonal, 6) END AS improvement " +
        "FROM a ORDER BY event_type"),

    // ───── first-order Markov transitions over per-user event
    // sequences: P(next | current) per event-type pair — one key shuffle
    // for the lead window, normalization on the ≤|types|² grid ─────
    Query("q192_markov_transitions", { (s, dir) =>
      Temporal.transitionMatrix(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },
      // lead over (user, ts, id), (from, to) counts, row-normalized
      oracle = "WITH s AS (SELECT event_type AS from_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL), " +
        "p AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM s " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, round(n::DOUBLE / " +
        "(sum(n) OVER (PARTITION BY from_type))::DOUBLE, 6) AS p " +
        "FROM p ORDER BY from_type, to_type"),

    // ───── classical multiplicative seasonal decomposition of the daily
    // event-value series: 7-day centered trend, normalized day-of-week
    // index, residual — the series is the bounded grain (types × 30 days) ─────
    Query("q206_seasonal", { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 6).as("v"))
      Temporal.seasonalDecompose(daily, "event_type", "day", "v")
        .select(col("event_type"), col("day"), col("dow"), col("v"),
          col("trend"), col("seasonal"), col("deseason"), col("resid"))
        .orderBy("event_type", "day")
    },
      // daily grain → 7-day centered trend (full frames only) → normalized
      // dow index → residual; dayofweek(DuckDB)+1 = dayofweek(Spark)
      oracle = "WITH daily AS (SELECT event_type, ts::DATE AS day, " +
        "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, day, v, (dayofweek(day) + 1)::INT AS dow, " +
        "CASE WHEN count(v) OVER w7 = 7 THEN round(avg(v) OVER w7, 6) END " +
        "AS trend FROM daily WINDOW w7 AS (PARTITION BY event_type " +
        "ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "s AS (SELECT event_type, dow, round(avg(v / trend), 6) AS si_raw " +
        "FROM b WHERE trend > 0 GROUP BY 1, 2), " +
        "sn AS (SELECT event_type, dow, round(si_raw * " +
        "count(*) OVER (PARTITION BY event_type) / " +
        "sum(si_raw) OVER (PARTITION BY event_type), 6) AS seasonal FROM s) " +
        "SELECT b.event_type, b.day, b.dow, b.v, b.trend, sn.seasonal, " +
        "CASE WHEN sn.seasonal > 0 THEN round(b.v / sn.seasonal, 6) END " +
        "AS deseason, " +
        "CASE WHEN b.trend > 0 AND sn.seasonal > 0 " +
        "THEN round(b.v / (b.trend * sn.seasonal), 6) END AS resid " +
        "FROM b LEFT JOIN sn ON b.event_type = sn.event_type " +
        "AND b.dow = sn.dow ORDER BY b.event_type, b.day"),

    // ───── time-constrained ordered funnel (ClickHouse windowFunnel,
    // EXISTS semantics): view→click→purchase chains inside 2 h of the
    // chain's FIRST event, every step-1 event a candidate start — the
    // min-first-occurrence funnel (q111) misses late-starting chains ─────
    Query("q208_window_funnel", { (s, dir) =>
      Temporal.windowFunnel(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          expr("INTERVAL 2 HOURS"))
        .orderBy("step")
    },
      // exists-chain funnel: every step-1 event is a candidate start; for a
      // fixed start the min feasible completion per level decides exactly
      oracle = "WITH s1 AS (SELECT user_id AS u, ts AS t0, ts AS l FROM events " +
        "WHERE event_type = 'view'), " +
        "s2 AS (SELECT s1.u, s1.t0, min(e.ts) AS l FROM events e " +
        "JOIN s1 ON e.user_id = s1.u AND e.ts > s1.l " +
        "AND e.ts <= s1.t0 + INTERVAL 2 HOUR " +
        "WHERE e.event_type = 'click' GROUP BY 1, 2), " +
        "s3 AS (SELECT s2.u, s2.t0, min(e.ts) AS l FROM events e " +
        "JOIN s2 ON e.user_id = s2.u AND e.ts > s2.l " +
        "AND e.ts <= s2.t0 + INTERVAL 2 HOUR " +
        "WHERE e.event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT 1 AS step, 'view' AS step_name, " +
        "count(DISTINCT u)::BIGINT AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'click', count(DISTINCT u)::BIGINT FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', count(DISTINCT u)::BIGINT FROM s3 " +
        "ORDER BY step"),

    // ───── Holt linear smoothing of the daily event-value series:
    // level+trend state folded sequentially per key (9dp per step), a
    // 7-day-ahead forecast and the in-sample one-step MAE — the
    // forecaster rung between EWMA (q167, trendless) and the seasonal
    // decomposition (q206) ─────
    Query("q209_holt", { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 6).as("v"))
      Temporal.holtLinear(daily, "event_type", "day", "v",
          alpha = 0.5, beta = 0.3, horizon = 7)
        .orderBy("event_type")
    },
      // the recursive CTE walks the same 9dp-rounded (l, b) recurrence the
      // Spark fold runs — one row per (key, i), final state at i = n
      oracle = "WITH RECURSIVE daily AS (SELECT event_type AS k, ts::DATE AS day, " +
        "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "idx AS (SELECT k, v, row_number() OVER (PARTITION BY k " +
        "ORDER BY day) AS i FROM daily), " +
        "nn AS (SELECT k, max(i) AS n FROM idx GROUP BY 1), " +
        "h AS (SELECT a.k, 1 AS i, a.v::DOUBLE AS l, " +
        "(b.v - a.v)::DOUBLE AS b, 0.0::DOUBLE AS sae, 0 AS cnt " +
        "FROM idx a JOIN idx b ON a.k = b.k AND a.i = 1 AND b.i = 2 " +
        "UNION ALL SELECT h.k, h.i + 1, " +
        "round(0.5 * x.v + 0.5 * (h.l + h.b), 9), " +
        "round(0.3 * (round(0.5 * x.v + 0.5 * (h.l + h.b), 9) - h.l) " +
        "+ 0.7 * h.b, 9), " +
        "h.sae + abs(x.v - (h.l + h.b)), h.cnt + 1 " +
        "FROM h JOIN idx x ON x.k = h.k AND x.i = h.i + 1) " +
        "SELECT h.k AS event_type, nn.n::INT AS n, " +
        "round(h.l, 6) AS level, round(h.b, 6) AS trend, " +
        "round(h.l + 7 * h.b, 6) AS forecast, " +
        "round(h.sae / h.cnt, 6) AS mae " +
        "FROM h JOIN nn ON h.k = nn.k AND h.i = nn.n " +
        "ORDER BY event_type"),

    // ───── q175's 100 TB posture, realized: the same Iglewicz–Hoaglin
    // flags with the exact per-group percentile (buffers every group
    // value) swapped for two mergeable fixed-width histogram-median
    // passes — per-key state is 256 counters, not the data ─────
    Query("q211_mad_approx", { (s, dir) =>
      Temporal.madOutliersApprox(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", bins = 256)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("mz"))
        .orderBy("event_id")
    },
      // `Temporal.madOutliersApprox` on events: two histogram-median passes
      // (value, then residual), then the exact twin's flagging arithmetic.
      oracle = "WITH src AS (SELECT event_type AS k, event_id AS id, value::DOUBLE AS v " +
        "FROM events WHERE value IS NOT NULL), " +
        Oracles.histMedianCtes("src", "v", "h1", 256) + ", " +
        "r AS (SELECT src.k, src.id, src.v, m.med, abs(src.v - m.med) AS resid " +
        "FROM src JOIN h1m m ON src.k = m.k), " +
        Oracles.histMedianCtes("r", "resid", "h2", 256) + ", " +
        "f AS (SELECT r.k, r.id, r.v, r.med, d.med AS mad FROM r " +
        "JOIN h2m d ON r.k = d.k) " +
        "SELECT id AS event_id, k AS event_type, v AS value, med, mad, " +
        "CASE WHEN mad > 0 THEN round(0.6745 * (v - med) / mad, 6) END AS mz " +
        "FROM f WHERE (mad > 0 AND " +
        "abs(round(0.6745 * (v - med) / mad, 6)) >= 3.5) " +
        "OR (mad = 0 AND v != med) ORDER BY event_id"),

    // ───── winsorize-then-standardize the event values per type: clip to
    // the [p05, p95] histogram-quantile band (mergeable 256-counter state,
    // never a per-group sort), then z-score the clipped values — the
    // robust feature-scaling preprocessor ─────
    Query("q215_winsorize", { (s, dir) =>
      Temporal.winsorizedStandardize(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", pLo = 0.05, pHi = 0.95, bins = 256)
        .select(col("event_id"), col("event_type"), col("value"),
          col("clipped"), col("z"))
        .orderBy("event_id")
    },
      // two histogram-quantile ladders (p05/p95) clip the band, then
      // 6dp-rounded mean/sigma_pop standardize the clipped values
      oracle = "WITH src AS (SELECT event_type AS k, event_id AS id, " +
        "value::DOUBLE AS v FROM events WHERE value IS NOT NULL), " +
        Oracles.histMedianCtes("src", "v", "h1", 256, p = 0.05) + ", " +
        Oracles.histMedianCtes("src", "v", "h2", 256, p = 0.95) + ", " +
        "c AS (SELECT src.k, src.id, src.v, " +
        "least(greatest(src.v, lo.med), hi.med) AS clipped " +
        "FROM src JOIN h1m lo ON src.k = lo.k JOIN h2m hi ON src.k = hi.k), " +
        "m AS (SELECT k, round(avg(clipped), 6) AS mean, " +
        "round(stddev_pop(clipped), 6) AS sd FROM c GROUP BY 1) " +
        "SELECT c.id AS event_id, c.k AS event_type, c.v AS value, " +
        "c.clipped, CASE WHEN m.sd > 0 THEN " +
        "round((c.clipped - m.mean) / m.sd, 6) END AS z " +
        "FROM c JOIN m ON c.k = m.k ORDER BY event_id"),

    // ───── Forward as-of join (the "next purchase after the click"
    // direction — q41's mirror): union + ONE descending running window
    // per key, no join, no range explosion ─────
    Query("q266_asof_forward", { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("click_val"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purch_val"))
      Temporal.asofJoinForward(clicks, purchases,
          keys = Seq("user_id"), lTime = "ts", rTime = "ts",
          payload = Seq("purch_val"))
        .select("event_id", "user_id", "click_val", "purch_val")
        .orderBy("event_id")
    },
      // q41's mirror: DuckDB ASOF with the inequality flipped
      oracle = "WITH p AS (SELECT user_id, ts, max(value) AS purch_val FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "c AS (SELECT event_id, user_id, ts, value AS click_val FROM events " +
        "WHERE event_type = 'click') " +
        "SELECT c.event_id, c.user_id, c.click_val, p.purch_val " +
        "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.event_id")
  )
}
