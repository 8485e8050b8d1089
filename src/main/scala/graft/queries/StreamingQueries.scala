package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Structured-streaming queries, each drained to a table and checked
  * against the batch SQL. */
private[graft] object StreamingQueries {

  def all: Seq[Query] = Seq(
    // ───── Session windows over events (batch form of the streaming op) ─────
    Query("q24_session_window", { (s, dir) =>
      graft.streaming.StreamingOps.sessionize(t(s, dir, "events"))
        .orderBy("user_id", "session_start")
    },
      oracle = Oracles.sessionWindow),

    // ───── Typed-group sessionizer: flatMapGroups twin of q24 ─────
    Query("q52_sessionize_typed", { (s, dir) =>
      graft.streaming.StreamingOps.sessionizeTyped(t(s, dir, "events"))
        .orderBy("user_id", "session_start")
    },
      // identical sessions from the typed path — same oracle as q24
      oracle = Oracles.sessionWindow),

    // ───── Structured Streaming end-to-end: file source → session windows
    // → memory sink. AvailableNow drains the source then stops; complete
    // mode emits every session regardless of the final watermark (append
    // would strand in-watermark sessions in state when the source ends).
    // Same oracle as q24 — the batch/stream parity the Structured
    // Streaming contract promises, made an oracle-checked row. ─────
    Query("q66_stream_sessionize", { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.sessionize(eventsStream(s, dir)),
        "g66_sessions", "complete")
        .orderBy("user_id", "session_start")
    },
      // identical sessions from the true streaming path (q66) — same oracle
      oracle = Oracles.sessionWindow),

    // ───── Structured Streaming: tumbling hourly aggregate end-to-end —
    // the q10 batch window as a true stream, same oracle ─────
    Query("q67_stream_tumbling", { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.hourlyByType(eventsStream(s, dir))
          .withColumn("sum_value", round(col("sum_value"), 2)),
        "g67_hourly", "complete")
        .orderBy("win_start", "event_type")
    },
      // identical hourly windows from the true streaming path — q10's oracle
      oracle = "SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── Structured Streaming: exact dedup with bounded state — the
    // same events stream twice (every id arrives as a duplicate), the
    // dedup operator keeps exactly one; oracle = the plain events table ─────
    Query("q68_stream_dedup", { (s, dir) =>
      val doubled = eventsStream(s, dir).unionByName(eventsStream(s, dir))
      drainToTable(s,
        graft.streaming.StreamingOps.streamingDedup(doubled, Seq("event_id")),
        "g68_dedup", "append")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    },
      // streaming dedup of the doubled stream ≡ the original events table
      oracle = "SELECT event_id, event_type, value FROM events ORDER BY event_id"),

    // ───── Structured Streaming: sliding 1h/30m windows end-to-end —
    // the q46 batch query as a true stream, same oracle ─────
    Query("q79_stream_sliding", { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.slidingByType(eventsStream(s, dir)),
        "g79_sliding", "complete")
        .orderBy("win_start", "event_type")
    },
      // the q46 batch sliding-window oracle, reused by the streaming path
      oracle = "WITH w AS (SELECT event_type, value, " +
        "time_bucket(INTERVAL 30 MINUTE, ts) AS s1 FROM events), " +
        "x AS (SELECT event_type, value, s1 AS win_start FROM w " +
        "UNION ALL SELECT event_type, value, s1 - INTERVAL 30 MINUTE FROM w) " +
        "SELECT win_start, event_type, count(*)::BIGINT AS n, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM x GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── Structured Streaming: mapGroupsWithState running per-user
    // totals end-to-end (update mode; the monotone event count picks each
    // user's LAST emitted state if the source split into several batches) ─────
    Query("q80_stream_running_total", { (s, dir) =>
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"))
        .as[graft.streaming.StreamingOps.UserEvent]
      val drained = drainToTable(s,
        graft.streaming.StreamingOps.runningUserTotals(typed).toDF(),
        "g80_totals", "update")
      val last = Window.partitionBy("user_id").orderBy(col("n").desc)
      drained.withColumn("_r", row_number().over(last))
        .filter(col("_r") === 1)
        .select(col("user_id"), col("n"), round(col("total"), 2).as("total"))
        .orderBy("user_id")
    },
      // final mapGroupsWithState state per user ≡ the batch lifetime totals
      oracle = "SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS total " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // ───── stream-static join: the streaming events enrich against a
    // static dimension (type → weight) mid-stream, then window-aggregate
    // — the standard streaming enrichment shape ─────
    Query("q84_stream_static_join", { (s, dir) =>
      import s.implicits._
      // integral weights: a fractional weight times the 2-decimal values
      // lands sums on exact .005 halves, where decimal HALF_UP (Spark)
      // and binary rounding (DuckDB) disagree
      val weights = Seq(("click", 1.0), ("purchase", 5.0), ("signup", 3.0),
        ("view", 2.0), ("error", 0.0)).toDF("event_type", "weight")
      // LEFT join + weight-0 fallback: event types outside the dimension
      // keep their counts at weight 0 instead of vanishing — the oracle's
      // ELSE 0.0 derivation agrees even if the generator adds a type
      val enriched = eventsStream(s, dir)
        .join(weights, Seq("event_type"), "left") // stream-static left join
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value") * coalesce(col("weight"), lit(0.0))), 2)
            .as("weighted"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("weighted"))
      drainToTable(s, enriched, "g84_enriched", "complete")
        .orderBy("win_start", "event_type")
    },
      oracle = "WITH w AS (SELECT event_type, CASE event_type WHEN 'click' THEN 1.0 " +
        "WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0 WHEN 'view' THEN 2.0 " +
        "ELSE 0.0 END AS weight FROM (SELECT DISTINCT event_type FROM events)) " +
        "SELECT date_trunc('hour', e.ts) AS win_start, e.event_type, " +
        "count(*)::BIGINT AS n, round(sum(e.value * w.weight), 2) AS weighted " +
        "FROM events e JOIN w ON e.event_type = w.event_type " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── stream-stream interval join: clicks match purchases by the
    // same user within the following hour — watermarks on BOTH sides plus
    // the time-range condition bound the join state ─────
    Query("q85_stream_stream_join", { (s, dir) =>
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("p_user_id") === col("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      drainToTable(s,
        joined.select("click_id", "purchase_id", "user_id"),
        "g85_pairs", "append")
        .orderBy("click_id", "purchase_id")
    },
      oracle = "SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id " +
        "FROM events c JOIN events p ON c.event_type = 'click' " +
        "AND p.event_type = 'purchase' AND p.user_id = c.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
        "ORDER BY click_id, purchase_id"),

    // ───── streaming MERGE into a keyed serving store (foreachBatch
    // upsert — the production stream-ingest shape). The source is split
    // into 4 files streamed one per micro-batch so the store really is
    // built by repeated merges; the merge is batching-independent by
    // construction, and the oracle is the plain batch aggregate ─────
    Query("q103_stream_merge_store", { (s, dir) =>
      graft.streaming.StreamingOps
        .streamingMergeStore(eventsStreamSplit(s, dir, 4))
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"),
          col("last_ts"), col("last_type"))
        .orderBy("user_id")
    },
      // the merged store is batching-independent, so the oracle is the
      // plain lifetime aggregate + per-user latest event
      oracle = "WITH agg AS (SELECT user_id, count(*)::BIGINT AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, ts AS last_ts, event_type AS last_type FROM (" +
        "SELECT user_id, ts, event_type, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1) " +
        "SELECT a.user_id, a.n_events, a.sum_value, l.last_ts, l.last_type " +
        "FROM agg a JOIN l ON a.user_id = l.user_id ORDER BY a.user_id"),

    // ───── STREAMING count-min sketch: like q141's HLL, the counter
    // grid is a plain streaming aggregate (sums merge across
    // micro-batches; complete-mode state IS the running sketch); the
    // batch probe estimates the same top-20 keys off the drained grid ─────
    Query("q153_stream_cms", { (s, dir) =>
      val counters = Sketches.cmsCounters(eventsStream(s, dir), col("user_id"))
      val drained = drainToTable(s, counters, "g153_cms", "complete")
      val top = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
      Sketches.cmsEstimate(drained, top, "user_id")
        .withColumn("overest", col("cms_est") - col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },
      // streaming counters ≡ batch counters (sums merge across batches)
      oracle = Oracles.cmsOracle),

    // ───── STREAMING HyperLogLog: the sketch's (group, bucket)→max(rho)
    // half runs unchanged as a streaming aggregate (max is monotone, so
    // complete-mode state IS the running sketch); the batch finalizer
    // folds the drained registers — mergeable-sketch streaming without a
    // custom stateful operator, and the estimate matches the batch path
    // bit for bit ─────
    Query("q141_stream_hll", { (s, dir) =>
      val ev = eventsStream(s, dir).withColumn("val",
        concat_ws(":", col("user_id"), date_format(col("ts"), "yyyy-MM-dd")))
      val regs = Sketches.registers(ev, "event_type", col("val"))
      Sketches.finalizeRegisters(
          drainToTable(s, regs, "g141_regs", "complete"), "event_type")
        .orderBy("event_type")
    },
      // streaming registers ≡ batch registers (max is merge-order-free), so
      // the oracle is the q136 estimator without the exact/error columns
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
        "(0.7213 / (1 + 1.079 / 256)) * 65536 / (sum_present + (256 - n_present)) AS e_raw FROM s) " +
        "SELECT event_type, round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) AS hll_est " +
        "FROM e ORDER BY 1"),

    // ───── STREAMING PSI: the second half of the month streams in, bin
    // counts accumulate as a complete-mode aggregate (reference bounds
    // baked in as literals from a bounded 2-double batch agg), drift
    // priced against the static reference with q178's exact math ─────
    Query("q183_stream_psi", { (s, dir) =>
      val cut = lit("2024-01-16").cast("timestamp")
      val ref = t(s, dir, "events")
        .filter(col("ts") < cut && col("value").isNotNull)
        .select(col("value").cast("double").as("v"))
      val row = ref.agg(min(col("v")), max(col("v"))).head()
      val (lo, hi) = (row.getDouble(0), row.getDouble(1))
      def binOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        if (hi == lo) lit(0)
        else least(lit(9), greatest(lit(0),
          floor((c - lit(lo)) / lit((hi - lo) / 10)).cast("int")))
      val curStream = eventsStream(s, dir)
        .filter(col("ts") >= cut && col("value").isNotNull)
        .groupBy(binOf(col("value").cast("double")).as("bin"))
        .agg(count(lit(1)).as("n_cur"))
      val cur = drainToTable(s, curStream, "g183_cur", "complete")
      val refCounts = ref.groupBy(binOf(col("v")).as("bin"))
        .agg(count(lit(1)).as("n_ref"))
      val spine = s.range(10).select(col("id").cast("int").as("bin"))
      val counts = spine
        .join(refCounts, Seq("bin"), "left")
        .join(cur, Seq("bin"), "left")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      Models.psiFromCounts(counts, nBins = 10)
        .orderBy("bin")
    },
      // the streaming current side accumulates q178's exact bin counts —
      // same oracle, stream ≡ batch
      oracle = Oracles.psiDriftOracle),

    // ───── Structured Streaming: the Gopher gate at INGEST time — the
    // q233 rule battery as a stateless streaming filter over the
    // documents file stream (corpus filtering before anything lands);
    // append mode, same oracle arithmetic as the batch row ─────
    Query("q239_stream_quality_gate", { (s, dir) =>
      drainToTable(s,
        TextAnalysis.gopherRules(docsStreamBalanced(s, dir), "doc_id", "text",
            minStopHits = 1)
          // a bare filter(pass) is pushed below the balancing exchange
          // with the whole rule chain substituted in: the regex battery
          // ran twice, once on the stream's single input partition
          .filter(Sources.noPushdown(col("pass"))),
        "g239_gate", "append")
        .orderBy("doc_id")
    },
      // the q233 battery restricted to passing docs — the drained stream
      // is row-identical to the batch projection (stateless operator)
      oracle = "SELECT * FROM (" +
        Oracles.gopherRules(1).stripSuffix(" ORDER BY doc_id") +
        ") WHERE pass ORDER BY doc_id"),

    // ───── STREAMING media ingest decode: the q23 mixed-modality decode
    // running per micro-batch on a STREAMING id column (stateless
    // mapPartitions — no state store); the drained stream is
    // row-identical to the batch projection ─────
    Query("q250_stream_media_decode", { (s, dir) =>
      import s.implicits._
      drainToTable(s,
        Multimodal.mediaFeaturesOf(
          docsStream(s, dir).select(col("doc_id")).as[Long]),
        "g250_media", "append")
        .orderBy("doc_id")
    },
      // q250: the same per-asset rows, per-row (drained stream ≡ batch).
      oracle = s"WITH ${Oracles.multimodalRowCtes} " +
        "SELECT doc_id, kind, n_bytes::INT AS n_bytes, units::INT AS units, " +
        "val_sum::BIGINT AS val_sum FROM f ORDER BY doc_id"),

    // ───── STREAMING NB classifier gate: q253's model trained batch-side,
    // collected into a literal token→llr map, served as a PURE PROJECTION
    // on the document stream (no join, no state store) — the trained-
    // model twin of q239's rule gate; drained stream ≡ batch scores ─────
    Query("q258_stream_nb_gate", { (s, dir) =>
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(
        t(s, dir, "documents"), "text", y, vocabSize = 512)
      drainToTable(s,
        Models.naiveBayesServe(docsStream(s, dir), model, "text")
          .filter(col("pred") === 1)
          .select("doc_id", "log_odds", "pred"),
        "g258_nb_gate", "append")
        .orderBy("doc_id")
    },
      // the q253 recomputation, gated to positive predictions
      oracle = "SELECT doc_id, log_odds, pred FROM (" +
        Oracles.naiveBayes(512).replaceAll(" ORDER BY l.doc_id$", "") +
        ") WHERE pred = 1 ORDER BY doc_id"),

    // ───── STREAMING privacy monitor: the q254 k-anonymity audit run as
    // an ingest-time gate — per-(cohort, sensitive) counts accumulate in
    // complete mode (streaming supports no COUNT DISTINCT; state is the
    // distinct (cohort, user) grid, exactly the two-phase distinct
    // aggregate's first phase), the drained store rolls up to cohorts
    // batch-side. Drained-stream audit ≡ the batch audit row for row ─────
    Query("q264_stream_k_anonymity", { (s, dir) =>
      val perUser = eventsStream(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy("event_type", "day", "user_id")
        .agg(count(lit(1)).as("_n"))
      // ENFORCED state bound: complete-mode state is the (cohort × user)
      // grid — fail loud if cohort cardinality breaks the documented
      // bound instead of growing state until the store OOMs
      val store = Privacy.requireBoundedCohorts(
        drainToTable(s, perUser, "g264_kanon", "complete"),
        Seq("event_type", "day"), maxCohorts = 100000L)
      store.groupBy("event_type", "day")
        .agg(sum("_n").as("group_size"),
          countDistinct(col("user_id")).as("l_distinct"))
        .withColumn("risk", round(lit(1.0) / col("group_size"), 6))
        .withColumn("violates_k", (col("group_size") < 30).cast("int"))
        .withColumn("violates_l", (col("l_distinct") < 10).cast("int"))
        .orderBy("event_type", "day")
    },
      // the streaming complete-mode accumulation merges to exactly the
      // batch cohort audit (micro-batch sums are associative)
      oracle = Oracles.kAnonymitySql),

    // ───── Streaming URL ingest gate: canonicalize + registered domain
    // on the document stream, blocklist filter, complete-mode per-domain
    // counts — row-identical to the batch grid (the q264 parity shape) ─────
    Query("q293_stream_url_gate", { (s, dir) =>
      val stream = docsStreamBalanced(s, dir)
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      val gated = stream
        .select(col("doc_id"),
          ops.Url.canonicalize(col("raw")).as("canon"),
          ops.Url.registeredDomain(ops.Url.host(col("raw"))).as("domain"))
        .filter(col("canon").isNotNull && col("domain") =!= "example.com")
        .groupBy("domain").agg(count(lit(1)).as("n_pages"))
      drainToTable(s, gated, "g293_urlgate", "complete")
        .orderBy("domain")
    },
      // stream/batch parity: complete-mode per-domain counts ≡ the batch
      // grid over the same synthesized corpus
      oracle = s"WITH ${Oracles.urlRawCte}, ${Oracles.urlCompCte} " +
        "SELECT domain, count(*)::BIGINT AS n_pages FROM comp " +
        "WHERE canon IS NOT NULL AND domain <> 'example.com' " +
        "GROUP BY 1 ORDER BY domain"),

    // ───── Streaming ε-DP count release: complete-mode per-(type, day)
    // count store + the q301 seeded-Laplace release at read time —
    // releases stay identical across micro-batch replays, row-identical
    // to the batch release over the same events ─────
    Query("q307_stream_dp_release", { (s, dir) =>
      val counts = eventsStream(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("_n"))
      val store = drainToTable(s, counts, "g307_dp", "complete")
      Privacy.dpNoisyRelease(store, Seq("event_type", "day"), "_n",
          epsilon = 1.0, salt = "dp")
        .orderBy("event_type", "day")
    },
      // q307: streaming DP release ≡ batch — per-(event_type, day) counts
      // through the q301 seeded-Laplace formula.
      oracle = {
        val uH = Oracles.h60("event_type || '|' || day::VARCHAR || '|dp'")
        "WITH g AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c " +
          "FROM events GROUP BY 1, 2), " +
          s"u AS (SELECT event_type, day, c, (($uH % 1000000000)::DOUBLE / " +
          "1000000000.0::DOUBLE) AS u FROM g), " +
          "n AS (SELECT event_type, day, c, round(-1.0 * sign(u - 0.5) * " +
          "ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM u) " +
          "SELECT event_type, day, 1.0::DOUBLE AS epsilon, " +
          "greatest(round(c + noise), 0.0)::BIGINT AS released " +
          "FROM n ORDER BY event_type, day"
      }),

    // ───── STREAMING q-digest: complete-mode exact leaf-count store
    // over the quantized event values (the histogram IS the mergeable
    // state — counts add across micro-batches), digest compressed at
    // read time — row-identical to the batch digest over the same
    // events, the q153/q307 streaming-parity shape for the quantile
    // sketch ─────
    Query("q326_stream_qdigest", { (s, dir) =>
      val v = least(floor(col("value") * 8).cast("long"), lit(4095L))
      val counts = eventsStream(s, dir)
        .select(v.as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val store = drainToTable(s, counts, "g326_qdigest", "complete")
      Sketches.qdigestFromCounts(store,
          Seq(0.25, 0.5, 0.75, 0.95), levels = 12, k = 64)
        .orderBy("p")
    },
      // stream/batch parity: the drained complete-mode leaf-count store
      // compresses to the identical digest as a batch build over events
      oracle = Oracles.qdigest(12, 64, Seq(0.25, 0.5, 0.75, 0.95),
        "SELECT least(floor(\"value\" * 8)::BIGINT, 4095) AS v FROM events")),

    // ───── STREAMING Merkle digest: the leaf-bucket aggregate IS the
    // complete-mode state (count and bit_xor both add across
    // micro-batches — the q326 leaf-store shape); the drained store
    // folds to the tree row-identical to q333's batch build over the
    // same events, so one oracle serves both ─────
    Query("q335_stream_merkle", { (s, dir) =>
      val leaves = Profile.merkleLeaves(eventsStream(s, dir),
        Seq("event_id", "user_id", "event_type"), col("event_id"),
        levels = 12)
      val store = drainToTable(s, leaves, "g335_merkle", "complete")
      Profile.merkleFromLeaves(store, levels = 12)
        .orderBy("level", "idx")
    },
      // stream/batch parity: drained complete-mode leaf store folds to
      // the digest a batch build over the same events produces
      oracle = Oracles.merkleDigest(12,
        table = "events", keyExpr = "event_id::VARCHAR",
        contentExpr = "concat_ws(chr(31), " +
          "coalesce(event_id::VARCHAR, chr(1)), " +
          "coalesce(user_id::VARCHAR, chr(1)), " +
          "coalesce(event_type, chr(1)))")),

    // ───── STREAMING LSH near-dup gate: a document is ONE row, so its
    // MinHash signature and band keys compute row-locally (no agg) and
    // the single stateful operator is the (band, key) → min-doc-id
    // store — per-bucket state, the same order as q68's exact-dedup
    // state (production adds TTL eviction). Drained store flags any
    // doc whose band bucket holds a LOWER id — batch-identical to a
    // bucket-min over q14's band join ─────
    Query("q336_stream_lsh_dedup", { (s, dir) =>
      // hs materialized in its OWN projection: the 16 permutation
      // lambdas reference it 16×, and CollapseProject keeps multiply-
      // referenced non-cheap aliases in their producing Project — the
      // md5-per-shingle work runs once per doc, not once per
      // permutation (first formulation measured 19 s at sf0.1; this
      // one ~2 s)
      def banded(df: DataFrame) = df
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
        // a bare size filter is pushed below the balancing exchange
        // with the tokenize chain substituted in (the q239 trap)
        .filter(Sources.noPushdown(size(col("toks")) >= 3))
        .select(col("doc_id"),
          Dedup.shingleHashes(Dedup.shingles(col("toks"), 3)).as("hs"))
        .select(col("doc_id"), Dedup.minhashFromHashes(col("hs")).as("sig"))
        .select(col("doc_id"), explode(Dedup.bandKeys(col("sig"))).as("bk"))
        .select(col("doc_id"), col("bk.b").as("b"), col("bk.key").as("bkey"))
      val store = drainToTable(s,
        banded(docsStreamBalanced(s, dir)).groupBy("b", "bkey")
          .agg(min("doc_id").as("min_id"), count(lit(1)).as("n")),
        "g336_lsh", "complete")
      banded(tb(s, dir, "documents"))
        .join(store, Seq("b", "bkey"))
        .groupBy("doc_id")
        .agg(sum(when(col("min_id") < col("doc_id"), 1L).otherwise(0L))
          .as("n_dup_bands"))
        .withColumn("is_dup", (col("n_dup_bands") > 0).cast("int"))
        .orderBy("doc_id")
    },
      // q336: streaming LSH near-dup gate — the drained (band, key) →
      // (min doc_id) store is batch-equivalent to a bucket-min over q14's
      // band CTE, so the flag (any band bucket holding a LOWER doc id)
      // reuses the same machinery; the unreferenced `cand` CTE is never
      // evaluated.
      oracle = s"WITH ${Oracles.minhashCandCte}, " +
        "bm AS (SELECT b, k, min(doc_id) AS min_id FROM band GROUP BY 1, 2), " +
        "f AS (SELECT band.doc_id, sum(CASE WHEN bm.min_id < band.doc_id " +
        "THEN 1 ELSE 0 END)::BIGINT AS n_dup_bands " +
        "FROM band JOIN bm ON band.b = bm.b AND band.k = bm.k GROUP BY 1) " +
        "SELECT doc_id, n_dup_bands, (CASE WHEN n_dup_bands > 0 THEN 1 " +
        "ELSE 0 END) AS is_dup FROM f ORDER BY doc_id"),

    // ───── BOUNDED-LATENESS streaming LSH gate: the state-bounded
    // counterpart to q336's global gate (round-9 verdict Next #5).
    // q336's (band, key) → min-id complete-mode store is inherently
    // corpus-scale — a GLOBAL near-dup gate must remember every bucket
    // ever seen (state math in the SURVEY row). When the product
    // contract is "dedup against the last H of ingest" (bounded
    // lateness), the store shrinks to rate × H: this row implements
    // that as a WATERMARKED stream-stream interval band self-join (the
    // q85 shape) — each side retains only rows within the watermark
    // horizon, evicted by Spark itself. Ingest time is synthesized
    // deterministically (doc_id minutes from a fixed epoch) so the
    // DuckDB oracle replays the horizon as an id-distance bound ─────
    Query("q340_stream_lsh_bounded", { (s, dir) =>
      def banded(df: DataFrame) = df
        .withColumn("ts",
          expr("timestamp'2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE"))
        .select(col("doc_id"), col("ts"),
          TextAnalysis.words(col("text")).as("toks"))
        .filter(Sources.noPushdown(size(col("toks")) >= 3))
        .select(col("doc_id"), col("ts"),
          Dedup.shingleHashes(Dedup.shingles(col("toks"), 3)).as("hs"))
        .select(col("doc_id"), col("ts"),
          Dedup.minhashFromHashes(col("hs")).as("sig"))
        .select(col("doc_id"), col("ts"),
          explode(Dedup.bandKeys(col("sig"))).as("bk"))
        .select(col("doc_id"), col("ts"),
          col("bk.b").as("b"), col("bk.key").as("bkey"))
      val l = banded(docsStreamBalanced(s, dir)).withWatermark("ts", "240 minutes")
        .select(col("doc_id").as("l_id"), col("ts").as("l_ts"),
          col("b"), col("bkey"))
      val r = banded(docsStreamBalanced(s, dir)).withWatermark("ts", "240 minutes")
        .select(col("doc_id").as("r_id"), col("ts").as("r_ts"),
          col("b").as("rb"), col("bkey").as("rbkey"))
      val matches = l.join(r,
        col("b") === col("rb") && col("bkey") === col("rbkey") &&
          col("r_id") < col("l_id") &&
          col("l_ts") <= col("r_ts") + expr("INTERVAL 120 MINUTES") &&
          col("l_ts") >= col("r_ts"))
        .select(col("l_id").as("doc_id"), col("r_id").as("src"))
      drainToTable(s, matches, "g340_lsh_bounded", "append")
        .groupBy("doc_id")
        .agg(count_distinct(col("src")).as("n_src"))
        .orderBy("doc_id")
    },
      // q340: the bounded-lateness LSH gate — band-bucket matches whose
      // synthesized ingest times (doc_id minutes from the epoch) are
      // within the 120-minute horizon, i.e. an id-distance bound on the
      // q14 band CTEs; earlier partner ids count distinct per doc.
      oracle = s"WITH ${Oracles.minhashCandCte}, " +
        "m AS (SELECT l.doc_id AS doc_id, r.doc_id AS src " +
        "FROM band l JOIN band r ON l.b = r.b AND l.k = r.k " +
        "AND r.doc_id < l.doc_id AND l.doc_id - r.doc_id <= 120) " +
        "SELECT doc_id, count(DISTINCT src)::BIGINT AS n_src " +
        "FROM m GROUP BY 1 ORDER BY doc_id")
  )
}
