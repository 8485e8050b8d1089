package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.pipelines.CurationPipeline
import Common._

/** Training-corpus assembly: tokenizers, packing and batching,
  * mixture sampling, curation funnels and generation metrics. */
private[graft] object CorpusQueries {

  def all: Seq[Query] = Seq(
    // ───── Sequence packing: docs → fixed-size context bins per source ─────
    Query("q47_seq_pack", { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packBins(d, "source", "doc_id", "n_tok", ctxTokens = 2048)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
        .orderBy("source", "bin")
    },
      oracle = "WITH d AS (SELECT doc_id, source, " +
        "len(regexp_extract_all(text, '\\w+')) AS n_tok FROM documents), " +
        "b AS (SELECT source, floor((sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) " +
        "/ 2048)::BIGINT AS bin, n_tok FROM d) " +
        "SELECT source, bin, count(*)::BIGINT AS n_docs, " +
        "sum(n_tok)::BIGINT AS sum_tokens " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── Exact-quota per-source sampling (data mixing) ─────
    Query("q65_quota_sample", { (s, dir) =>
      TextAnalysis.quotaSample(tb(s, dir, "documents"), "doc_id", "source",
          defaultQuota = 10, overrides = Map("src0" -> 25, "src1" -> 0))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      oracle = "WITH h AS (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h) " +
        "SELECT doc_id, source FROM r WHERE rn <= " +
        "CASE source WHEN 'src0' THEN 25 WHEN 'src1' THEN 0 ELSE 10 END " +
        "ORDER BY doc_id"),

    // ───── Deterministic split + stratified sampling (reproducible corpus ops) ─────
    Query("q38_split_sample", { (s, dir) =>
      val rates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 0.25)
      tb(s, dir, "documents")
        .withColumn("split",
          TextAnalysis.splitAssign(col("doc_id"), trainPct = 80, valPct = 10))
        .filter(TextAnalysis.stratifiedKeep(col("doc_id"), col("lang"), rates))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("split", "lang")
    },
      oracle = "WITH d AS (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h FROM documents), " +
        "a AS (SELECT lang, n_chars, " +
        "CASE WHEN h % 100 < 80 THEN 'train' WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split, " +
        "CASE WHEN lang = 'en' THEN h % 1000 < 500 WHEN lang = 'zh' THEN h % 1000 < 250 " +
        "WHEN lang IN ('de', 'fr', 'es') THEN h % 1000 < 1000 ELSE false END AS keep FROM d) " +
        "SELECT split, lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars " +
        "FROM a WHERE keep GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── pack-and-assemble: q47's bin assignment MATERIALIZED into
    // training contexts (docs joined in id order with an <eod> separator
    // — the text a trainer's data loader actually reads) ─────
    Query("q83_pack_assemble", { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        col("text"), TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packBins(d, "source", "doc_id", "n_tok", ctxTokens = 2048)
        .groupBy("source", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("sum_tokens"),
          concat_ws(" <eod> ", transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            _.getField("text"))).as("packed"))
        .orderBy("source", "bin")
    },
      oracle = "WITH d AS (SELECT doc_id, source, text, " +
        "len(regexp_extract_all(text, '\\w+')) AS n_tok FROM documents), " +
        "b AS (SELECT source, doc_id, text, n_tok, floor((sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) " +
        "/ 2048)::BIGINT AS bin FROM d) " +
        "SELECT source, bin, count(*)::BIGINT AS n_docs, " +
        "sum(n_tok)::BIGINT AS sum_tokens, " +
        "string_agg(text, ' <eod> ' ORDER BY doc_id) AS packed " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── temperature-based domain mixing (T5-style α-sampling):
    // per-source quotas ∝ count^0.5 over a 300-doc budget — low-resource
    // sources up-weighted relative to their natural share; integer
    // weight/quota arithmetic keeps both engines bit-identical ─────
    Query("q104_temperature_mix", { (s, dir) =>
      TextAnalysis.temperatureMix(tb(s, dir, "documents"), "doc_id", "source",
          budget = 300, alpha = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // mirrors temperatureMix(α=0.5): integer weights floor(sqrt(c)·1e6),
      // integer quota division — sqrt is IEEE-correctly-rounded in both
      // engines, so the quotas agree exactly
      oracle = "WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1), " +
        "w AS (SELECT source, floor(sqrt(c::DOUBLE) * 1000000)::BIGINT AS w FROM c), " +
        "z AS (SELECT sum(w)::BIGINT AS z FROM w), " +
        "q AS (SELECT source, (300 * w) // z AS quota FROM w, z), " +
        "h AS (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h) " +
        "SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.source " +
        "WHERE r.rn <= q.quota ORDER BY r.doc_id"),

    // ───── token-budget sampling: per source, the longest hash-rank
    // prefix of documents whose running TOKEN total fits an 800-token
    // budget — pretraining mixtures are specified in tokens, not docs;
    // integer running sums keep both engines bit-identical ─────
    Query("q106_token_budget_sample", { (s, dir) =>
      TextAnalysis.tokenBudgetSample(tb(s, dir, "documents"), "doc_id",
          "source", "text", tokenBudget = 800L)
        .select("doc_id", "source", "n_tok")
        .orderBy("doc_id")
    },
      // mirrors tokenBudgetSample: same hash-rank order, running token sum,
      // cumulative filter at 800 tokens per source
      oracle = "WITH h AS (SELECT doc_id, source, " +
        "len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER (" +
        "PARTITION BY source ORDER BY hh, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h) " +
        "SELECT doc_id, source, n_tok FROM c WHERE cum <= 800 ORDER BY doc_id"),

    // ───── weighted sampling without replacement (Efraimidis–Spirakis):
    // per-language top-k by ln(u)/w with the RNG replaced by the id hash
    // — longer documents (weight = n_chars) win proportionally more
    // often, and the draw reproduces on any engine/partitioning; ranking
    // via the sort-free TopKPerKey operator ─────
    Query("q135_weighted_sample", { (s, dir) =>
      TextAnalysis.weightedSample(
          tb(s, dir, "documents"), "doc_id", "lang", "n_chars", k = 20)
        .select(col("lang"), col("doc_id"), col("es_key"))
        .orderBy("lang", "doc_id")
    },
      // same Efraimidis–Spirakis key: hash-derived u ∈ (0,1], ln(u)/weight,
      // 9dp-rounded before the rank so libm ulp differences can't reorder
      oracle = "WITH d AS (SELECT lang, doc_id, " +
        "round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT " +
        "% 1000000000 + 1) / 1000000000.0) / n_chars, 9) AS es_key " +
        "FROM documents), " +
        "r AS (SELECT lang, doc_id, es_key, row_number() OVER (" +
        "PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn FROM d) " +
        "SELECT lang, doc_id, es_key FROM r WHERE rn <= 20 " +
        "ORDER BY lang, doc_id"),

    // ───── referentially-coherent 10% sample: customer and orders each
    // filter on the SAME custkey hash predicate — no join needed for
    // integrity; the left join here just reports the per-segment yield ─────
    Query("q194_coherent_sample", { (s, dir) =>
      val c = Sampling.consistentSample(t(s, dir, "customer"), "c_custkey", 10)
      val o = Sampling.consistentSample(t(s, dir, "orders"), "o_custkey", 10)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count_distinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_mktsegment")
    },
      // the same hash predicate on both tables — integrity with no join
      oracle = "WITH sc AS (SELECT * FROM customer WHERE " +
        "('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 100 < 10), " +
        "so AS (SELECT * FROM orders WHERE " +
        "('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT % 100 < 10) " +
        "SELECT c_mktsegment, count(DISTINCT c_custkey)::BIGINT AS n_customers, " +
        "count(o_orderkey)::BIGINT AS n_orders FROM sc " +
        "LEFT JOIN so ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"),

    // ───── size-balanced shard assignment: stratify-then-hash — 8 size
    // strata (1-row broadcast min/max), content-hash spread across 8
    // shards within each stratum; deterministic, no global sort, no
    // sequential bin-packing state ─────
    Query("q204_shard_balance", { (s, dir) =>
      TextAnalysis.balancedShards(tb(s, dir, "documents"), "doc_id",
          "n_chars", k = 8, strata = 8)
        .select(col("doc_id"), col("stratum"), col("shard"))
        .orderBy("doc_id")
    },
      // same fixed-width strata over the 1-row min/max + md5 shard hash
      oracle = "WITH b AS (SELECT min(n_chars)::DOUBLE AS lo, " +
        "max(n_chars)::DOUBLE AS hi FROM documents) " +
        "SELECT doc_id, CASE WHEN hi = lo THEN 0 ELSE " +
        "least(7, floor((n_chars::DOUBLE - lo) / ((hi - lo) / 8))::INT) END " +
        "AS stratum, " +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':shard'), 1, 15))::BIGINT " +
        "% 8)::INT AS shard " +
        "FROM documents, b ORDER BY doc_id"),

    // ───── ROUGE-2 generation-eval: clipped bigram overlap P/R/F per
    // (reference, candidate) pair — candidate = the NEXT doc's text, a
    // deterministic mismatched-pair fixture that exercises zero-overlap
    // and partial-overlap arms; two hash-aggs + one (id, gram) equi-join,
    // no windows ─────
    Query("q226_rouge", { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.rougeN(pairs, "doc_id", "ref", "cand", n = 2)
        .orderBy("doc_id")
    },
      // clipped bigram overlap via two gram-count CTEs + least(); P/R
      // round before F (the cross-engine float contract)
      oracle = "WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents), " +
        "p AS (SELECT a.doc_id, a.toks AS rt, b.toks AS ct " +
        "FROM d a JOIN d b ON b.doc_id = a.doc_id + 1), " +
        "rg AS (SELECT doc_id, unnest(CASE WHEN len(rt) < 2 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(len(rt) - 1), i -> rt[i+1] || ' ' || rt[i+2]) END) AS g FROM p), " +
        "cg AS (SELECT doc_id, unnest(CASE WHEN len(ct) < 2 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(len(ct) - 1), i -> ct[i+1] || ' ' || ct[i+2]) END) AS g FROM p), " +
        "rc AS (SELECT doc_id, g, count(*)::BIGINT AS nr FROM rg GROUP BY 1, 2), " +
        "cc AS (SELECT doc_id, g, count(*)::BIGINT AS nc FROM cg GROUP BY 1, 2), " +
        "ov AS (SELECT doc_id, sum(least(nr, nc))::BIGINT AS overlap " +
        "FROM rc JOIN cc USING (doc_id, g) GROUP BY 1), " +
        "tot AS (SELECT doc_id, greatest(len(rt) - 1, 0)::INT AS n_ref, " +
        "greatest(len(ct) - 1, 0)::INT AS n_cand FROM p), " +
        "j AS (SELECT t.doc_id, n_ref, n_cand, coalesce(overlap, 0)::BIGINT AS overlap " +
        "FROM tot t LEFT JOIN ov USING (doc_id)), " +
        "pr AS (SELECT doc_id, n_ref, n_cand, overlap, " +
        "CASE WHEN n_cand > 0 THEN round(overlap::DOUBLE / n_cand, 6) END AS rouge_p, " +
        "CASE WHEN n_ref > 0 THEN round(overlap::DOUBLE / n_ref, 6) END AS rouge_r FROM j) " +
        "SELECT doc_id, n_ref, n_cand, overlap, rouge_p, rouge_r, " +
        "CASE WHEN rouge_p + rouge_r > 0 THEN " +
        "round(2.0::DOUBLE * rouge_p * rouge_r / (rouge_p + rouge_r), 6) END AS rouge_f " +
        "FROM pr ORDER BY doc_id"),

    // ───── BPE merge-table training: 8 rounds of count-pairs → merge
    // the winner, over the word-frequency table (the ONLY corpus-scale
    // pass is the initial word count) — the trainable tokenizer
    // artifact, fully hash-oracled via the paren-symbol replace chain ─────
    Query("q228_bpe_train", { (s, dir) =>
      // driver-side merge loop at a REALISTIC merge count: one
      // distributed word-count job, then 64 O(vocab) loop rounds
      // (bpeTrain's O(merges)-Spark-jobs twin, spec-proven identical)
      TextAnalysis.bpeTrainDriver(tb(s, dir, "documents"), "text", merges = 64)
        .orderBy("step")
    },
      // Mirrors TextAnalysis.bpeTrain / bpeTrainDriver (q228): the
      // word-frequency table in paren-symbol form — truncated to the
      // driver path's deterministic `vocabCap` top types by (freq desc,
      // word) — then `merges` chained (pair-count → top-1 → replace) CTE
      // triples; `replace` on the `(s)(y)(m)` representation is the same
      // leftmost-first merge in both engines.
      oracle = {
        val merges: Int = 64
        val vocabCap: Int = 1 << 16
        // AS MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, and
        // w_i / a_i are each referenced twice — inlining doubles the
        // expansion per round, so an m-round chain re-scans the corpus
        // 2^m times (m=64 dies on file handles before it dies on time)
        val chain = (1 to merges).map { i =>
          s"p$i AS MATERIALIZED (SELECT unnest(list_transform(range(greatest(len(syms) - 1, 0)), " +
            "i -> syms[i+1] || '|' || syms[i+2])) AS p, freq " +
            s"FROM (SELECT regexp_extract_all(w, '\\(([^)]*)\\)', 1) AS syms, freq " +
            s"FROM w${i - 1})), " +
            s"a$i AS MATERIALIZED (SELECT p, f FROM (SELECT p, sum(freq)::BIGINT AS f " +
            s"FROM p$i GROUP BY 1) ORDER BY f DESC, p LIMIT 1), " +
            s"w$i AS MATERIALIZED (SELECT CASE WHEN a.p IS NULL THEN w ELSE " +
            "replace(w, '(' || split_part(a.p, '|', 1) || ')(' || split_part(a.p, '|', 2) || ')', " +
            "'(' || split_part(a.p, '|', 1) || split_part(a.p, '|', 2) || ')') END AS w, freq " +
            s"FROM w${i - 1} LEFT JOIN a$i a ON true)"
        }.mkString(", ")
        val out = (1 to merges).map(i =>
          s"SELECT $i::INT AS step, split_part(p, '|', 1) AS lhs, " +
            s"split_part(p, '|', 2) AS rhs, f AS pair_freq FROM a$i")
          .mkString(" UNION ALL ")
        "WITH wf AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM " +
          "(SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS word " +
          "FROM documents) GROUP BY 1), " +
          "w0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS w, freq FROM " +
          s"(SELECT word, freq FROM wf ORDER BY freq DESC, word LIMIT $vocabCap)), " +
          chain + " SELECT * FROM (" + out + ") ORDER BY step"
      }),

    // ───── BPE segmentation with a PINNED merge table (the trained
    // artifact as plan literals — the PinnedIndex posture): per-doc
    // token counts over the merged symbol vocabulary ─────
    Query("q229_bpe_segment", { (s, dir) =>
      TextAnalysis.bpeSegment(tb(s, dir, "documents"), "doc_id", "text",
          pinnedBpeMerges)
        .orderBy("doc_id", "token")
    },
      // the same pinned merges applied as a literal replace chain
      oracle = {
        val inner = pinnedBpeMerges.foldLeft(
          "regexp_replace(word, '(.)', '(\\1)', 'g')") { case (acc, (l, r)) =>
          s"replace($acc, '($l)($r)', '($l$r)')"
        }
        "WITH t AS (SELECT doc_id, " +
          "unnest(regexp_extract_all(lower(text), '\\w+')) AS word FROM documents), " +
          s"m AS (SELECT doc_id, $inner AS w FROM t), " +
          "tok AS (SELECT doc_id, " +
          "unnest(regexp_extract_all(w, '\\(([^)]*)\\)', 1)) AS token FROM m) " +
          "SELECT doc_id, token, count(*)::BIGINT AS n FROM tok " +
          "GROUP BY 1, 2 ORDER BY doc_id, token"
      }),

    // ───── End-to-end curation funnel (the LLM-side E1 flagship):
    // language gate → quality gate → exact dedup → LSH near-dedup, with
    // per-source first-drop attribution and surviving token mass ─────
    Query("q234_curation_funnel", { (s, dir) =>
      CurationPipeline.curate(tb(s, dir, "documents"),
          minQuality = 0.25, minJac = 0.5)
        .orderBy("source")
    },
      // q19's langid CASE + q20's quality formula + fingerprint window +
      // the banded MinHash chain over the survivor set, funnel-aggregated
      oracle = {
        val minQuality: Double = 0.25
        val minJac: Double = 0.5
        s"WITH ${Oracles.curationStCtes(minQuality, minJac)} " +
          "SELECT source, count(*)::BIGINT AS n_raw, " +
          "(count(*) FILTER (WHERE stage = 'lang'))::BIGINT AS n_lang_dropped, " +
          "(count(*) FILTER (WHERE stage = 'quality'))::BIGINT AS n_quality_dropped, " +
          "(count(*) FILTER (WHERE stage = 'exact_dup'))::BIGINT AS n_exact_dropped, " +
          "(count(*) FILTER (WHERE stage = 'near_dup'))::BIGINT AS n_near_dropped, " +
          "(count(*) FILTER (WHERE stage = 'kept'))::BIGINT AS n_kept, " +
          "sum(CASE WHEN stage = 'kept' THEN wc ELSE 0 END)::BIGINT AS tok_kept " +
          "FROM st GROUP BY source ORDER BY source"
      }),

    // ───── Tokenizer fertility report: tokens/word + chars/token per
    // declared language under the PINNED merge table — how tokenizer
    // bias across languages is measured ─────
    Query("q235_bpe_fertility", { (s, dir) =>
      TextAnalysis.bpeFertility(tb(s, dir, "documents"), "doc_id", "text",
          "lang", pinnedBpeMerges)
        .orderBy("lang")
    },
      // Mirrors TextAnalysis.bpeFertility over the pinned merges (q235):
      // the q229 replace chain per word, token counts via one regexp
      // extract, per-language aggregate.
      oracle = {
        val merges: Seq[(String, String)] = pinnedBpeMerges
        val inner = merges.foldLeft(
          "regexp_replace(word, '(.)', '(\\1)', 'g')") { case (acc, (l, r)) =>
          s"replace($acc, '($l)($r)', '($l$r)')"
        }
        "WITH t AS (SELECT doc_id, lang, " +
          "unnest(regexp_extract_all(lower(text), '\\w+')) AS word FROM documents), " +
          s"x AS (SELECT doc_id, lang, length(word) AS wl, " +
          s"len(regexp_extract_all($inner, '\\(([^)]*)\\)', 1)) AS nt FROM t) " +
          "SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs, " +
          "count(*)::BIGINT AS n_words, sum(nt)::BIGINT AS n_tokens, " +
          "round(sum(nt)::DOUBLE / count(*)::DOUBLE, 6) AS fertility, " +
          "round(sum(wl)::DOUBLE / sum(nt)::DOUBLE, 6) AS chars_per_token " +
          "FROM x GROUP BY lang ORDER BY lang"
      }),

    // ───── Packing-efficiency sweep: fill rate vs context length over
    // {256, 512, 1024, 2048} — the capacity-planning report before
    // committing a context length (q83's packer, q218's sweep posture) ─────
    Query("q237_pack_sweep", { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packSweep(d, "source", "doc_id", "n_tok",
          Seq(256, 512, 1024, 2048))
        .orderBy("ctx_tokens")
    },
      // Mirrors TextAnalysis.packSweep (q237): q83's running-sum bin
      // assignment per context length, folded to (bins, mass, max, fill),
      // UNION ALL over the context spine.
      oracle = {
        val ctxs: Seq[Int] = Seq(256, 512, 1024, 2048)
        val arms = ctxs.map { ctx =>
          s"SELECT $ctx AS ctx_tokens, count(*)::BIGINT AS n_bins, " +
            "sum(bt)::BIGINT AS total_tokens, max(bt)::BIGINT AS max_bin_tokens, " +
            s"round(sum(bt)::DOUBLE / (count(*) * $ctx)::DOUBLE, 6) AS fill_rate " +
            "FROM (SELECT source, bin, sum(n_tok) AS bt FROM " +
            "(SELECT source, n_tok, floor((sum(n_tok) OVER (PARTITION BY source " +
            s"ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) / $ctx)::BIGINT AS bin " +
            "FROM d) GROUP BY 1, 2)"
        }
        "WITH d AS (SELECT doc_id, source, " +
          "len(regexp_extract_all(text, '\\w+')) AS n_tok FROM documents) " +
          arms.mkString(" UNION ALL ") + " ORDER BY ctx_tokens"
      }),

    // ───── Zipf rank–frequency fit over the top-1000 vocabulary: the
    // corpus-health number (template-heavy corpora flatten the slope) ─────
    Query("q238_zipf_fit", { (s, dir) =>
      TextAnalysis.zipfFit(tb(s, dir, "documents"), "text", vocabSize = 1000)
    },
      // Mirrors TextAnalysis.zipfFit at the same vocab cap (q238): the
      // buildVocab ranking, one six-sum aggregate, slope computed once and
      // reused by the intercept, r2 guarded on both variances.
      oracle = {
        val v: Int = 1000
        "WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS token " +
          "FROM documents), " +
          "vc AS (SELECT token, count(*)::BIGINT AS freq FROM t GROUP BY 1), " +
          "vr AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk " +
          s"FROM vc QUALIFY rnk <= $v), " +
          "p AS (SELECT ln(rnk::DOUBLE) AS x, ln(freq::DOUBLE) AS y FROM vr), " +
          "s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy, " +
          "sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM p), " +
          "s2 AS (SELECT *, CASE WHEN n*sxx - sx*sx > 0 THEN " +
          "(n*sxy - sx*sy)/(n*sxx - sx*sx) END AS sl FROM s) " +
          "SELECT n::BIGINT AS n_types, round(sl, 6) AS slope, " +
          "round((sy - sl*sx)/n, 6) AS intercept, " +
          "CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN " +
          "round((n*sxy - sx*sy)*(n*sxy - sx*sy)/((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) " +
          "END AS r2 FROM s2"
      }),

    // ───── Cluster-balanced sampling: pinned-centroid cells × exact
    // hash-rank quotas (ClusterClip/DoReMi shape; semDedup's sampling
    // dual) — every vector flagged kept/dropped, ≤ perCell kept per cell ─────
    Query("q246_cluster_sample", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Sampling.clusterBalancedSample(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, perCell = 20)
        .orderBy("cid")
    },
      // Mirrors Sampling.clusterBalancedSample over the pinned IVF
      // centroids (q246): the q220/q230 nearest-cell assignment chain, then
      // kept iff the row's (hash60(cid), cid) rank within its cell is
      // ≤ perCell — q65's exact-quota selection per cell.
      oracle = {
        val perCell: Int = 20
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "asg AS (SELECT vec_id, cell FROM scored WHERE rn = 1), " +
          "r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell " +
          s"ORDER BY ${Oracles.h60("vec_id::VARCHAR")}, vec_id) AS rnk FROM asg) " +
          s"SELECT vec_id AS cid, cell, rnk <= $perCell AS kept " +
          "FROM r ORDER BY cid"
      }),

    // ───── Funnel → topic balance composition: the q234 curation funnel
    // continued one stage — kept docs join embeddings 1:1 on id,
    // pinned-cell assignment, exact per-cell quotas; output is the
    // per-(source, cell) mixture sheet ─────
    Query("q248_curation_balanced", { (s, dir) =>
      CurationPipeline.curateBalanced(
          tb(s, dir, "documents"), tb(s, dir, "embeddings"),
          minQuality = 0.25, minJac = 0.5,
          graft.fixtures.PinnedIndex.ivfCentroidsV1, perCell = 10)
        .orderBy("source", "cell")
    },
      // Mirrors CurationPipeline.curateBalanced (q248): the funnel chain's
      // kept docs join embeddings 1:1 on id, the q220/q230 pinned-centroid
      // assignment, a per-cell (hash60, id) rank quota, then the balance
      // report per (source, cell).
      oracle = {
        val minQuality: Double = 0.25
        val minJac: Double = 0.5
        val perCell: Int = 10
        s"WITH ${Oracles.curationStCtes(minQuality, minJac)}, " +
          s"${Oracles.embCte}, " +
          s"centb AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "kd AS (SELECT st.doc_id, st.source, e.v FROM st " +
          "JOIN e ON e.vec_id = st.doc_id WHERE st.stage = 'kept'), " +
          "scoredb AS (SELECT kd.doc_id, kd.source, centb.cell, " +
          "row_number() OVER (PARTITION BY kd.doc_id " +
          "ORDER BY list_dot_product(kd.v, centb.cv) * -2.0 + centb.cn2, centb.cell) AS rn " +
          "FROM kd CROSS JOIN centb), " +
          "asgb AS (SELECT doc_id, source, cell FROM scoredb WHERE rn = 1), " +
          "rb AS (SELECT doc_id, source, cell, row_number() OVER (PARTITION BY cell " +
          s"ORDER BY ${Oracles.h60("doc_id::VARCHAR")}, doc_id) AS rnk FROM asgb) " +
          "SELECT source, cell, count(*)::BIGINT AS n_docs, " +
          s"(count(*) FILTER (WHERE rnk <= $perCell))::BIGINT AS n_sampled " +
          "FROM rb GROUP BY source, cell ORDER BY source, cell"
      }),

    // ───── IPF / raking mixture solver: per-(source, lang) token masses
    // reweighted to hit BOTH uniform marginals — one distributed hash-agg
    // builds the grid, 20 alternating scaling rounds run driver-side on
    // the 20×4 cell table (bounded-model posture); output is the per-cell
    // resampling rate downstream samplers apply ─────
    Query("q259_ipf_mixture", { (s, dir) =>
      Sampling.ipfMixture(tb(s, dir, "documents"), "source", "lang",
          size(TextAnalysis.words(col("text"))), iters = 20)
        .orderBy("source", "lang")
    },
      // alternating-scaling recurrence as a LIST-carrying recursive CTE
      oracle = Oracles.ipfMixture(20)),

    // ───── Truncation-loss curve: tokens thrown away by a hard per-doc
    // context cap, per (source, context length) — one tokenize pass to a
    // narrow (group, count) stream, then the |contexts|-way explode and
    // a single hash-agg ─────
    Query("q260_truncation_loss", { (s, dir) =>
      TextAnalysis.truncationLoss(tb(s, dir, "documents"), "text",
          col("source"), Seq(16, 64, 256))
        .orderBy("grp", "context_len")
    },
      // per-(source, context) loss recomputed from raw token counts
      oracle = "WITH n AS (SELECT source AS grp, " +
        "coalesce(len(regexp_extract_all(lower(text), '\\w+')), 0) AS n " +
        "FROM documents), " +
        "x AS (SELECT grp, n, unnest([16, 64, 256]) AS context_len FROM n) " +
        "SELECT grp, context_len::INT AS context_len, " +
        "count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN n > context_len THEN 1 ELSE 0 END)::BIGINT " +
        "AS docs_truncated, " +
        "sum(greatest(n - context_len, 0))::BIGINT AS tokens_lost, " +
        "sum(n)::BIGINT AS tokens_total, " +
        "CASE WHEN sum(n) = 0 THEN 0.0::DOUBLE ELSE " +
        "round(sum(greatest(n - context_len, 0))::DOUBLE / sum(n), 6) END " +
        "AS frac_lost FROM x GROUP BY 1, 2 ORDER BY grp, context_len"),

    // ───── Mixture executor: q259's fitted rates applied as per-doc
    // repeat factors (floor + deterministic-hash fractional epoch — the
    // DoReMi allocation; rates > 1 upsample by duplication). Broadcast
    // rate table, one hash projection over the corpus ─────
    Query("q273_apply_mixture", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val rates = Sampling.ipfMixture(docs, "source", "lang",
          size(TextAnalysis.words(col("text"))), iters = 20)
        .select("source", "lang", "rate")
      Sampling.applyMixtureRates(
          docs.select("doc_id", "source", "lang"), rates,
          Seq("source", "lang"), "doc_id")
        .select("doc_id", "source", "lang", "rate", "n_copies")
        .orderBy("doc_id")
    },
      // the q259 recursive chain as a subquery + per-doc hash fractional
      oracle = "SELECT d.doc_id, d.source, d.lang, r.rate, " +
        "(floor(r.rate) + CASE WHEN " +
        "(('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT " +
        "% 1000000000) / 1000000000.0 < r.rate - floor(r.rate) " +
        "THEN 1 ELSE 0 END)::INT AS n_copies " +
        "FROM documents d JOIN (" +
        Oracles.ipfMixture(20)
          .replaceAll(" ORDER BY g.source, g.lang$", "") +
        ") r ON r.source = d.source AND r.lang = d.lang " +
        "ORDER BY d.doc_id"),

    // ───── Chat-history assembly: each user's event stream rendered as
    // one dialog, keeping only the LATEST 8 turns (the context-window
    // drop-from-the-front shape); turn order total-order deterministic,
    // struct-sorted inside the aggregate ─────
    Query("q272_chat_assemble", { (s, dir) =>
      TextAnalysis.assembleDialogs(t(s, dir, "events"),
          "user_id", "ts", "event_id",
          role = col("event_type"), content = col("props"), maxTurns = 8)
        .orderBy("user_id")
    },
      // rank-from-latest cut, then ordered string_agg over the survivors
      oracle = "WITH r AS (SELECT user_id, ts, event_id, " +
        "event_type || ': ' || coalesce(props, '') AS turn, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, " +
        "event_id DESC) AS rnk, " +
        "count(*) OVER (PARTITION BY user_id) AS total FROM events) " +
        "SELECT user_id, max(total)::BIGINT AS n_turns_total, " +
        "count(*)::BIGINT AS n_turns_kept, " +
        "string_agg(turn, chr(10) ORDER BY ts, event_id) AS dialog " +
        "FROM r WHERE rnk <= 8 GROUP BY 1 ORDER BY user_id"),

    // ───── Per-key temporal train/test split: each user's latest 20% of
    // events become test (train-on-past eval hygiene; q134's hash split
    // is the exchangeable-corpus twin); ONE window shuffle, every row
    // flagged ─────
    Query("q268_temporal_split", { (s, dir) =>
      Sampling.temporalSplit(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_id", testFrac = 0.2)
        .groupBy("user_id", "split")
        .agg(count(lit(1)).as("n"), min("ts").as("min_ts"),
          max("ts").as("max_ts"))
        .orderBy("user_id", "split")
    },
      // latest ceil(n*0.2) rows per user by (ts, event_id) desc
      oracle = "WITH r AS (SELECT user_id, ts, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, " +
        "event_id DESC) AS rnk, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM events), " +
        "s AS (SELECT user_id, ts, CASE WHEN rnk <= ceil(n * 0.2) " +
        "THEN 'test' ELSE 'train' END AS split FROM r) " +
        "SELECT user_id, split, count(*)::BIGINT AS n, " +
        "min(ts) AS min_ts, max(ts) AS max_ts FROM s " +
        "GROUP BY 1, 2 ORDER BY user_id, split"),

    // ───── Dialog structural validation: events as chat turns (view/
    // click/signup → user, rest → assistant; every 97th turn blanked to
    // exercise the empty rule) — starts-user / strict-alternation /
    // ends-assistant / no-empty / min-turns, violations counted per rule;
    // one shuffle on the dialog key ─────
    Query("q284_dialog_validate", { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        when(col("event_type").isin("view", "click", "signup"), "user")
          .otherwise("assistant").as("role"),
        when(col("event_id") % 97 === 0, lit("")).otherwise(col("props"))
          .as("turn_text"))
      TextAnalysis.dialogAudit(ev, "user_id", Seq("ts", "event_id"),
          col("role"), col("turn_text"), minTurns = 2)
        .orderBy("user_id")
    },
      oracle = "WITH tv AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user' " +
        "ELSE 'assistant' END AS role, " +
        "CASE WHEN event_id % 97 = 0 THEN '' ELSE props END AS turn_text " +
        "FROM events), " +
        "w AS (SELECT user_id, role, turn_text, " +
        "lag(role) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM tv), " +
        "g AS (SELECT user_id, count(*)::BIGINT AS n_turns, " +
        "sum(CASE WHEN prev IS NOT NULL AND prev = role THEN 1 ELSE 0 END)" +
        "::BIGINT AS n_role_repeats, " +
        "sum(CASE WHEN turn_text IS NULL OR trim(turn_text) = '' THEN 1 " +
        "ELSE 0 END)::BIGINT AS n_empty_turns, " +
        "max(CASE WHEN rn = 1 THEN (role = 'user')::INT END) AS starts_user, " +
        "max(CASE WHEN rn = n THEN (role = 'assistant')::INT END) " +
        "AS ends_assistant FROM w GROUP BY 1) " +
        "SELECT user_id, n_turns, n_role_repeats, n_empty_turns, " +
        "starts_user, ends_assistant, " +
        "(n_turns >= 2 AND n_role_repeats = 0 AND n_empty_turns = 0 " +
        "AND starts_user = 1 AND ends_assistant = 1)::INT AS valid " +
        "FROM g ORDER BY user_id"),

    // ───── Sentence-level BLEU-4 on consecutive-doc pairs (q226's rouge
    // pairing): clipped n-gram precision n=1..4 via ONE tagged
    // flatten-explode per side + (id,n,gram) hash-agg + equi-join clip,
    // brevity penalty, unsmoothed geometric mean — the MT/generation
    // quality metric beside q226 ROUGE and q231 NDCG ─────
    Query("q297_bleu", { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.bleu(pairs, "doc_id", "ref", "cand", maxN = 4)
        .orderBy("doc_id")
    },
      oracle = Oracles.bleu),

    // ───── chrF (character n-gram F_2, n=1..3) on 240-char slices of the
    // same pairs — the tokenizer-free metric dual of q297; per-order
    // 6dp P/R macro-averaged then F_2 from the rounded averages ─────
    Query("q298_chrf", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 240).as("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.chrF(pairs, "doc_id", "ref", "cand", maxN = 3, beta = 2.0)
        .orderBy("doc_id")
    },
      oracle = Oracles.chrf),

    // ───── Flesch readability: word/sentence/syllable counts as pure
    // column regexes (no explode), reading-ease + FK grade — the
    // interpretable difficulty axis beside q20's quality score ─────
    Query("q304_readability", { (s, dir) =>
      TextAnalysis.readability(tb(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      // q304: TextAnalysis.readability mirror.
      oracle = s"WITH ${Oracles.readCountsCte} " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        "CASE WHEN n_words > 0 THEN round(206.835::DOUBLE - " +
        "1.015::DOUBLE * (n_words::DOUBLE / n_sentences) - " +
        "84.6::DOUBLE * (n_syllables::DOUBLE / n_words), 6) END AS flesch, " +
        "CASE WHEN n_words > 0 THEN round(0.39::DOUBLE * " +
        "(n_words::DOUBLE / n_sentences) + " +
        "11.8::DOUBLE * (n_syllables::DOUBLE / n_words) - 15.59::DOUBLE, 6) " +
        "END AS fk_grade FROM c ORDER BY doc_id"),

    // ───── Competence-based curriculum pacing (Platanios 2019) over the
    // q304 FK grades: binned difficulty CDF (bin table, not rows) × the
    // √-competence grid → admitted docs/tokens per training step ─────
    Query("q305_curriculum_pacing", { (s, dir) =>
      val r = TextAnalysis.readability(tb(s, dir, "documents"),
          "doc_id", "text")
        .filter(col("n_words") > 0)
      TextAnalysis.curriculumPacing(r, "doc_id", col("fk_grade"),
          col("n_words"), steps = 10, c0 = 0.1, binWidth = 0.5)
        .orderBy("step")
    },
      // q305: TextAnalysis.curriculumPacing mirror over the q304 FK grades —
      // binned difficulty CDF × the competence grid, zeros preserved.
      oracle = s"WITH ${Oracles.readCountsCte}, " +
        "r AS (SELECT doc_id, n_words, round(0.39::DOUBLE * " +
        "(n_words::DOUBLE / n_sentences) + " +
        "11.8::DOUBLE * (n_syllables::DOUBLE / n_words) - 15.59::DOUBLE, 6) " +
        "AS fk FROM c WHERE n_words > 0), " +
        "b AS (SELECT floor(fk / 0.5::DOUBLE)::BIGINT AS bin, " +
        "count(*)::BIGINT AS n_docs, sum(n_words)::BIGINT AS n_toks " +
        "FROM r GROUP BY 1), " +
        "w AS (SELECT bin, n_docs, n_toks, " +
        "sum(n_docs) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS cum, sum(n_docs) OVER () AS tot FROM b), " +
        "cd AS (SELECT bin, n_docs, n_toks, " +
        "round(cum::DOUBLE / tot, 6) AS cdf FROM w), " +
        "g AS (SELECT unnest(range(1, 11)) AS t), " +
        "gc AS (SELECT t::INT AS step, round(least(1.0::DOUBLE, " +
        "sqrt(t::DOUBLE / 10 * (1.0::DOUBLE - 0.1::DOUBLE * 0.1::DOUBLE) + " +
        "0.1::DOUBLE * 0.1::DOUBLE)), 6) AS competence FROM g), " +
        "ad AS (SELECT step, count(*)::BIGINT AS n_bins, " +
        "sum(n_docs)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens " +
        "FROM gc JOIN cd ON cdf <= competence GROUP BY 1) " +
        "SELECT gc.step, gc.competence, coalesce(n_bins, 0)::BIGINT AS n_bins, " +
        "coalesce(n_docs, 0)::BIGINT AS n_docs, " +
        "coalesce(n_tokens, 0)::BIGINT AS n_tokens " +
        "FROM gc LEFT JOIN ad USING (step) ORDER BY gc.step"),

    // ───── Unigram-LM (SentencePiece) Viterbi segmentation with the
    // pinned piecesV1 vocabulary: fully UNROLLED integer min-plus DP as
    // chained projections (no UDF, no explode) over the distinct-word
    // table — the serving half of the second subword family beside
    // q228/q229's BPE ─────
    Query("q306_unigram_viterbi", { (s, dir) =>
      val w = tb(s, dir, "documents")
        .select(explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_occ"))
      Unigram.segment(w).orderBy("word")
    },
      // q306: Unigram.segment mirror — the SAME pinned vocabulary
      // (graft.ops.Unigram.piecesV1) drives both the Column DP and this
      // generated CTE chain, and every DP value is an integer, so the two
      // engines cannot drift. One CTE pair per forward position (candidate
      // costs, then best/argmin/count), one CTE per backward step.
      oracle = Oracles.unigramDpSql(
        s"WITH ${Oracles.tokCte}, " +
          "wx AS (SELECT unnest(toks) AS word FROM tok), " +
          "wd AS (SELECT word, count(*)::BIGINT AS n_occ FROM wx GROUP BY 1), ",
        "SELECT word, n_occ, l::BIGINT AS len, cost, n_pieces, " +
          "seg10 AS seg FROM t10 ORDER BY word")),

    // ───── Length-bucketed PADDED batch planning: power-of-two caps via
    // an integer when-chain (no float log2), plan-time docs-per-batch
    // constants → batch assignment is pure rank arithmetic; per-batch
    // padding efficiency — the padded-batch dual of q47/q83 packing ─────
    Query("q309_length_batching", { (s, dir) =>
      val d = tb(s, dir, "documents")
      TextAnalysis.lengthBatching(d, "doc_id",
          size(TextAnalysis.words(col("text"))).cast("long"),
          maxTokensPerBatch = 2048, maxCap = 256)
        .orderBy("cap", "batch_id")
    },
      // q309: TextAnalysis.lengthBatching mirror — power-of-two caps via
      // CASE, plan-time docs-per-batch constants, hash-rank assignment.
      oracle = {
        val caps = Seq(16, 32, 64, 128, 256)
        val maxTokens = 2048L
        val capCase = caps.init.map(c => s"WHEN tok <= $c THEN $c")
          .mkString("CASE ", " ", s" ELSE ${caps.last} END")
        val dpbCase = caps.map(c => s"WHEN $c THEN ${math.max(1L, maxTokens / c)}")
          .mkString("CASE cap ", " ", " END")
        val hk = Oracles.h60("doc_id::VARCHAR || ':lb'")
        "WITH t AS (SELECT doc_id, " +
          "len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS tok " +
          "FROM documents), " +
          s"b AS (SELECT doc_id, tok, ($capCase) AS cap FROM t), " +
          "r AS (SELECT doc_id, tok, cap, row_number() OVER " +
          s"(PARTITION BY cap ORDER BY $hk, doc_id) AS rn FROM b), " +
          s"a AS (SELECT cap, ((rn - 1) // ($dpbCase))::BIGINT AS batch_id, " +
          "tok FROM r), " +
          "g AS (SELECT cap, batch_id, count(*)::BIGINT AS n_docs, " +
          "sum(least(tok, cap))::BIGINT AS real_tokens FROM a GROUP BY 1, 2) " +
          "SELECT cap, batch_id, n_docs, real_tokens, " +
          "(n_docs * cap)::BIGINT AS padded_tokens, " +
          "round(real_tokens::DOUBLE / (n_docs * cap), 6) AS efficiency " +
          "FROM g ORDER BY cap, batch_id"
      }),

    // ───── Composed MT eval report: the q297 BLEU + q298 chrF chains
    // joined per pair, per-lang means + EXACT rank median + pass rate —
    // one Catalyst plan composing the engine's own metrics (q234's
    // composition posture for the eval family) ─────
    Query("q310_mt_eval_report", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      // materialize the pair table ONCE: bleu traverses it three times
      // (ref grams, cand grams, lengths), chrF three more, and the lang
      // spine once — without the checkpoint each traversal re-runs the
      // documents self-join (the r7 16.5 s sf1 hot spot)
      val pairs = d.select(col("doc_id"), col("lang"),
          col("text").as("ref"))
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
        .localCheckpoint()
      val b = TextAnalysis.bleu(pairs, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("bleu"))
      val p240 = pairs.select(col("doc_id"),
        substring(col("ref"), 1, 240).as("ref"),
        substring(col("cand"), 1, 240).as("cand"))
      val c = TextAnalysis.chrF(p240, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("chrf"))
      // ROUGE-L on 160-char slices (the chrF slicing posture: the
      // metric is sentence-level; the per-pair DP is quadratic in
      // tokens, so the report bounds it the way chrF bounds char grams)
      val p160 = pairs.select(col("doc_id"),
        substring(col("ref"), 1, 160).as("ref"),
        substring(col("cand"), 1, 160).as("cand"))
      val rl = TextAnalysis.rougeL(p160, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("rouge_l_f").as("rouge_l"))
      val scored = pairs.select(col("doc_id"), col("lang"))
        .join(b, "doc_id").join(c, "doc_id").join(rl, "doc_id")
      TextAnalysis.mtEvalReport(scored, "doc_id", passBar = 0.1)
        .orderBy("lang")
    },
      // q310: TextAnalysis.mtEvalReport mirror — the q297 + q298 chains as
      // derived tables joined to the ref doc's lang, exact rank median.
      oracle = "WITH l AS (SELECT doc_id, lang FROM documents), " +
        // rouge_l rides in as a self-contained recursive subquery (the
        // shared LCS chain); a null F (zero-token side) counts as 0 in
        // the mean, matching the Spark coalesce
        "rl AS (SELECT doc_id, coalesce(CASE WHEN rouge_l_p + rouge_l_r " +
        "> 0 THEN round(2.0::DOUBLE * rouge_l_p * rouge_l_r / " +
        "(rouge_l_p + rouge_l_r), 6) END, 0.0::DOUBLE) AS rouge_l FROM " +
        s"(WITH RECURSIVE ${Oracles.rougeLcsCte} SELECT * FROM prc) prcq), " +
        s"m AS (SELECT l.lang, b.doc_id, b.bleu, c.chrf, rl.rouge_l " +
        s"FROM (${Oracles.bleu}) b JOIN (${Oracles.chrf}) c USING (doc_id) " +
        "JOIN rl USING (doc_id) JOIN l USING (doc_id)), " +
        "r AS (SELECT lang, doc_id, bleu, chrf, rouge_l, row_number() OVER " +
        "(PARTITION BY lang ORDER BY bleu, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM m) " +
        "SELECT lang, count(*)::BIGINT AS n_pairs, " +
        "round(sum(bleu) / count(*), 6) AS mean_bleu, " +
        "max(CASE WHEN rn = (n + 1) // 2 THEN bleu END) AS median_bleu, " +
        "round(sum(chrf) / count(*), 6) AS mean_chrf, " +
        "round(sum(rouge_l) / count(*), 6) AS mean_rouge_l, " +
        "round(sum(CASE WHEN bleu >= 0.1 THEN 1 ELSE 0 END)::DOUBLE / " +
        "count(*), 6) AS pass_rate " +
        "FROM r GROUP BY lang ORDER BY lang"),

    // ───── Per-lang unigram tokenizer fertility: the q306 DP over the
    // distinct (lang, word) table, occurrence-weighted piece/cost sums —
    // q235's BPE fertility re-measured for the unigram family ─────
    Query("q320_unigram_fertility", { (s, dir) =>
      Unigram.fertility(tb(s, dir, "documents"), "lang", "text")
        .orderBy("lang")
    },
      // q320: per-lang unigram tokenizer fertility through the SAME DP
      // chain — (lang, word, n_occ) ride the chain's SELECT *s, integer
      // occurrence-weighted sums, two double divisions at the end.
      oracle = Oracles.unigramDpSql(
        "WITH tok AS (SELECT doc_id, lang, " +
          "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
          "wx AS (SELECT lang, unnest(toks) AS word FROM tok), " +
          "wd AS (SELECT lang, word, count(*)::BIGINT AS n_occ " +
          "FROM wx GROUP BY 1, 2), ",
        "SELECT lang, sum(n_occ)::BIGINT AS total_words, " +
          "sum(n_occ * n_pieces)::BIGINT AS total_pieces, " +
          "sum(n_occ * l)::BIGINT AS total_chars, " +
          "round(sum(n_occ * n_pieces)::DOUBLE / sum(n_occ), 6) AS fertility, " +
          "round(sum(n_occ * cost)::DOUBLE / sum(n_occ * l), 6) AS " +
          "cost_per_char FROM t10 GROUP BY lang ORDER BY lang")),

    // ───── ROUGE-L on 160-char slices of the q226 consecutive-doc
    // pairs: LCS-based P/R/F via the codegen'd row-local TokenLcs DP —
    // the most-reported summarization metric, map-only like its
    // GramClipOverlap siblings (no explode, no gram shuffle) ─────
    Query("q327_rouge_l", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 160).as("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.rougeL(pairs, "doc_id", "ref", "cand")
        .orderBy("doc_id")
    },
      // q327: TextAnalysis.rougeL mirror — LCS-based P/R/F on 160-char
      // slices of the q226 consecutive-doc pairs, F1 from the 6dp-rounded
      // P/R.
      oracle = s"WITH RECURSIVE ${Oracles.rougeLcsCte} " +
        "SELECT doc_id, n_ref, n_cand, lcs, rouge_l_p, rouge_l_r, " +
        "CASE WHEN rouge_l_p + rouge_l_r > 0 THEN " +
        "round(2.0::DOUBLE * rouge_l_p * rouge_l_r / " +
        "(rouge_l_p + rouge_l_r), 6) END AS rouge_l_f " +
        "FROM prc ORDER BY doc_id"),

    // ───── deterministic epoch shuffle: keyed 4-round Feistel bijection
    // on [0, 2³²) — each row's position in each epoch's training order
    // is a PURE function of (key, seed, epoch). Map-only assignment (no
    // rand(), no state, no shuffle); sort-by-pos is the consumer's
    // range partition; resume = filter pos > watermark ─────
    Query("q330_epoch_shuffle", { (s, dir) =>
      Sampling.epochShuffle(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = 42L, epochs = Seq(0, 1, 2))
        .orderBy("doc_id")
    },
      // q330: replay the 4-round Feistel permutation per epoch — one CTE
      // per round with DISTINCT column names per step (l0/r0 … l4/r4;
      // DuckDB lets a later expression in the same SELECT see an earlier
      // alias, so reusing `l`/`r` each round would be ambiguous). Round
      // keys are generated from the SAME
      // `graft.ops.Sampling.feistelRoundKeys` the Spark plan uses, so
      // the two engines agree by construction.
      oracle = {
        val seed: Long = 42L
        val epochs: Seq[Int] = Seq(0, 1, 2)
        val bits: Int = 16
        val half = 1L << bits
        val ctes = epochs.flatMap { e =>
          val ks = graft.ops.Sampling.feistelRoundKeys(seed, e, bits)
          val base = s"e${e}_0 AS (SELECT doc_id, doc_id // $half AS l0, " +
            s"doc_id % $half AS r0 FROM documents)"
          val rounds = ks.zipWithIndex.map { case (k, i) =>
            s"e${e}_${i + 1} AS (SELECT doc_id, r$i AS l${i + 1}, " +
              s"xor(l$i, (r$i * 2654435761 + $k) % $half) AS r${i + 1} " +
              s"FROM e${e}_$i)"
          }
          val fin = s"p$e AS (SELECT doc_id, l4 * $half + r4 AS pos_e$e " +
            s"FROM e${e}_4)"
          (base +: rounds) :+ fin
        }
        s"WITH ${ctes.mkString(", ")} " +
          s"SELECT d.doc_id, ${epochs.map(e => s"pos_e$e").mkString(", ")} " +
          s"FROM documents d ${epochs.map(e => s"JOIN p$e USING (doc_id)").mkString(" ")} " +
          "ORDER BY doc_id"
      })
  )
}
