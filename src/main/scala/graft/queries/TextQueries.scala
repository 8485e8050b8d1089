package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Text analysis: tokenization, language id, quality signals,
  * language models, indexing, ranking and PII screens. */
private[graft] object TextQueries {

  def all: Seq[Query] = Seq(
    // ───── Text: stopword language-ID ─────
    // langIdText: whole-text regexp_count passes (codegen'd) instead of
    // HOF filters over a token array (interpreted, re-evaluated per score
    // branch) — same values, ~40x less per-doc work at corpus scale
    Query("q19_text_langid", { (s, dir) =>
      tb(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.langIdText(col("text")).as("lang_pred"),
          round(TextAnalysis.hitRatioText(col("text"),
            TextAnalysis.stopwords.toMap.apply("en")), 6).as("s_en"))
        .orderBy("doc_id")
    },
      oracle = {
        val scores = Seq("de", "en", "es", "fr")
          .map(l => s"${Oracles.hitRatioSql(Oracles.langList(l))} AS s_$l").mkString(", ")
        s"WITH ${Oracles.tokCte}, " +
          s"sc AS (SELECT doc_id, $scores FROM tok), " +
          "m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, greatest(s_de, s_en, s_es, s_fr) AS mx FROM sc) " +
          "SELECT doc_id, CASE WHEN mx <= 0.0 THEN 'und' WHEN s_de = mx THEN 'de' " +
          "WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es' ELSE 'fr' END AS lang_pred, " +
          "round(s_en, 6) AS s_en FROM m ORDER BY doc_id"
      }),

    // ───── Text: quality scoring ─────
    Query("q20_text_quality", { (s, dir) =>
      tb(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.wordCount(col("text")).as("n_words"),
          round(TextAnalysis.avgWordLenText(col("text")), 6).as("avg_wlen"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.hitRatioText(col("text"),
            TextAnalysis.stopwords.toMap.apply("en")), 6).as("stop_ratio"),
          round(TextAnalysis.qualityScoreText(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    },
      oracle = s"WITH ${Oracles.tokCte}, " +
        "q AS (SELECT doc_id, len(toks) AS n_words, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) END AS avg_wlen, " +
        "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) AS punct_ratio, " +
        s"${Oracles.hitRatioSql(Oracles.langList("en"))} AS stop_ratio FROM tok) " +
        "SELECT doc_id, n_words, round(avg_wlen, 6) AS avg_wlen, round(punct_ratio, 6) AS punct_ratio, " +
        "round(stop_ratio, 6) AS stop_ratio, " +
        "round(stop_ratio * 0.5 + least(n_words / 100.0, 1.0) * 0.5 - punct_ratio * 0.25, 6) AS quality " +
        "FROM q ORDER BY doc_id"),

    // ───── Text: token counting per source ─────
    Query("q21_text_tokens", { (s, dir) =>
      tb(s, dir, "documents").select(
          col("source"),
          TextAnalysis.wsTokenCount(col("text")).as("ws"),
          size(TextAnalysis.bpeTokens(col("text"))).as("bpe"),
          length(col("text")).as("chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("sum_ws"),
          sum("bpe").as("sum_bpe"), sum("chars").as("sum_chars"))
        .orderBy("source")
    },
      oracle = "SELECT source, count(*) AS n_docs, " +
        // ::BIGINT: DuckDB sum(INTEGER) yields HUGEINT, which pandas widens to
        // float64 and the oracle's hash compare then mismatches vs Spark's long.
        "sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS sum_ws, " +
        "sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))::BIGINT AS sum_bpe, " +
        "sum(length(text))::BIGINT AS sum_chars " +
        "FROM documents GROUP BY 1 ORDER BY 1"),

    // ───── Text: document fingerprinting ─────
    Query("q22_text_fingerprint", { (s, dir) =>
      tb(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.contentFingerprint(col("text")).as("fp_content"),
          Hashing.polyFingerprint(TextAnalysis.words(col("text"))).as("fp_poly"))
        .orderBy("doc_id")
    },
      oracle = s"WITH ${Oracles.tokCte} " +
        s"SELECT doc_id, ${Oracles.h60("array_to_string(toks, ' ')")} AS fp_content, " +
        s"list_reduce(list_prepend(0::BIGINT, [${Oracles.h60("t")} % ${Oracles.P} for t in toks]), " +
        s"(a, b) -> (a * 31 + b) % ${Oracles.P}) AS fp_poly " +
        "FROM tok ORDER BY doc_id"),

    // ───── TF-IDF top-k retrieval for a fixed query ─────
    Query("q48_tfidf", { (s, dir) =>
      TextAnalysis.tfidfTopK(tb(s, dir, "documents"), "text", "doc_id",
        terms = Seq("spark", "query", "join"), k = 10)
    },
      oracle = {
        val terms = Seq("spark", "query", "join")
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"len(regexp_extract_all(lower(text), '\\b$t\\b')) AS tf$i"
        }.mkString(", ")
        val dfs = terms.indices.map(i =>
          s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
        val score = terms.indices.map(i =>
          s"tf$i * ln((s.n + 1.0) / (s.df$i + 1.0))").mkString(" + ")
        s"WITH d AS (SELECT doc_id, $tfs FROM documents), " +
          s"s AS (SELECT count(*)::DOUBLE AS n, $dfs FROM d) " +
          s"SELECT doc_id, round($score, 6) AS score FROM d, s " +
          "ORDER BY score DESC, doc_id LIMIT 10"
      }),

    // ───── Vocabulary construction: top-V tokens with contiguous ids ─────
    Query("q57_vocab", { (s, dir) =>
      TextAnalysis.buildVocab(tb(s, dir, "documents"), "text", size = 500)
        .orderBy("token_id")
    },
      oracle = "WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token) " +
        "SELECT token, freq, (row_number() OVER (ORDER BY freq DESC, token) - 1)::INT AS token_id " +
        "FROM c ORDER BY token_id LIMIT 500"),

    // ───── Bigram-LM perplexity scoring (self-trained, vocab-capped) ─────
    Query("q61_lm_score", { (s, dir) =>
      TextAnalysis.bigramLmScore(tb(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id")
    },
      oracle = s"WITH ${Oracles.lmCtes} SELECT doc_id, avg_nll FROM scored ORDER BY doc_id"),

    // ───── Repetition filters: Gopher-style corpus-quality signals ─────
    // keep rule thresholds the 6dp-rounded stats (oracle decides identically)
    Query("q60_repetition", { (s, dir) =>
      TextAnalysis.repetitionStats(tb(s, dir, "documents"), "doc_id", "text")
        .withColumn("keep",
          (col("top_unigram_frac") <= 0.1 && col("top_bigram_frac") <= 0.05 &&
            col("distinct_ratio") >= 0.35).cast("int"))
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.repetitionStats + the q60 keep rule.
      oracle = s"WITH ${Oracles.tokCte}, " +
        "uc AS (SELECT doc_id, t, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY 1, 2), " +
        "us AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS uf, " +
        "round(count(*) * 1.0 / sum(c), 6) AS dr FROM uc GROUP BY 1), " +
        "bc AS (SELECT doc_id, t, count(*) AS c FROM " +
        "(SELECT doc_id, unnest([array_to_string(toks[i+1:i+2], ' ') " +
        "for i in range(len(toks)-1)]) AS t FROM tok) GROUP BY 1, 2), " +
        "bs AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS bf FROM bc GROUP BY 1), " +
        "r AS (SELECT d.doc_id, coalesce(uf, 0.0) AS top_unigram_frac, " +
        "coalesce(bf, 0.0) AS top_bigram_frac, coalesce(dr, 1.0) AS distinct_ratio " +
        "FROM documents d LEFT JOIN us ON d.doc_id = us.doc_id " +
        "LEFT JOIN bs ON d.doc_id = bs.doc_id) " +
        "SELECT doc_id, top_unigram_frac, top_bigram_frac, distinct_ratio, " +
        "(CASE WHEN top_unigram_frac <= 0.1 AND top_bigram_frac <= 0.05 " +
        "AND distinct_ratio >= 0.35 THEN 1 ELSE 0 END)::INT AS keep " +
        "FROM r ORDER BY doc_id"),

    // ───── PII scrubbing: emails/IPs/phone-runs → typed placeholders.
    // The synthetic corpus is digit-free, so deterministic PII derived
    // from doc_id is appended first (mirrored verbatim in the oracle);
    // the scrubbed text is checked by 60-bit fingerprint ─────
    Query("q69_pii_scrub", { (s, dir) =>
      val dirty = tb(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" tel "), (lit(5550000000L) + col("doc_id")).cast("string"))
          .as("text"))
      TextAnalysis.piiScrub(dirty, "doc_id", "text")
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_num").cast("long").as("n_num"),
          Hashing.hash60(col("scrubbed")).as("fp_scrubbed"),
          length(col("scrubbed")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
      // identical regex cascade (RE2-compatible patterns) + hash60 fingerprint
      oracle = {
        import graft.ops.TextAnalysis.{emailRe, ipv4Re, longNumRe}
        "WITH dirty AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || " +
          "'@example.com via 10.' || (doc_id % 256)::VARCHAR || '.0.' || " +
          "(doc_id % 100)::VARCHAR || ' tel ' || (5550000000 + doc_id)::VARCHAR AS t FROM documents), " +
          s"s1 AS (SELECT doc_id, len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_email, " +
          s"regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t FROM dirty), " +
          s"s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '$ipv4Re'))::BIGINT AS n_ip, " +
          s"regexp_replace(t, '$ipv4Re', '<IP>', 'g') AS t FROM s1), " +
          s"s3 AS (SELECT doc_id, n_email, n_ip, len(regexp_extract_all(t, '$longNumRe'))::BIGINT AS n_num, " +
          s"regexp_replace(t, '$longNumRe', '<NUM>', 'g') AS t FROM s2) " +
          "SELECT doc_id, n_email, n_ip, n_num, " +
          "('0x' || substr(md5(t), 1, 15))::BIGINT AS fp_scrubbed, " +
          "length(t)::BIGINT AS n_chars FROM s3 ORDER BY doc_id"
      }),

    // ───── Token chunking with overlap: context-window preparation ─────
    Query("q70_chunk_docs", { (s, dir) =>
      TextAnalysis.chunkDocs(tb(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_no")
    },
      // same start grid (multiples of stride while a start adds tokens past
      // the previous overlap), same clamping list slice; chunk_no = start/stride
      oracle = s"WITH ${Oracles.tokCte}, " +
        "c AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0), " +
        "s AS (SELECT doc_id, toks, unnest(range(0, greatest(n - 16, 1), 48)) AS st FROM c) " +
        "SELECT doc_id, (st // 48)::BIGINT AS chunk_no, " +
        "len(toks[st+1:st+64])::BIGINT AS n_tok, " +
        "array_to_string(toks[st+1:st+64], ' ') AS chunk " +
        "FROM s ORDER BY doc_id, chunk_no"),

    // ───── Unicode NFC normalization (native codegen'd expression; DuckDB
    // nfc_normalize = the same canonical composition). The ASCII corpus is
    // decorated with combining acutes (a → a+U+0301) first — mirrored
    // verbatim in the oracle — so normalization genuinely recomposes ─────
    Query("q74_nfc_normalize", { (s, dir) =>
      val decorated = tb(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("t")) // a + combining acute (decomposed)
      decorated.select(col("doc_id"),
          length(col("t")).cast("long").as("len_raw"),
          length(TextAnalysis.nfcNormalize(col("t"))).cast("long").as("len_nfc"),
          Hashing.hash60(TextAnalysis.nfcNormalize(col("t"))).as("fp_nfc"))
        .orderBy("doc_id")
    },
      // chr(769) = U+0301 combining acute; nfc_normalize (utf8proc) applies
      // the same Unicode canonical composition as java.text.Normalizer
      oracle = "WITH d AS (SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS t " +
        "FROM documents), " +
        "n AS (SELECT doc_id, t, nfc_normalize(t) AS tn FROM d) " +
        "SELECT doc_id, length(t)::BIGINT AS len_raw, length(tn)::BIGINT AS len_nfc, " +
        "('0x' || substr(md5(tn), 1, 15))::BIGINT AS fp_nfc FROM n ORDER BY doc_id"),

    // ───── the composite CURATION pipeline a corpus user runs: LM-score
    // every doc (q61's model) → band by score terciles (cuts computed
    // once, broadcast back) → exact per-band quotas, downsampling the
    // worst band 5× (q65's sampler). Deterministic end to end ─────
    Query("q82_quality_mix", { (s, dir) =>
      // the scored frame feeds TWO consumers (the percentile cuts and the
      // banding join) — materialize the narrow (doc_id, avg_nll) result
      // once instead of running the whole LM pipeline twice (r10; the
      // scoredDocsQuality posture)
      val scored = TextAnalysis.bigramLmScore(tb(s, dir, "documents"),
        "doc_id", "text", vocabSize = 20)
        .localCheckpoint()
      val cuts = scored.agg(
        round(expr("percentile(avg_nll, 0.3333)"), 6).as("c1"),
        round(expr("percentile(avg_nll, 0.6667)"), 6).as("c2"))
      val banded = scored.crossJoin(broadcast(cuts))
        .withColumn("band",
          when(col("avg_nll") <= col("c1"), "good")
            .when(col("avg_nll") <= col("c2"), "mid")
            .otherwise("bad"))
        .select("doc_id", "band")
      TextAnalysis.quotaSample(banded, "doc_id", "band", 100, Map("bad" -> 20))
        .orderBy("doc_id")
    },
      // Composite curation: LM score → tercile bands (cuts = interpolated
      // quantiles rounded 6dp, same in both engines) → exact per-band hash
      // quotas (100 default, bad band capped at 20).
      oracle = s"WITH ${Oracles.lmCtes}, " +
        "cut AS (SELECT round(quantile_cont(avg_nll, 0.3333), 6) AS c1, " +
        "round(quantile_cont(avg_nll, 0.6667), 6) AS c2 FROM scored), " +
        "bd AS (SELECT doc_id, CASE WHEN avg_nll <= c1 THEN 'good' " +
        "WHEN avg_nll <= c2 THEN 'mid' ELSE 'bad' END AS band " +
        "FROM scored CROSS JOIN cut), " +
        "r AS (SELECT doc_id, band, row_number() OVER (PARTITION BY band " +
        s"ORDER BY ${Oracles.h60("doc_id::VARCHAR")}, doc_id) AS rn FROM bd) " +
        "SELECT doc_id, band FROM r " +
        "WHERE rn <= CASE WHEN band = 'bad' THEN 20 ELSE 100 END ORDER BY doc_id"),

    // ───── incremental dedup — the daily-ingest shape: an incoming batch
    // (every 5th doc) dedups against the existing store by q12's
    // normalized-bag content key (anti-join on the digest — the store's
    // documents never move) and then within itself (min-id window). What
    // survives is what an append-only corpus actually ingests ─────
    Query("q88_incremental_dedup", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val key = md5(concat_ws(" ",
        array_sort(array_distinct(TextAnalysis.words(col("text"))))))
      val store = docs.filter(col("doc_id") % 5 =!= 0)
        .select(key.as("ck")).distinct()
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"), key.as("ck"))
      val w = Window.partitionBy("ck").orderBy("doc_id")
      batch.join(store, Seq("ck"), "left_anti")
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      oracle = "WITH k AS (SELECT doc_id, source, md5(array_to_string(list_sort(" +
        "list_distinct(regexp_extract_all(lower(text), '\\w+'))), ' ')" +
        ") AS ck FROM documents), " +
        "b AS (SELECT * FROM k WHERE doc_id % 5 = 0), " +
        "c AS (SELECT DISTINCT ck FROM k WHERE doc_id % 5 != 0), " +
        "f AS (SELECT b.doc_id, b.source, b.ck FROM b " +
        "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.ck = b.ck)), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn FROM f) " +
        "SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id"),

    // ───── BM25 ranking (Lucene-default k1/b saturating form) — q48
    // TF-IDF's production sibling; avgdl is an exact integer-valued sum,
    // so the float stats are bit-identical across engines ─────
    Query("q112_bm25", { (s, dir) =>
      TextAnalysis.bm25TopK(tb(s, dir, "documents"), "text", "doc_id",
        terms = Seq("spark", "query", "join"), k = 10)
    },
      // mirrors bm25TopK(k1=1.2, b=0.75): same stat CTE + saturating form
      oracle = {
        val terms = Seq("spark", "query", "join")
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"len(regexp_extract_all(lower(text), '\\b$t\\b'))::DOUBLE AS tf$i"
        }.mkString(", ")
        val dfs = terms.indices.map(i =>
          s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
        val score = terms.indices.map { i =>
          s"ln((s.n - s.df$i + 0.5) / (s.df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
            s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / s.avgdl))"
        }.mkString(" + ")
        s"WITH d AS (SELECT doc_id, len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE AS dl, $tfs FROM documents), " +
          s"s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfs FROM d) " +
          s"SELECT doc_id, round($score, 6) AS score FROM d, s " +
          "ORDER BY score DESC, doc_id LIMIT 10"
      }),

    // ───── inverted index over word 3-grams: df-bounded postings — the
    // [minDf, maxDf] gate runs BEFORE collection, so no posting list can
    // exceed maxDf entries (stop-term lists are the classic OOM) ─────
    Query("q150_inverted_index", { (s, dir) =>
      TextAnalysis.invertedIndex(tb(s, dir, "documents"), "doc_id", "text",
          n = 3, minDf = 3, maxDf = 7)
        .orderBy("term")
    },
      // Mirrors TextAnalysis.invertedIndex at n=3, df ∈ [3, 7].
      oracle = s"WITH ${Oracles.tokCte}, " +
        "ng AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
        "for i in range(len(toks)-2)])) AS term FROM tok), " +
        "d AS (SELECT term, count(*)::BIGINT AS df FROM ng GROUP BY 1 " +
        "HAVING count(*) BETWEEN 3 AND 7) " +
        "SELECT d.term, d.df, string_agg(ng.doc_id::VARCHAR, ';' ORDER BY ng.doc_id) " +
        "AS postings FROM d JOIN ng USING (term) GROUP BY 1, 2 ORDER BY term"),

    // ───── exact phrase search: positional-index intersection — each
    // term contributes its (doc, aligned-position) postings and k−1
    // equi-joins close the phrase; occurrence counts per matching doc ─────
    Query("q151_phrase_search", { (s, dir) =>
      TextAnalysis.phraseSearch(tb(s, dir, "documents"), "doc_id", "text",
          Seq("filter", "value", "small", "value"))
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.phraseSearch for the fixed 4-token phrase.
      oracle = s"WITH ${Oracles.tokCte}, " +
        "m AS (SELECT doc_id, len([i for i in range(len(toks)-3) " +
        "if toks[i+1:i+4] = ['filter', 'value', 'small', 'value']])::BIGINT " +
        "AS n_occurrences FROM tok) " +
        "SELECT doc_id, n_occurrences FROM m WHERE n_occurrences > 0 ORDER BY doc_id"),

    // ───── reciprocal-rank fusion of two retrievers over the same
    // query: lexical TF-IDF ⊕ BM25 top-20 lists fused at kConst=60 —
    // the standard hybrid-retrieval combiner; both ranks exposed ─────
    Query("q198_rrf_fusion", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val terms = Seq("spark", "query", "join")
      TextAnalysis.rrfFuse(
          TextAnalysis.tfidfTopK(docs, "text", "doc_id", terms, k = 20),
          TextAnalysis.bm25TopK(docs, "text", "doc_id", terms, k = 20),
          "doc_id", "score", kConst = 60, topK = 15)
        .orderBy(col("rrf").desc, col("doc_id"))
    },
      // both retriever CTE chains (q48's TF-IDF, q112's BM25) ranked, full
      // join, 1/(60+rank) arms, 9dp fused score
      oracle = Oracles.rrfFusedSql(Seq("spark", "query", "join"))),

    // ───── per-document keyphrases: top-3 TF-IDF terms per doc with a
    // stop-term df gate, ranked on the sort-free TopKPerKey heap
    // operator — tfidfTopK's transpose (terms per document). Gate at 0.9
    // here: the synthetic corpus has a ~31-term vocabulary with median
    // df 388/500, so the real-corpus default 0.5 would gate everything ─────
    Query("q200_keyphrases", { (s, dir) =>
      TextAnalysis.keyphrases(tb(s, dir, "documents"), "doc_id", "text",
          k = 3, maxDfFrac = 0.9)
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },
      // per-doc tf·idf over the corpus vocabulary with the df gate, rank
      // window top-3 per doc (the TopKPerKey heap's window formulation)
      oracle = "WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf " +
        "FROM t GROUP BY 1, 2), " +
        "d AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
        "s AS (SELECT doc_id, term, " +
        "round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS score " +
        "FROM tf JOIN d USING (term) CROSS JOIN n WHERE df <= n * 0.9), " +
        "r AS (SELECT doc_id, term, score, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s) " +
        "SELECT doc_id, term, score FROM r WHERE rn <= 3 " +
        "ORDER BY doc_id, score DESC, term"),

    // ───── dictionary tagging (blocklist / topic lexicon): per-doc hits
    // against a 3-category lexicon over the corpus vocabulary — the
    // brand-safety / topic-router primitive; broadcast term join, corpus
    // never shuffles ─────
    Query("q201_dictionary_tag", { (s, dir) =>
      TextAnalysis.dictionaryTag(tb(s, dir, "documents"), "doc_id", "text",
          Map(
            "perf" -> Seq("slow", "fast", "big", "small"),
            "exec" -> Seq("join", "scan", "filter", "sort", "merge", "agg"),
            "storage" -> Seq("table", "column", "row", "batch")))
        .orderBy("doc_id", "category")
    },
      // token explode joined against the inline lexicon VALUES table
      oracle = "WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "d AS (SELECT * FROM (VALUES " +
        "('slow','perf'),('fast','perf'),('big','perf'),('small','perf')," +
        "('join','exec'),('scan','exec'),('filter','exec')," +
        "('sort','exec'),('merge','exec'),('agg','exec')," +
        "('table','storage'),('column','storage'),('row','storage')," +
        "('batch','storage')) v(term, category)) " +
        "SELECT doc_id, category, count(*)::BIGINT AS n_hits, " +
        "count(DISTINCT term)::BIGINT AS n_terms " +
        "FROM t JOIN d USING (term) GROUP BY 1, 2 " +
        "ORDER BY doc_id, category"),

    // ───── feature hashing (the hashing trick): 64-bucket bag-of-words
    // with no vocabulary pass — bucket = md5-hash(token) mod 64, sparse
    // (doc, bucket, cnt) rows; the vectorizer that needs no global state ─────
    Query("q202_feature_hash", { (s, dir) =>
      TextAnalysis.featureHash(tb(s, dir, "documents"), "doc_id", "text",
          nBuckets = 64)
        .orderBy("doc_id", "bucket")
    },
      // same 60-bit md5 hash mod 64 (Hashing parity), per-(doc, bucket) counts
      oracle = "WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS bucket, " +
        "count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2 " +
        "ORDER BY doc_id, bucket"),

    // ───── per-document character entropy: the gibberish/template-spam
    // detector — flat char distributions (mash) score high, repeated-run
    // spam scores low, natural language sits in a per-script band ─────
    Query("q210_char_entropy", { (s, dir) =>
      TextAnalysis.charEntropy(tb(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      // same char explode, per-doc totals as a window over the alphabet
      // grid, -sum(p ln p) folded once
      oracle = "WITH c AS (SELECT doc_id, unnest(regexp_extract_all(text, '.')) " +
        "AS ch FROM documents), " +
        "g AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt FROM c " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, cnt, " +
        "sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n FROM g) " +
        "SELECT doc_id, max(n) AS n_chars, count(*)::BIGINT AS n_distinct, " +
        "round(0 - sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 6) AS entropy " +
        "FROM t GROUP BY 1 ORDER BY doc_id"),

    // ───── DSIR importance resampling: pick the 200 corpus docs that
    // look most like the English slice under hashed-unigram bag models —
    // broadcast 64-row distributions, map-side log-weights, Gumbel-top-k
    // draw keyed by md5 (no RNG state, fully deterministic) ─────
    Query("q212_dsir", { (s, dir) =>
      TextAnalysis.importanceResample(tb(s, dir, "documents"), "doc_id",
          "text", col("lang") === "en", nBuckets = 64, k = 200)
        .orderBy(col("key").desc, col("doc_id"))
    },
      // hashed-feature distributions over the full 0..63 spine (+1
      // smoothing), per-doc log-weights, md5-Gumbel keys
      oracle = "WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "f AS (SELECT doc_id, " +
        "('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS bucket, " +
        "count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2), " +
        "sp AS (SELECT unnest(range(64)) AS bucket), " +
        "tt AS (SELECT f.bucket, sum(f.cnt)::BIGINT AS c FROM f " +
        "JOIN documents d ON f.doc_id = d.doc_id WHERE d.lang = 'en' " +
        "GROUP BY 1), " +
        "ttot AS (SELECT coalesce(sum(c), 0)::BIGINT AS t FROM tt), " +
        "pt AS (SELECT sp.bucket, (coalesce(tt.c, 0) + 1)::DOUBLE / " +
        "(ttot.t + 64) AS p_t FROM sp LEFT JOIN tt USING (bucket) " +
        "CROSS JOIN ttot), " +
        "rr AS (SELECT bucket, sum(cnt)::BIGINT AS c FROM f GROUP BY 1), " +
        "rtot AS (SELECT coalesce(sum(c), 0)::BIGINT AS t FROM rr), " +
        "pr AS (SELECT sp.bucket, (coalesce(rr.c, 0) + 1)::DOUBLE / " +
        "(rtot.t + 64) AS p_r FROM sp LEFT JOIN rr USING (bucket) " +
        "CROSS JOIN rtot), " +
        "w AS (SELECT f.doc_id, round(sum(f.cnt * (ln(p_t) - ln(p_r))), 6) " +
        "AS logw FROM f JOIN pt USING (bucket) JOIN pr USING (bucket) " +
        "GROUP BY 1) " +
        "SELECT doc_id, logw, round(logw - ln(0 - ln((" +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 15))::BIGINT " +
        "% 1000000000) + 1)::DOUBLE / 1000000001.0)), 9) AS key " +
        "FROM w ORDER BY key DESC, doc_id LIMIT 200"),

    // ───── vocabulary coverage curve: token-mass coverage of the top-k
    // types at four vocab budgets — the tokenizer-budget sizing signal
    // (the curve's slope is the marginal value of the next budget step);
    // the corpus collapses to the vocab before any window runs ─────
    Query("q216_vocab_coverage", { (s, dir) =>
      TextAnalysis.vocabCoverage(tb(s, dir, "documents"), "text",
          Seq(5, 10, 20, 1000))
        .orderBy("k")
    },
      // same (freq desc, token) rank + running token mass over the vocab
      oracle = "WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) " +
        "AS token FROM documents), " +
        "c AS (SELECT token, count(*)::BIGINT AS freq FROM t GROUP BY 1), " +
        "r AS (SELECT token, freq, row_number() OVER " +
        "(ORDER BY freq DESC, token)::INT AS rank, " +
        "sum(freq) OVER (ORDER BY freq DESC, token " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM c), " +
        "tt AS (SELECT max(cum)::BIGINT AS t, max(rank)::INT AS v FROM r), " +
        "s AS (SELECT unnest([5, 10, 20, 1000])::INT AS k) " +
        "SELECT s.k, least(tt.v, s.k)::INT AS n_types, " +
        "max(r.cum)::BIGINT AS covered_tokens, " +
        "round(max(r.cum)::DOUBLE / tt.t, 6) AS coverage " +
        "FROM s CROSS JOIN tt JOIN r ON r.rank <= s.k " +
        "GROUP BY s.k, tt.v, tt.t ORDER BY k"),

    // ───── contrastive triplet mining for embedding training: LSH
    // near-dup positives (est-Jaccard ≥ 0.5) + deterministic md5
    // bucket-representative negatives with next-bucket fallback — easy
    // negatives, the standard first epoch; zero RNG state ─────
    Query("q217_contrastive", { (s, dir) =>
      TextAnalysis.contrastiveTriplets(tb(s, dir, "documents"), "doc_id",
          "text", minEstJac = 0.5, nBuckets = 64)
        .orderBy("anchor", "positive")
    },
      // Contrastive triplets (mirrors `TextAnalysis.contrastiveTriplets`):
      // LSH positives ≥ 0.5 est-Jaccard + the md5 bucket-representative
      // negative draw with the next-bucket collision fallback.
      oracle = s"WITH ${Oracles.minhashCandCte}, " +
        s"pos AS (SELECT id_a AS anchor, id_b AS positive, ${Oracles.estJac} AS est_jac " +
        s"FROM cand WHERE ${Oracles.estJac} >= 0.5), " +
        s"bk AS (SELECT doc_id, ${Oracles.h60("doc_id::VARCHAR || ':cp'")} % 64 AS b " +
        "FROM documents), " +
        "rep AS (SELECT b, min(doc_id) AS rep FROM bk GROUP BY 1), " +
        s"tb AS (SELECT p.*, ${Oracles.h60("p.anchor::VARCHAR || ':cneg'")} % 64 AS t " +
        "FROM pos p), " +
        "j AS (SELECT tb.anchor, tb.positive, tb.est_jac, " +
        "r1.rep AS rep1, r2.rep AS rep2 FROM tb " +
        "LEFT JOIN rep r1 ON r1.b = tb.t " +
        "LEFT JOIN rep r2 ON r2.b = (tb.t + 1) % 64), " +
        "sel AS (SELECT anchor, positive, est_jac, " +
        "CASE WHEN rep1 IS NOT NULL AND rep1 != anchor AND rep1 != positive " +
        "THEN rep1 WHEN rep2 IS NOT NULL AND rep2 != anchor " +
        "AND rep2 != positive THEN rep2 END AS negative FROM j) " +
        "SELECT anchor, positive, negative, est_jac FROM sel " +
        "WHERE negative IS NOT NULL ORDER BY anchor, positive"),

    // ───── batched reciprocal-rank fusion: a three-query hybrid
    // retrieval workload (TF-IDF ⊕ BM25 top-20 arms per query) fused in
    // ONE plan — per-query rank windows, (query, doc) full join, the
    // sort-free TopKPerKey heap truncation; the production multi-query
    // shape of q198 ─────
    Query("q219_rrf_batched", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val arms = rrfQueries.map { case (qid, ts) =>
        (TextAnalysis.tfidfTopK(docs, "text", "doc_id", ts, k = 20)
           .withColumn("query_id", lit(qid)),
         TextAnalysis.bm25TopK(docs, "text", "doc_id", ts, k = 20)
           .withColumn("query_id", lit(qid)))
      }
      TextAnalysis.rrfFuseBatched(
          arms.map(_._1).reduce(_ unionByName _),
          arms.map(_._2).reduce(_ unionByName _),
          "query_id", "doc_id", "score", kConst = 60, topK = 15)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    },
      // q198's fused CTE chain instantiated once per workload query (same
      // shared rrfQueries term sets), UNION ALL'd with the query id
      oracle = rrfQueries.map { case (qid, ts) =>
        s"SELECT $qid AS query_id, f.* FROM (${Oracles.rrfFusedSql(ts)}) f"
      }.mkString("", " UNION ALL ", " ORDER BY query_id, rrf DESC, doc_id")),

    // ───── Retrieval-quality evaluation: NDCG@10 + MRR of the BM25 arm
    // over the shared rrfQueries workload, graded relevance = number of
    // query terms whole-word-present in the doc (build → fuse → EVALUATE
    // completes the retrieval family) ─────
    Query("q231_ranking_eval", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val ranked = rrfQueries.map { case (qid, ts) =>
        TextAnalysis.bm25TopK(docs, "text", "doc_id", ts, k = 20)
          .withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _)
      // graded relevance = total whole-word occurrences of the query's
      // terms (uncapped — saturated grades make every top-10 ideal and
      // NDCG degenerates to 1.0 on this term-dense corpus). The per-query
      // corpus scans here SYNTHESIZE qrels for the fixture workload;
      // production qrels are a bounded human-label table the op consumes
      // directly.
      val rels = rrfQueries.map { case (qid, ts) =>
        docs.select(lit(qid).as("query_id"), col("doc_id"),
          ts.map(t =>
            regexp_count(lower(col("text")), lit("\\b" + t + "\\b")))
            .reduce(_ + _).as("rel"))
      }.reduce(_ unionByName _)
      TextAnalysis.rankingMetrics(ranked, rels,
          "query_id", "doc_id", "score", "rel", k = 10)
        .orderBy("query_id")
    },
      // per-query BM25 top-20 -> DCG/IDCG/MRR blocks UNION ALL'd with the
      // query id (the q219 composition pattern)
      oracle = {
        // One query's BM25 → NDCG@kEval/MRR chain (q231's per-query oracle
        // body): the q198/q219 BM25 top-kCand arm, graded relevance = number
        // of query terms whole-word-present in the doc, DCG/IDCG/MRR in the
        // exact gain arithmetic of TextAnalysis.rankingMetrics.
        def bm25RankEval(terms: Seq[String], kCand: Int, kEval: Int): String = {
          val tfsD = terms.zipWithIndex.map { case (t, i) =>
            s"len(regexp_extract_all(lower(text), '\\b$t\\b'))::DOUBLE AS tf$i"
          }.mkString(", ")
          val dfs = terms.indices.map(i =>
            s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
          val scoreB = terms.indices.map { i =>
            s"ln((s2.n - s2.df$i + 0.5) / (s2.df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
              s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / s2.avgdl))"
          }.mkString(" + ")
          // graded relevance = total term occurrences, clamped only at the
          // op's 900 overflow ceiling (rankingMetrics' documented grade cap —
          // far above any term-density saturation point, so NDCG still
          // discriminates; both engines apply the identical least())
          val relSum = terms.indices.map(i => s"tf$i").mkString(" + ")
          val gain = (rel: String, rnk: String) =>
            s"(pow(2.0::DOUBLE, least($rel, 900.0::DOUBLE)) - 1.0::DOUBLE) / " +
              s"log2($rnk + 1.0::DOUBLE)"
          "WITH d2 AS (SELECT doc_id, " +
            s"len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE AS dl, $tfsD " +
            "FROM documents), " +
            s"s2 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfs FROM d2), " +
            s"lb AS (SELECT doc_id, round($scoreB, 6) AS sc FROM d2, s2 " +
            s"ORDER BY sc DESC, doc_id LIMIT $kCand), " +
            "top AS (SELECT doc_id, row_number() OVER (ORDER BY sc DESC, doc_id) AS rnk " +
            s"FROM lb QUALIFY rnk <= $kEval), " +
            s"judged AS (SELECT doc_id, ($relSum)::DOUBLE AS rel FROM d2 " +
            s"WHERE $relSum > 0), " +
            "dcg AS (SELECT coalesce(sum(" +
            gain("coalesce(j.rel, 0.0::DOUBLE)", "t.rnk") +
            "), 0.0::DOUBLE) AS dcg, " +
            "min(CASE WHEN j.rel > 0 THEN t.rnk END) AS frst " +
            "FROM top t LEFT JOIN judged j USING (doc_id)), " +
            "ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk " +
            s"FROM judged QUALIFY rnk <= $kEval), " +
            s"idcg AS (SELECT sum(${gain("rel", "rnk")}) AS idcg FROM ideal) " +
            "SELECT round(dcg, 6) AS dcg, round(idcg, 6) AS idcg, " +
            "CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) END AS ndcg, " +
            "round(coalesce(1.0::DOUBLE / frst, 0.0::DOUBLE), 6) AS mrr " +
            "FROM dcg, idcg"
        }
        rrfQueries.map { case (qid, ts) =>
          s"SELECT $qid AS query_id, f.* FROM (${bm25RankEval(ts, 20, 10)}) f"
        }.mkString("", " UNION ALL ", " ORDER BY query_id")
      }),

    // ───── Interpolated Kneser–Ney bigram perplexity (q61's add-1
    // scorer upgraded to the LM the CCNet-style filters actually ship;
    // same broadcast-model scale shape) ─────
    Query("q232_kneser_ney", { (s, dir) =>
      TextAnalysis.knBigramScore(tb(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.knBigramScore at vocabSize=20, D=0.75: the
      // same training chain as q61 (`Oracles.lmBaseCtes`), interpolated
      // Kneser–Ney probability — N1+(w1,·)/N1+(·,w2) are row counts of the
      // bigram-TYPE table, Pcont the backward count over total types, and
      // the discounted/backoff arithmetic is written in the exact
      // association order of the Spark expression.
      oracle = s"WITH ${Oracles.lmBaseCtes}, " +
        "n1f AS (SELECT w1, count(*)::DOUBLE AS n1f FROM lm GROUP BY 1), " +
        "n1b AS (SELECT w2, count(*)::DOUBLE AS n1b FROM lm GROUP BY 1), " +
        "nbt AS (SELECT count(*)::DOUBLE AS nbt FROM lm), " +
        "sc AS (SELECT doc_id, avg(0.0::DOUBLE - ln(" +
        "(greatest(cb - 0.75::DOUBLE, 0.0::DOUBLE) + 0.75::DOUBLE * n1f * (n1b / nbt)) / cw" +
        ")) AS nll " +
        "FROM b JOIN lm USING (w1, w2) JOIN ctx USING (w1) " +
        "JOIN n1f USING (w1) JOIN n1b USING (w2) CROSS JOIN nbt GROUP BY doc_id), " +
        "scored AS (SELECT d.doc_id, round(coalesce(nll, 0.0), 6) AS avg_nll " +
        "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id) " +
        "SELECT doc_id, avg_nll FROM scored ORDER BY doc_id"),

    // ───── Gopher rule battery (Rae 2021 A1.1): per-rule boolean flags
    // + conjunction, one codegen'd projection. minStopHits calibrated to
    // 1 on this synthetic vocabulary (only "the" from the published
    // required list occurs; the published default is 2) ─────
    Query("q233_gopher_rules", { (s, dir) =>
      TextAnalysis.gopherRules(tb(s, dir, "documents"), "doc_id", "text",
          minStopHits = 1)
        .orderBy("doc_id")
    },
      // each rule as the identical regexp-count arithmetic, 6dp-rounded
      // ratios before every threshold
      oracle = Oracles.gopherRules(1)),

    // ───── Code-switching detector: 10-token segments language-ID'd
    // individually, per-doc vote distribution (top language + share +
    // entropy) — the multilingual triage a per-doc langid misses; the
    // explode carries language LABELS, never text ─────
    Query("q278_code_switch", { (s, dir) =>
      TextAnalysis.codeSwitchScore(tb(s, dir, "documents"),
          "doc_id", "text", segTokens = 10)
        .orderBy("doc_id")
    },
      // Mirrors TextAnalysis.codeSwitchScore (q278): 10-token segments,
      // per-segment stopword language-ID (same tie order), per-doc vote
      // counts → top language (count desc, lang asc) + share + entropy.
      oracle = {
        def hr(lang: String): String =
          s"(CASE WHEN len(st) = 0 THEN 0.0 ELSE " +
            s"len(list_filter(st, t -> list_contains(${Oracles.langList(lang)}, t))) " +
            "* 1.0 / len(st) END)"
        val scores = Seq("de", "en", "es", "fr")
          .map(l => s"${hr(l)} AS s_$l").mkString(", ")
        s"WITH ${Oracles.tokCte}, " +
          "c AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0), " +
          "s AS (SELECT doc_id, toks, unnest(range(0, (n + 9) // 10)) AS i FROM c), " +
          "seg AS (SELECT doc_id, toks[i*10+1:i*10+10] AS st FROM s), " +
          s"sc AS (SELECT doc_id, $scores FROM seg), " +
          "m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, " +
          "greatest(s_de, s_en, s_es, s_fr) AS mx FROM sc), " +
          "lp AS (SELECT doc_id, CASE WHEN mx <= 0.0 THEN 'und' " +
          "WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' " +
          "WHEN s_es = mx THEN 'es' ELSE 'fr' END AS lang FROM m), " +
          "g AS (SELECT doc_id, lang, count(*)::BIGINT AS c FROM lp " +
          "GROUP BY 1, 2), " +
          "t AS (SELECT doc_id, lang, c, sum(c) OVER (PARTITION BY doc_id) " +
          "AS tot, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY c DESC, lang) AS rn FROM g) " +
          "SELECT t.doc_id, max(t.tot)::BIGINT AS n_segs, " +
          "count(*)::BIGINT AS n_langs, " +
          "max(CASE WHEN rn = 1 THEN lang END) AS top_lang, " +
          "round(max(CASE WHEN rn = 1 THEN c END)::DOUBLE / max(t.tot), 6) " +
          "AS top_share, " +
          "round(sum(-(c::DOUBLE / tot) * ln(c::DOUBLE / tot)), 6) " +
          "AS lang_entropy " +
          "FROM t GROUP BY 1 ORDER BY doc_id"
      }),

    // ───── Per-source PII density scorecard: q69's scrubber aggregated
    // to the release-review grid (docs with hits, hits by kind, hits per
    // 1k source chars) — the structured report beside q254's k-anonymity
    // audit; same deterministic dirty-text synthesis as q69 ─────
    Query("q275_pii_report", { (s, dir) =>
      val dirty = tb(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com via 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"), lit(" tel "),
          (col("doc_id") + 5550000000L).cast("string")).as("t"))
      val hits = col("n_email") + col("n_ip") + col("n_num")
      TextAnalysis.piiScrub(dirty, "doc_id", "t")
        .join(dirty.select(col("doc_id"), col("source"),
          length(col("t")).as("_n0")), Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(hits > 0, 1L).otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email").cast("long")).as("emails"),
          sum(col("n_ip").cast("long")).as("ips"),
          sum(col("n_num").cast("long")).as("nums"),
          round(sum(hits.cast("double")) * 1000.0 /
            sum(col("_n0").cast("double")), 6).as("hits_per_1k_chars"))
        .orderBy("source")
    },
      // the q69 scrub chain (same dirty synthesis) grouped per source
      oracle = {
        import graft.ops.TextAnalysis.{emailRe, ipv4Re, longNumRe}
        "WITH dirty AS (SELECT doc_id, source, text || ' contact user' || " +
          "doc_id::VARCHAR || '@example.com via 10.' || " +
          "(doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR || " +
          "' tel ' || (5550000000 + doc_id)::VARCHAR AS t FROM documents), " +
          "d0 AS (SELECT doc_id, source, t, length(t) AS n0 FROM dirty), " +
          s"s1 AS (SELECT doc_id, source, n0, " +
          s"len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_email, " +
          s"regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t FROM d0), " +
          s"s2 AS (SELECT doc_id, source, n0, n_email, " +
          s"len(regexp_extract_all(t, '$ipv4Re'))::BIGINT AS n_ip, " +
          s"regexp_replace(t, '$ipv4Re', '<IP>', 'g') AS t FROM s1), " +
          s"s3 AS (SELECT doc_id, source, n0, n_email, n_ip, " +
          s"len(regexp_extract_all(t, '$longNumRe'))::BIGINT AS n_num FROM s2) " +
          "SELECT source, count(*)::BIGINT AS n_docs, " +
          "sum(CASE WHEN n_email + n_ip + n_num > 0 THEN 1 ELSE 0 END)::BIGINT " +
          "AS docs_with_pii, " +
          "sum(n_email)::BIGINT AS emails, sum(n_ip)::BIGINT AS ips, " +
          "sum(n_num)::BIGINT AS nums, " +
          "round(sum(n_email + n_ip + n_num)::DOUBLE * 1000.0 / sum(n0), 6) " +
          "AS hits_per_1k_chars FROM s3 GROUP BY 1 ORDER BY source"
      }),

    // ───── Quality-threshold sweep: docs/tokens surviving each
    // candidate quality cutoff (the "choose the bar" curve beside q218's
    // dedup sweep and q260's context curve); one quality pass to a
    // narrow (score, count) stream, then the explode + hash-agg ─────
    Query("q271_quality_sweep", { (s, dir) =>
      TextAnalysis.qualityThresholdSweep(tb(s, dir, "documents"), "text",
          Seq(0.2, 0.35, 0.5))
        .orderBy("threshold")
    },
      // per-threshold survival recomputed on the 6dp-rounded score
      oracle = "WITH tok AS (SELECT doc_id, text, " +
        "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "q AS (SELECT doc_id, len(toks) AS n, " +
        "round((CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
        "len(list_filter(toks, t -> list_contains(['the', 'a', 'an', " +
        "'and', 'of', 'to', 'in', 'is', 'on', 'for'], t))) * 1.0 / " +
        "len(toks) END) * 0.5 + least(len(toks) / 100.0, 1.0) * 0.5 - " +
        "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) " +
        "* 0.25, 6) AS q FROM tok), " +
        "x AS (SELECT q, n, unnest([0.2::DOUBLE, 0.35::DOUBLE, " +
        "0.5::DOUBLE]) AS threshold FROM q) " +
        "SELECT threshold, count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN q >= threshold THEN 1 ELSE 0 END)::BIGINT " +
        "AS docs_kept, " +
        "sum(CASE WHEN q >= threshold THEN n ELSE 0 END)::BIGINT " +
        "AS tokens_kept, " +
        "sum(n)::BIGINT AS tokens_total, " +
        "CASE WHEN sum(n) = 0 THEN 0.0::DOUBLE ELSE " +
        "round(sum(CASE WHEN q >= threshold THEN n ELSE 0 END)::DOUBLE " +
        "/ sum(n), 6) END AS frac_tokens_kept " +
        "FROM x GROUP BY 1 ORDER BY threshold"),

    // ───── substring blocklist screen: all patterns matched in ONE
    // Aho–Corasick pass per document (overlapping, no token
    // boundaries); the pattern set nests ("at"/"ion" inside "ation",
    // "in" inside "ing") to exercise the dict-suffix output links ─────
    Query("q338_blocklist_screen", { (s, dir) =>
      TextAnalysis.blocklistScreen(tb(s, dir, "documents"), "doc_id",
          "text", Seq("ation", "at", "ion", "the", "data", "in", "ing"))
        .orderBy("doc_id", "pattern")
    },
      // overlapping-occurrence position scan per (doc, pattern)
      oracle = "WITH p AS (SELECT unnest(['ation','at','ion','the','data','in'," +
        "'ing']) AS pattern), " +
        "c AS (SELECT doc_id, pattern, " +
        "list_sum(list_transform(range(length(text) - length(pattern) + 1), " +
        "i -> CASE WHEN substr(text, i+1, length(pattern)) = pattern " +
        "THEN 1 ELSE 0 END))::BIGINT AS n_hits " +
        "FROM documents, p WHERE length(text) >= length(pattern)) " +
        "SELECT doc_id, pattern, n_hits FROM c WHERE n_hits > 0 " +
        "ORDER BY doc_id, pattern"),

    // ───── blocklist screen at PRODUCTION pattern scale: 10 000
    // patterns (every 4-gram over a 10-char alphabet), sharded into
    // three Aho–Corasick kernels (maxPerKernel=4096) whose sparse
    // globally-indexed hits concat into ONE Generate — per-doc work is
    // 3 automaton passes of O(|text| + matches), per-doc output only
    // the grams that occur. The oracle needs no 10k-pattern scan: the
    // pattern set is exactly the alphabet-restricted 4-gram language,
    // so a substring histogram + a regex filter replays it ─────
    Query("q339_blocklist_10k", { (s, dir) =>
      val alpha = "etaonis rh"
      val pats = (for (a <- alpha; b <- alpha; c <- alpha; d <- alpha)
        yield s"$a$b$c$d").toSeq
      TextAnalysis.blocklistScreen(tb(s, dir, "documents"), "doc_id",
          "text", pats, maxPerKernel = 4096)
        .groupBy("pattern")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          sum("n_hits").as("n_hits"))
        .orderBy("pattern")
    },
      // the 10k pattern set IS the alphabet-restricted 4-gram language,
      // so one substring histogram + a regex filter replays the screen
      // without enumerating patterns
      oracle = "WITH g AS (SELECT doc_id, unnest(list_transform(" +
        "range(greatest(length(text) - 3, 0)), " +
        "i -> substr(text, i + 1, 4))) AS pattern FROM documents), " +
        "f AS (SELECT doc_id, pattern, count(*) AS n FROM g " +
        "WHERE regexp_matches(pattern, '^[etaonis rh]{4}$') " +
        "GROUP BY 1, 2) " +
        "SELECT pattern, count(*)::BIGINT AS n_docs, " +
        "sum(n)::BIGINT AS n_hits FROM f GROUP BY 1 ORDER BY pattern")
  )
}
