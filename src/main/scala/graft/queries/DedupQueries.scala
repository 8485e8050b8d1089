package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Near-duplicate detection and decontamination: exact, Jaccard,
  * MinHash/LSH, SimHash, span and embedding dedup, and their evaluations. */
private[graft] object DedupQueries {

  def all: Seq[Query] = Seq(
    // ───── Dedup: exact (normalized bag-of-words content key) ─────
    Query("q12_dedup_exact", { (s, dir) =>
      Dedup.exactGroups(tb(s, dir, "documents"), "doc_id",
          md5(concat_ws(" ",
            array_sort(array_distinct(TextAnalysis.words(col("text")))))))
        .orderBy("keeper_id")
    },
      oracle = s"WITH ${Oracles.tokCte}, " +
        "k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ck FROM tok) " +
        "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"),

    // ───── Dedup: exact n-gram Jaccard near-dup pairs ─────
    Query("q13_dedup_jaccard", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.jaccardPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8)
        .orderBy("id_a", "id_b")
    },
      oracle = Oracles.dedupJaccard),

    // ───── Dedup: MinHash + LSH banded candidates ─────
    Query("q14_dedup_minhash", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.minhashPairs(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .orderBy("id_a", "id_b")
    },
      oracle = s"WITH ${Oracles.minhashCandCte} " +
        s"SELECT id_a, id_b, ${Oracles.estJac} AS est_jac FROM cand ORDER BY 1, 2"),

    // ───── Dedup: SimHash + banded Hamming pairs ─────
    Query("q15_dedup_simhash", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6)
        .orderBy("id_a", "id_b")
    },
      oracle = s"WITH ${Oracles.simhashPairsCte} " +
        "SELECT id_a, id_b, hdist FROM pairs WHERE hdist <= 6 ORDER BY 1, 2"),

    // ───── Dedup: embedding-cosine near-dup (label-blocked) ─────
    Query("q16_dedup_embedding", { (s, dir) =>
      Dedup.embeddingPairs(tb(s, dir, "embeddings"),
          "vec_id", "embedding", "label", 0.4)
        .orderBy("id_a", "id_b")
    },
      oracle = s"WITH ${Oracles.embCte}, " +
        s"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(${Oracles.cosSql("a.v", "b.v")}, 6) AS cos " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY 1, 2"),

    // ───── Dedup: near-dup pairs → duplicate clusters (connected components) ─────
    Query("q43_dedup_clusters", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.clusters(
          Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
          "id_a", "id_b")
        .orderBy("rep")
    },
      // Connected components over the simhash near-pairs via transitive
      // closure (recursive CTE) — small at oracle scale; the Spark side uses
      // iterative min-label propagation instead (closure is quadratic in
      // path count and would never run at corpus scale).
      oracle = "WITH RECURSIVE " + Oracles.simhashPairsCte + ", " +
        "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1) " +
        "SELECT rep, count(*)::BIGINT AS n_members, " +
        "string_agg(id::VARCHAR, ';' ORDER BY id) AS member_ids " +
        "FROM labels GROUP BY 1 ORDER BY 1"),

    // ───── Canonical selection: best-quality member per near-dup cluster ─────
    Query("q63_canonical", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b")
      val quality = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScoreText(col("text")), 6).as("keeper_q"))
      Dedup.canonicalPerCluster(labels, quality, "doc_id", "keeper_q")
        .orderBy("rep")
    },
      // Mirrors Dedup.canonicalPerCluster over the simhash clusters + the
      // q20 quality score: per cluster, keeper = max 6dp quality, tie → min
      // id.
      oracle = "WITH RECURSIVE " + Oracles.simhashPairsCte + ", " +
        "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
        s"ql AS (SELECT doc_id, round(${Oracles.hitRatioSql(Oracles.langList("en"))} * 0.5 + " +
        "least(len(toks) / 100.0, 1.0) * 0.5 - " +
        "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) * 0.25, 6) " +
        "AS keeper_q FROM tok), " +
        "r AS (SELECT rep, id, keeper_q, " +
        "row_number() OVER (PARTITION BY rep ORDER BY keeper_q DESC, id) AS rn, " +
        "count(*) OVER (PARTITION BY rep) AS nm " +
        "FROM labels JOIN ql ON labels.id = ql.doc_id) " +
        "SELECT rep, id AS keeper_id, keeper_q, nm::BIGINT AS n_members " +
        "FROM r WHERE rn = 1 ORDER BY rep"),

    // ───── Decontamination: corpus minus benchmark 4-gram overlap ─────
    Query("q59_decontam", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // Mirrors Dedup.decontaminate at n=4 over the doc_id%20 corpus/bench
      // split: corpus docs sharing no word 4-gram with the benchmark set.
      oracle = s"WITH ${Oracles.tokCte}, " +
        "ng AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+4], ' ') " +
        "for i in range(len(toks)-3)]) AS shs FROM tok), " +
        "c AS (SELECT doc_id, unnest(shs) AS s FROM ng WHERE doc_id % 20 <> 0), " +
        "b AS (SELECT DISTINCT unnest(shs) AS s FROM ng WHERE doc_id % 20 = 0), " +
        "bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b ON c.s = b.s) " +
        "SELECT d.doc_id, d.source FROM documents d " +
        "WHERE d.doc_id % 20 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad) " +
        "ORDER BY d.doc_id"),

    // ───── The composite near-dup REMOVAL pipeline a corpus user runs:
    // MinHash+LSH candidates → thresholded edges → connected components →
    // keep each component's min-id member (q14 + q43's machinery end to
    // end, on the minhash edge family) ─────
    Query("q71_dedup_pipeline", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      val edges = Dedup.minhashPairs(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .filter(col("est_jac") >= 0.75) // exact multiple of 1/16: decides identically in SQL
      val dupes = Dedup.connectedComponentsStar(edges, "id_a", "id_b")
        .filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"))
      docs.join(dupes, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // The composite near-dup REMOVAL pipeline (mirrors q71): MinHash+LSH
      // candidates → est-Jaccard ≥ 0.75 edges → transitive closure → drop
      // every member except its component's min id.
      oracle = "WITH RECURSIVE " + Oracles.minhashCandCte + ", " +
        s"np AS (SELECT id_a, id_b FROM cand WHERE ${Oracles.estJac} >= 0.75), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
        "dropped AS (SELECT id FROM labels WHERE id <> rep) " +
        "SELECT d.doc_id, d.source FROM documents d " +
        "WHERE d.doc_id NOT IN (SELECT id FROM dropped) ORDER BY d.doc_id"),

    // ───── C4-style corpus-wide EXACT SEGMENT dedup: fixed 10-word
    // segments, first occurrence (smallest (id, seg_idx)) survives, docs
    // re-assembled from surviving segments — catches partial copies and
    // page boilerplate that whole-document dedup misses ─────
    Query("q72_segment_dedup", { (s, dir) =>
      Dedup.segmentDedup(tb(s, dir, "documents"), "doc_id", "text",
          segWords = 10)
        .orderBy("doc_id")
    },
      oracle = s"WITH ${Oracles.tokCte}, ${Oracles.segCte}, " +
        "k AS (SELECT doc_id, seg_idx, seg, " +
        "row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep " +
        "FROM seg) " + Oracles.reassembleSql),

    // ───── frequent-segment (boilerplate) removal: segments in > 2
    // distinct docs deleted from EVERY doc (no survivor — nav-bar strings
    // are noise in all their hosts) ─────
    Query("q73_boilerplate", { (s, dir) =>
      Dedup.dropFrequentSegments(tb(s, dir, "documents"), "doc_id", "text",
          segWords = 10, maxDocFreq = 2)
        .orderBy("doc_id")
    },
      oracle = s"WITH ${Oracles.tokCte}, ${Oracles.segCte}, " +
        "f AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1), " +
        "k AS (SELECT g.doc_id, g.seg_idx, g.seg, (f.nd <= 2) AS keep " +
        "FROM seg g JOIN f ON g.seg = f.seg) " + Oracles.reassembleSql),

    // ───── the df-capped Jaccard near-dup posture (q13's production
    // sibling): shingles above document frequency 3 are corpus
    // boilerplate with ~0 discrimination; dropping them bounds the worst
    // pair-join reducer by cap² while q13 stays the labeled exact path ─────
    Query("q99_dedup_jaccard_capped", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.jaccardPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8,
          maxShingleDf = Some(3))
        .orderBy("id_a", "id_b")
    },
      // The df-capped production posture of `Oracles.dedupJaccard` (mirrors
      // `Dedup.jaccardPairs(maxShingleDf = Some(cap))`): shingles with
      // document frequency above `cap` are dropped from BOTH the
      // intersections and the set sizes before pairing.
      oracle = {
        val cap: Int = 3
        s"WITH ${Oracles.tokCte}, ${Oracles.sh3Cte}, " +
          "shing0 AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
          s"rare AS (SELECT s FROM shing0 GROUP BY s HAVING count(*) <= $cap), " +
          "shing AS (SELECT x.doc_id, x.s FROM shing0 x JOIN rare r ON x.s = r.s), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
          "FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
          "SELECT ida AS id_a, idb AS id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jac " +
          "FROM inter JOIN sz x ON ida = x.doc_id JOIN sz y ON idb = y.doc_id " +
          "WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= 0.8 ORDER BY 1, 2"
      }),

    // ───── exact substring-span dedup coverage (Lee et al. window form):
    // per doc, the fraction of 8-token windows whose rolling hash occurs
    // in ≥2 distinct docs. RollingHash = codegen'd O(n) Rabin–Karp; only
    // docs with ≥1 window (≥8 tokens) appear, so dup_frac never divides
    // by zero; docs with no duplicated span report 0.0 ─────
    Query("q107_span_dedup_coverage", { (s, dir) =>
      Dedup.spanDedupCoverage(tb(s, dir, "documents"), "doc_id", "text",
          width = 8, minDf = 2)
        .orderBy("doc_id")
    },
      // mirrors spanDedupCoverage(width=8, minDf=2): the direct per-window
      // list_reduce fold equals RollingHash's prefix-difference form mod P
      oracle = "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "sp AS (SELECT doc_id, unnest([list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) for i in range(0, greatest(len(hs) - 7, 0))]) AS span FROM th), " +
        "d AS (SELECT span FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "nd AS (SELECT sp.doc_id, count(*)::BIGINT AS n_dup FROM sp JOIN d USING(span) GROUP BY 1), " +
        "tt AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM sp GROUP BY 1) " +
        "SELECT tt.doc_id, tt.n_spans, coalesce(nd.n_dup, 0)::BIGINT AS n_dup, " +
        "round(coalesce(nd.n_dup, 0) / tt.n_spans::DOUBLE, 6) AS dup_frac " +
        "FROM tt LEFT JOIN nd USING(doc_id) ORDER BY tt.doc_id"),

    // ───── exact substring-span dedup REMOVAL — the output side of Lee
    // et al. 2022 that q107 only measures: every token position covered
    // by a duplicated 8-token window is dropped from ALL occurrences
    // (aggressive C4-style variant) and the survivors reassembled into
    // the token-space text downstream tokenizers consume ─────
    Query("q108_span_dedup_remove", { (s, dir) =>
      Dedup.spanDedupRemove(tb(s, dir, "documents"), "doc_id", "text",
          width = 8, minDf = 2)
        .orderBy("doc_id")
    },
      // mirrors spanDedupRemove(width=8, minDf=2): duplicated-window
      // positions expand to covered token positions; kept tokens are
      // reassembled by ordered string_agg
      oracle = "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, toks, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "sp AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM (" +
        "SELECT doc_id, unnest([{'pos': i, 'span': list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007)} for i in range(0, greatest(len(hs) - 7, 0))]) AS u FROM th) z), " +
        "d AS (SELECT span FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "rm AS (SELECT DISTINCT sp.doc_id, sp.pos + o.j AS rmpos FROM sp JOIN d USING(span) " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS j) o), " +
        "rmc AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM rm GROUP BY 1), " +
        "tp AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (" +
        "SELECT doc_id, unnest([{'i': i, 'tok': toks[i+1]} for i in range(0, len(toks))]) AS u FROM tok) z), " +
        "cl AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.i) AS cleaned " +
        "FROM tp LEFT JOIN rm ON rm.doc_id = tp.doc_id AND rm.rmpos = tp.i " +
        "WHERE rm.rmpos IS NULL GROUP BY 1) " +
        "SELECT tok.doc_id, len(tok.toks)::BIGINT AS n_tok, " +
        "coalesce(rmc.n_removed, 0)::BIGINT AS n_removed, coalesce(cl.cleaned, '') AS cleaned " +
        "FROM tok LEFT JOIN rmc USING(doc_id) LEFT JOIN cl USING(doc_id) ORDER BY tok.doc_id"),

    // ───── content-defined chunking dedup stats (LBFS/restic-style CDC):
    // rolling-hash boundaries make a shared run chunk identically at ANY
    // offset — the offset-invariance fixed-width q107 spans lack.
    // CdcChunks = codegen'd O(n) single pass; only 8-byte chunk hashes
    // (≈ n/16 per doc) ever explode ─────
    Query("q110_cdc_chunks", { (s, dir) =>
      Dedup.cdcChunkStats(tb(s, dir, "documents"), "doc_id", "text",
          width = 4, modulus = 16, minDf = 2)
        .orderBy("doc_id")
    },
      // mirrors cdcChunkStats(width=4, modulus=16, minDf=2): window hashes →
      // boundary positions (0 < p < m, win % 16 = 0) → chunk id per token =
      // boundaries ≤ pos → per-chunk ordered fold ≡ CdcChunks' running fold
      oracle = "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "win AS (SELECT doc_id, hs, [list_reduce(list_prepend(0::BIGINT, hs[i+1:i+4]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) for i in range(0, greatest(len(hs) - 3, 0))] AS ws FROM th), " +
        "bp AS (SELECT doc_id, hs, [i for i in range(1, greatest(len(hs) - 3, 0)) if ws[i+1] % 16 = 0] AS bs FROM win), " +
        "tp AS (SELECT doc_id, u.j AS j, u.h AS h, len([b for b in bs if b <= u.j]) AS cid FROM (" +
        "SELECT doc_id, bs, unnest([{'j': i, 'h': hs[i+1]} for i in range(0, len(hs))]) AS u FROM bp) z), " +
        "ch AS (SELECT doc_id, cid, list_reduce(list_prepend(0::BIGINT, list(h ORDER BY j)), " +
        "(a, b) -> (a * 31 + b) % 1000000007) AS chunk FROM tp GROUP BY 1, 2), " +
        "d AS (SELECT chunk FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "nd AS (SELECT ch.doc_id, count(*)::BIGINT AS n_dup FROM ch JOIN d USING(chunk) GROUP BY 1), " +
        "tt AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM ch GROUP BY 1) " +
        "SELECT tt.doc_id, tt.n_chunks, coalesce(nd.n_dup, 0)::BIGINT AS n_dup, " +
        "round(coalesce(nd.n_dup, 0) / tt.n_chunks::DOUBLE, 6) AS dup_frac " +
        "FROM tt LEFT JOIN nd USING(doc_id) ORDER BY tt.doc_id"),

    // ───── MinHash estimator calibration: est-Jaccard vs EXACT Jaccard
    // + absolute error for every LSH candidate pair — the "is k=16
    // enough?" report you run before trusting thresholded dedup; exact
    // side bounded by the candidate doc set via semi-join ─────
    Query("q113_minhash_calibration", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.minhashCalibration(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .orderBy("id_a", "id_b")
    },
      // Calibration twin of q14 (mirrors `Dedup.minhashCalibration`): the
      // banded candidates with BOTH the signature estimate and the exact
      // Jaccard of the distinct hashed-shingle sets, restricted to
      // candidate documents.
      oracle = {
        val exact = "coalesce(i.i, 0) * 1.0 / (x.n + y.n - coalesce(i.i, 0))"
        s"WITH ${Oracles.minhashCandCte}, " +
          "cd AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM cand " +
          "UNION ALL SELECT id_b FROM cand)), " +
          "shd AS (SELECT DISTINCT h.doc_id, h.h FROM hsh h JOIN cd ON h.doc_id = cd.id), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
          "FROM shd a JOIN shd b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
          s"SELECT c.id_a, c.id_b, round(${Oracles.estJac}, 6) AS est_jac, " +
          s"round($exact, 6) AS exact_jac, " +
          s"round(abs(${Oracles.estJac} - $exact), 6) AS abs_err " +
          "FROM cand c LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b " +
          "JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id " +
          "ORDER BY 1, 2"
      }),

    // ───── cross-source near-dup overlap matrix: MinHash candidate pairs
    // at est ≥ 0.5, attributed to their (source, source) cell — the
    // corpus-mixing diagnostic that tells you WHICH feeds duplicate each
    // other before you weight them; source pair normalized by least/
    // greatest so the matrix is upper-triangular ─────
    Query("q117_source_overlap", { (s, dir) =>
      val d = tb(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      val pairs = Dedup
        .minhashPairs(toks, "doc_id", Dedup.shingles(col("toks"), 3))
        .filter(col("est_jac") >= 0.5)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
      // Mirrors q117: candidate pairs at est ≥ 0.5 attributed to their
      // least/greatest-normalized source pair.
      oracle = s"WITH ${Oracles.minhashCandCte} " +
        s"SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, count(*)::BIGINT AS n_pairs " +
        s"FROM cand JOIN documents da ON cand.id_a = da.doc_id " +
        "JOIN documents db ON cand.id_b = db.doc_id " +
        s"WHERE ${Oracles.estJac} >= 0.5 GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── leakage-safe train/val/test split: every doc is assigned by
    // the hash of its near-dup cluster REPRESENTATIVE (own id when
    // unclustered), so near-duplicates can never straddle the split —
    // the eval-contamination failure a per-doc hash split invites. The
    // leak audit recomputes the invariant from the assignment ─────
    Query("q134_cluster_safe_split", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b")
      // `assigned` feeds the leak check AND the final per-split aggregate
      // — materialize the narrow (doc_id, grp, split) frame once instead
      // of re-running the CC read-off join per consumer (r10)
      val assigned = docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .withColumn("grp", coalesce(col("rep"), col("doc_id")))
        .withColumn("split", TextAnalysis.splitAssign(col("grp")))
        .select("doc_id", "grp", "split")
        .localCheckpoint()
      val leaks = assigned.groupBy("grp")
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("leaked"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"))
        .crossJoin(broadcast(leaks))
        .select("split", "n_docs", "n_groups", "leaked")
        .orderBy("split")
    },
      // Mirrors q134: leakage-safe split — every doc is assigned by the
      // hash of its near-dup cluster representative (own id when
      // unclustered), so a cluster can never straddle train/val/test. The
      // leak audit recomputes the invariant from the assignment rather than
      // asserting the constant.
      oracle = "WITH RECURSIVE " + Oracles.simhashPairsCte + ", " +
        "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
        "asg AS (SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS grp " +
        "FROM documents d LEFT JOIN labels l ON l.id = d.doc_id), " +
        "s AS (SELECT doc_id, grp, CASE " +
        "WHEN ('0x' || substr(md5(grp::VARCHAR), 1, 15))::BIGINT % 100 < 80 THEN 'train' " +
        "WHEN ('0x' || substr(md5(grp::VARCHAR), 1, 15))::BIGINT % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM asg), " +
        "lk AS (SELECT count(*)::BIGINT AS leaked FROM (" +
        "SELECT grp FROM s GROUP BY grp HAVING count(DISTINCT split) > 1)) " +
        "SELECT split, count(*)::BIGINT AS n_docs, " +
        "count(DISTINCT grp)::BIGINT AS n_groups, " +
        "(SELECT leaked FROM lk) AS leaked " +
        "FROM s GROUP BY 1 ORDER BY 1"),

    // ───── prefix-filtered similarity join (AllPairs/PPJoin): the THIRD
    // Jaccard posture beside exact-uncapped (q13) and df-capped (q99) —
    // same pairs as q13, exactly (shared oracle), but only each doc's
    // (1−θ)·|x|+1 RAREST shingles enter the candidate join, so the worst
    // reducer is bounded by rare-shingle df without changing the measure
    // the way q99's cap does ─────
    Query("q162_dedup_prefix_filter", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.prefixFilterPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8)
        .orderBy("id_a", "id_b")
    },
      // prefix filtering is EXACT (no false negatives at the threshold), so
      // the oracle is literally q13's all-pairs formulation — the strongest
      // possible check that the candidate pruning drops nothing
      oracle = Oracles.dedupJaccard),

    // ───── blocked fuzzy record linkage: customer pairs within a nation
    // block whose names are ≤2 edits apart — entity resolution's near-dup
    // shape: the pair space is the block equi-join, the edit distance a
    // codegen'd residual, never n² over the table ─────
    Query("q157_fuzzy_link", { (s, dir) =>
      // symmetric-delete candidate generation: content-keyed variant
      // join scales linearly where the fixed-25-nation block join's
      // Σ block² residual went quadratic (measured 7.3x for 3x rows);
      // Dedup.fuzzyPairs stays as the spec-proven exact twin
      Dedup.fuzzyPairsSymDel(tb(s, dir, "customer"), "c_custkey", "c_name",
          "c_nationkey", maxDist = 2)
        .orderBy("id_a", "id_b")
    },
      // block equi-join + levenshtein residual, identical semantics
      oracle = "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name)::INT AS dist " +
        "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey " +
        "AND a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2 ORDER BY 1, 2"),

    // ───── Bloom-filter decontamination pre-flight: the eval set folded
    // to an m-bit filter whose broadcast is bounded at m rows no matter
    // how large the eval suite grows (the exact q59 path broadcasts every
    // gram string); flagged docs are a one-sided SUPERSET of the exact
    // hits — is_fp labels any filter collisions against the exact check ─────
    Query("q146_bloom_decontam", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      // ONE tokenize+shingle Generate for all four consumers (r11): the
      // bloom and exact arms each need corpus AND bench grams — explode
      // the whole table once into a narrow (doc_id, gram) frame,
      // materialize it, and split corpus/bench by id afterwards (the
      // %-filter commutes with the per-doc explode)
      val grams = Dedup.docGrams(docs, "doc_id", "text", n = 4)
        .localCheckpoint()
      val corpusG = grams.filter(col("doc_id") % 20 =!= 0)
      val benchG = grams.filter(col("doc_id") % 20 === 0)
      val bloom = Dedup.bloomContaminationFromGrams(corpusG, benchG, "doc_id")
      val exact = Dedup.contaminationFromGrams(corpusG, benchG, "doc_id")
        .select(col("doc_id"), lit(true).as("hit"))
      bloom.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_flagged"),
          col("hit").isNull.as("is_fp"))
        .orderBy("doc_id")
    },
      // Mirrors Dedup.bloomContamination (m=2^17, k=3, n=4) over the same
      // doc_id%20 split, labeled against the exact contamination check.
      oracle = s"WITH ${Oracles.tokCte}, " +
        "ng AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+4], ' ') " +
        "for i in range(len(toks)-3)]) AS shs FROM tok), " +
        "c AS (SELECT doc_id, unnest(shs) AS g FROM ng WHERE doc_id % 20 <> 0), " +
        "b AS (SELECT DISTINCT unnest(shs) AS g FROM ng WHERE doc_id % 20 = 0), " +
        "sp AS (SELECT DISTINCT ((37*i+11)*h + (101*i+7)) % 1000000007 % 131072 AS pos " +
        "FROM (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007 AS h FROM b), " +
        "range(3) t(i)), " +
        "cp AS (SELECT doc_id, g, ((37*i+11)*h + (101*i+7)) % 1000000007 % 131072 AS pos " +
        "FROM (SELECT doc_id, g, ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007 AS h " +
        "FROM c), range(3) t(i)), " +
        "hit AS (SELECT doc_id, g FROM cp JOIN sp USING (pos) " +
        "GROUP BY doc_id, g HAVING count(*) = 3), " +
        "fl AS (SELECT doc_id, count(*)::BIGINT AS n_flagged FROM hit GROUP BY 1), " +
        "ex AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (g)) " +
        "SELECT f.doc_id, f.n_flagged, (ex.doc_id IS NULL) AS is_fp " +
        "FROM fl f LEFT JOIN ex ON f.doc_id = ex.doc_id ORDER BY f.doc_id"),

    // ───── the full corpus-construction journey as ONE plan: near-dup
    // clusters → best-quality canonical per cluster (unclustered docs
    // survive as their own keepers) → quality floor → leakage-safe train
    // split by cluster-rep hash → per-source token budget → scorecard.
    // Six operators composing into a single Catalyst plan is the point:
    // no intermediate materialization, every stage's pushdown/broadcast
    // decisions made globally ─────
    Query("q142_corpus_pipeline", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      // labels and quality each feed TWO consumers below (keeper
      // selection + the unclustered anti-join / the kept re-join):
      // materialize the narrow (id, rep) and (doc_id, q) frames once
      // instead of re-running the CC label read-off and the quality
      // regex scan per consumer (r10)
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b").localCheckpoint()
      val quality = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScoreText(col("text")), 6).as("q"))
        .localCheckpoint()
      val keepers = Dedup.canonicalPerCluster(labels, quality, "doc_id", "q")
        .select(col("keeper_id").as("doc_id"), col("rep"))
      val unclustered = docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left_anti")
        .withColumn("rep", col("doc_id"))
      val kept = keepers.unionByName(unclustered)
        .join(docs.select("doc_id", "source", "text"), "doc_id")
        .join(quality, "doc_id")
        .filter(col("q") >= 0.2)
        .filter(TextAnalysis.splitAssign(col("rep")) === "train")
      TextAnalysis.tokenBudgetSample(kept, "doc_id", "source", "text", 4096L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .orderBy("source")
    },
      // Mirrors q142 — the full corpus-construction journey in one
      // statement: near-dup clusters → best-quality canonical per cluster
      // (plus unclustered survivors) → quality floor → leakage-safe train
      // split by cluster-rep hash → per-source token budget → per-source
      // scorecard. Every stage reuses a fragment already proven by its own
      // standalone oracle (q43/q63/q134/q106).
      oracle = "WITH RECURSIVE " + Oracles.simhashPairsCte + ", " +
        "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
        s"ql AS (SELECT doc_id, round(${Oracles.hitRatioSql(Oracles.langList("en"))} * 0.5 + " +
        "least(len(toks) / 100.0, 1.0) * 0.5 - " +
        "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) * 0.25, 6) " +
        "AS q FROM tok), " +
        "rk AS (SELECT l.rep, l.id, " +
        "row_number() OVER (PARTITION BY l.rep ORDER BY ql.q DESC, l.id) AS rn " +
        "FROM labels l JOIN ql ON l.id = ql.doc_id), " +
        "keep AS (SELECT rep, id AS doc_id FROM rk WHERE rn = 1 " +
        "UNION ALL SELECT d.doc_id AS rep, d.doc_id FROM documents d " +
        "LEFT JOIN labels l ON l.id = d.doc_id WHERE l.id IS NULL), " +
        "f AS (SELECT k.doc_id, k.rep, d.source, d.text FROM keep k " +
        "JOIN documents d ON d.doc_id = k.doc_id " +
        "JOIN ql ON ql.doc_id = k.doc_id WHERE ql.q >= 0.2), " +
        "tr AS (SELECT doc_id, source, text FROM f " +
        "WHERE ('0x' || substr(md5(rep::VARCHAR), 1, 15))::BIGINT % 100 < 80), " +
        "tb AS (SELECT doc_id, source, " +
        "len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM tr), " +
        "c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER (" +
        "PARTITION BY source ORDER BY hh, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tb) " +
        "SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS sum_tokens " +
        "FROM c WHERE cum <= 4096 GROUP BY 1 ORDER BY 1"),

    // ───── end-to-end entity resolution: fuzzy name links (q157's
    // blocked edit-distance pairs) → connected components → one row per
    // resolved entity — linkage, clustering, and canonicalization as
    // plain operator composition ─────
    // pairs via symmetric-delete blocking (content-keyed, linear scale)
    // rather than the fixed-25-block quadratic path — same result set,
    // measured ~3x time for 3x rows where nation blocking gave 7.3x
    Query("q189_entity_resolution", { (s, dir) =>
      val pairs = Dedup.fuzzyPairsSymDel(tb(s, dir, "customer"), "c_custkey",
        "c_name", "c_nationkey", maxDist = 2)
      Dedup.clusters(pairs, "id_a", "id_b")
        .orderBy("rep")
    },
      // q157's pair join + recursive closure + the q43 cluster shape
      oracle = "WITH RECURSIVE np AS (SELECT a.c_custkey AS id_a, " +
        "b.c_custkey AS id_b FROM customer a JOIN customer b " +
        "ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1) " +
        "SELECT rep, count(*)::BIGINT AS n_members, " +
        "string_agg(id::VARCHAR, ';' ORDER BY id) AS member_ids " +
        "FROM labels GROUP BY 1 ORDER BY 1"),

    // ───── directed n-gram containment (Broder's asymmetric measure):
    // catches a short doc quoted near-wholesale inside a long one, which
    // Jaccard's union denominator hides; same df-cap posture as q99 ─────
    Query("q207_containment", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.containmentPairs(d, "doc_id", Dedup.shingles(col("toks"), 3),
          minContainment = 0.9, maxShingleDf = Some(3))
        .orderBy("src_id", "dst_id")
    },
      // Directed containment twin of q99's oracle (mirrors
      // `Dedup.containmentPairs`): each undirected intersection row yields
      // two directed scores i/|src|; the df cap drops boilerplate shingles
      // from intersections AND sizes before pairing.
      oracle = {
        val cap: Int = 3
        val thresh: Double = 0.9
        s"WITH ${Oracles.tokCte}, ${Oracles.sh3Cte}, " +
          "shing0 AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
          s"rare AS (SELECT s FROM shing0 GROUP BY s HAVING count(*) <= $cap), " +
          "shing AS (SELECT x.doc_id, x.s FROM shing0 x JOIN rare r ON x.s = r.s), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
          "FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
          "j AS (SELECT ida, idb, i, x.n AS na, y.n AS nb FROM inter " +
          "JOIN sz x ON ida = x.doc_id JOIN sz y ON idb = y.doc_id), " +
          "dir AS (SELECT ida AS src_id, idb AS dst_id, round(i * 1.0 / na, 6) AS containment FROM j " +
          "UNION ALL SELECT idb, ida, round(i * 1.0 / nb, 6) FROM j) " +
          s"SELECT src_id, dst_id, containment FROM dir " +
          s"WHERE containment >= $thresh ORDER BY src_id, dst_id"
      }),

    // ───── dedup threshold sweep: pair count + affected-doc count at
    // five est-Jaccard cutoffs from ONE LSH candidate pass — the curve
    // you read before committing a corpus-wide dedup threshold;
    // thresholds are exact 1/16 multiples so cutoff compares are exact ─────
    Query("q218_threshold_sweep", { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.thresholdSweep(d, "doc_id", Dedup.shingles(col("toks"), 3),
          Seq(0.5, 0.625, 0.75, 0.875, 1.0))
        .orderBy("threshold")
    },
      // Threshold sweep (mirrors `Dedup.thresholdSweep`): q14's candidates
      // against the literal cutoff spine; zero levels emit via spine left
      // joins. Thresholds cast ::DOUBLE (bare list literals are DECIMAL).
      oracle = s"WITH ${Oracles.minhashCandCte}, " +
        s"p AS (SELECT id_a, id_b, ${Oracles.estJac} AS est_jac FROM cand), " +
        "s AS (SELECT unnest([0.5, 0.625, 0.75, 0.875, 1.0])::DOUBLE AS threshold), " +
        "sw AS (SELECT s.threshold, p.id_a, p.id_b FROM s " +
        "JOIN p ON p.est_jac >= s.threshold), " +
        "np AS (SELECT threshold, count(*)::BIGINT AS n_pairs FROM sw GROUP BY 1), " +
        "nd AS (SELECT threshold, count(DISTINCT id)::BIGINT AS n_docs_affected " +
        "FROM (SELECT threshold, id_a AS id FROM sw " +
        "UNION ALL SELECT threshold, id_b FROM sw) GROUP BY 1) " +
        "SELECT s.threshold, coalesce(np.n_pairs, 0)::BIGINT AS n_pairs, " +
        "coalesce(nd.n_docs_affected, 0)::BIGINT AS n_docs_affected " +
        "FROM s LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold) " +
        "ORDER BY threshold"),

    // ───── SemDeDup (Abbas 2023): semantic dedup through the PINNED
    // learned coarse quantizer — nearest-centroid cells bound the pair
    // space, keep-lowest-id per similarity star; every row's decision
    // is emitted (auditable) ─────
    Query("q230_semdedup", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Dedup.semDedup(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, minCosine = 0.4)
        .orderBy("cid")
    },
      // Mirrors Dedup.semDedup over the pinned IVF centroids (q230):
      // nearest-centroid assignment (the q220 scored/rn=1 chain), then a
      // row is a duplicate iff some LOWER-id cell-mate's 6dp-rounded cosine
      // reaches the threshold.
      oracle = {
        val minCosine: Double = 0.4
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "asg AS (SELECT vec_id, v, cell FROM scored WHERE rn = 1), " +
          "dup AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b " +
          "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
          s"WHERE round(${Oracles.cosSql("a.v", "b.v")}, 6) >= $minCosine::DOUBLE) " +
          "SELECT a.vec_id AS cid, a.cell, d.vec_id IS NULL AS kept " +
          "FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id ORDER BY cid"
      }),

    // ───── SURGICAL benchmark decontamination: remove only the
    // benchmark-overlapping spans (q59 drops whole docs; this keeps the
    // rest of the document) — RollingHash probe against the broadcast
    // benchmark span set, q108's removal/reassembly tail ─────
    Query("q240_surgical_decontam", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.decontaminateSpans(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", width = 8)
        .orderBy("doc_id")
    },
      // Mirrors Dedup.decontaminateSpans over the q59 corpus/bench split
      // (q240): q108's rolling-hash span chain with the duplicated-span set
      // replaced by the BENCHMARK's distinct span set.
      oracle = "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents WHERE doc_id % 20 <> 0), " +
        "th AS (SELECT doc_id, toks, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "sp AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM (" +
        "SELECT doc_id, unnest([{'pos': i, 'span': list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007)} for i in range(0, greatest(len(hs) - 7, 0))]) AS u FROM th) z), " +
        "bt AS (SELECT regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents WHERE doc_id % 20 = 0), " +
        "bh AS (SELECT [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM bt), " +
        "bsp AS (SELECT DISTINCT unnest([list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) for i in range(0, greatest(len(hs) - 7, 0))]) AS span FROM bh), " +
        "rm AS (SELECT DISTINCT sp.doc_id, sp.pos + o.j AS rmpos FROM sp JOIN bsp USING(span) " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS j) o), " +
        "rmc AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM rm GROUP BY 1), " +
        "tp AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (" +
        "SELECT doc_id, unnest([{'i': i, 'tok': toks[i+1]} for i in range(0, len(toks))]) AS u FROM tok) z), " +
        "cl AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.i) AS cleaned " +
        "FROM tp LEFT JOIN rm ON rm.doc_id = tp.doc_id AND rm.rmpos = tp.i " +
        "WHERE rm.rmpos IS NULL GROUP BY 1) " +
        "SELECT tok.doc_id, len(tok.toks)::BIGINT AS n_tok, " +
        "coalesce(rmc.n_removed, 0)::BIGINT AS n_removed, coalesce(cl.cleaned, '') AS cleaned " +
        "FROM tok LEFT JOIN rmc USING(doc_id) LEFT JOIN cl USING(doc_id) ORDER BY tok.doc_id"),

    // ───── N-gram novelty vs a reference corpus: the memorization lens
    // inverted — fraction of each doc's distinct 3-grams absent from the
    // reference (broadcast gram set, the q59 split) ─────
    Query("q241_novelty", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.noveltyScore(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
      // Mirrors Dedup.noveltyScore over the q59 corpus/reference split
      // (q241): per-doc distinct 3-gram shingles, reference distinct gram
      // set, novel = grams absent from the reference.
      oracle = "WITH ct AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents WHERE doc_id % 20 <> 0), " +
        "cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
        "for i in range(len(toks)-2)])) AS g FROM ct), " +
        "rt AS (SELECT regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents WHERE doc_id % 20 = 0), " +
        "rg AS (SELECT DISTINCT unnest(list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
        "for i in range(len(toks)-2)])) AS g FROM rt), " +
        "a AS (SELECT cg.doc_id, count(*)::BIGINT AS ng, " +
        "sum(CASE WHEN rg.g IS NULL THEN 1 ELSE 0 END)::BIGINT AS nv " +
        "FROM cg LEFT JOIN rg ON cg.g = rg.g GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(ng, 0)::BIGINT AS n_grams, " +
        "coalesce(nv, 0)::BIGINT AS n_novel, " +
        "CASE WHEN ng > 0 THEN round(nv::DOUBLE / ng, 6) END AS novelty " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d " +
        "LEFT JOIN a USING (doc_id) ORDER BY d.doc_id"),

    // ───── Duplicate-aware sampling weights ("soft dedup"): every
    // near-dup cluster member kept at weight 1/cluster-size — the
    // down-weighting alternative to dropping (q43's clusters) ─────
    Query("q243_dedup_weights", { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      // labels feeds dedupWeights' size aggregate AND its member join —
      // materialize the narrow (id, rep) frame once (r10)
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b").localCheckpoint()
      Dedup.dedupWeights(docs.select("doc_id"), labels, "doc_id")
        .orderBy("doc_id")
    },
      // Mirrors Dedup.dedupWeights over the simhash clusters (q243): the
      // q43 closure labels, cluster sizes, weight 1/size (1.0 for
      // unclustered docs).
      oracle = "WITH RECURSIVE " + Oracles.simhashPairsCte + ", " +
        "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
        "sz AS (SELECT rep, count(*)::BIGINT AS nn FROM labels GROUP BY 1), " +
        "j AS (SELECT l.id, s.nn FROM labels l JOIN sz s USING (rep)) " +
        "SELECT d.doc_id, coalesce(j.nn, 1)::BIGINT AS cluster_size, " +
        "round(1.0::DOUBLE / coalesce(j.nn, 1), 6) AS weight " +
        "FROM documents d LEFT JOIN j ON d.doc_id = j.id ORDER BY d.doc_id"),

    // ───── Homoglyph-fold dedup: every 4th doc gets a Cyrillic-lookalike
    // twin (the spam dedup-evasion shape); confusable folding before the
    // q12 content key reunites each pair — exact dedup sees through the
    // disguise. Folding is one codegen'd translate ─────
    Query("q276_homoglyph_dedup", { (s, dir) =>
      val docs = tb(s, dir, "documents").select("doc_id", "text")
      val twins = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "aeopcxy", "аеорсху").as("text"))
      val corpus = docs.unionByName(twins)
      val key = md5(concat_ws(" ",
        array_sort(array_distinct(
          TextAnalysis.words(Cleansing.confusableFold(col("text")))))))
      Dedup.exactGroups(corpus, "doc_id", key)
        .orderBy("keeper_id")
    },
      // same twin synthesis + translate-fold + the q12 grouping shape
      oracle = {
        val fold = (e: String) =>
          s"translate($e, '${Cleansing.confusableFrom}', " +
            s"'${Cleansing.confusableTo}')"
        "WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 1000000, " +
          "translate(text, 'aeopcxy', 'аеорсху') FROM documents " +
          "WHERE doc_id % 4 = 0), " +
          "k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
          s"regexp_extract_all(lower(${fold("text")}), '\\w+'))), ' ')) AS ck " +
          "FROM corpus) " +
          "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
          "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
          "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"
      }),

    // ───── Sorted-neighborhood near-dup pairs (Hernández–Stolfo): the
    // THIRD blocking family beside banding (q14/q15) and content keys
    // (q12) — sort once by normalized key, compare only the 3 successors
    // via lead(); candidates = n·window, no pair join; window
    // partitioned by first sorted token (distributed SNM) ─────
    Query("q274_sorted_neighborhood", { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(tb(s, dir, "documents"), "doc_id",
          TextAnalysis.words(col("text")), window = 3, minJaccard = 0.3)
        .orderBy("id_a", "id_b")
    },
      // same prefix-partitioned rank, successors via rank-distance join
      oracle = "WITH tok AS (SELECT doc_id, " +
        "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "b AS (SELECT doc_id AS id, list_sort(list_distinct(toks)) AS s " +
        "FROM tok), " +
        "k AS (SELECT id, s, array_to_string(s, ' ') AS key, " +
        "coalesce(s[1], '') AS pfx FROM b), " +
        "r AS (SELECT id, s, key, pfx, row_number() OVER " +
        "(PARTITION BY pfx ORDER BY key, id) AS rnk FROM k), " +
        "p AS (SELECT a.id AS ia, c.id AS ib, a.s AS sa, c.s AS sb " +
        "FROM r a JOIN r c ON a.pfx = c.pfx AND c.rnk > a.rnk " +
        "AND c.rnk <= a.rnk + 3), " +
        "j AS (SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, " +
        "round(CASE WHEN (len(sa) + len(sb) - " +
        "len(list_intersect(sa, sb))) = 0 THEN 0.0::DOUBLE " +
        "ELSE len(list_intersect(sa, sb))::DOUBLE / " +
        "(len(sa) + len(sb) - len(list_intersect(sa, sb))) END, 6) AS jac " +
        "FROM p) " +
        "SELECT DISTINCT id_a, id_b, jac FROM j WHERE jac >= 0.3 " +
        "ORDER BY id_a, id_b"),

    // ───── Detector evaluation against planted ground truth: every 4th
    // doc gets a one-token-appended twin, q14's MinHash runs on the
    // augmented corpus, and the report scores detected pairs vs planted —
    // the recall calibration to run BEFORE trusting a config at scale ─────
    Query("q288_dedup_eval", { (s, dir) =>
      Dedup.plantedTwinEval(tb(s, dir, "documents"), "doc_id", "text",
          plantEvery = 4, idOffset = 1000000L, threshold = 0.5)
        .orderBy("n_truth")
    },
      // q288: Dedup.plantedTwinEval mirror — q14's banded-candidate chain
      // over the twin-augmented corpus, scored against the planted pairs.
      oracle = "WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text || ' twintoken' " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "tok2 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') " +
        "AS toks FROM corpus), " +
        Oracles.minhashCandFrom("tok2") + ", " +
        s"det AS (SELECT id_a, id_b FROM cand WHERE ${Oracles.estJac} >= 0.5), " +
        "truth AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "h AS (SELECT count(*)::BIGINT AS n_hits FROM det " +
        "JOIN truth USING (id_a, id_b)), " +
        "a AS (SELECT (SELECT count(*)::BIGINT FROM truth) AS n_truth, " +
        "(SELECT count(*)::BIGINT FROM det) AS n_detected, " +
        "(SELECT n_hits FROM h) AS n_hits) " +
        "SELECT n_truth, n_detected, n_hits, " +
        "CASE WHEN n_detected > 0 THEN round(n_hits::DOUBLE / n_detected, 6) " +
        "END AS precision_lb, " +
        "CASE WHEN n_truth > 0 THEN round(n_hits::DOUBLE / n_truth, 6) " +
        "END AS recall FROM a ORDER BY n_truth"),

    // ───── Winnowing fingerprints (MOSS): RollingHash → WindowMin (the
    // sixth codegen'd expression, O(n) monotonic deque) → distinct
    // minima → df-capped bucket join; guaranteed detection of shared
    // runs ≥ k+w−1 tokens at 2/(w+1) fingerprint density ─────
    Query("q313_winnowing", { (s, dir) =>
      Dedup.winnowingPairs(tb(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, dfCap = 50, minShared = 3)
        .orderBy("id_a", "id_b")
    },
      // q313: Dedup.winnowingPairs mirror — k-gram rolling hashes via
      // list_reduce, w-window minima via list_min slices (O(n·w), oracle
      // scale only), distinct minima bucketed with the df cap.
      oracle = {
        val k: Int = 5
        val w: Int = 4
        val dfCap: Int = 50
        val minShared: Int = 3
        s"WITH ${Oracles.tokCte}, " +
          s"th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % ${Oracles.P}) " +
          "for t in toks] AS hs FROM tok), " +
          s"wh AS (SELECT doc_id, [list_reduce(list_prepend(0::BIGINT, hs[i+1:i+$k]), " +
          s"(a, b) -> (a * 31 + b) % ${Oracles.P}) " +
          s"for i in range(0, greatest(len(hs) - ${k - 1}, 0))] AS ws FROM th), " +
          s"fpt AS (SELECT doc_id, unnest(list_distinct([list_min(ws[j+1:j+$w]) " +
          s"for j in range(0, greatest(len(ws) - ${w - 1}, 0))])) AS fp FROM wh), " +
          "keep AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fpt GROUP BY 1) " +
          s"WHERE c <= $dfCap), " +
          "f2 AS (SELECT doc_id, fp FROM fpt JOIN keep USING (fp)), " +
          "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS " +
          "n_shared FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
          "GROUP BY 1, 2) " +
          s"SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= $minShared " +
          "ORDER BY id_a, id_b"
      }),

    // ───── Fellegi–Sunter linkage weights via EM: the principled
    // scoring layer over q157/q189's candidate generation. ONE
    // data-scale hash-agg to ≤2³ pattern counts; 20 EM iterations
    // driver-side with 9dp-per-step rounding (Holt/IPF parity). Pairs:
    // each customer vs a field-perturbed directory copy of itself
    // (match) and of its successor (non-match) — one equi-join ─────
    Query("q334_fs_em", { (s, dir) =>
      val c = t(s, dir, "customer")
      val dirty = c.select(col("c_custkey").as("d_key"),
          when(col("c_custkey") % 4 === 0, substring(col("c_name"), 1, 12))
            .otherwise(col("c_name")).as("d_name"),
          when(col("c_custkey") % 7 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("d_nation"),
          when(col("c_custkey") % 5 === 0, lit("ALTERED"))
            .otherwise(col("c_mktsegment")).as("d_seg"))
        .withColumn("a_key", explode(array(col("d_key"), col("d_key") - 1)))
      val pairs = c.join(dirty, col("c_custkey") === col("a_key"))
        .select((col("c_name") === col("d_name")).cast("int").as("g1"),
          (col("c_nationkey") === col("d_nation")).cast("int").as("g2"),
          (col("c_mktsegment") === col("d_seg")).cast("int").as("g3"))
      Dedup.fellegiSunterEM(pairs, Seq("g1", "g2", "g3"), iters = 20)
        .orderBy("pattern")
    },
      // q334: Fellegi–Sunter EM — the 20-iteration trajectory replayed as
      // a recursive CTE carrying [p, m₁..₃, u₁..₃] as a LIST (the
      // Holt/IPF recurrence-parity pattern): pattern counts collapse to a
      // single ORDERED struct list (ascending pattern — the same fold
      // order the driver loop uses), so every E/M sum is a `list_sum`
      // over identical elements in identical order, and every parameter
      // is 9dp-rounded per step on both sides.
      oracle = {
        val iters: Int = 20
        // m-likelihood / u-likelihood products for pattern struct g given
        // the prm list (1-based: p, m1..3, u1..3)
        def likP(base: Int) = (1 to 3).map(j =>
          s"(CASE WHEN g.g$j = 1 THEN prm[${base + j}] " +
            s"ELSE 1 - prm[${base + j}] END)").mkString(" * ")
        val mlik = likP(1)
        val ulik = likP(4)
        val w = s"(prm[1] * $mlik) / (prm[1] * $mlik + (1 - prm[1]) * $ulik)"
        val sums =
          "list_sum(list_transform(ws, x -> x.c * x.w)) AS s_w, " +
          "list_sum(list_transform(ws, x -> x.c)) AS n_t, " +
          (1 to 3).map(j =>
            s"list_sum(list_transform(ws, x -> x.c * x.w * x.g$j)) AS m$j")
            .mkString(", ") + ", " +
          (1 to 3).map(j =>
            s"list_sum(list_transform(ws, x -> x.c * (1 - x.w) * x.g$j)) AS u$j")
            .mkString(", ")
        "WITH RECURSIVE " +
          "d AS (SELECT c_custkey AS d_key, " +
          "CASE WHEN c_custkey % 4 = 0 THEN substr(c_name, 1, 12) " +
          "ELSE c_name END AS d_name, " +
          "CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25 " +
          "ELSE c_nationkey END AS d_nation, " +
          "CASE WHEN c_custkey % 5 = 0 THEN 'ALTERED' " +
          "ELSE c_mktsegment END AS d_seg FROM customer), " +
          "dx AS (SELECT d_name, d_nation, d_seg, " +
          "unnest([d_key, d_key - 1]) AS a_key FROM d), " +
          "pr AS (SELECT (c_name = d_name)::INT AS g1, " +
          "(c_nationkey = d_nation)::INT AS g2, " +
          "(c_mktsegment = d_seg)::INT AS g3 " +
          "FROM customer JOIN dx ON c_custkey = a_key), " +
          "pc AS (SELECT g1, g2, g3, count(*)::BIGINT AS c FROM pr " +
          "GROUP BY 1, 2, 3), " +
          "pl AS (SELECT list(struct_pack(g1 := g1, g2 := g2, g3 := g3, " +
          "c := c) ORDER BY g1, g2, g3) AS ps FROM pc), " +
          "st AS (" +
          "SELECT 0 AS it, [0.1, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1]::DOUBLE[] AS prm " +
          "UNION ALL " +
          // each parameter clamps into [1e-9, 1-1e-9] after its 9dp round,
          // mirroring fellegiSunterEM's degenerate-state guard
          "SELECT it + 1, [least(greatest(round(s_w / n_t, 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(m1 / s_w, 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(m2 / s_w, 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(m3 / s_w, 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(u1 / (n_t - s_w), 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(u2 / (n_t - s_w), 9), 1e-9), 1 - 1e-9), " +
          "least(greatest(round(u3 / (n_t - s_w), 9), 1e-9), 1 - 1e-9)] " +
          s"FROM (SELECT it, $sums FROM " +
          "(SELECT it, list_transform(ps, g -> struct_pack(" +
          "c := g.c::DOUBLE, g1 := g.g1::DOUBLE, g2 := g.g2::DOUBLE, " +
          s"g3 := g.g3::DOUBLE, w := $w)) AS ws " +
          s"FROM st, pl WHERE it < $iters))), " +
          s"fin AS (SELECT prm FROM st WHERE it = $iters), " +
          "pat AS (SELECT unnest(ps) AS g FROM pl) " +
          "SELECT pattern, n_pairs, " +
          "round(p * mlik / (p * mlik + (1 - p) * ulik), 6) AS posterior, " +
          "round(ln(mlik / ulik), 6) AS weight FROM (" +
          "SELECT concat(g.g1, g.g2, g.g3) AS pattern, g.c AS n_pairs, " +
          s"prm[1] AS p, $mlik AS mlik, $ulik AS ulik FROM fin, pat) " +
          "ORDER BY pattern"
      })
  )
}
