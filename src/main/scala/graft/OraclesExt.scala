package graft

/** DuckDB-dialect oracles for the training-data-pipeline extension ops
  * (dedup, similarity, text analysis). Hash constants are generated from
  * the same Scala values as [[graft.ops.Hashing]] so the two engines stay
  * in lockstep by construction: hash60(s) ≡ first 15 md5 hex chars as a
  * 60-bit int, permutation j = (37j+11)·h + 101j+7 mod 1000000007.
  */
object OraclesExt {

  private val P = 1000000007L
  private val K = 16 // minhash signature length
  private val BANDS = 4

  private def h60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** documents → word tokens. */
  val tokCte: String =
    "tok AS (SELECT doc_id, source, text, " +
      "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents)"

  /** word 3-gram distinct shingle sets (empty list when < 3 tokens). */
  val sh3Cte: String =
    "sh3 AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
      "for i in range(len(toks)-2)]) AS shs FROM tok)"

  val dedupExact: String =
    s"WITH $tokCte, " +
      "k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ck FROM tok) " +
      "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
      "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
      "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"

  /** 10-word segments with per-doc position, shared by the segment-dedup
    * oracles. Mirrors Dedup.segmented: consecutive non-overlapping token
    * windows, trailing remainder kept, empty docs excluded. */
  private val segCte: String =
    "c AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0), " +
      "s AS (SELECT doc_id, toks, unnest(range(0, (n + 9) // 10)) AS i FROM c), " +
      "seg AS (SELECT doc_id, i AS seg_idx, " +
      "array_to_string(toks[i*10+1:i*10+10], ' ') AS seg FROM s)"

  /** Reassembly tail over a `k(doc_id, seg_idx, seg, keep)` CTE. */
  private val reassembleSql: String =
    "SELECT doc_id, " +
      "coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS text_clean, " +
      "(count(*) FILTER (WHERE keep))::BIGINT AS n_kept, " +
      "(count(*) FILTER (WHERE NOT keep))::BIGINT AS n_dropped " +
      "FROM k GROUP BY doc_id ORDER BY doc_id"

  val segmentDedup: String =
    s"WITH $tokCte, $segCte, " +
      "k AS (SELECT doc_id, seg_idx, seg, " +
      "row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS keep " +
      "FROM seg) " + reassembleSql

  val boilerplate: String =
    s"WITH $tokCte, $segCte, " +
      "f AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1), " +
      "k AS (SELECT g.doc_id, g.seg_idx, g.seg, (f.nd <= 2) AS keep " +
      "FROM seg g JOIN f ON g.seg = f.seg) " + reassembleSql

  val dedupJaccard: String =
    s"WITH $tokCte, $sh3Cte, " +
      "shing AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      "FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT ida AS id_a, idb AS id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jac " +
      "FROM inter JOIN sz x ON ida = x.doc_id JOIN sz y ON idb = y.doc_id " +
      "WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= 0.8 ORDER BY 1, 2"

  /** The df-capped production posture of [[dedupJaccard]] (mirrors
    * `Dedup.jaccardPairs(maxShingleDf = Some(cap))`): shingles with
    * document frequency above `cap` are dropped from BOTH the
    * intersections and the set sizes before pairing. */
  def dedupJaccardCapped(cap: Int): String =
    s"WITH $tokCte, $sh3Cte, " +
      "shing0 AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
      s"rare AS (SELECT s FROM shing0 GROUP BY s HAVING count(*) <= $cap), " +
      "shing AS (SELECT x.doc_id, x.s FROM shing0 x JOIN rare r ON x.s = r.s), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      "FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT ida AS id_a, idb AS id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jac " +
      "FROM inter JOIN sz x ON ida = x.doc_id JOIN sz y ON idb = y.doc_id " +
      "WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= 0.8 ORDER BY 1, 2"

  /** Directed containment twin of [[dedupJaccardCapped]] (mirrors
    * `Dedup.containmentPairs`): each undirected intersection row yields
    * two directed scores i/|src|; the df cap drops boilerplate shingles
    * from intersections AND sizes before pairing. */
  def containmentCapped(cap: Int, thresh: Double): String =
    s"WITH $tokCte, $sh3Cte, " +
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

  /** MinHash est-Jaccard over the banded candidates (exact multiples of
    * 1/K — threshold comparisons decide identically in both engines). */
  private val estJac: String =
    s"list_sum([CASE WHEN sa[i+1] = sb[i+1] THEN 1 ELSE 0 END " +
      s"for i in range($K)]) / $K.0"

  /** CTE chain ending in `cand(id_a, id_b, sa, sb)` — the MinHash+LSH
    * banded candidate derivation over a `(doc_id, toks)` source CTE
    * (parameterized so pipeline oracles can run it over a filtered
    * survivor set, q234). */
  private def minhashCandFrom(tokSrc: String): String = {
    val aCoef = s"(37 * j + 11)"
    val bCoef = s"(101 * j + 7)"
    val r = K / BANDS
    s"sh3 AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
      s"for i in range(len(toks)-2)]) AS shs FROM $tokSrc), " +
      "shing AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
      s"hsh AS (SELECT doc_id, ${h60("s")} % $P AS h FROM shing), " +
      s"mh AS (SELECT doc_id, j, min(($aCoef * h + $bCoef) % $P) AS m " +
      s"FROM hsh, range($K) t(j) GROUP BY 1, 2), " +
      "sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM mh GROUP BY 1), " +
      s"band AS (SELECT doc_id, sig, b, array_to_string(sig[b*$r+1:b*$r+$r], ',') AS k " +
      s"FROM sig, range($BANDS) t(b)), " +
      "cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sa, y.sig AS sb " +
      "FROM band x JOIN band y ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id)"
  }

  /** The whole-corpus instantiation (q14 and friends). */
  private val minhashCandCte: String = s"$tokCte, ${minhashCandFrom("tok")}"

  val dedupMinhash: String =
    s"WITH $minhashCandCte " +
      s"SELECT id_a, id_b, $estJac AS est_jac FROM cand ORDER BY 1, 2"

  /** q336: streaming LSH near-dup gate — the drained (band, key) →
    * (min doc_id) store is batch-equivalent to a bucket-min over q14's
    * band CTE, so the flag (any band bucket holding a LOWER doc id)
    * reuses the same machinery; the unreferenced `cand` CTE is never
    * evaluated. */
  val streamLshDedup: String =
    s"WITH $minhashCandCte, " +
      "bm AS (SELECT b, k, min(doc_id) AS min_id FROM band GROUP BY 1, 2), " +
      "f AS (SELECT band.doc_id, sum(CASE WHEN bm.min_id < band.doc_id " +
      "THEN 1 ELSE 0 END)::BIGINT AS n_dup_bands " +
      "FROM band JOIN bm ON band.b = bm.b AND band.k = bm.k GROUP BY 1) " +
      "SELECT doc_id, n_dup_bands, (CASE WHEN n_dup_bands > 0 THEN 1 " +
      "ELSE 0 END) AS is_dup FROM f ORDER BY doc_id"

  /** q340: the bounded-lateness LSH gate — band-bucket matches whose
    * synthesized ingest times (doc_id minutes from the epoch) are
    * within the 120-minute horizon, i.e. an id-distance bound on the
    * q14 band CTEs; earlier partner ids count distinct per doc. */
  val streamLshBounded: String =
    s"WITH $minhashCandCte, " +
      "m AS (SELECT l.doc_id AS doc_id, r.doc_id AS src " +
      "FROM band l JOIN band r ON l.b = r.b AND l.k = r.k " +
      "AND r.doc_id < l.doc_id AND l.doc_id - r.doc_id <= 120) " +
      "SELECT doc_id, count(DISTINCT src)::BIGINT AS n_src " +
      "FROM m GROUP BY 1 ORDER BY doc_id"

  /** Threshold sweep (mirrors `Dedup.thresholdSweep`): q14's candidates
    * against the literal cutoff spine; zero levels emit via spine left
    * joins. Thresholds cast ::DOUBLE (bare list literals are DECIMAL). */
  val thresholdSweep: String =
    s"WITH $minhashCandCte, " +
      s"p AS (SELECT id_a, id_b, $estJac AS est_jac FROM cand), " +
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
      "ORDER BY threshold"

  /** Contrastive triplets (mirrors `TextAnalysis.contrastiveTriplets`):
    * LSH positives ≥ 0.5 est-Jaccard + the md5 bucket-representative
    * negative draw with the next-bucket collision fallback. */
  val contrastiveTriplets: String =
    s"WITH $minhashCandCte, " +
      s"pos AS (SELECT id_a AS anchor, id_b AS positive, $estJac AS est_jac " +
      s"FROM cand WHERE $estJac >= 0.5), " +
      s"bk AS (SELECT doc_id, ${h60("doc_id::VARCHAR || ':cp'")} % 64 AS b " +
      "FROM documents), " +
      "rep AS (SELECT b, min(doc_id) AS rep FROM bk GROUP BY 1), " +
      s"tb AS (SELECT p.*, ${h60("p.anchor::VARCHAR || ':cneg'")} % 64 AS t " +
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
      "WHERE negative IS NOT NULL ORDER BY anchor, positive"

  /** Calibration twin of q14 (mirrors `Dedup.minhashCalibration`): the
    * banded candidates with BOTH the signature estimate and the exact
    * Jaccard of the distinct hashed-shingle sets, restricted to
    * candidate documents. */
  val minhashCalibration: String = {
    val exact = "coalesce(i.i, 0) * 1.0 / (x.n + y.n - coalesce(i.i, 0))"
    s"WITH $minhashCandCte, " +
      "cd AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM cand " +
      "UNION ALL SELECT id_b FROM cand)), " +
      "shd AS (SELECT DISTINCT h.doc_id, h.h FROM hsh h JOIN cd ON h.doc_id = cd.id), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM shd a JOIN shd b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      s"SELECT c.id_a, c.id_b, round($estJac, 6) AS est_jac, " +
      s"round($exact, 6) AS exact_jac, " +
      s"round(abs($estJac - $exact), 6) AS abs_err " +
      "FROM cand c LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b " +
      "JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id " +
      "ORDER BY 1, 2"
  }

  /** The composite near-dup REMOVAL pipeline (mirrors q71): MinHash+LSH
    * candidates → est-Jaccard ≥ 0.75 edges → transitive closure → drop
    * every member except its component's min id. */
  val dedupPipeline: String =
    "WITH RECURSIVE " + minhashCandCte + ", " +
      s"np AS (SELECT id_a, id_b FROM cand WHERE $estJac >= 0.75), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
      "UNION SELECT id_b, id_a FROM np), " +
      "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
      "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
      "dropped AS (SELECT id FROM labels WHERE id <> rep) " +
      "SELECT d.doc_id, d.source FROM documents d " +
      "WHERE d.doc_id NOT IN (SELECT id FROM dropped) ORDER BY d.doc_id"

  /** CTE chain ending in `pairs(id_a, id_b, hdist)` — the simhash
    * near-dup pair derivation, shared by the pair and cluster oracles. */
  private val simhashPairsCte: String =
    s"$tokCte, " +
      "t2 AS (SELECT doc_id, unnest(toks) AS tk FROM tok), " +
      s"th AS (SELECT doc_id, ${h60("tk")} AS h FROM t2), " +
      "bits AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s " +
      "FROM th, range(60) r(j) GROUP BY 1, 2), " +
      "fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS f " +
      "FROM bits GROUP BY 1), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hdist " +
      "FROM fp a JOIN fp b ON a.doc_id < b.doc_id)"

  val dedupSimhash: String =
    s"WITH $simhashPairsCte " +
      "SELECT id_a, id_b, hdist FROM pairs WHERE hdist <= 6 ORDER BY 1, 2"

  /** Connected components over the simhash near-pairs via transitive
    * closure (recursive CTE) — small at oracle scale; the Spark side uses
    * iterative min-label propagation instead (closure is quadratic in
    * path count and would never run at corpus scale). */
  val dedupClusters: String =
    "WITH RECURSIVE " + simhashPairsCte + ", " +
      "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
      "UNION SELECT id_b, id_a FROM np), " +
      "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
      "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1) " +
      "SELECT rep, count(*)::BIGINT AS n_members, " +
      "string_agg(id::VARCHAR, ';' ORDER BY id) AS member_ids " +
      "FROM labels GROUP BY 1 ORDER BY 1"

  /** Mirrors Dedup.canonicalPerCluster over the simhash clusters + the
    * q20 quality score: per cluster, keeper = max 6dp quality, tie → min
    * id. */
  val canonical: String =
    "WITH RECURSIVE " + simhashPairsCte + ", " +
      "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
      "UNION SELECT id_b, id_a FROM np), " +
      "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
      "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
      s"ql AS (SELECT doc_id, round(${hitRatioSql(langList("en"))} * 0.5 + " +
      "least(len(toks) / 100.0, 1.0) * 0.5 - " +
      "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) * 0.25, 6) " +
      "AS keeper_q FROM tok), " +
      "r AS (SELECT rep, id, keeper_q, " +
      "row_number() OVER (PARTITION BY rep ORDER BY keeper_q DESC, id) AS rn, " +
      "count(*) OVER (PARTITION BY rep) AS nm " +
      "FROM labels JOIN ql ON labels.id = ql.doc_id) " +
      "SELECT rep, id AS keeper_id, keeper_q, nm::BIGINT AS n_members " +
      "FROM r WHERE rn = 1 ORDER BY rep"

  /** Mirrors q134: leakage-safe split — every doc is assigned by the
    * hash of its near-dup cluster representative (own id when
    * unclustered), so a cluster can never straddle train/val/test. The
    * leak audit recomputes the invariant from the assignment rather than
    * asserting the constant. */
  val clusterSafeSplit: String =
    "WITH RECURSIVE " + simhashPairsCte + ", " +
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
      "FROM s GROUP BY 1 ORDER BY 1"

  /** Mirrors q142 — the full corpus-construction journey in one
    * statement: near-dup clusters → best-quality canonical per cluster
    * (plus unclustered survivors) → quality floor → leakage-safe train
    * split by cluster-rep hash → per-source token budget → per-source
    * scorecard. Every stage reuses a fragment already proven by its own
    * standalone oracle (q43/q63/q134/q106). */
  val corpusPipeline: String =
    "WITH RECURSIVE " + simhashPairsCte + ", " +
      "np AS (SELECT id_a, id_b FROM pairs WHERE hdist <= 6), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
      "UNION SELECT id_b, id_a FROM np), " +
      "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
      "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1), " +
      s"ql AS (SELECT doc_id, round(${hitRatioSql(langList("en"))} * 0.5 + " +
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
      "FROM c WHERE cum <= 4096 GROUP BY 1 ORDER BY 1"

  /** Backward as-of join: clicks pick up the latest prior (or equal-time)
    * purchase value per user; DuckDB's native ASOF LEFT JOIN is the
    * oracle for the Spark union+running-window formulation. */
  val asofJoin: String =
    "WITH p AS (SELECT user_id, ts, max(value) AS purch_val FROM events " +
      "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
      "c AS (SELECT event_id, user_id, ts, value AS click_val FROM events " +
      "WHERE event_type = 'click') " +
      "SELECT c.event_id, c.user_id, c.click_val, p.purch_val " +
      "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts " +
      "ORDER BY c.event_id"

  /** Interval-containment join: clicks within the half-open 2-hour window
    * after any same-user purchase, counted per click (0 when none). The
    * plain inequality LEFT JOIN is the oracle for the binned equi-join. */
  val rangeJoin: String =
    "WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end " +
      "FROM events WHERE event_type = 'purchase') " +
      "SELECT c.event_id, c.user_id, count(p.w_start)::BIGINT AS n_cover " +
      "FROM c LEFT JOIN p ON c.user_id = p.user_id " +
      "AND c.ts >= p.w_start AND c.ts < p.w_end " +
      "GROUP BY 1, 2 ORDER BY 1"

  /** double-precision cosine, sequential fold — mirrors Similarity.cosine. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  val embCte: String =
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"

  val dedupEmbedding: String =
    s"WITH $embCte, " +
      s"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(${cosSql("a.v", "b.v")}, 6) AS cos " +
      "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) " +
      "SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY 1, 2"

  val simTopKBrute: String =
    s"WITH $embCte, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0) " +
      s", s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q, e WHERE vec_id <> qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"

  val simTopKIvf: String =
    s"WITH $embCte, " +
      "q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id % 100 = 0) " +
      s", s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q JOIN e ON e.label = q.cell AND e.vec_id <> q.qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"

  /** Mirrors Similarity.topKIvfSampled at nCells=16, nProbe=4: centroids
    * are the first 16 corpus vectors by id (`ORDER BY vec_id LIMIT 16` ≡
    * the Spark side's bounded ordered collect); assignment/probing rank
    * by −2·v·c + ‖c‖² with a cell-ascending tie-break — exactly the
    * struct sort inside Similarity.probeCells. ‖c‖² is a DuckDB
    * list_dot_product here and a Scala `map(sq).sum` literal on the Spark
    * side: both are the same sequential IEEE fold over the same doubles. */
  val simTopKIvfSampled: String = {
    val nCells = 16; val nProbe = 4
    s"WITH $embCte, " +
      s"cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, " +
      "list_dot_product(v, v) AS cn2 " +
      s"FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nCells)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
      s"q AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      s"s AS (SELECT qid, cid, round(${cosSql("qv", "cv")}, 6) AS cos " +
      "FROM q JOIN corp USING (cell) WHERE cid <> qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
  }

  /** Mirrors Similarity.topKIvfCentroids over the PINNED Lloyd-trained
    * index ([[graft.fixtures.PinnedIndex.ivfCentroidsV1]], q220): the 16
    * centroids and their ‖c‖² enter as literal VALUES rows — the exact
    * doubles the Spark plan embeds (shortest round-trip repr) — so
    * assignment, probing, and the tie-breaks decide identically. */
  val simTopKIvfPinned: String = {
    val nProbe = 4
    val cents = graft.fixtures.PinnedIndex.ivfCentroidsV1
    val rows = cents.zipWithIndex.map { case (c, i) =>
      val lits = c.mkString("[", ", ", "]")
      val cn2 = c.map(x => x * x).sum
      s"($i, $lits::DOUBLE[], $cn2)"
    }.mkString(", ")
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $rows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
      s"q AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      s"s AS (SELECT qid, cid, round(${cosSql("qv", "cv")}, 6) AS cos " +
      "FROM q JOIN corp USING (cell) WHERE cid <> qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
  }

  /** The pinned Lloyd-trained IVF centroids as literal VALUES rows
    * (cell, vector, ‖c‖²) — shared by the pinned-index oracles; cell is
    * BIGINT to match the Spark side's long cell ids. */
  private def pinnedCentRows: String =
    graft.fixtures.PinnedIndex.ivfCentroidsV1.zipWithIndex.map {
      case (c, i) =>
        s"($i::BIGINT, ${c.mkString("[", ", ", "]")}::DOUBLE[], ${c.map(x => x * x).sum})"
    }.mkString(", ")

  /** Mirrors Dedup.semDedup over the pinned IVF centroids (q230):
    * nearest-centroid assignment (the q220 scored/rn=1 chain), then a
    * row is a duplicate iff some LOWER-id cell-mate's 6dp-rounded cosine
    * reaches the threshold. */
  def semDedup(minCosine: Double): String =
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "asg AS (SELECT vec_id, v, cell FROM scored WHERE rn = 1), " +
      "dup AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b " +
      "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      s"WHERE round(${cosSql("a.v", "b.v")}, 6) >= $minCosine::DOUBLE) " +
      "SELECT a.vec_id AS cid, a.cell, d.vec_id IS NULL AS kept " +
      "FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id ORDER BY cid"

  /** Mirrors Sampling.clusterBalancedSample over the pinned IVF
    * centroids (q246): the q220/q230 nearest-cell assignment chain, then
    * kept iff the row's (hash60(cid), cid) rank within its cell is
    * ≤ perCell — q65's exact-quota selection per cell. */
  def clusterBalancedSample(perCell: Int): String =
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "asg AS (SELECT vec_id, cell FROM scored WHERE rn = 1), " +
      "r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell " +
      s"ORDER BY ${h60("vec_id::VARCHAR")}, vec_id) AS rnk FROM asg) " +
      s"SELECT vec_id AS cid, cell, rnk <= $perCell AS kept " +
      "FROM r ORDER BY cid"

  /** One query's BM25 → NDCG@kEval/MRR chain (q231's per-query oracle
    * body): the q198/q219 BM25 top-kCand arm, graded relevance = number
    * of query terms whole-word-present in the doc, DCG/IDCG/MRR in the
    * exact gain arithmetic of TextAnalysis.rankingMetrics. */
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

  /** The q233 rule chain (CTEs `f`, `r` — `r` carries source and every
    * rule flag) shared by the rule report, the streaming gate, and the
    * per-source Wilson aggregate. */
  private def gopherCtes(minStopHits: Int): String = {
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(w =>
      s"CASE WHEN len(regexp_extract_all(lower(text), '\\b$w\\b')) > 0 " +
        "THEN 1 ELSE 0 END").mkString(" + ")
    "WITH f AS (SELECT doc_id, source, text, " +
      "len(regexp_extract_all(text, '\\w+')) AS wc, " +
      "(len(regexp_extract_all(text, '\\n')) + 1)::DOUBLE AS nl FROM documents), " +
      "r AS (SELECT doc_id, source, wc::BIGINT AS n_words, " +
      "wc >= 50 AND wc <= 100000 AS r_wc, " +
      "round(CASE WHEN wc = 0 THEN 0.0::DOUBLE ELSE " +
      "len(regexp_extract_all(text, '\\w'))::DOUBLE / wc END, 6) " +
      "BETWEEN 3.0 AND 10.0 AS r_awl, " +
      "round(CASE WHEN wc = 0 THEN 0.0::DOUBLE ELSE " +
      "len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / wc END, 6) " +
      "<= 0.1 AS r_sym, " +
      "round(len(regexp_extract_all(text, '(?m)^\\s*[-•*]'))::DOUBLE / nl, 6) " +
      "<= 0.9 AS r_bullet, " +
      "round(len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)$'))::DOUBLE / nl, 6) " +
      "<= 0.3 AS r_ellipsis, " +
      "round(CASE WHEN wc = 0 THEN 0.0::DOUBLE ELSE " +
      "len(regexp_extract_all(lower(text), '\\w*[a-z]\\w*'))::DOUBLE / wc END, 6) " +
      ">= 0.8 AS r_alpha, " +
      s"($stopHits) >= $minStopHits AS r_stop FROM f)"
  }

  /** The conjunction of every rule flag (over the `r` CTE). */
  private val gopherPass: String =
    "r_wc AND r_awl AND r_sym AND r_bullet AND r_ellipsis AND r_alpha " +
      "AND r_stop"

  /** Mirrors TextAnalysis.gopherRules (q233): each published rule as the
    * identical regexp-count arithmetic, ratios 6dp-rounded before their
    * threshold compare. */
  def gopherRules(minStopHits: Int): String =
    s"${gopherCtes(minStopHits)} " +
      "SELECT doc_id, n_words, r_wc, r_awl, r_sym, r_bullet, r_ellipsis, " +
      s"r_alpha, r_stop, $gopherPass AS pass FROM r ORDER BY doc_id"

  /** Mirrors Models.wilsonPassRate over the per-source Gopher pass flag
    * (q242): one count/sum aggregate per source, then the Wilson algebra
    * in the op's exact association order (z literals cast ::DOUBLE — the
    * bare-DECIMAL trap). */
  def wilsonGopher(minStopHits: Int, z: Double): String = {
    val zz = s"($z::DOUBLE * $z::DOUBLE)"
    val p = "(k / n)"
    val half = s"$z::DOUBLE * sqrt($p * (1.0::DOUBLE - $p) / n + " +
      s"$zz / (4.0::DOUBLE * n * n))"
    val den = s"(1.0::DOUBLE + $zz / n)"
    s"${gopherCtes(minStopHits)}, " +
      s"p AS (SELECT source, CASE WHEN $gopherPass THEN 1 ELSE 0 END AS ps FROM r), " +
      "a AS (SELECT source, count(*)::DOUBLE AS n, sum(ps)::DOUBLE AS k " +
      "FROM p GROUP BY 1) " +
      "SELECT source, n::BIGINT AS n, k::BIGINT AS n_pass, " +
      s"round($p, 6) AS rate, " +
      s"round((($p + $zz / (2.0::DOUBLE * n)) - $half) / $den, 6) AS lo, " +
      s"round((($p + $zz / (2.0::DOUBLE * n)) + $half) / $den, 6) AS hi " +
      "FROM a ORDER BY source"
  }

  /** Mirrors Dedup.noveltyScore over the q59 corpus/reference split
    * (q241): per-doc distinct 3-gram shingles, reference distinct gram
    * set, novel = grams absent from the reference. */
  val noveltyScore: String =
    "WITH ct AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
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
      "LEFT JOIN a USING (doc_id) ORDER BY d.doc_id"

  /** Mirrors Dedup.dedupWeights over the simhash clusters (q243): the
    * q43 closure labels, cluster sizes, weight 1/size (1.0 for
    * unclustered docs). */
  val dedupWeights: String =
    "WITH RECURSIVE " + simhashPairsCte + ", " +
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
      "FROM documents d LEFT JOIN j ON d.doc_id = j.id ORDER BY d.doc_id"

  /** Mirrors pipelines.CurationPipeline.curate (q234): language gate
    * (q19's langid CASE), 6dp quality gate (q20's formula), exact dedup
    * window over the h60 content fingerprint, the banded MinHash chain
    * over the SURVIVOR token set ([[minhashCandFrom]]), first-stage
    * drop attribution, one per-source funnel aggregate. */
  /** The q234 funnel chain through `st(doc_id, source, wc, stage)` —
    * shared by the report (q234) and the balanced continuation (q248). */
  private def curationStCtes(minQuality: Double, minJac: Double): String = {
    val scores = Seq("de", "en", "es", "fr")
      .map(l => s"${hitRatioSql(langList(l))} AS s_$l").mkString(", ")
    val mx = "greatest(s_de, s_en, s_es, s_fr)"
    s"$tokCte, " +
      s"sc AS (SELECT doc_id, source, text, toks, $scores, " +
      "len(toks) AS wc, " +
      "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) AS pr FROM tok), " +
      "base AS (SELECT doc_id, source, toks, wc, " +
      s"(CASE WHEN $mx <= 0.0 THEN 'und' WHEN s_de = $mx THEN 'de' " +
      s"WHEN s_en = $mx THEN 'en' WHEN s_es = $mx THEN 'es' ELSE 'fr' END) = 'en' AS lang_ok, " +
      s"round(s_en * 0.5 + least(wc / 100.0, 1.0) * 0.5 - pr * 0.25, 6) >= $minQuality::DOUBLE AS q_ok, " +
      s"${h60("array_to_string(toks, ' ')")} AS fp FROM sc), " +
      "gated AS (SELECT doc_id, toks, " +
      "row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn " +
      "FROM base WHERE lang_ok AND q_ok), " +
      "keep AS (SELECT doc_id, toks FROM gated WHERE rn = 1), " +
      minhashCandFrom("keep") + ", " +
      s"nd AS (SELECT DISTINCT id_b AS doc_id FROM cand WHERE $estJac >= $minJac::DOUBLE), " +
      "st AS (SELECT b.doc_id, b.source, b.wc, CASE WHEN NOT b.lang_ok THEN 'lang' " +
      "WHEN NOT b.q_ok THEN 'quality' WHEN g.rn <> 1 THEN 'exact_dup' " +
      "WHEN nd.doc_id IS NOT NULL THEN 'near_dup' ELSE 'kept' END AS stage " +
      "FROM base b LEFT JOIN gated g ON b.doc_id = g.doc_id " +
      "LEFT JOIN nd ON b.doc_id = nd.doc_id)"
  }

  def curation(minQuality: Double, minJac: Double): String =
    s"WITH ${curationStCtes(minQuality, minJac)} " +
      "SELECT source, count(*)::BIGINT AS n_raw, " +
      "(count(*) FILTER (WHERE stage = 'lang'))::BIGINT AS n_lang_dropped, " +
      "(count(*) FILTER (WHERE stage = 'quality'))::BIGINT AS n_quality_dropped, " +
      "(count(*) FILTER (WHERE stage = 'exact_dup'))::BIGINT AS n_exact_dropped, " +
      "(count(*) FILTER (WHERE stage = 'near_dup'))::BIGINT AS n_near_dropped, " +
      "(count(*) FILTER (WHERE stage = 'kept'))::BIGINT AS n_kept, " +
      "sum(CASE WHEN stage = 'kept' THEN wc ELSE 0 END)::BIGINT AS tok_kept " +
      "FROM st GROUP BY source ORDER BY source"

  /** Mirrors CurationPipeline.curateBalanced (q248): the funnel chain's
    * kept docs join embeddings 1:1 on id, the q220/q230 pinned-centroid
    * assignment, a per-cell (hash60, id) rank quota, then the balance
    * report per (source, cell). */
  def curationBalanced(
      minQuality: Double, minJac: Double, perCell: Int): String =
    s"WITH ${curationStCtes(minQuality, minJac)}, " +
      s"$embCte, " +
      s"centb AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "kd AS (SELECT st.doc_id, st.source, e.v FROM st " +
      "JOIN e ON e.vec_id = st.doc_id WHERE st.stage = 'kept'), " +
      "scoredb AS (SELECT kd.doc_id, kd.source, centb.cell, " +
      "row_number() OVER (PARTITION BY kd.doc_id " +
      "ORDER BY list_dot_product(kd.v, centb.cv) * -2.0 + centb.cn2, centb.cell) AS rn " +
      "FROM kd CROSS JOIN centb), " +
      "asgb AS (SELECT doc_id, source, cell FROM scoredb WHERE rn = 1), " +
      "rb AS (SELECT doc_id, source, cell, row_number() OVER (PARTITION BY cell " +
      s"ORDER BY ${h60("doc_id::VARCHAR")}, doc_id) AS rnk FROM asgb) " +
      "SELECT source, cell, count(*)::BIGINT AS n_docs, " +
      s"(count(*) FILTER (WHERE rnk <= $perCell))::BIGINT AS n_sampled " +
      "FROM rb GROUP BY source, cell ORDER BY source, cell"

  /** Mirrors TextAnalysis.bpeFertility over the pinned merges (q235):
    * the q229 replace chain per word, token counts via one regexp
    * extract, per-language aggregate. */
  def bpeFertility(merges: Seq[(String, String)]): String = {
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
  }

  /** Mirrors Similarity.probeRecallCurve over the pinned IVF index
    * (q236): the q220 assignment chain, brute top-k ground truth (the
    * q17 chain), candidates per probe level via `rn <= n_probe`, hit
    * counts against the ground-truth set, spine left join so empty
    * levels average 0. */
  def probeRecallCurve(probes: Seq[Int], k: Int): String = {
    val spine = probes.mkString("[", ", ", "]")
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv, cell, rn FROM scored WHERE vec_id % 100 = 0), " +
      "q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
      s"s0 AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q0, e WHERE vec_id <> qid), " +
      "g AS (SELECT qid, cid FROM (SELECT qid, cid, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s0) " +
      s"WHERE rnk <= $k), " +
      s"lv AS (SELECT unnest($spine) AS n_probe), " +
      s"cand AS (SELECT lv.n_probe, q.qid, corp.cid, " +
      s"round(${cosSql("q.qv", "corp.cv")}, 6) AS cos " +
      "FROM lv JOIN q ON q.rn <= lv.n_probe " +
      "JOIN corp ON corp.cell = q.cell WHERE corp.cid <> q.qid), " +
      "r AS (SELECT n_probe, qid, cid FROM (SELECT n_probe, qid, cid, " +
      "row_number() OVER (PARTITION BY n_probe, qid ORDER BY cos DESC, cid) AS rnk " +
      s"FROM cand) WHERE rnk <= $k), " +
      "h AS (SELECT r.n_probe, r.qid, count(*) AS hits FROM r " +
      "JOIN g ON r.qid = g.qid AND r.cid = g.cid GROUP BY 1, 2), " +
      "sp AS (SELECT n_probe, qid FROM lv CROSS JOIN (SELECT DISTINCT qid FROM q0)) " +
      "SELECT sp.n_probe, count(*)::BIGINT AS n_queries, " +
      s"round(avg(coalesce(hits, 0)::DOUBLE / $k), 6) AS mean_recall " +
      "FROM sp LEFT JOIN h ON sp.n_probe = h.n_probe AND sp.qid = h.qid " +
      "GROUP BY sp.n_probe ORDER BY sp.n_probe"
  }

  /** Mirrors TextAnalysis.packSweep (q237): q83's running-sum bin
    * assignment per context length, folded to (bins, mass, max, fill),
    * UNION ALL over the context spine. */
  def packSweep(ctxs: Seq[Int]): String = {
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
  }

  /** Mirrors TextAnalysis.zipfFit at the same vocab cap (q238): the
    * buildVocab ranking, one six-sum aggregate, slope computed once and
    * reused by the intercept, r2 guarded on both variances. */
  def zipfFit(v: Int): String =
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

  /** Mirrors Dedup.decontaminateSpans over the q59 corpus/bench split
    * (q240): q108's rolling-hash span chain with the duplicated-span set
    * replaced by the BENCHMARK's distinct span set. */
  val surgicalDecontam: String =
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
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
      "FROM tok LEFT JOIN rmc USING(doc_id) LEFT JOIN cl USING(doc_id) ORDER BY tok.doc_id"

  /** Mirrors Similarity.embeddingDrift over the vec_id-parity split
    * (q244): per-dimension reference bounds, 10 clamped fixed-width
    * bins, +0.5-smoothed shares, Σ(p−q)·ln(p/q) per dimension — the
    * q178 PSI chain partitioned by coordinate. */
  def embeddingDrift(nBins: Int): String = {
    val half = "0.5::DOUBLE"
    s"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "r0 AS (SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x " +
      "FROM e WHERE vec_id % 2 = 0), " +
      "c0 AS (SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x " +
      "FROM e WHERE vec_id % 2 = 1), " +
      "b AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM r0 GROUP BY 1), " +
      s"rb AS (SELECT r0.pos, CASE WHEN hi = lo THEN 0 ELSE least(${nBins - 1}, " +
      s"greatest(0, floor((x - lo) / ((hi - lo) / $nBins))::INT)) END AS bin " +
      "FROM r0 JOIN b ON r0.pos = b.pos), " +
      s"cb AS (SELECT c0.pos, CASE WHEN hi = lo THEN 0 ELSE least(${nBins - 1}, " +
      s"greatest(0, floor((x - lo) / ((hi - lo) / $nBins))::INT)) END AS bin " +
      "FROM c0 JOIN b ON c0.pos = b.pos), " +
      "rc AS (SELECT pos, bin, count(*)::BIGINT AS n_ref FROM rb GROUP BY 1, 2), " +
      "cc2 AS (SELECT pos, bin, count(*)::BIGINT AS n_cur FROM cb GROUP BY 1, 2), " +
      s"spine AS (SELECT b.pos, t.i::INT AS bin FROM b CROSS JOIN range($nBins) t(i)), " +
      "k AS (SELECT spine.pos, spine.bin, coalesce(rc.n_ref, 0) AS n_ref, " +
      "coalesce(cc2.n_cur, 0) AS n_cur FROM spine " +
      "LEFT JOIN rc ON spine.pos = rc.pos AND spine.bin = rc.bin " +
      "LEFT JOIN cc2 ON spine.pos = cc2.pos AND spine.bin = cc2.bin), " +
      s"s AS (SELECT pos, bin, (n_ref + $half) / " +
      s"(sum(n_ref) OVER (PARTITION BY pos) + $half * $nBins) AS p, " +
      s"(n_cur + $half) / (sum(n_cur) OVER (PARTITION BY pos) + $half * $nBins) AS q " +
      "FROM k), " +
      "g AS (SELECT pos, round((p - q) * ln(p / q), 6) AS contrib FROM s) " +
      "SELECT pos, round(sum(contrib), 6) AS psi, " +
      "round(sum(contrib), 6) > 0.2::DOUBLE AS drifted " +
      "FROM g GROUP BY pos ORDER BY pos"
  }

  /** Mirrors TextAnalysis.bpeTrain / bpeTrainDriver (q228): the
    * word-frequency table in paren-symbol form — truncated to the
    * driver path's deterministic `vocabCap` top types by (freq desc,
    * word) — then `merges` chained (pair-count → top-1 → replace) CTE
    * triples; `replace` on the `(s)(y)(m)` representation is the same
    * leftmost-first merge in both engines. */
  def bpeTrain(merges: Int, vocabCap: Int = 1 << 16): String = {
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
  }

  /** Mirrors Similarity.hardNegatives over q14's LSH positives (q227):
    * per (anchor, positive) pair, the same-cell corpus vector with the
    * highest anchor-cosine that is neither member of the pair; ties to
    * the lower candidate id. */
  val hardNegatives: String =
    s"WITH $minhashCandCte, " +
      s"pos AS (SELECT id_a AS anchor, id_b AS positive FROM cand " +
      s"WHERE $estJac >= 0.5), " +
      s"$embCte, " +
      "a AS (SELECT pos.anchor, pos.positive, e.v AS av, e.label " +
      "FROM pos JOIN e ON e.vec_id = pos.anchor), " +
      s"sc AS (SELECT anchor, positive, c.vec_id AS cid, " +
      s"round(${cosSql("av", "c.v")}, 6) AS cos " +
      "FROM a JOIN e c ON c.label = a.label " +
      "AND c.vec_id <> a.anchor AND c.vec_id <> a.positive), " +
      "r AS (SELECT anchor, positive, cid, cos, row_number() OVER " +
      "(PARTITION BY anchor, positive ORDER BY cos DESC, cid) AS rn FROM sc) " +
      "SELECT anchor, positive, cid AS negative, cos AS neg_cos " +
      "FROM r WHERE rn = 1 ORDER BY anchor, positive"

  /** Mirrors q117: candidate pairs at est ≥ 0.5 attributed to their
    * least/greatest-normalized source pair. */
  val sourceOverlap: String =
    s"WITH $minhashCandCte " +
      s"SELECT least(da.source, db.source) AS source_a, " +
      "greatest(da.source, db.source) AS source_b, count(*)::BIGINT AS n_pairs " +
      s"FROM cand JOIN documents da ON cand.id_a = da.doc_id " +
      "JOIN documents db ON cand.id_b = db.doc_id " +
      s"WHERE $estJac >= 0.5 GROUP BY 1, 2 ORDER BY 1, 2"

  /** Mirrors q114: brute-force top-5 (ground truth) vs the sampled-IVF
    * top-5 (same derivations as [[simTopKBrute]] / [[simTopKIvfSampled]]),
    * reduced to per-query hit count and recall@5. */
  val annRecall: String = {
    val nCells = 16; val nProbe = 4
    s"WITH $embCte, " +
      "q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
      s"bs AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q0, e WHERE vec_id <> qid), " +
      "br AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM bs), " +
      "bt AS (SELECT qid, list(cid) AS gt FROM br WHERE rnk <= 5 GROUP BY 1), " +
      s"cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, " +
      "list_dot_product(v, v) AS cn2 " +
      s"FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nCells)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
      s"qp AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      s"as0 AS (SELECT qid, cid, round(${cosSql("qv", "cv")}, 6) AS cos " +
      "FROM qp JOIN corp USING (cell) WHERE cid <> qid), " +
      "ar AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM as0), " +
      "at2 AS (SELECT qid, list(cid) AS got FROM ar WHERE rnk <= 5 GROUP BY 1) " +
      "SELECT bt.qid, coalesce(len(list_intersect(bt.gt, at2.got)), 0)::BIGINT AS n_hit, " +
      "round(coalesce(len(list_intersect(bt.gt, at2.got)), 0) / 5.0, 6) AS recall " +
      "FROM bt LEFT JOIN at2 USING(qid) ORDER BY bt.qid"
  }

  /** Mirrors Similarity.topKPqSeeded at dim=64, m=8, ksub=16, candMult=8,
    * k=5. The hash-seeded codebooks are embedded as the SAME doubles the
    * Spark side builds (shortest round-trip repr → identical bits), so
    * encoding (argmin with first-match tie-break ≡ the struct sort in
    * pqAssign), the ADC sum (explicit left-associated chain ≡
    * `reduce(_+_)`), the candMult·k cut, and the exact re-rank all decide
    * identically in both engines. */
  val simTopKPqSeeded: String =
    simTopKPqBooks(graft.ops.Similarity.pqSeededBooks(8, 16, 64))

  /** The same chain over the PINNED Lloyd-trained codebooks
    * ([[graft.fixtures.PinnedIndex.pqBooksV1]], q221). */
  val simTopKPqPinned: String =
    simTopKPqBooks(graft.fixtures.PinnedIndex.pqBooksV1)

  private def simTopKPqBooks(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val dim = m * books.head.head.length
    val k = 5; val candMult = 8
    val dsub = dim / m
    def sub(v: String, s: Int) = s"$v[${s * dsub + 1}:${(s + 1) * dsub}]"
    // per-subspace code: first position of the min ADC-score over the 16
    // literal entries (1-based) minus 1 — ties resolve to the lowest j,
    // matching pqAssign's (score, code) struct sort
    def codeExpr(s: Int): String = {
      val scores = books(s).map { c =>
        val lits = c.mkString("[", ", ", "]")
        val cn2 = c.map(x => x * x).sum
        s"list_dot_product(${sub("v", s)}, $lits) * -2.0 + $cn2"
      }.mkString("[", ", ", "]")
      s"list_position($scores, list_min($scores)) - 1"
    }
    val codes = (0 until m).map(codeExpr).mkString("[", ", ", "]")
    // ADC: left-associated + chain over subspaces, codebook entry looked
    // up by the candidate's code (codes/list literals are 1-based)
    val adc = (0 until m).map { s =>
      val book = books(s).map(_.mkString("[", ", ", "]")).mkString("([", ", ", "])")
      s"list_dot_product(${sub("qv", s)}, $book[codes[${s + 1}] + 1])"
    }.mkString(" + ")
    s"WITH $embCte, " +
      "nrm AS (SELECT vec_id, [x / sqrt(list_dot_product(v, v)) for x in v] AS v FROM e), " +
      s"enc AS (SELECT vec_id AS cid, v AS cv, $codes AS codes FROM nrm), " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM nrm WHERE vec_id % 100 = 0), " +
      s"a AS (SELECT qid, cid, qv, cv, ($adc) AS adc FROM q CROSS JOIN enc WHERE cid <> qid), " +
      "cand AS (SELECT qid, cid, qv, cv, " +
      "row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS r FROM a), " +
      s"s AS (SELECT qid, cid, round(list_dot_product(qv, cv), 6) AS cos FROM cand WHERE r <= ${candMult * k}), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      s"SELECT qid, rnk, cid, cos FROM r WHERE rnk <= $k ORDER BY qid, rnk"
  }

  /** Mirrors Multimodal.decodeStub + the q23 aggregation: feature 8
    * (1-based) = the L1-normalized count of bytes with high nibble 7
    * (0x70–0x7F). The corpus is ASCII (bytes ≡ chars), so char arithmetic
    * reproduces the byte histogram; the division runs in REAL to match
    * the stub's Float arithmetic bit-for-bit before the double widening. */
  /** Mirrors Multimodal.realMediaFeatures + q23's per-kind rollup: the
    * PGM/WAV/Y4M payloads are deterministic functions of doc_id, so the
    * oracle recomputes header lengths, unit counts, and value sums from
    * the same arithmetic the encoders use — the Spark side must decode
    * actual container bytes back to these exact numbers. */
  /** Per-asset feature rows of the three REAL codecs (PGM/WAV/Y4M
    * formulas), ending in `f(doc_id, kind, n_bytes, units, val_sum)` —
    * shared by the q23 aggregate and q250's streaming per-row form. */
  private val multimodalRowCtes: String =
    "img AS (SELECT doc_id, 'image' AS kind, 8 + (doc_id % 9) AS w, " +
      "8 + (doc_id % 7) AS h FROM documents WHERE doc_id % 3 = 0), " +
      "imgf AS (SELECT doc_id, kind, " +
      "length('P5' || chr(10) || w::VARCHAR || ' ' || h::VARCHAR || chr(10) || '255' || chr(10)) " +
      "+ w*h AS n_bytes, w*h AS units, " +
      "list_sum(list_transform(range(w*h), i -> (doc_id*7 + i*13) % 256)) AS val_sum FROM img), " +
      "aud AS (SELECT doc_id, 'audio' AS kind, 200 + (doc_id % 100) AS n " +
      "FROM documents WHERE doc_id % 3 = 1), " +
      "audf AS (SELECT doc_id, kind, 44 + 2*n AS n_bytes, n AS units, " +
      "list_sum(list_transform(range(n), i -> ((doc_id*31 + i*17) % 65536) - 32768)) AS val_sum FROM aud), " +
      "vid AS (SELECT doc_id, 'video' AS kind, 4 + (doc_id % 4)*2 AS w, " +
      "4 + (doc_id % 3)*2 AS h, 2 + (doc_id % 3) AS fr FROM documents WHERE doc_id % 3 = 2), " +
      "vidf AS (SELECT doc_id, kind, " +
      "length('YUV4MPEG2 W' || w::VARCHAR || ' H' || h::VARCHAR || ' F25:1 Ip A1:1 C420' || chr(10)) " +
      "+ fr * (6 + (w*h*3)//2) AS n_bytes, fr AS units, " +
      "list_sum(list_transform(range(fr*w*h), j -> " +
      "(doc_id*11 + (j // (w*h))*7 + (j % (w*h))*5) % 256)) AS val_sum FROM vid), " +
      "f AS (SELECT doc_id, kind, n_bytes, units, val_sum FROM imgf " +
      "UNION ALL SELECT doc_id, kind, n_bytes, units, val_sum FROM audf " +
      "UNION ALL SELECT doc_id, kind, n_bytes, units, val_sum FROM vidf)"

  val multimodalReal: String =
    s"WITH $multimodalRowCtes " +
      "SELECT kind, count(*) AS n, sum(n_bytes)::BIGINT AS sum_bytes, " +
      "sum(units)::BIGINT AS sum_units, sum(val_sum)::BIGINT AS sum_val " +
      "FROM f GROUP BY kind ORDER BY kind"

  /** q250: the same per-asset rows, per-row (drained stream ≡ batch). */
  val streamMediaDecode: String =
    s"WITH $multimodalRowCtes " +
      "SELECT doc_id, kind, n_bytes::INT AS n_bytes, units::INT AS units, " +
      "val_sum::BIGINT AS val_sum FROM f ORDER BY doc_id"

  val multimodal: String =
    "WITH f AS (SELECT doc_id, " +
      "['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind, " +
      "length(text) AS nb, " +
      "(coalesce(list_sum([CASE WHEN ascii(text[i+1]) BETWEEN 112 AND 127 THEN 1 ELSE 0 END " +
      "for i in range(length(text))]), 0)::REAL / greatest(1, length(text))::REAL) AS f7 " +
      "FROM documents) " +
      "SELECT kind, count(*) AS n, round(avg(nb), 3) AS avg_bytes, " +
      "round(sum(f7::DOUBLE), 3) AS f7_sum FROM f GROUP BY kind ORDER BY kind"

  /** Mirrors Similarity.lshBucket: hyperplane components are the same
    * deterministic doubles (shortest round-trip repr -> identical bits). */
  val simTopKLsh: String = {
    val nBits = 4; val dim = 64
    val cellSql = (0 until nBits).map { j =>
      val plane = graft.ops.Similarity.planeComponents(j, dim)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $plane::DOUBLE[]) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"WITH $embCte, " +
      s"b AS (SELECT vec_id, v, $cellSql AS cell FROM e), " +
      "q AS (SELECT vec_id AS qid, v AS qv, cell FROM b WHERE vec_id % 100 = 0), " +
      s"s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "b.v")}, 6) AS cos " +
      "FROM q JOIN b ON b.cell = q.cell AND b.vec_id <> q.qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
  }

  /** Mirrors Similarity.topKLshMultiProbe: query probes its own cell plus
    * every cell at Hamming distance 1. */
  val simTopKLshMultiProbe: String = {
    val nBits = 4; val dim = 64
    val cellSql = (0 until nBits).map { j =>
      val plane = graft.ops.Similarity.planeComponents(j, dim)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $plane::DOUBLE[]) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val probeList = ("c0" +: (0 until nBits).map(j => s"xor(c0, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"WITH $embCte, " +
      s"b AS (SELECT vec_id, v, $cellSql AS cell FROM e), " +
      s"q0 AS (SELECT vec_id AS qid, v AS qv, cell AS c0 FROM b WHERE vec_id % 100 = 0), " +
      s"q AS (SELECT qid, qv, unnest($probeList) AS cell FROM q0), " +
      s"s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "b.v")}, 6) AS cos " +
      "FROM q JOIN b ON b.cell = q.cell AND b.vec_id <> q.qid), " +
      "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
      "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
  }

  private def hitRatioSql(listSql: String): String =
    s"(CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
      s"len(list_filter(toks, t -> list_contains($listSql, t))) * 1.0 / len(toks) END)"

  private def langList(lang: String): String =
    graft.ops.TextAnalysis.stopwords.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")

  val textLangId: String = {
    val scores = Seq("de", "en", "es", "fr")
      .map(l => s"${hitRatioSql(langList(l))} AS s_$l").mkString(", ")
    s"WITH $tokCte, " +
      s"sc AS (SELECT doc_id, $scores FROM tok), " +
      "m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, greatest(s_de, s_en, s_es, s_fr) AS mx FROM sc) " +
      "SELECT doc_id, CASE WHEN mx <= 0.0 THEN 'und' WHEN s_de = mx THEN 'de' " +
      "WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es' ELSE 'fr' END AS lang_pred, " +
      "round(s_en, 6) AS s_en FROM m ORDER BY doc_id"
  }

  /** langid-vs-declared-language confusion matrix: q19's prediction CTE
    * joined back to the declared `lang`, collapsed to the cell grid;
    * margins and the global accuracy are windows over the grid. */
  val langConfusion: String = {
    val scores = Seq("de", "en", "es", "fr")
      .map(l => s"${hitRatioSql(langList(l))} AS s_$l").mkString(", ")
    s"WITH $tokCte, " +
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
  }

  /** HITS over the directed customer→supplier graph, 4 unrolled
    * max-normalized iterations mirroring `Graph.hits` step for step:
    * h₁ = outdeg (Σ of the all-ones authority init), every score
    * round(x/max, 9) per round, 6dp on output. Every CTE is
    * MATERIALIZED: DuckDB inlines a plain CTE at each reference, and each
    * round reads the one before it several times, so the inlined chain
    * re-ran the earlier rounds over and over (718 s at sf0.01 on two
    * DuckDB threads, 0.6 s materialized, the same 1600 rows). */
  val hits: String = {
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
  }

  val textQuality: String =
    s"WITH $tokCte, " +
      "q AS (SELECT doc_id, len(toks) AS n_words, " +
      "CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks) END AS avg_wlen, " +
      "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) AS punct_ratio, " +
      s"${hitRatioSql(langList("en"))} AS stop_ratio FROM tok) " +
      "SELECT doc_id, n_words, round(avg_wlen, 6) AS avg_wlen, round(punct_ratio, 6) AS punct_ratio, " +
      "round(stop_ratio, 6) AS stop_ratio, " +
      "round(stop_ratio * 0.5 + least(n_words / 100.0, 1.0) * 0.5 - punct_ratio * 0.25, 6) AS quality " +
      "FROM q ORDER BY doc_id"

  val textTokens: String =
    "SELECT source, count(*) AS n_docs, " +
      // ::BIGINT: DuckDB sum(INTEGER) yields HUGEINT, which pandas widens to
      // float64 and the driver's hash compare then mismatches vs Spark's long.
      "sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS sum_ws, " +
      "sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))::BIGINT AS sum_bpe, " +
      "sum(length(text))::BIGINT AS sum_chars " +
      "FROM documents GROUP BY 1 ORDER BY 1"

  val textFingerprint: String =
    s"WITH $tokCte " +
      s"SELECT doc_id, ${h60("array_to_string(toks, ' ')")} AS fp_content, " +
      s"list_reduce(list_prepend(0::BIGINT, [${h60("t")} % $P for t in toks]), " +
      s"(a, b) -> (a * 31 + b) % $P) AS fp_poly " +
      "FROM tok ORDER BY doc_id"

  /** E2/E3 (v1/v2) pipeline: case-preserving UNKNOWN surname + A1 3-key
    * sum aggregate — mirrors TimesheetPipeline.pipelineV1. */
  val pipelineV1: String =
    s"WITH ${Oracles.wideCte}, ${Oracles.meltCte}, " +
      "cleanv1 AS (SELECT rid, commessa, " +
      s"${Oracles.dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} + doff AS data, " +
      "CASE WHEN trim(autore) = '' THEN 'UNKNOWN' ELSE regexp_split_to_array(trim(autore), '\\s+')[-1] END AS surname, " +
      "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw " +
      "FROM melt WHERE weekrange LIKE '% al %'), " +
      "keptv1 AS (SELECT data, commessa, surname, ore FROM cleanv1 " +
      "WHERE ore_raw IS NOT NULL AND ore <> 0.0 AND data IS NOT NULL) " +
      "SELECT data, commessa, surname, sum(ore) AS ore FROM keptv1 " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"

  /** Mirrors Dedup.decontaminate at n=4 over the doc_id%20 corpus/bench
    * split: corpus docs sharing no word 4-gram with the benchmark set. */
  val decontam: String =
    s"WITH $tokCte, " +
      "ng AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+4], ' ') " +
      "for i in range(len(toks)-3)]) AS shs FROM tok), " +
      "c AS (SELECT doc_id, unnest(shs) AS s FROM ng WHERE doc_id % 20 <> 0), " +
      "b AS (SELECT DISTINCT unnest(shs) AS s FROM ng WHERE doc_id % 20 = 0), " +
      "bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b ON c.s = b.s) " +
      "SELECT d.doc_id, d.source FROM documents d " +
      "WHERE d.doc_id % 20 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad) " +
      "ORDER BY d.doc_id"

  /** Mirrors Dedup.bloomContamination (m=2^17, k=3, n=4) over the same
    * doc_id%20 split, labeled against the exact contamination check. */
  val bloomDecontam: String =
    s"WITH $tokCte, " +
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
      "FROM fl f LEFT JOIN ex ON f.doc_id = ex.doc_id ORDER BY f.doc_id"

  /** Mirrors TextAnalysis.invertedIndex at n=3, df ∈ [3, 7]. */
  val invertedIndex: String =
    s"WITH $tokCte, " +
      "ng AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
      "for i in range(len(toks)-2)])) AS term FROM tok), " +
      "d AS (SELECT term, count(*)::BIGINT AS df FROM ng GROUP BY 1 " +
      "HAVING count(*) BETWEEN 3 AND 7) " +
      "SELECT d.term, d.df, string_agg(ng.doc_id::VARCHAR, ';' ORDER BY ng.doc_id) " +
      "AS postings FROM d JOIN ng USING (term) GROUP BY 1, 2 ORDER BY term"

  /** Mirrors TextAnalysis.phraseSearch for the fixed 4-token phrase. */
  val phraseSearch: String =
    s"WITH $tokCte, " +
      "m AS (SELECT doc_id, len([i for i in range(len(toks)-3) " +
      "if toks[i+1:i+4] = ['filter', 'value', 'small', 'value']])::BIGINT " +
      "AS n_occurrences FROM tok) " +
      "SELECT doc_id, n_occurrences FROM m WHERE n_occurrences > 0 ORDER BY doc_id"

  /** Mirrors TextAnalysis.repetitionStats + the q60 keep rule. */
  val repetition: String =
    s"WITH $tokCte, " +
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
      "FROM r ORDER BY doc_id"

  /** Mirrors TextAnalysis.bigramLmScore at vocabSize=20: add-1-smoothed
    * self-trained bigram LM over a top-20 vocab (rest → <unk>),
    * avg_nll = −mean ln (c(w1,w2)+1)/(c(w1)+|vocab|+1). */
  /** The shared bigram-LM training chain (top-20 vocab, unk-mapping,
    * bigram-type counts `lm`, context totals `ctx`) — the model half of
    * q61's add-1 scorer and q232's Kneser–Ney scorer. */
  private val lmBaseCtes: String =
    s"$tokCte, " +
      "u AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS pos FROM tok), " +
      "vc AS (SELECT t AS token, count(*) AS freq FROM u GROUP BY 1), " +
      "vocab AS (SELECT token FROM vc ORDER BY freq DESC, token LIMIT 20), " +
      "m AS (SELECT doc_id, pos, CASE WHEN t IN (SELECT token FROM vocab) " +
      "THEN t ELSE '<unk>' END AS t FROM u), " +
      "bg AS (SELECT doc_id, t AS w1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM m), " +
      "b AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL), " +
      "lm AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2), " +
      "ctx AS (SELECT w1, sum(cb) AS cw FROM lm GROUP BY 1)"

  /** The q61 bigram-LM CTE chain up to per-doc raw NLL (shared with the
    * composite curation pipeline). */
  private val lmCtes: String =
    s"$lmBaseCtes, " +
      "nv AS (SELECT count(*) AS nv FROM vocab), " +
      "sc AS (SELECT doc_id, avg(-ln((cb + 1.0) / (cw + nv + 1.0))) AS nll " +
      "FROM b JOIN lm USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN nv GROUP BY doc_id), " +
      "scored AS (SELECT d.doc_id, round(coalesce(nll, 0.0), 6) AS avg_nll " +
      "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)"

  val lmScore: String =
    s"WITH $lmCtes SELECT doc_id, avg_nll FROM scored ORDER BY doc_id"

  /** Mirrors TextAnalysis.knBigramScore at vocabSize=20, D=0.75: the
    * same training chain as q61 ([[lmBaseCtes]]), interpolated
    * Kneser–Ney probability — N1+(w1,·)/N1+(·,w2) are row counts of the
    * bigram-TYPE table, Pcont the backward count over total types, and
    * the discounted/backoff arithmetic is written in the exact
    * association order of the Spark expression. */
  val knScore: String =
    s"WITH $lmBaseCtes, " +
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
      "SELECT doc_id, avg_nll FROM scored ORDER BY doc_id"

  /** Composite curation: LM score → tercile bands (cuts = interpolated
    * quantiles rounded 6dp, same in both engines) → exact per-band hash
    * quotas (100 default, bad band capped at 20). */
  val qualityMix: String =
    s"WITH $lmCtes, " +
      "cut AS (SELECT round(quantile_cont(avg_nll, 0.3333), 6) AS c1, " +
      "round(quantile_cont(avg_nll, 0.6667), 6) AS c2 FROM scored), " +
      "bd AS (SELECT doc_id, CASE WHEN avg_nll <= c1 THEN 'good' " +
      "WHEN avg_nll <= c2 THEN 'mid' ELSE 'bad' END AS band " +
      "FROM scored CROSS JOIN cut), " +
      "r AS (SELECT doc_id, band, row_number() OVER (PARTITION BY band " +
      s"ORDER BY ${h60("doc_id::VARCHAR")}, doc_id) AS rn FROM bd) " +
      "SELECT doc_id, band FROM r " +
      "WHERE rn <= CASE WHEN band = 'bad' THEN 20 ELSE 100 END ORDER BY doc_id"

  val sessionWindow: String =
    "WITH g AS (SELECT user_id, ts, value, " +
      "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
      "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE " +
      "THEN 1 ELSE 0 END AS ns FROM events), " +
      "s AS (SELECT user_id, ts, value, " +
      "sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
      "SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, " +
      "user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value " +
      "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"

  /** Logistic-regression quality classifier (mirrors
    * `Models.logregFit(iters = 3, lr = 5.0)` + `logregScore`): the three
    * full-batch GD steps unrolled as CTEs, each one average over the
    * feature CTE with the previous 1-row weights cross-joined in — the
    * same min()-over-constant trick and the same left-associated z so
    * both engines walk the identical float path. */
  /** Shared CTE prefix ending in `scored(doc_id, y, prob)` — the
    * 3-step logreg fit + 6dp-rounded sigmoid scores; consumed by the
    * quality row (q163) and the model-governance rows (q177 calibration,
    * q179 AUC), so all three govern the SAME model. */
  private val logregScoredCte: String = {
    val z = "b + w1*x1 + w2*x2 + w3*x3"
    val sig = s"1.0/(1.0+exp(-($z)))"
    def step(prev: String): String =
      s"(SELECT min(b) - 5.0*avg($sig - y) AS b, " +
        s"min(w1) - 5.0*avg(($sig - y)*x1) AS w1, " +
        s"min(w2) - 5.0*avg(($sig - y)*x2) AS w2, " +
        s"min(w3) - 5.0*avg(($sig - y)*x3) AS w3 FROM f, $prev)"
    "WITH lt AS (SELECT doc_id, lang, text, " +
      "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
      "f AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, " +
      s"${hitRatioSql(langList("en"))} AS x1, " +
      "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) AS x2, " +
      "least(len(toks) / 100.0, 1.0) AS x3 FROM lt), " +
      // step 1 from w = 0: σ(0) = 0.5 exactly, closed form
      "g1 AS (SELECT 0.0 - 5.0*avg(0.5 - y) AS b, " +
      "0.0 - 5.0*avg((0.5 - y)*x1) AS w1, " +
      "0.0 - 5.0*avg((0.5 - y)*x2) AS w2, " +
      "0.0 - 5.0*avg((0.5 - y)*x3) AS w3 FROM f), " +
      s"g2 AS ${step("g1")}, g3 AS ${step("g2")}, " +
      s"scored AS (SELECT doc_id, y, round($sig, 6) AS prob FROM f, g3)"
  }

  val logregQuality: String =
    logregScoredCte + " SELECT doc_id, y, prob, prob >= 0.5 AS pred " +
      "FROM scored ORDER BY doc_id"

  /** Mirrors q252: the shared scored frame ranked by distance to the
    * 0.5 decision boundary (6dp-rounded probs are identical doubles in
    * both engines, so the |prob − 0.5| order needs no extra rounding),
    * doc_id ties, first 100. */
  val uncertaintySample: String =
    logregScoredCte + ", r AS (SELECT doc_id, prob, " +
      "row_number() OVER (ORDER BY abs(prob - 0.5), doc_id) AS rnk " +
      "FROM scored) " +
      "SELECT doc_id, prob, rnk::INT AS rnk FROM r WHERE rnk <= 100 " +
      "ORDER BY rnk"

  /** Score-quantile calibration deciles over the shared scored frame:
    * bin = number of 6dp-rounded quantile cuts strictly below the score
    * (quantile_cont ≡ Spark's interpolated percentile); Brier = global
    * Σ(p−y)²/N off the same per-bin partials. */
  val logregCalibration: String = {
    val qs = (1 until 10).map(i => s"0.${i}").mkString(", ")
    logregScoredCte + s", k AS (SELECT list_transform(" +
      s"quantile_cont(prob, [$qs]), c -> round(c, 6)) AS cuts FROM scored), " +
      "c AS (SELECT len(list_filter(k.cuts, c -> prob > c))::INT AS bin, " +
      "prob, y FROM scored CROSS JOIN k), " +
      "b AS (SELECT bin, count(*)::BIGINT AS n, " +
      "round(avg(prob), 6) AS mean_prob, round(avg(y), 6) AS pos_rate, " +
      "sum(power(prob - y, 2)) AS se FROM c GROUP BY 1) " +
      "SELECT bin, n, mean_prob, pos_rate, " +
      "round(sum(se) OVER () / sum(n) OVER (), 6) AS brier " +
      "FROM b ORDER BY bin"
  }

  /** Mann–Whitney midrank AUC over the distinct-score grid of the
    * shared scored frame. */
  val logregAuc: String =
    logregScoredCte + ", g AS (SELECT prob AS s, count(*)::BIGINT AS cnt, " +
      "sum(y) AS pos FROM scored GROUP BY 1), " +
      "r AS (SELECT s, cnt, pos, coalesce(sum(cnt) OVER (ORDER BY s " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM g), " +
      "a AS (SELECT sum(pos)::BIGINT AS n_pos, " +
      "(sum(cnt) - sum(pos))::BIGINT AS n_neg, " +
      "sum(pos * (cumb + (cnt + 1.0) / 2.0)) AS rpos FROM r), " +
      "o AS (SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
      "round((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) END " +
      "AS auc FROM a) " +
      "SELECT n_pos, n_neg, auc, round(auc * 2 - 1, 6) AS gini FROM o"

  /** Per-event-type OLS trend (mirrors `Models.linearTrend`): the same
    * covar_pop/var_pop/corr moment formulation over x re-based to days
    * since the window start; DuckDB's epoch() keeps microseconds as a
    * fractional double exactly like Spark's timestamp→double cast. */
  val eventTrend: String =
    "WITH p AS (SELECT event_type, " +
      "(epoch(ts) - 1704067200.0)/86400.0 AS x, value AS v FROM events " +
      "WHERE ts IS NOT NULL AND value IS NOT NULL) " +
      "SELECT event_type, count(*)::BIGINT AS n, " +
      "round(covar_pop(x, v)/var_pop(x), 6) AS slope, " +
      "round(avg(v) - (covar_pop(x, v)/var_pop(x))*avg(x), 6) AS intercept, " +
      "round(covar_pop(x, v)/sqrt(var_pop(x)*var_pop(v)), 6) AS r " +
      "FROM p GROUP BY 1 ORDER BY 1"

  /** Per-key interpolated histogram quantile (mirrors
    * `Temporal.histQuantile` / the q156 interpolation): `src` must expose
    * (k, `$vcol`); appends CTEs `<pfx>b/<pfx>bb/<pfx>c/<pfx>cc/<pfx>m`,
    * with `<pfx>m` = (k, med). Arithmetic forced to DOUBLE throughout
    * (`p::DOUBLE`) so both engines run identical IEEE ops. */
  def histMedianCtes(src: String, vcol: String, pfx: String, bins: Int,
      p: Double = 0.5): String =
    s"${pfx}b AS (SELECT k, min($vcol)::DOUBLE AS lo, max($vcol)::DOUBLE AS hi, " +
      s"count(*)::BIGINT AS n FROM $src GROUP BY 1), " +
      s"${pfx}bb AS (SELECT s.k, CASE WHEN b.hi = b.lo THEN 0 ELSE " +
      s"least(${bins - 1}, floor((s.$vcol::DOUBLE - b.lo) / " +
      s"((b.hi - b.lo) / $bins))::INT) END AS bin " +
      s"FROM $src s JOIN ${pfx}b b ON s.k = b.k), " +
      s"${pfx}c AS (SELECT k, bin, count(*)::BIGINT AS cnt FROM ${pfx}bb " +
      "GROUP BY 1, 2), " +
      s"${pfx}cc AS (SELECT k, bin, cnt, sum(cnt) OVER (PARTITION BY k " +
      s"ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM ${pfx}c), " +
      s"${pfx}sel AS (SELECT cc.k, min(cc.bin) AS bin FROM ${pfx}cc cc " +
      s"JOIN ${pfx}b b ON cc.k = b.k WHERE cc.cum >= $p::DOUBLE * b.n " +
      "GROUP BY 1), " +
      s"${pfx}m AS (SELECT s.k, round(CASE WHEN b.hi = b.lo THEN b.lo ELSE " +
      s"b.lo + ((b.hi - b.lo) / $bins) * (s.bin + " +
      s"($p::DOUBLE * b.n - (cc.cum - cc.cnt)) / cc.cnt) END, 6) AS med " +
      s"FROM ${pfx}sel s JOIN ${pfx}b b ON s.k = b.k " +
      s"JOIN ${pfx}cc cc ON cc.k = s.k AND cc.bin = s.bin)"

  /** `Temporal.madOutliersApprox` on events: two histogram-median passes
    * (value, then residual), then the exact twin's flagging arithmetic. */
  val madApprox: String =
    "WITH src AS (SELECT event_type AS k, event_id AS id, value::DOUBLE AS v " +
      "FROM events WHERE value IS NOT NULL), " +
      histMedianCtes("src", "v", "h1", 256) + ", " +
      "r AS (SELECT src.k, src.id, src.v, m.med, abs(src.v - m.med) AS resid " +
      "FROM src JOIN h1m m ON src.k = m.k), " +
      histMedianCtes("r", "resid", "h2", 256) + ", " +
      "f AS (SELECT r.k, r.id, r.v, r.med, d.med AS mad FROM r " +
      "JOIN h2m d ON r.k = d.k) " +
      "SELECT id AS event_id, k AS event_type, v AS value, med, mad, " +
      "CASE WHEN mad > 0 THEN round(0.6745 * (v - med) / mad, 6) END AS mz " +
      "FROM f WHERE (mad > 0 AND " +
      "abs(round(0.6745 * (v - med) / mad, 6)) >= 3.5) " +
      "OR (mad = 0 AND v != med) ORDER BY event_id"

  /** Mirrors Models.naiveBayesFit + naiveBayesScore on documents with
    * y = (lang = 'en'): top-`vocabSize` vocab (freq desc, token), Laplace
    * class likelihoods over in-vocab tokens WITH multiplicity, doc-count
    * log-prior, per-doc llr sums with OOV skipped, 6dp round before the
    * > 0 decision (both engines threshold the ROUNDED value). */
  def naiveBayes(vocabSize: Int): String =
    s"WITH $tokCte, " +
      "tk AS (SELECT doc_id, unnest(toks) AS token FROM tok), " +
      "vf AS (SELECT token, count(*) AS freq FROM tk GROUP BY 1), " +
      s"v AS (SELECT token FROM vf ORDER BY freq DESC, token LIMIT $vocabSize), " +
      "lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM documents), " +
      "tv AS (SELECT t.doc_id, l.y, t.token FROM tk t " +
      "JOIN v USING (token) JOIN lab l USING (doc_id)), " +
      "c AS (SELECT token, count(*) FILTER (WHERE y = 1) AS c1, " +
      "count(*) FILTER (WHERE y = 0) AS c0 FROM tv GROUP BY 1), " +
      "tot AS (SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS nv FROM c), " +
      "pr AS (SELECT ln((count(*) FILTER (WHERE y = 1))::DOUBLE / " +
      "(count(*) FILTER (WHERE y = 0))) AS lp FROM lab), " +
      "m AS (SELECT token, ln((c1 + 1.0) / (t1 + nv)) - " +
      "ln((c0 + 1.0) / (t0 + nv)) AS llr FROM c, tot), " +
      "s AS (SELECT t.doc_id, sum(m.llr) AS sl FROM tk t " +
      "JOIN m USING (token) GROUP BY 1) " +
      "SELECT l.doc_id, l.y::INT AS y, " +
      "round(pr.lp + coalesce(s.sl, 0), 6) AS log_odds, " +
      "(round(pr.lp + coalesce(s.sl, 0), 6) > 0)::INT AS pred " +
      "FROM lab l LEFT JOIN s USING (doc_id), pr ORDER BY l.doc_id"

  /** Entity-decode chain mirroring Html.decodeEntities (&amp; LAST). */
  private def htmlEnt(e: String): String =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "''",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(e) { case (acc, (pat, rep)) =>
        s"replace($acc, '$pat', '$rep')"
      }

  /** Mirrors the q255 synthetic page + Html.{title, visibleText,
    * tagCount, anchorTexts, linkDensity}: script/style payloads dropped
    * via two non-greedy dotall passes, tags → spaces, entities decoded
    * (&amp; last), whitespace collapsed; density = raw anchor-inner
    * chars / visible chars, 6dp. */
  val htmlExtract: String = {
    val page = "'<html><head><title>Doc ' || doc_id || ' &amp; ' || " +
      "upper(source) || '</title><style>p { color: red; }</style>" +
      "</head><body><script>var x = 1 < 2;</script><h1>' || source || " +
      "'</h1><p>' || text || '</p><a href=\"/s/' || source || '\">' || " +
      "source || ' home</a>' || CASE WHEN doc_id % 3 = 0 THEN " +
      "'<a href=\"/more\">read &gt; more</a>' ELSE '' END || " +
      "'</body></html>'"
    val noCode = "regexp_replace(regexp_replace(html, " +
      "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    val vis = "trim(regexp_replace(" +
      htmlEnt(s"regexp_replace($noCode, '<[^>]*>', ' ', 'g')") +
      ", '\\s+', ' ', 'g'))"
    val ttl = "trim(regexp_replace(" +
      htmlEnt("regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)") +
      ", '\\s+', ' ', 'g'))"
    val anchors = "regexp_extract_all(html, '(?is)<a\\b[^>]*>(.*?)</a>', 1)"
    s"WITH h AS (SELECT doc_id, $page AS html FROM documents), " +
      s"x AS (SELECT doc_id, $ttl AS title, $vis AS text_clean, " +
      "len(regexp_extract_all(html, '<[a-zA-Z][^>]*>'))::BIGINT AS n_tags, " +
      s"len($anchors)::BIGINT AS n_links, " +
      s"coalesce(list_sum(list_transform($anchors, t -> length(t))), 0) " +
      "AS lc FROM h) " +
      "SELECT doc_id, title, text_clean, n_tags, n_links, " +
      "round(CASE WHEN length(text_clean) = 0 THEN 0.0::DOUBLE " +
      "ELSE lc::DOUBLE / length(text_clean) END, 6) AS link_density " +
      "FROM x ORDER BY doc_id"
  }

  /** Mirrors the q256 synthetic match stream + Models.bradleyTerry: the
    * MM recurrence runs as a recursive CTE carrying the rating vector as
    * a LIST, with the win vector and the flattened games matrix built
    * once and cross-joined in (single recursive reference). Per-step
    * 9dp rounding after sum-normalization, exactly the Scala loop. */
  def bradleyTerry(iters: Int): String =
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

  /** Mirrors Similarity.pcaProject (q257): 9dp-rounded mean and raw
    * second moments, covariance as their difference (9dp), `iters`
    * power-iteration rounds carried as a LIST through a recursive CTE
    * (components 9dp per step — the Bradley–Terry/Holt recurrence
    * pattern), then per-vector projection v·x − v·μ at 6dp and the
    * constant λ₁/trace at 6dp. */
  def pcaProject(dim: Int, iters: Int): String = {
    val rng = s"range($dim)"
    "WITH RECURSIVE " +
      "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "a AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x " +
      "FROM e), " +
      "m AS (SELECT i, round(avg(x), 9) AS mu FROM a GROUP BY 1), " +
      "ml AS (SELECT list(mu ORDER BY i) AS mul FROM m), " +
      "r2 AS (SELECT p.i AS i, q.i AS j, round(avg(p.x * q.x), 9) AS m2 " +
      "FROM a p JOIN a q USING (vec_id) GROUP BY 1, 2), " +
      "cm AS (SELECT r2.i, r2.j, round(m2 - mi.mu * mj.mu, 9) AS c " +
      "FROM r2 JOIN m mi ON mi.i = r2.i JOIN m mj ON mj.i = r2.j), " +
      "cll AS (SELECT list(c ORDER BY i, j) AS cv FROM cm), " +
      "it(iter, vv) AS (" +
      s"SELECT 0, list_transform($rng, x -> " +
      s"round(1.0::DOUBLE / sqrt($dim::DOUBLE), 9)) " +
      "UNION ALL " +
      "SELECT iter + 1, list_transform(w, x -> round(x / nrm, 9)) " +
      "FROM (SELECT iter, w, sqrt(list_sum(list_transform(w, y -> y * y))) " +
      s"AS nrm FROM (SELECT iter, list_transform($rng, i -> " +
      s"list_sum(list_transform($rng, j -> cv[i*$dim+j+1] * vv[j+1]))) AS w " +
      s"FROM it, cll WHERE iter < $iters))), " +
      s"fin AS (SELECT vv FROM it WHERE iter = $iters), " +
      s"lam AS (SELECT list_sum(list_transform($rng, i -> vv[i+1] * " +
      s"list_sum(list_transform($rng, j -> cv[i*$dim+j+1] * vv[j+1])))) AS l, " +
      s"list_sum(list_transform($rng, i -> cv[i*$dim+i+1])) AS tr, " +
      s"list_sum(list_transform($rng, k -> mul[k+1] * vv[k+1])) AS mdv " +
      "FROM fin, cll, ml) " +
      s"SELECT e.vec_id, round(list_sum(list_transform($rng, k -> " +
      "e.v[k+1] * vv[k+1])) - mdv, 6) AS pc1, " +
      "round(l / tr, 6) AS var_explained " +
      "FROM e, fin, lam ORDER BY e.vec_id"
  }

  /** Mirrors q263: exact-cosine top-k ∩ sign-bit Hamming top-k per
    * query (the q114 recall harness pointed at the 1-bit tier). */
  def binaryRecall(k: Int): String =
    s"WITH $embCte, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
      s"s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) " +
      "AS cos FROM q, e WHERE vec_id <> qid), " +
      "r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, cid) AS rnk FROM s), " +
      s"gt AS (SELECT qid, cid FROM r WHERE rnk <= $k), " +
      "bp AS (SELECT vec_id, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
      "FROM e), " +
      "qb AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM bp " +
      "WHERE vec_id % 100 = 0), " +
      "sb AS (SELECT qid, bp.vec_id AS cid, " +
      "bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) AS hd " +
      "FROM bp CROSS JOIN qb WHERE bp.vec_id <> qid), " +
      "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY hd, cid) AS rnk FROM sb), " +
      s"got AS (SELECT qid, cid FROM rb WHERE rnk <= $k) " +
      "SELECT g.qid, count(o.cid)::BIGINT AS n_hit, " +
      s"round(count(o.cid) / $k.0::DOUBLE, 6) AS recall " +
      "FROM gt g LEFT JOIN got o ON o.qid = g.qid AND o.cid = g.cid " +
      "GROUP BY 1 ORDER BY g.qid"

  /** Mirrors q267: per prefix width, exact truncated-cosine top-k ∩ the
    * full-dimension top-k. */
  def matryoshkaRecall(k: Int, dims: Seq[Int]): String = {
    val gtArm =
      s"s AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) " +
        "AS cos FROM q, e WHERE vec_id <> qid), " +
        "r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
        "ORDER BY cos DESC, cid) AS rnk FROM s), " +
        s"gt AS (SELECT qid, cid FROM r WHERE rnk <= $k)"
    val arms = dims.map { d =>
      s"s$d AS (SELECT qid, vec_id AS cid, " +
        s"round(${cosSql(s"qv[1:$d]", s"v[1:$d]")}, 6) AS cos " +
        "FROM q, e WHERE vec_id <> qid), " +
        s"r$d AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
        s"ORDER BY cos DESC, cid) AS rnk FROM s$d), " +
        s"g$d AS (SELECT $d AS dim, qid, cid FROM r$d WHERE rnk <= $k)"
    }.mkString(", ")
    val unionGot = dims.map(d => s"SELECT * FROM g$d").mkString(" UNION ALL ")
    s"WITH $embCte, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
      s"$gtArm, $arms, got AS ($unionGot) " +
      "SELECT got.dim::INT AS dim, g.qid, count(o.cid)::BIGINT AS n_hit, " +
      s"round(count(o.cid) / $k.0::DOUBLE, 6) AS recall " +
      "FROM gt g CROSS JOIN (SELECT DISTINCT dim FROM got) got " +
      "LEFT JOIN got o ON o.qid = g.qid AND o.cid = g.cid " +
      "AND o.dim = got.dim " +
      "GROUP BY 1, 2 ORDER BY dim, g.qid"
  }

  /** Mirrors TextAnalysis.codeSwitchScore (q278): 10-token segments,
    * per-segment stopword language-ID (same tie order), per-doc vote
    * counts → top language (count desc, lang asc) + share + entropy. */
  val codeSwitch: String = {
    def hr(lang: String): String =
      s"(CASE WHEN len(st) = 0 THEN 0.0 ELSE " +
        s"len(list_filter(st, t -> list_contains(${langList(lang)}, t))) " +
        "* 1.0 / len(st) END)"
    val scores = Seq("de", "en", "es", "fr")
      .map(l => s"${hr(l)} AS s_$l").mkString(", ")
    s"WITH $tokCte, " +
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
  }

  /** Mirrors q277: sign-bit Hamming top-candK candidates, exact-cosine
    * rerank to top-k (ties: hamming→cid on tier 1, cos desc→cid on
    * tier 2). */
  def binaryRerank(candK: Int, k: Int): String =
    s"WITH $embCte, " +
      "bp AS (SELECT vec_id, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
      "FROM e), " +
      "qb AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM bp " +
      "WHERE vec_id % 100 = 0), " +
      "sb AS (SELECT qid, bp.vec_id AS cid, " +
      "bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) AS hd " +
      "FROM bp CROSS JOIN qb WHERE bp.vec_id <> qid), " +
      "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY hd, cid) AS rnk FROM sb), " +
      s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
      "sc AS (SELECT cand.qid, cand.cid, " +
      s"round(${cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
      "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
      "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
      s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
      "ORDER BY qid, rnk"

  /** Mirrors q322: pinned-cell assignment (the q220 scored/rn chain) +
    * sign-bit Hamming WITHIN probed cells + exact-cosine rerank —
    * candidates exist only where a query probe and a corpus assignment
    * share a cell. */
  def binaryCellRerank(candK: Int, k: Int, nProbe: Int): String =
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, cell FROM scored WHERE rn = 1), " +
      "qc AS (SELECT vec_id AS qid, cell FROM scored " +
      s"WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      "bp AS (SELECT vec_id, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
      "list_sum(list_transform(range(32), i -> " +
      "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
      "FROM e), " +
      "sb AS (SELECT qc.qid, corp.cid, " +
      "bit_count(xor(qb.w0, cb.w0)) + bit_count(xor(qb.w1, cb.w1)) AS hd " +
      "FROM qc JOIN corp USING (cell) " +
      "JOIN bp qb ON qb.vec_id = qc.qid JOIN bp cb ON cb.vec_id = corp.cid " +
      "WHERE corp.cid <> qc.qid), " +
      "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY hd, cid) AS rnk FROM sb), " +
      s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
      "sc AS (SELECT cand.qid, cand.cid, " +
      s"round(${cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
      "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
      "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
      s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
      "ORDER BY qid, rnk"

  /** Mirrors q329: the q322 pinned-cell chain with ASYMMETRIC candidate
    * scoring — the query stays un-quantized (exact integer micro-units,
    * `round(qᵢ·10⁶)::BIGINT`, so the sum is order-independent across
    * engines) and candidates contribute ±qᵢ by their sign bit; rerank
    * unchanged. */
  def asymCellRerank(candK: Int, k: Int, nProbe: Int): String =
    s"WITH $embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, cell FROM scored WHERE rn = 1), " +
      "qc AS (SELECT vec_id AS qid, cell FROM scored " +
      s"WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      "sb AS (SELECT qc.qid, corp.cid, " +
      "list_sum(list_transform(range(64), i -> " +
      "CASE WHEN cv.v[i+1] > 0 THEN round(qv.v[i+1] * 1000000)::BIGINT " +
      "ELSE -(round(qv.v[i+1] * 1000000)::BIGINT) END))::BIGINT AS asym " +
      "FROM qc JOIN corp USING (cell) " +
      "JOIN e qv ON qv.vec_id = qc.qid JOIN e cv ON cv.vec_id = corp.cid " +
      "WHERE corp.cid <> qc.qid), " +
      "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY asym DESC, cid) AS rnk FROM sb), " +
      s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
      "sc AS (SELECT cand.qid, cand.cid, " +
      s"round(${cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
      "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
      "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
      s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
      "ORDER BY qid, rnk"

  /** Shared CTE chain for the residual serving oracles (q341/q342):
    * pinned-cell assignment + probes (the q322 chain), micro-integer
    * centroid lists, per-corpus-row residual int lists, per-probe query
    * micro dims and the exact Σ Qᵢ·Cᵢ term. */
  private def residualBase(nProbe: Int): String =
    s"$embCte, " +
      s"cent AS (SELECT * FROM (VALUES $pinnedCentRows) t(cell, cv, cn2)), " +
      "cm AS (SELECT cell, list_transform(cv, " +
      "x -> round(x * 1000000)::BIGINT) AS cmv FROM cent), " +
      "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
      "FROM e CROSS JOIN cent), " +
      "corp AS (SELECT vec_id AS cid, cell FROM scored WHERE rn = 1), " +
      "qc AS (SELECT vec_id AS qid, cell FROM scored " +
      s"WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
      // corpus residual ints against the row's own cell
      "cr AS (SELECT corp.cid, corp.cell, " +
      "list_transform(range(64), i -> " +
      "round(cv.v[i+1] * 1000000)::BIGINT - cm.cmv[i+1]) AS r " +
      "FROM corp JOIN e cv ON cv.vec_id = corp.cid " +
      "JOIN cm ON cm.cell = corp.cell), " +
      // query micro dims + A = SUM Q*C per probed cell
      "qm AS (SELECT qc.qid, qc.cell, " +
      "list_transform(qv.v, x -> round(x * 1000000)::BIGINT) AS q, " +
      "list_sum(list_transform(range(64), i -> " +
      "round(qv.v[i+1] * 1000000)::BIGINT * cm.cmv[i+1]))::BIGINT AS a " +
      "FROM qc JOIN e qv ON qv.vec_id = qc.qid " +
      "JOIN cm ON cm.cell = qc.cell)"

  /** The rerank tail shared by every cell-serving oracle: candidate cut
    * at `candK` by the integer score, exact-cosine re-rank to `k`. */
  private def rerankTail(candK: Int, k: Int): String =
    "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
      "ORDER BY score DESC, cid) AS rnk FROM sb), " +
      s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
      "sc AS (SELECT cand.qid, cand.cid, " +
      s"round(${cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
      "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
      "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
      s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
      "ORDER BY qid, rnk"

  /** Mirrors q341: residual 1-bit serving — β = (Σ|Rᵢ|)/64 integer
    * division, score = A + β·Σ(±Qᵢ) by the residual sign. */
  def residualCellRerank(candK: Int, k: Int, nProbe: Int): String =
    s"WITH ${residualBase(nProbe)}, " +
      "cb AS (SELECT cid, cell, r, " +
      "(list_sum(list_transform(r, x -> abs(x)))::BIGINT // 64) AS beta " +
      "FROM cr), " +
      "sb AS (SELECT qm.qid, cb.cid, qm.a + cb.beta * " +
      "list_sum(list_transform(range(64), i -> " +
      "CASE WHEN cb.r[i+1] > 0 THEN qm.q[i+1] ELSE -qm.q[i+1] END))::BIGINT " +
      "AS score FROM qm JOIN cb ON cb.cell = qm.cell " +
      "WHERE cb.cid <> qm.qid), " +
      rerankTail(candK, k)

  /** Mirrors q342: int8 residual serving — s = max|Rᵢ|, codes =
    * round(Rᵢ·127/s) (0 when s = 0), score = 127·A + s·Σ Qᵢ·codeᵢ. */
  def int8CellRerank(candK: Int, k: Int, nProbe: Int): String =
    s"WITH ${residualBase(nProbe)}, " +
      "cb AS (SELECT cid, cell, " +
      "list_max(list_transform(r, x -> abs(x)))::BIGINT AS s8, " +
      "r FROM cr), " +
      "cd AS (SELECT cid, cell, s8, list_transform(r, x -> " +
      "CASE WHEN s8 = 0 THEN 0::BIGINT " +
      "ELSE round(x * 127.0 / s8)::BIGINT END) AS code FROM cb), " +
      "sb AS (SELECT qm.qid, cd.cid, qm.a * 127 + cd.s8 * " +
      "list_sum(list_transform(range(64), i -> " +
      "qm.q[i+1] * cd.code[i+1]))::BIGINT AS score " +
      "FROM qm JOIN cd ON cd.cell = qm.cell WHERE cd.cid <> qm.qid), " +
      rerankTail(candK, k)

  /** q325: Sketches.qdigestQuantiles mirror — the same exact leaf
    * histogram, `levels` compression rounds as CHAINED CTEs (each
    * round: per-parent child sums, merge iff ≤ τ = n/k integer-divided,
    * kept children and untouched nodes ride along), post-order spine
    * (right asc, width asc) + correlated first-reach scalar per prob.
    * Level-synchronous = order-free, so the chain replays the Scala
    * loop exactly. */
  def qdigest(
      levels: Int, k: Int, probs: Seq[Double],
      quantSql: String =
        "SELECT least(floor(l_extendedprice / 32)::BIGINT, 4095) AS v " +
          "FROM lineitem"): String = {
    val cap = 1L << levels
    val rounds = (levels to 1 by -1).map { l =>
      val lo = 1L << l
      val hi = 1L << (l + 1)
      s"r$l AS MATERIALIZED (SELECT id // 2 AS pid, sum(cnt)::BIGINT AS csum " +
        s"FROM d$l WHERE id >= $lo AND id < $hi GROUP BY 1), " +
        // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so a
        // 12-round chain whose every round references the previous one
        // 3x would expand 3^12 scans of the base parquet
        s"d${l - 1} AS MATERIALIZED (" +
        s"SELECT id, cnt FROM d$l WHERE id < $lo OR id >= $hi " +
        s"UNION ALL SELECT d.id, d.cnt FROM d$l d JOIN r$l r " +
        s"ON d.id // 2 = r.pid WHERE d.id >= $lo AND d.id < $hi " +
        "AND r.csum > (SELECT tau FROM t) " +
        s"UNION ALL SELECT r.pid AS id, r.csum AS cnt FROM r$l r " +
        "WHERE r.csum <= (SELECT tau FROM t))"
    }.mkString(", ")
    val lvRows = (0 to levels)
      .map(d => s"($d, ${1L << d}::BIGINT, ${1L << (d + 1)}::BIGINT)")
      .mkString(", ")
    val pList = probs.map(p => s"$p::DOUBLE").mkString("[", ", ", "]")
    s"WITH q AS MATERIALIZED ($quantSql), " +
      "h AS MATERIALIZED (SELECT v, count(*)::BIGINT AS cnt FROM q GROUP BY 1), " +
      s"t AS MATERIALIZED (SELECT count(*)::BIGINT AS n, count(*) // $k AS tau FROM q), " +
      s"d$levels AS MATERIALIZED (SELECT $cap + v AS id, cnt FROM h), " +
      s"$rounds, " +
      s"lv AS (SELECT * FROM (VALUES $lvRows) x(d, lo, hi)), " +
      "sp AS (SELECT n0.id, n0.cnt, " +
      s"(1::BIGINT << ($levels - lv.d)) AS width, " +
      s"(n0.id + 1) * (1::BIGINT << ($levels - lv.d)) - $cap - 1 AS rgt " +
      "FROM d0 n0 JOIN lv ON n0.id >= lv.lo AND n0.id < lv.hi), " +
      "c AS MATERIALIZED (SELECT rgt, width, cnt, sum(cnt) OVER (ORDER BY rgt, width " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM sp), " +
      "hc AS MATERIALIZED (SELECT v, sum(cnt) OVER (ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM h), " +
      "nn AS (SELECT count(*)::BIGINT AS n_nodes FROM d0), " +
      s"pr AS (SELECT unnest($pList) AS p) " +
      "SELECT pr.p, t.n, nn.n_nodes, " +
      "(SELECT c.rgt FROM c WHERE c.cum >= greatest(1, ceil(pr.p * t.n)) " +
      "ORDER BY c.rgt, c.width LIMIT 1)::BIGINT AS qd_est, " +
      "(SELECT hc.v FROM hc WHERE hc.cum >= greatest(1, " +
      "ceil(pr.p * t.n)) ORDER BY hc.v LIMIT 1)::BIGINT AS exact_q, " +
      "((SELECT c.rgt FROM c WHERE c.cum >= greatest(1, " +
      "ceil(pr.p * t.n)) ORDER BY c.rgt, c.width LIMIT 1) - " +
      "(SELECT hc.v FROM hc WHERE hc.cum >= greatest(1, " +
      "ceil(pr.p * t.n)) ORDER BY hc.v LIMIT 1))::BIGINT AS err " +
      "FROM pr CROSS JOIN t CROSS JOIN nn ORDER BY p"
  }

  /** q328: Sketches.qdigestMergedQuantiles mirror + whole-build parity.
    * Each of `nShards` shards replays the q325 chained-CTE compression
    * with its OWN τ = n_s/k; the union of the shard digests sums counts
    * by node id and re-compresses ONCE at the combined τ (the same
    * round chain — nodes off the processed level ride along, so a
    * mixed-depth merged map compresses exactly like the Scala loop);
    * the whole-corpus build runs beside it and the parity lands in
    * merged_eq_whole. ~6·levels materialized CTEs, all ≤ 2^levels rows. */
  def qdigestMerge(
      levels: Int, k: Int, probs: Seq[Double], nShards: Int,
      quantShardSql: String): String = {
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
  }

  /** q324: Models.groupAdvantage mirror — integer reward sums (exact in
    * any order), population std from Σr²/n − mean², zero-std groups →
    * advantage 0, best = max reward with lowest-id tie. */
  val groupAdvantage: String = {
    val hr = h60("doc_id::VARCHAR || ':r'")
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
  }

  /** Mirrors Sampling.ipfMixture over (source, lang) token masses with
    * uniform marginal targets: the dense grid flattened row-major into a
    * LIST, `iters` alternating row/column scaling rounds through a
    * recursive CTE, each half-step 9dp-rounded with the same
    * `w · (target / marginalsum)` association as the Scala loop;
    * all-zero marginals left untouched. */
  def ipfMixture(iters: Int): String =
    "WITH RECURSIVE " +
      "c0 AS (SELECT source, lang, " +
      "sum(len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE) AS n " +
      "FROM documents GROUP BY 1, 2), " +
      "rws AS (SELECT row_number() OVER (ORDER BY source) - 1 AS s, source " +
      "FROM (SELECT DISTINCT source FROM c0)), " +
      "cls AS (SELECT row_number() OVER (ORDER BY lang) - 1 AS j, lang " +
      "FROM (SELECT DISTINCT lang FROM c0)), " +
      "grid AS (SELECT r.s, c.j, r.source, c.lang, " +
      "coalesce(d.n, 0)::DOUBLE AS n FROM rws r CROSS JOIN cls c " +
      "LEFT JOIN c0 d ON d.source = r.source AND d.lang = c.lang), " +
      "dims AS (SELECT (SELECT count(*) FROM rws)::BIGINT AS m, " +
      "(SELECT count(*) FROM cls)::BIGINT AS k, " +
      "(SELECT sum(n) FROM grid) AS total), " +
      "cl AS (SELECT list(n ORDER BY s, j) AS nv FROM grid), " +
      "it(iter, w) AS (" +
      "SELECT 0, nv FROM cl " +
      "UNION ALL " +
      "SELECT iter + 1, list_transform(range(m*k), x -> " +
      "CASE WHEN cs[(x % k)+1] = 0 THEN w1[x+1] " +
      "ELSE round(w1[x+1] * ((total / k) / cs[(x % k)+1]), 9) END) " +
      "FROM (SELECT iter, w1, m, k, total, list_transform(range(k), j -> " +
      "list_sum(list_transform(range(m), s -> w1[s*k+j+1]))) AS cs " +
      "FROM (SELECT iter, m, k, total, list_transform(range(m*k), x -> " +
      "CASE WHEN rs[x//k+1] = 0 THEN w[x+1] " +
      "ELSE round(w[x+1] * ((total / m) / rs[x//k+1]), 9) END) AS w1 " +
      "FROM (SELECT iter, w, m, k, total, list_transform(range(m), s -> " +
      "list_sum(list_transform(range(k), j -> w[s*k+j+1]))) AS rs " +
      s"FROM it, dims WHERE iter < $iters)))), " +
      s"fin AS (SELECT w FROM it WHERE iter = $iters) " +
      "SELECT g.source, g.lang, round(g.n, 6) AS mass, " +
      "round(w[(g.s * k + g.j + 1)::INT], 6) AS weight, " +
      "CASE WHEN g.n = 0 THEN 0.0::DOUBLE " +
      "ELSE round(w[(g.s * k + g.j + 1)::INT] / g.n, 6) END AS rate " +
      "FROM grid g, fin, dims ORDER BY g.source, g.lang"

  // ───────────────────────── URL canonicalization ─────────────────────────

  /** Deterministic URL synthesis shared by q279/q280 — eight shapes per
    * doc_id exercising every [[graft.ops.Url.canonicalize]] branch:
    * mixed-case scheme/host, www + tracking params + unsorted query,
    * default https port + fragment + multi-label suffix (.co.uk),
    * userinfo + non-default port + doubled slashes, non-http scheme
    * (dropped), trailing-dot host + bare root path, default http port +
    * empty-valued param, all-tracking query (.com.au), and a single-label
    * intranet host. Mirrored column-for-column in SparkEntry.urlSynth. */
  val urlRawCte: String =
    "raw AS (SELECT doc_id, CASE doc_id % 8 " +
      "WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 50)::VARCHAR || " +
      "'.Example.COM/a/b' || (doc_id % 7)::VARCHAR || '/?utm_source=feed&b=2&a=1' " +
      "WHEN 1 THEN 'https://News.Site' || (doc_id % 50)::VARCHAR || " +
      "'.CO.UK:443/Index.html#frag' " +
      "WHEN 2 THEN 'http://user:pw@Site' || (doc_id % 50)::VARCHAR || " +
      "'.example.com:8080//x//?gclid=z12&q=' || (doc_id % 13)::VARCHAR " +
      "WHEN 3 THEN 'ftp://site' || (doc_id % 50)::VARCHAR || '.example.com/file' " +
      "WHEN 4 THEN 'https://Site' || (doc_id % 50)::VARCHAR || '.Example.com./' " +
      "WHEN 5 THEN 'http://site' || (doc_id % 50)::VARCHAR || " +
      "'.example.com:80/p?b=&fbclid=abc&z=9&y=8' " +
      "WHEN 6 THEN 'https://blog.Site' || (doc_id % 50)::VARCHAR || " +
      "'.com.au/posts/' || (doc_id % 5)::VARCHAR || '/?utm_campaign=x&utm_medium=y' " +
      "ELSE 'http://intranet:9999/dev?a=2#x' END AS u FROM documents)"

  private val urlTrackingIn: String =
    graft.ops.Url.trackingParams.map(p => s"'$p'").mkString("(", ", ", ")")

  private val urlSuffixIn: String =
    graft.ops.Url.multiSuffixes.map(s => s"'$s'").mkString("(", ", ", ")")

  /** raw → (doc_id, canon, domain, port): the full Url.canonicalize /
    * registeredDomain mirror. Single-match anchored regexes so DuckDB's
    * first-occurrence regexp_replace ≡ Spark's replace-all. */
  val urlCompCte: String =
    "pt AS (SELECT doc_id, " +
      "lower(regexp_extract(trim(u), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch0, " +
      "regexp_extract(trim(u), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS auth, " +
      "regexp_extract(trim(u), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p0, " +
      "regexp_extract(trim(u), '\\?([^#]*)', 1) AS q0 FROM raw), " +
      "cp AS (SELECT doc_id, " +
      "CASE WHEN sch0 IN ('http', 'https') THEN sch0 END AS sch, " +
      "lower(regexp_replace(regexp_replace(regexp_replace(auth, '^[^@]*@', ''), " +
      "':[0-9]*$', ''), '\\.$', '')) AS h0, " +
      "regexp_extract(regexp_replace(auth, '^[^@]*@', ''), ':([0-9]+)$', 1) AS port0, " +
      "regexp_replace(p0, '/+$', '') AS path, " +
      "array_to_string(list_sort(list_filter(string_split(q0, '&'), p -> " +
      s"p <> '' AND NOT lower(split_part(p, '=', 1)) IN $urlTrackingIn " +
      "AND NOT starts_with(lower(split_part(p, '=', 1)), 'utm_'))), '&') AS q " +
      "FROM pt), " +
      "cc AS (SELECT doc_id, sch, " +
      "CASE WHEN sch IS NOT NULL AND h0 <> '' THEN h0 END AS host, " +
      "CASE WHEN sch IS NOT NULL AND port0 <> '' " +
      "AND NOT (sch = 'http' AND port0 = '80') " +
      "AND NOT (sch = 'https' AND port0 = '443') THEN port0::BIGINT END AS port, " +
      "path, q FROM cp), " +
      "comp AS (SELECT doc_id, " +
      "CASE WHEN sch IS NOT NULL AND host IS NOT NULL THEN " +
      "sch || '://' || regexp_replace(host, '^www\\.', '') || " +
      "CASE WHEN port IS NOT NULL THEN ':' || port::VARCHAR ELSE '' END || " +
      "path || CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS canon, " +
      "CASE WHEN host IS NULL THEN NULL " +
      "WHEN len(string_split(host, '.')) <= 1 THEN host " +
      "WHEN (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]) " +
      s"IN $urlSuffixIn AND len(string_split(host, '.')) >= 3 " +
      "THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2] " +
      "|| '.' || string_split(host, '.')[-1] " +
      "ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] " +
      "END AS domain, port FROM cc)"

  /** q279: every valid synthesized URL canonicalized. */
  val urlCanonical: String =
    s"WITH $urlRawCte, $urlCompCte " +
      "SELECT doc_id, canon, domain, port FROM comp " +
      "WHERE canon IS NOT NULL ORDER BY doc_id"

  /** q281: Models.passAtK mirror — the same left-fold product
    * (list_reduce's first-element seed ≡ Spark's 1.0 seed exactly, since
    * 1·t₀ = t₀ in IEEE doubles) with identical n<k / n−c<k guards. */
  val passAtK: String = {
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
  }

  /** q287: Url.domainConcentration mirror — integer sums over the
    * per-domain aggregate, divisions only at the end. */
  val urlConcentration: String =
    s"WITH $urlRawCte, $urlCompCte, " +
      "c AS (SELECT domain, count(*)::BIGINT AS pages FROM comp " +
      "WHERE canon IS NOT NULL GROUP BY 1), " +
      "r AS (SELECT domain, pages, row_number() OVER " +
      "(ORDER BY pages, domain) AS rnk FROM c), " +
      "a AS (SELECT count(*)::BIGINT AS n_domains, " +
      "sum(pages)::BIGINT AS n_pages, max(pages)::BIGINT AS top_pages, " +
      "sum(pages * pages)::BIGINT AS sumsq, " +
      "sum(rnk * pages)::BIGINT AS ranksum FROM r) " +
      "SELECT n_domains, n_pages, " +
      "round(sumsq::DOUBLE / (n_pages * n_pages), 6) AS hhi, " +
      "round(top_pages::DOUBLE / n_pages, 6) AS top_share, " +
      "round((2 * ranksum - (n_domains + 1) * n_pages)::DOUBLE / " +
      "(n_domains * n_pages), 6) AS gini FROM a ORDER BY n_domains"

  /** q288: Dedup.plantedTwinEval mirror — q14's banded-candidate chain
    * over the twin-augmented corpus, scored against the planted pairs. */
  val plantedTwinEval: String =
    "WITH corpus AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 1000000 AS doc_id, text || ' twintoken' " +
      "FROM documents WHERE doc_id % 4 = 0), " +
      "tok2 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') " +
      "AS toks FROM corpus), " +
      minhashCandFrom("tok2") + ", " +
      s"det AS (SELECT id_a, id_b FROM cand WHERE $estJac >= 0.5), " +
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
      "END AS recall FROM a ORDER BY n_truth"

  /** q290: Similarity.bitextMine mirror — integer-scaled cosines, exact
    * k-NN sums, one double division at the end. Declared as a def: it
    * reads [[embCte]], which is declared later in this object (the
    * val-init-order trap). */
  def bitextMine(k: Int, minMargin: Double): String = {
    val margin = "round((2 * ci * sfn * sbn)::DOUBLE / " +
      "(sfa * sbn + sba * sfn), 6)"
    s"WITH $embCte, " +
      "s AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id % 50 = 0), " +
      "d AS (SELECT vec_id AS did, v AS dv FROM e WHERE vec_id % 50 = 25), " +
      s"p AS (SELECT sid, did, round(round(${cosSql("sv", "dv")}, 6) " +
      "* 1000000)::BIGINT AS ci FROM s CROSS JOIN d), " +
      "r AS (SELECT sid, did, ci, row_number() OVER (PARTITION BY sid " +
      "ORDER BY ci DESC, did) AS rf, row_number() OVER (PARTITION BY did " +
      "ORDER BY ci DESC, sid) AS rb FROM p), " +
      s"fs AS (SELECT sid, sum(ci)::BIGINT AS sfa, count(*)::BIGINT AS sfn " +
      s"FROM r WHERE rf <= $k GROUP BY 1), " +
      s"bs AS (SELECT did, sum(ci)::BIGINT AS sba, count(*)::BIGINT AS sbn " +
      s"FROM r WHERE rb <= $k GROUP BY 1), " +
      "m AS (SELECT r.sid, r.did, r.ci, r.rb, fs.sfa, fs.sfn, bs.sba, " +
      "bs.sbn FROM r JOIN fs USING (sid) JOIN bs USING (did) " +
      "WHERE r.rf = 1 AND fs.sfa * bs.sbn + bs.sba * fs.sfn > 0) " +
      "SELECT sid, did, round(ci::DOUBLE / 1000000.0::DOUBLE, 6) AS cos, " +
      s"$margin AS margin, (rb = 1)::INT AS mutual FROM m " +
      s"WHERE $margin >= $minMargin::DOUBLE ORDER BY sid"
  }

  /** q291: Html.markdownSections mirror — same synthesis, cumulative
    * heading window, ordered in-agg body assembly. */
  val markdownSections: String =
    "WITH md AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'intro before headings' || chr(10) " +
      "ELSE '' END) || '# Doc ' || doc_id::VARCHAR || chr(10) || " +
      "substr(text, 1, 50) || chr(10) || '## Part A' || chr(10) || " +
      "substr(text, 51, 50) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || '### Deep' || chr(10) || " +
      "substr(text, 101, 50) ELSE '' END) || " +
      "chr(10) || '## Part B' || chr(10) || substr(text, 151, 40) AS t " +
      "FROM documents), " +
      "sp AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM md), " +
      "ix AS (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM sp), " +
      "l AS (SELECT doc_id, pos, ls[pos+1] AS line FROM ix), " +
      "h AS (SELECT doc_id, pos, line, " +
      "regexp_matches(line, '^#{1,6} ') AS ih, " +
      "CASE WHEN regexp_matches(line, '^#{1,6} ') THEN " +
      "length(regexp_extract(line, '^(#{1,6}) ', 1)) ELSE 0 END AS lvl " +
      "FROM l), " +
      "s AS (SELECT doc_id, pos, line, ih, lvl, " +
      "sum(CASE WHEN ih THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) AS sec FROM h), " +
      "g AS (SELECT doc_id, sec, max(CASE WHEN ih THEN lvl END) AS hl, " +
      "max(CASE WHEN ih THEN regexp_replace(line, '^#{1,6} ', '') END) " +
      "AS title, " +
      "coalesce(string_agg(CASE WHEN NOT ih THEN line END, chr(10) " +
      "ORDER BY pos), '') AS body, " +
      "sum(CASE WHEN NOT ih THEN 1 ELSE 0 END)::BIGINT AS n_lines " +
      "FROM s GROUP BY 1, 2) " +
      "SELECT doc_id, sec::BIGINT AS sec, coalesce(hl, 0)::INT AS level, " +
      "title, body, n_lines, length(body)::BIGINT AS n_chars " +
      "FROM g ORDER BY doc_id, sec"

  /** q292: Url.robotsFilter mirror — same synthesis, parse, and
    * longest-match (len DESC, allow DESC, prefix) rank. */
  val robotsFilter: String =
    "WITH u AS (SELECT doc_id, 'site' || (doc_id % 7)::VARCHAR || " +
      "'.example.com' AS host, " +
      "CASE doc_id % 5 WHEN 0 THEN '/private/' || (doc_id % 9)::VARCHAR " +
      "WHEN 1 THEN '/private/ok/' || (doc_id % 9)::VARCHAR " +
      "WHEN 2 THEN '/pub/' || (doc_id % 9)::VARCHAR " +
      "WHEN 3 THEN '/tmp/x' || (doc_id % 9)::VARCHAR " +
      "ELSE '/' END AS rawpath FROM documents), " +
      "uu AS (SELECT doc_id, 'http://' || host || rawpath AS url, host, " +
      "regexp_replace(rawpath, '/+$', '') AS path FROM u), " +
      "rb AS (SELECT 'site' || doc_id::VARCHAR || '.example.com' AS host, " +
      "'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || " +
      "'Allow: /private/ok' || chr(10) || 'Disallow: /tmp/' || chr(10) || " +
      "'Disallow:' || chr(10) || '# comment' || " +
      "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Disallow: /pub' " +
      "ELSE '' END) AS txt FROM documents WHERE doc_id < 7), " +
      "rl AS (SELECT host, unnest(string_split(txt, chr(10))) AS line " +
      "FROM rb), " +
      "rules AS (SELECT host, " +
      "CASE WHEN starts_with(line, 'Allow: ') THEN 1 " +
      "WHEN starts_with(line, 'Disallow: ') THEN 0 END AS allow, " +
      "CASE WHEN starts_with(line, 'Allow: ') THEN substr(line, 8) " +
      "ELSE substr(line, 11) END AS prefix FROM rl " +
      "WHERE (starts_with(line, 'Allow: ') OR " +
      "starts_with(line, 'Disallow: '))), " +
      "rules2 AS (SELECT * FROM rules WHERE prefix <> ''), " +
      "m AS (SELECT uu.doc_id, r.allow, r.prefix, row_number() OVER " +
      "(PARTITION BY uu.doc_id ORDER BY length(r.prefix) DESC, " +
      "r.allow DESC, r.prefix) AS rnk " +
      "FROM uu JOIN rules2 r ON r.host = uu.host " +
      "AND starts_with(uu.path, r.prefix)), " +
      "v AS (SELECT doc_id, allow, prefix FROM m WHERE rnk = 1) " +
      "SELECT uu.doc_id, uu.url, uu.host, uu.path, " +
      "coalesce(v.allow = 1, TRUE)::INT AS allowed, " +
      "v.prefix AS matched_rule FROM uu LEFT JOIN v USING (doc_id) " +
      "ORDER BY doc_id"

  /** q294: Models.bootstrapCI mirror — the λ=1 CDF literals come from
    * the same Scala Seq; resample sums are exact integers. */
  val poissonBootstrap: String = {
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
  }

  /** q295: Models.splitConformal mirror — integer rank arithmetic. */
  val splitConformal: String =
    "WITH d AS (SELECT lang, doc_id, length(text)::BIGINT AS y, " +
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
      "round(9::DOUBLE / 10, 6) AS target FROM t GROUP BY 1 ORDER BY lang"

  /** q296: Multimodal.vadSegments mirror — samples from the synthesis
    * formula, maximal runs via gaps-and-islands. */
  val vadSegments: String =
    "WITH d AS (SELECT doc_id, 240 + (doc_id % 60) AS n FROM documents), " +
      "ix AS (SELECT doc_id, unnest(range(n)) AS i FROM d), " +
      "sm AS (SELECT doc_id, i, CASE WHEN (i // 40 + doc_id) % 3 <> 0 " +
      "THEN ((doc_id*31 + i*17) % 65536) - 32768 " +
      "ELSE ((doc_id*7 + i*13) % 101) - 50 END AS s FROM ix), " +
      "a AS (SELECT doc_id, i, s FROM sm WHERE abs(s) > 100), " +
      "g AS (SELECT doc_id, i, s, i - row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY i) AS grp FROM a), " +
      "seg0 AS (SELECT doc_id, grp, min(i) AS start_i, max(i) AS end_i, " +
      "count(*)::BIGINT AS len, max(abs(s)) AS peak FROM g GROUP BY 1, 2), " +
      "seg AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id " +
      "ORDER BY start_i) - 1 AS seg, start_i, end_i, len, peak FROM seg0) " +
      "SELECT doc_id, seg::BIGINT AS seg, start_i::BIGINT AS start_i, " +
      "end_i::BIGINT AS end_i, len, peak::BIGINT AS peak " +
      "FROM seg ORDER BY doc_id, seg"

  /** q285: Cleansing.fixMojibake mirror — the SAME pinned map drives the
    * SQL injection CASE and the replace chain, so the two engines can't
    * drift. */
  val mojibakeRepair: String = {
    def esc(s: String): String = s.replace("'", "''")
    val snippets = graft.ops.Cleansing.mojibakeMap.map(_._1)
    val pick = snippets.zipWithIndex
      .map { case (s, i) => s"WHEN $i THEN '${esc(s)}'" }
      .mkString(s"CASE doc_id % ${snippets.size} ", " ", " END")
    val fixed = graft.ops.Cleansing.mojibakeMap.foldLeft("dirty") {
      case (acc, (bad, good)) => s"replace($acc, '${esc(bad)}', '${esc(good)}')"
    }
    val sig = graft.ops.Cleansing.mojibakeSignature
    s"WITH d AS (SELECT doc_id, substr(text, 1, 40) || ' x' || ($pick) || " +
      s"'y ' || ($pick) AS dirty FROM documents), " +
      s"f AS (SELECT doc_id, dirty, $fixed AS fixed FROM d) " +
      s"SELECT doc_id, fixed, " +
      s"len(regexp_extract_all(dirty, '$sig'))::BIGINT AS sig_before, " +
      s"len(regexp_extract_all(fixed, '$sig'))::BIGINT AS sig_after " +
      "FROM f ORDER BY doc_id"
  }

  /** q297: TextAnalysis.bleu mirror on consecutive-doc pairs — clipped
    * n-gram precision per order via UNION ALL branches (one per n, the
    * tagged-flatten dual), 6dp-rounded p_n/bp feeding the final BLEU so
    * both engines replay identical arithmetic. */
  val bleu: String = {
    def gramBranch(src: String, maxN: Int): String =
      (1 to maxN).map { n =>
        s"SELECT doc_id, $n AS n, unnest(CASE WHEN len($src) < $n " +
          s"THEN []::VARCHAR[] ELSE list_transform(range(len($src) - ${n - 1}), " +
          s"i -> array_to_string($src[i+1:i+$n], ' ')) END) AS g FROM p"
      }.mkString(" UNION ALL ")
    val maxN = 4
    val ovCols = (1 to maxN).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN ov END), 0) AS ov$n").mkString(", ")
    val pCols = (1 to maxN).map { n =>
      s"CASE WHEN cand_len - ${n - 1} > 0 " +
        s"THEN round(ov$n::DOUBLE / (cand_len - ${n - 1}), 6) ELSE 0.0 END AS p$n"
    }.mkString(", ")
    val allPos = (1 to maxN).map(n => s"p$n > 0").mkString(" AND ")
    val lnSum = (1 to maxN).map(n => s"ln(p$n)").mkString(" + ")
    "WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
      "FROM documents), " +
      "p AS (SELECT a.doc_id, a.toks AS rt, b.toks AS ct " +
      "FROM d a JOIN d b ON b.doc_id = a.doc_id + 1), " +
      s"rc AS (SELECT doc_id, n, g, count(*)::BIGINT AS nr FROM (${gramBranch("rt", maxN)}) GROUP BY 1, 2, 3), " +
      s"cc AS (SELECT doc_id, n, g, count(*)::BIGINT AS nc FROM (${gramBranch("ct", maxN)}) GROUP BY 1, 2, 3), " +
      "ov AS (SELECT doc_id, n, sum(least(nr, nc))::BIGINT AS ov " +
      "FROM rc JOIN cc USING (doc_id, n, g) GROUP BY 1, 2), " +
      "tot AS (SELECT doc_id, len(rt)::BIGINT AS rl, len(ct)::BIGINT AS cl FROM p), " +
      "piv AS (SELECT t.doc_id, max(rl) AS ref_len, max(cl) AS cand_len, " +
      s"$ovCols FROM tot t LEFT JOIN ov ON ov.doc_id = t.doc_id GROUP BY 1), " +
      s"pr AS (SELECT doc_id, ref_len, cand_len, $pCols, " +
      "CASE WHEN cand_len = 0 THEN 0.0 WHEN cand_len >= ref_len THEN 1.0 " +
      "ELSE round(exp(1.0 - ref_len::DOUBLE / cand_len), 6) END AS bp FROM piv) " +
      "SELECT doc_id, ref_len, cand_len, p1, p2, p3, p4, bp, " +
      s"CASE WHEN $allPos AND bp > 0 " +
      s"THEN round(bp * exp(($lnSum) / $maxN), 6) ELSE 0.0 END AS bleu " +
      "FROM pr ORDER BY doc_id"
  }

  /** q298: TextAnalysis.chrF mirror — char n-grams of whitespace-stripped
    * lower-cased 240-char slices; per-order 6dp precision/recall
    * macro-averaged, F_2 from the rounded averages. */
  val chrf: String = {
    val maxN = 3
    def gramBranch(src: String): String =
      (1 to maxN).map { n =>
        s"SELECT doc_id, $n AS n, unnest(list_transform(" +
          s"range(CASE WHEN len($src) >= $n THEN len($src) - ${n - 1} ELSE 0 END), " +
          s"i -> substr($src, (i + 1)::INT, $n))) AS g FROM p"
      }.mkString(" UNION ALL ")
    val ovCols = (1 to maxN).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN ov END), 0) AS ov$n").mkString(", ")
    def orderAvg(lenCol: String): String =
      "round((" + (1 to maxN).map { n =>
        s"CASE WHEN $lenCol - ${n - 1} > 0 " +
          s"THEN round(ov$n::DOUBLE / ($lenCol - ${n - 1}), 6) ELSE 0.0 END"
      }.mkString(" + ") + s") / $maxN, 6)"
    "WITH d AS (SELECT doc_id, " +
      "regexp_replace(lower(substr(text, 1, 240)), '\\s+', '', 'g') AS s " +
      "FROM documents), " +
      "p AS (SELECT a.doc_id, a.s AS rs, b.s AS cs " +
      "FROM d a JOIN d b ON b.doc_id = a.doc_id + 1), " +
      s"rc AS (SELECT doc_id, n, g, count(*)::BIGINT AS nr FROM (${gramBranch("rs")}) GROUP BY 1, 2, 3), " +
      s"cc AS (SELECT doc_id, n, g, count(*)::BIGINT AS nc FROM (${gramBranch("cs")}) GROUP BY 1, 2, 3), " +
      "ov AS (SELECT doc_id, n, sum(least(nr, nc))::BIGINT AS ov " +
      "FROM rc JOIN cc USING (doc_id, n, g) GROUP BY 1, 2), " +
      "tot AS (SELECT doc_id, len(rs)::BIGINT AS n_ref_chars, " +
      "len(cs)::BIGINT AS n_cand_chars FROM p), " +
      "piv AS (SELECT t.doc_id, max(n_ref_chars) AS n_ref_chars, " +
      s"max(n_cand_chars) AS n_cand_chars, $ovCols " +
      "FROM tot t LEFT JOIN ov ON ov.doc_id = t.doc_id GROUP BY 1), " +
      s"f AS (SELECT doc_id, n_ref_chars, n_cand_chars, " +
      s"${orderAvg("n_cand_chars")} AS prec, ${orderAvg("n_ref_chars")} AS rec FROM piv) " +
      "SELECT doc_id, n_ref_chars, n_cand_chars, prec, rec, " +
      "CASE WHEN 4.0 * prec + rec > 0 " +
      "THEN round(5.0 * prec * rec / (4.0 * prec + rec), 6) ELSE 0.0 END AS chrf " +
      "FROM f ORDER BY doc_id"
  }

  /** Shared LCS CTE chain for [[rougeL]]/[[mtEvalReport]]: token LCS
    * per consecutive-doc pair via a recursive CTE carrying the DP row
    * as a LIST. Classic row update t[j] = max(dp_prev[j+1], dp_prev[j]
    * + match); the intra-row dependency dp_new[j] = max(dp_new[j-1],
    * t[j]) unrolls to a PREFIX MAX, computed per position with
    * list_max over a growing slice (O(m²) per row — m is bounded by
    * the 160-char slice, the chrF slicing posture). Iteration count =
    * ref token count; rows with i < len(r) keep advancing, the final
    * row (max i) holds the LCS in its last cell. Requires the caller
    * to open WITH RECURSIVE. */
  private val rougeLcsCte: String =
    "rd AS (SELECT doc_id, regexp_extract_all(lower(substr(text, 1, 160)), " +
      "'\\w+') AS toks FROM documents), " +
      "rp AS (SELECT a.doc_id AS id, a.toks AS r, b.toks AS c " +
      "FROM rd a JOIN rd b ON b.doc_id = a.doc_id + 1), " +
      "dp(id, i, row) AS (" +
      "SELECT id, 0, list_transform(range(len(c) + 1), x -> 0) FROM rp " +
      "UNION ALL " +
      "SELECT dp.id, dp.i + 1, " +
      "[0] || list_transform(range(1, len(rp.c) + 1), j -> " +
      "list_max(list_transform(range(1, j + 1), jj -> " +
      "greatest(dp.row[jj + 1], dp.row[jj] + " +
      "CASE WHEN rp.c[jj] = rp.r[dp.i + 1] THEN 1 ELSE 0 END)))) " +
      "FROM dp JOIN rp USING (id) WHERE dp.i < len(rp.r)), " +
      "lc AS (SELECT id AS doc_id, list_max([0] || max_by(row, i))::BIGINT " +
      "AS lcs FROM dp GROUP BY id), " +
      "fb AS (SELECT rp.id AS doc_id, len(rp.r)::BIGINT AS n_ref, " +
      "len(rp.c)::BIGINT AS n_cand, lc.lcs " +
      "FROM rp JOIN lc ON lc.doc_id = rp.id), " +
      "prc AS (SELECT doc_id, n_ref, n_cand, lcs, " +
      "CASE WHEN n_cand > 0 THEN round(lcs::DOUBLE / n_cand, 6) END " +
      "AS rouge_l_p, " +
      "CASE WHEN n_ref > 0 THEN round(lcs::DOUBLE / n_ref, 6) END " +
      "AS rouge_l_r FROM fb)"

  /** q327: TextAnalysis.rougeL mirror — LCS-based P/R/F on 160-char
    * slices of the q226 consecutive-doc pairs, F1 from the 6dp-rounded
    * P/R. */
  val rougeL: String =
    s"WITH RECURSIVE $rougeLcsCte " +
      "SELECT doc_id, n_ref, n_cand, lcs, rouge_l_p, rouge_l_r, " +
      "CASE WHEN rouge_l_p + rouge_l_r > 0 THEN " +
      "round(2.0::DOUBLE * rouge_l_p * rouge_l_r / " +
      "(rouge_l_p + rouge_l_r), 6) END AS rouge_l_f " +
      "FROM prc ORDER BY doc_id"

  /** q299: Models.fleissKappa mirror — 5-rater synthetic panel, balanced
    * items only, κ from the 6dp-rounded P̄/P_e. */
  val fleissKappa: String = {
    val uH = h60("doc_id::VARCHAR || ':r' || a::VARCHAR")
    val lH = h60("doc_id::VARCHAR || ':l' || a::VARCHAR")
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
  }

  /** q300: Privacy.entropyLDiversity mirror — skewed synthetic sensitive
    * attribute over (lang, source) cohorts, entropy in nats, l = 3. */
  val entropyLDiv: String =
    "WITH s AS (SELECT lang, source, CASE WHEN doc_id % 7 < 4 THEN 'c0' " +
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
      "FROM e ORDER BY lang, source"

  /** q301: Privacy.dpNoisyCount mirror — seeded inverse-CDF Laplace(1/ε)
    * noise from the group-key hash, clamped integer release. */
  val dpRelease: String = {
    val uH = h60("lang || '|' || source || '|dp'")
    "WITH g AS (SELECT lang, source, count(*)::BIGINT AS c " +
      "FROM documents GROUP BY 1, 2), " +
      s"u AS (SELECT lang, source, c, (($uH % 1000000000)::DOUBLE / " +
      "1000000000.0::DOUBLE) AS u FROM g), " +
      "n AS (SELECT lang, source, c, round(-1.0 * sign(u - 0.5) * " +
      "ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM u) " +
      "SELECT lang, source, 1.0::DOUBLE AS epsilon, " +
      "greatest(round(c + noise), 0.0)::BIGINT AS released " +
      "FROM n ORDER BY lang, source"
  }

  /** q302: Similarity.embeddingDecontam mirror — best-cosine-vs-benchmark
    * per corpus vector, argmax tie-broken to the lowest benchmark id. */
  def embedDecontam(tau: Double): String =
    s"WITH $embCte, " +
      "b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 97 = 0), " +
      "c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 97 <> 0), " +
      s"s AS (SELECT cid, bid, round(${cosSql("cv", "bv")}, 6) AS cos FROM c, b), " +
      "r AS (SELECT cid, bid, cos, row_number() OVER " +
      "(PARTITION BY cid ORDER BY cos DESC, bid) AS rn FROM s) " +
      "SELECT cid, bid AS bench_id, cos AS max_cos, " +
      s"(cos >= $tau)::INT AS contaminated FROM r WHERE rn = 1 ORDER BY cid"

  /** q303: Multimodal.gifFeatures mirror — features from the pixel
    * formula (the GIF round trip is exact: 256-gray identity palette). */
  val gifDecode: String =
    "WITH d AS (SELECT doc_id, 8 + (doc_id % 10) AS w, 8 + (doc_id % 8) AS h " +
      "FROM documents), " +
      "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
      "(w*h)::INT AS n_pix, " +
      "list_sum(list_transform(range(w*h), i -> (doc_id*7 + i*13) % 256))" +
      "::BIGINT AS px_sum FROM d) " +
      "SELECT doc_id, width, height, n_pix, px_sum, " +
      "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"

  /** Shared readability-count CTE body (q304/q305): words, sentence runs
    * floored at 1, vowel-group + vowel-less-word syllable heuristic. */
  private val readCountsCte: String =
    "c AS (SELECT doc_id, " +
      "len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS n_words, " +
      "greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences, " +
      "(len(regexp_extract_all(lower(text), '[aeiouy]+')) + " +
      "len(regexp_extract_all(lower(text), '\\b[0-9_b-df-hj-np-tv-xz]+\\b')))" +
      "::BIGINT AS n_syllables FROM documents)"

  /** q304: TextAnalysis.readability mirror. */
  val readability: String =
    s"WITH $readCountsCte " +
      "SELECT doc_id, n_words, n_sentences, n_syllables, " +
      "CASE WHEN n_words > 0 THEN round(206.835::DOUBLE - " +
      "1.015::DOUBLE * (n_words::DOUBLE / n_sentences) - " +
      "84.6::DOUBLE * (n_syllables::DOUBLE / n_words), 6) END AS flesch, " +
      "CASE WHEN n_words > 0 THEN round(0.39::DOUBLE * " +
      "(n_words::DOUBLE / n_sentences) + " +
      "11.8::DOUBLE * (n_syllables::DOUBLE / n_words) - 15.59::DOUBLE, 6) " +
      "END AS fk_grade FROM c ORDER BY doc_id"

  /** q305: TextAnalysis.curriculumPacing mirror over the q304 FK grades —
    * binned difficulty CDF × the competence grid, zeros preserved. */
  val curriculumPacing: String =
    s"WITH $readCountsCte, " +
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
      "FROM gc LEFT JOIN ad USING (step) ORDER BY gc.step"

  /** q306: Unigram.segment mirror — the SAME pinned vocabulary
    * (graft.ops.Unigram.piecesV1) drives both the Column DP and this
    * generated CTE chain, and every DP value is an integer, so the two
    * engines cannot drift. One CTE pair per forward position (candidate
    * costs, then best/argmin/count), one CTE per backward step. */
  val unigramViterbi: String =
    unigramDpSql(
      s"WITH $tokCte, " +
        "wx AS (SELECT unnest(toks) AS word FROM tok), " +
        "wd AS (SELECT word, count(*)::BIGINT AS n_occ FROM wx GROUP BY 1), ",
      "SELECT word, n_occ, l::BIGINT AS len, cost, n_pieces, " +
        "seg10 AS seg FROM t10 ORDER BY word")

  /** The q306/q320 shared DP-chain generator: `lead` must end with the
    * `wd` CTE (any extra columns ride through every chain stage via
    * SELECT *), `tail` reads the final `t10` table. */
  private def unigramDpSql(lead: String, tail: String): String = {
    val maxLen = 10
    val maxPiece = 3
    val unk = graft.ops.Unigram.unkCostPerChar
    val vocab = graft.ops.Unigram.piecesV1
    def costSql(sub: String, k: Int): String = {
      val entries = vocab.filter(_._1.length == k)
      s"CASE $sub " +
        entries.map { case (p, c) => s"WHEN '$p' THEN $c" }.mkString(" ") +
        s" ELSE ${unk.toLong * k} END"
    }
    val fwd = (1 to maxLen).map { i =>
      val ks = 1 to math.min(maxPiece, i)
      val cands = ks.map { k =>
        s"b${i - k} + (${costSql(s"substr(w, ${i - k + 1}, $k)", k)})"
      }
      val candCols = ks.zip(cands)
        .map { case (k, c) => s"($c) AS c${i}_$k" }.mkString(", ")
      val cte1 = s"f$i AS (SELECT *, $candCols FROM ${if (i == 1) "s0" else s"g${i - 1}"})"
      val best = if (ks.size == 1) s"c${i}_1"
        else s"least(${ks.map(k => s"c${i}_$k").mkString(", ")})"
      val kPick = ks.init.foldRight(ks.last.toString) { (k, acc) =>
        s"CASE WHEN b$i = c${i}_$k THEN $k ELSE $acc END"
      }
      val pPick = "CASE k" + i + " " + ks.map(k =>
        s"WHEN $k THEN p${i - k} + 1").mkString(" ") + " END"
      val cte2 = s"g$i AS (SELECT *, ($kPick) AS k$i, ($pPick) AS p$i " +
        s"FROM (SELECT *, ($best) AS b$i FROM f$i))"
      s"$cte1, $cte2"
    }.mkString(", ")
    def byLen(prefix: String): String =
      "CASE l " + (1 to maxLen).map(i => s"WHEN $i THEN $prefix$i")
        .mkString(" ") + " ELSE 0 END"
    val bwd = (1 to maxLen).map { j =>
      val kAt = "CASE pos" + (j - 1) + " " + (1 to maxLen).map(pp =>
        s"WHEN $pp THEN k$pp").mkString(" ") + " END"
      s"t$j AS (SELECT *, " +
        s"CASE WHEN pos${j - 1} > 0 THEN " +
        s"substr(w, (pos${j - 1} - ($kAt) + 1)::INT, ($kAt)::INT) || " +
        s"(CASE WHEN seg${j - 1} = '' THEN '' ELSE '|' || seg${j - 1} END) " +
        s"ELSE seg${j - 1} END AS seg$j, " +
        s"CASE WHEN pos${j - 1} > 0 THEN pos${j - 1} - ($kAt) ELSE 0 END " +
        s"AS pos$j FROM ${if (j == 1) "sel" else s"t${j - 1}"})"
    }.mkString(", ")
    lead +
      s"s0 AS (SELECT *, substr(word, 1, $maxLen) AS w, " +
      s"len(substr(word, 1, $maxLen)) AS l, 0::BIGINT AS b0, 0::BIGINT AS p0 " +
      "FROM wd), " +
      s"$fwd, " +
      s"sel AS (SELECT *, (${byLen("b")})::BIGINT AS cost, " +
      s"(${byLen("p")})::BIGINT AS n_pieces, l AS pos0, '' AS seg0 " +
      s"FROM g$maxLen), " +
      s"$bwd " +
      tail
  }

  /** q320: per-lang unigram tokenizer fertility through the SAME DP
    * chain — (lang, word, n_occ) ride the chain's SELECT *s, integer
    * occurrence-weighted sums, two double divisions at the end. */
  val unigramFertility: String =
    unigramDpSql(
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
        "cost_per_char FROM t10 GROUP BY lang ORDER BY lang")

  /** q307: streaming DP release ≡ batch — per-(event_type, day) counts
    * through the q301 seeded-Laplace formula. */
  val streamDpRelease: String = {
    val uH = h60("event_type || '|' || day::VARCHAR || '|dp'")
    "WITH g AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c " +
      "FROM events GROUP BY 1, 2), " +
      s"u AS (SELECT event_type, day, c, (($uH % 1000000000)::DOUBLE / " +
      "1000000000.0::DOUBLE) AS u FROM g), " +
      "n AS (SELECT event_type, day, c, round(-1.0 * sign(u - 0.5) * " +
      "ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM u) " +
      "SELECT event_type, day, 1.0::DOUBLE AS epsilon, " +
      "greatest(round(c + noise), 0.0)::BIGINT AS released " +
      "FROM n ORDER BY event_type, day"
  }

  /** q308: Privacy.luhnPanScan mirror — the pinned PAN list drives both
    * the synthesis CASE and this SQL, digit-position Luhn all integer. */
  val luhnPanScan: String = {
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
  }

  /** q309: TextAnalysis.lengthBatching mirror — power-of-two caps via
    * CASE, plan-time docs-per-batch constants, hash-rank assignment. */
  val lengthBatching: String = {
    val caps = Seq(16, 32, 64, 128, 256)
    val maxTokens = 2048L
    val capCase = caps.init.map(c => s"WHEN tok <= $c THEN $c")
      .mkString("CASE ", " ", s" ELSE ${caps.last} END")
    val dpbCase = caps.map(c => s"WHEN $c THEN ${math.max(1L, maxTokens / c)}")
      .mkString("CASE cap ", " ", " END")
    val hk = h60("doc_id::VARCHAR || ':lb'")
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
  }

  /** q310: TextAnalysis.mtEvalReport mirror — the q297 + q298 chains as
    * derived tables joined to the ref doc's lang, exact rank median. */
  val mtEvalReport: String =
    "WITH l AS (SELECT doc_id, lang FROM documents), " +
      // rouge_l rides in as a self-contained recursive subquery (the
      // shared LCS chain); a null F (zero-token side) counts as 0 in
      // the mean, matching the Spark coalesce
      "rl AS (SELECT doc_id, coalesce(CASE WHEN rouge_l_p + rouge_l_r " +
      "> 0 THEN round(2.0::DOUBLE * rouge_l_p * rouge_l_r / " +
      "(rouge_l_p + rouge_l_r), 6) END, 0.0::DOUBLE) AS rouge_l FROM " +
      s"(WITH RECURSIVE $rougeLcsCte SELECT * FROM prc) prcq), " +
      s"m AS (SELECT l.lang, b.doc_id, b.bleu, c.chrf, rl.rouge_l " +
      s"FROM ($bleu) b JOIN ($chrf) c USING (doc_id) " +
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
      "FROM r GROUP BY lang ORDER BY lang"

  /** q311: Models.krippendorffAlpha mirror — variable 3-5 rater panel,
    * integer 12/(m−1) scaling, one double division at the end. */
  val krippendorffAlpha: String = {
    val uH = h60("doc_id::VARCHAR || ':kr' || a::VARCHAR")
    val lH = h60("doc_id::VARCHAR || ':kl' || a::VARCHAR")
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
  }

  /** q312: Multimodal.goertzelEnergy mirror — the WITH RECURSIVE
    * sequential fold over the burst-synthesis samples, pinned 2·cos
    * coefficients, 9dp per step (the Holt recurrence-parity pattern). */
  val goertzelEnergy: String = {
    val coeffRows = graft.ops.Multimodal.goertzelPeriods
      .map { case (p, c) => s"SELECT $p AS p, $c::DOUBLE AS c" }
      .mkString(" UNION ALL ")
    val x = "(CASE WHEN ((i + 1) // 40 + doc_id) % 3 <> 0 " +
      "THEN ((doc_id * 31 + (i + 1) * 17) % 65536) - 32768 " +
      "ELSE ((doc_id * 7 + (i + 1) * 13) % 101) - 50 END)::DOUBLE / " +
      "32768.0::DOUBLE"
    "WITH RECURSIVE d AS (SELECT doc_id, 240 + (doc_id % 60) AS n " +
      "FROM documents), " +
      s"cf AS ($coeffRows), " +
      "base AS (SELECT doc_id, n, p, c FROM d CROSS JOIN cf), " +
      "st AS (SELECT doc_id, n, p, c, (-1)::BIGINT AS i, " +
      "0.0::DOUBLE AS s1, 0.0::DOUBLE AS s2 FROM base " +
      "UNION ALL " +
      s"SELECT doc_id, n, p, c, i + 1, round(($x) + c * s1 - s2, 9), s1 " +
      "FROM st WHERE i + 1 < n), " +
      "fin AS (SELECT doc_id, n, p, " +
      "round(s1 * s1 + s2 * s2 - c * s1 * s2, 6) AS e " +
      "FROM st WHERE i = n - 1) " +
      "SELECT doc_id, max(n)::INT AS n, " +
      "max(CASE p WHEN 8 THEN e END) AS e8, " +
      "max(CASE p WHEN 16 THEN e END) AS e16, " +
      "max(CASE p WHEN 32 THEN e END) AS e32 " +
      "FROM fin GROUP BY doc_id ORDER BY doc_id"
  }

  /** q313: Dedup.winnowingPairs mirror — k-gram rolling hashes via
    * list_reduce, w-window minima via list_min slices (O(n·w), oracle
    * scale only), distinct minima bucketed with the df cap. */
  def winnowingPairs(k: Int, w: Int, dfCap: Int, minShared: Int): String =
    s"WITH $tokCte, " +
      s"th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % $P) " +
      "for t in toks] AS hs FROM tok), " +
      s"wh AS (SELECT doc_id, [list_reduce(list_prepend(0::BIGINT, hs[i+1:i+$k]), " +
      s"(a, b) -> (a * 31 + b) % $P) " +
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

  /** q314: Models.rbo mirror over the brute vs IVF top-10 lists — the
    * same pinned (1−p)·p^(d−1)/d weights in the same fixed-order sum. */
  val rboLists: String = {
    val k = 10
    val p = 0.9
    val wts = (1 to k).map(d => d -> ((1 - p) * math.pow(p, d - 1) / d))
    val xCols = (1 to k).map(d =>
      s"coalesce(max(CASE WHEN d = $d THEN x END), 0) AS x$d").mkString(", ")
    val rboExpr = wts.map { case (d, w) => s"$w::DOUBLE * cx$d" }
      .mkString(" + ")
    val cxCols = (1 to k).map(d => s"coalesce(x$d, 0) AS cx$d").mkString(", ")
    s"WITH $embCte, " +
      "q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e " +
      "WHERE vec_id % 100 = 0), " +
      s"sa AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q, e WHERE vec_id <> qid), " +
      "la AS (SELECT qid, cid, rnk FROM (SELECT qid, cid, row_number() OVER " +
      "(PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sa) " +
      s"WHERE rnk <= $k), " +
      s"sb AS (SELECT qid, vec_id AS cid, round(${cosSql("qv", "v")}, 6) AS cos " +
      "FROM q JOIN e ON e.label = q.cell AND e.vec_id <> q.qid), " +
      "lb AS (SELECT qid, cid, rnk FROM (SELECT qid, cid, row_number() OVER " +
      "(PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sb) " +
      s"WHERE rnk <= $k), " +
      "j AS (SELECT a.qid, greatest(a.rnk, b.rnk) AS mx " +
      s"FROM la a JOIN lb b USING (qid, cid) WHERE greatest(a.rnk, b.rnk) <= $k), " +
      s"xd AS (SELECT qid, unnest(range(mx, ${k + 1})) AS d FROM j), " +
      "xc AS (SELECT qid, d, count(*)::BIGINT AS x FROM xd GROUP BY 1, 2), " +
      s"piv AS (SELECT qid, $xCols FROM xc GROUP BY 1), " +
      "base AS (SELECT DISTINCT qid FROM la), " +
      s"f AS (SELECT base.qid, $cxCols FROM base LEFT JOIN piv USING (qid)) " +
      s"SELECT qid, round(cx$k::DOUBLE / $k, 6) AS overlap_k, " +
      s"round($rboExpr, 6) AS rbo FROM f ORDER BY qid"
  }

  /** q315: Models.bhFdr mirror — seeded p-values with planted signals,
    * the same rank-threshold arithmetic. */
  val bhFdr: String = {
    val uH = h60("doc_id::VARCHAR || ':pv'")
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
  }

  /** q316: Layout.skippingEval mirror — equal-width key buckets per
    * layout, per-file min/max stats, pinned range predicate. */
  val skippingEval: String = {
    val z = (0 until 11).map(i =>
      s"(((v >> $i) & 1) << ${2 * i}) + (((y2 >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val hk = h60("l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")
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
  }

  /** q317: Similarity.kCenterGreedy mirror — the k−1 greedy rounds
    * unrolled as chained CTEs, each with the argmax as an
    * ORDER BY d DESC, cid LIMIT 1 scalar and the same per-round
    * least/round(…, 6) update. */
  def kCenterGreedy(k: Int): String = {
    val steps = (2 to k).map { i =>
      val prev = if (i == 2) "d1" else s"d${i - 1}"
      s"s$i AS (SELECT cid AS id, d FROM $prev ORDER BY d DESC, cid LIMIT 1), " +
        (if (i < k)
          s"d$i AS (SELECT cid, cv, least(d, round(1.0::DOUBLE - " +
            s"list_dot_product(cv, (SELECT cv FROM nrm WHERE cid = " +
            s"(SELECT id FROM s$i))), 6)) AS d FROM $prev), "
        else "")
    }.mkString
    val rows = (s"SELECT 1 AS rank, (SELECT id FROM s1) AS cid, " +
      "2.0::DOUBLE AS dist") +:
      (2 to k).map(i =>
        s"SELECT $i, (SELECT id FROM s$i), (SELECT d FROM s$i)")
    s"WITH $embCte, " +
      "nrm AS (SELECT vec_id AS cid, [x / sqrt(list_dot_product(v, v)) " +
      "for x in v] AS cv FROM e), " +
      "s1 AS (SELECT min(cid) AS id FROM nrm), " +
      "d1 AS (SELECT cid, cv, least(2.0::DOUBLE, round(1.0::DOUBLE - " +
      "list_dot_product(cv, (SELECT cv FROM nrm WHERE cid = " +
      "(SELECT id FROM s1))), 6)) AS d FROM nrm), " +
      steps +
      s"sel AS (${rows.mkString(" UNION ALL ")}) " +
      "SELECT rank, cid, dist FROM sel ORDER BY rank"
  }

  /** q318: Similarity.pqDistortion mirror over the pinned q221 books —
    * same literal entries, same −0.0 guard, same tie rule for codes. */
  val pqDistortion: String = {
    val books = graft.fixtures.PinnedIndex.pqBooksV1
    val m = books.length
    val dsub = books.head.head.length
    val ksub = books.head.length
    def sub(s: Int) = s"cv[${s * dsub + 1}:${(s + 1) * dsub}]"
    def scoresSql(s: Int): String = books(s).map { c =>
      val lits = c.mkString("[", ", ", "]")
      val cn2 = c.map(x => x * x).sum
      s"list_dot_product(${sub(s)}, $lits) * -2.0 + $cn2"
    }.mkString("[", ", ", "]")
    val structs = (0 until m).map { s =>
      s"{'s': $s, 'err': round(list_dot_product(${sub(s)}, ${sub(s)}) + " +
        s"list_min(${scoresSql(s)}), 6) + 0.0, " +
        s"'code': list_position(${scoresSql(s)}, list_min(${scoresSql(s)})) - 1}"
    }.mkString("[", ", ", "]")
    s"WITH $embCte, " +
      "nrm AS (SELECT vec_id AS cid, [x / sqrt(list_dot_product(v, v)) " +
      "for x in v] AS cv FROM e), " +
      s"u AS (SELECT unnest($structs) AS x FROM nrm), " +
      "g AS (SELECT x['s'] AS s, x['err'] AS err, x['code'] AS code FROM u) " +
      "SELECT s, count(*)::BIGINT AS n_vectors, " +
      "round(sum(err) / count(*), 6) AS mse, " +
      "count(DISTINCT code)::BIGINT AS codes_used, " +
      s"round(count(DISTINCT code)::DOUBLE / $ksub.0::DOUBLE, 6) AS code_util " +
      "FROM g GROUP BY s ORDER BY s"
  }

  /** q319: Models.temperatureScaling mirror — integer label synthesis
    * (no libm in the threshold), same σ/NLL/rounding chain per grid T. */
  val temperatureScaling: String = {
    val zH = h60("doc_id::VARCHAR || ':z'")
    val yH = h60("doc_id::VARCHAR || ':y'")
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
  }

  /** q280: Url.domainCap mirror — hash-rank row_number per registered
    * domain, keep rnk ≤ cap. */
  def urlDomainCap(cap: Int): String =
    s"WITH $urlRawCte, $urlCompCte, " +
      "v AS (SELECT doc_id, canon, domain, " +
      s"${h60("domain || '|' || doc_id::VARCHAR")} AS hk " +
      "FROM comp WHERE canon IS NOT NULL), " +
      "r AS (SELECT domain, doc_id, canon, row_number() OVER " +
      "(PARTITION BY domain ORDER BY hk, doc_id) AS rnk FROM v) " +
      s"SELECT domain, rnk::BIGINT AS rnk, doc_id, canon FROM r WHERE rnk <= $cap " +
      "ORDER BY domain, rnk"

  /** q330: replay the 4-round Feistel permutation per epoch — one CTE
    * per round with DISTINCT column names per step (l0/r0 … l4/r4;
    * DuckDB lets a later expression in the same SELECT see an earlier
    * alias, so reusing `l`/`r` each round would be ambiguous). Round
    * keys are generated from the SAME
    * [[graft.ops.Sampling.feistelRoundKeys]] the Spark plan uses, so
    * the two engines agree by construction. */
  def epochShuffle(seed: Long, epochs: Seq[Int], bits: Int): String = {
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
  }

  /** q331: variance-of-Laplacian sharpness from the pixel FORMULA (the
    * q90 pattern — the Spark side parses real bytes, the oracle
    * recomputes): pixel i of doc d is (d·7 + step·13) mod 256 with
    * step = ⌊i/4⌋ on blurred docs (d ≡ 0 mod 3), i otherwise. Interior
    * Laplacian responses via nested list_transform (index list → lap
    * list), exact integer moments, ONE double division. */
  def blurGate(threshold: Double): String = {
    def px(i: String) =
      s"((doc_id*7 + (CASE WHEN doc_id % 3 = 0 THEN ($i) // 4 " +
        s"ELSE ($i) END)*13) % 256)"
    val varE = "(n_interior*lap_ss - lap_sum*lap_sum)::DOUBLE / " +
      "(n_interior::DOUBLE * n_interior)"
    "WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, " +
      "8 + (doc_id % 7) AS h FROM documents), " +
      "l AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
      "((w-2)*(h-2))::BIGINT AS n_interior, " +
      "list_transform(list_transform(range((w-2)*(h-2)), " +
      "j -> (1 + (j // (w-2)))*w + 1 + (j % (w-2))), " +
      s"i -> 4*${px("i")} - ${px("i-1")} - ${px("i+1")} - " +
      s"${px("i-w")} - ${px("i+w")}) AS laps FROM d), " +
      "m AS (SELECT doc_id, width, height, n_interior, " +
      "list_sum(laps)::BIGINT AS lap_sum, " +
      "list_sum(list_transform(laps, v -> v*v))::BIGINT AS lap_ss FROM l) " +
      "SELECT doc_id, width, height, n_interior, lap_sum, lap_ss, " +
      s"$varE AS var_lap, " +
      s"CASE WHEN $varE >= ${threshold}::DOUBLE THEN 1 ELSE 0 END AS sharp " +
      "FROM m ORDER BY doc_id"
  }

  /** q333/q335/q337: Merkle dataset digest — leaf buckets (hash60 of
    * the null-coalesced key mod 2^levels; leaf digest = the 64-hex-char
    * concatenation of 8 per-limb sums mod 2^32 over the 256-bit sha256
    * row hash, the additive lattice-style multiset hash) densified
    * against `range(2^levels)`, then one MATERIALIZED rollup CTE per
    * level (plain CTEs are inlined at EVERY reference — the union plus
    * the next level reference each level twice, so un-materialized this
    * expands 2^levels base scans, the q325 lesson). Parent digest =
    * full 32-hex-char `md5(left || '|' || right)`, matching the
    * driver-side `Hashing.md5Hex` fold. DuckDB sums BIGINT into
    * HUGEINT, so the limb sums never overflow before the mod. */
  def merkleDigest(
      levels: Int,
      table: String = "orders",
      keyExpr: String = "o_orderkey::VARCHAR",
      contentExpr: String = "concat_ws(chr(31), " +
        "coalesce(o_orderkey::VARCHAR, chr(1)), " +
        "coalesce(o_custkey::VARCHAR, chr(1)), " +
        "coalesce(o_orderpriority, chr(1)))"): String = {
    val n = 1 << levels
    def md(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
    val limbs = (0 until 8).map(j =>
      s"('0x' || substr(rh, ${8 * j + 1}, 8))::BIGINT AS l$j").mkString(", ")
    val sums = (0 until 8).map(j =>
      s"(sum(l$j) % 4294967296)::BIGINT").mkString(", ")
    val fmt = "'" + "%08x" * 8 + "'"
    val base = s"b AS (SELECT ${md(s"coalesce($keyExpr, chr(1))")} % $n " +
      s"AS idx, sha256($contentExpr) AS rh FROM $table), " +
      s"b2 AS (SELECT idx, $limbs FROM b)"
    val leaves = s"l$levels AS MATERIALIZED (SELECT r.i AS idx, " +
      "coalesce(g.n, 0)::BIGINT AS n, " +
      "coalesce(g.d, repeat('0', 64)) AS d " +
      s"FROM range($n) r(i) LEFT JOIN (SELECT idx, count(*) AS n, " +
      s"printf($fmt, $sums) AS d FROM b2 GROUP BY idx) g ON r.i = g.idx)"
    val ups = (levels - 1 to 0 by -1).map { lv =>
      s"l$lv AS MATERIALIZED (SELECT idx // 2 AS idx, sum(n)::BIGINT AS n, " +
        "md5(max(CASE WHEN idx % 2 = 0 THEN d END) || '|' || " +
        "max(CASE WHEN idx % 2 = 1 THEN d END)) " +
        s"AS d FROM l${lv + 1} GROUP BY 1)"
    }
    val union = (0 to levels).map(lv =>
      s"SELECT $lv AS level, idx, n AS n_rows, d AS digest FROM l$lv")
      .mkString(" UNION ALL ")
    s"WITH $base, $leaves, ${ups.mkString(", ")} $union ORDER BY level, idx"
  }

  /** q334: Fellegi–Sunter EM — the 20-iteration trajectory replayed as
    * a recursive CTE carrying [p, m₁..₃, u₁..₃] as a LIST (the
    * Holt/IPF recurrence-parity pattern): pattern counts collapse to a
    * single ORDERED struct list (ascending pattern — the same fold
    * order the driver loop uses), so every E/M sum is a `list_sum`
    * over identical elements in identical order, and every parameter
    * is 9dp-rounded per step on both sides. */
  def fsEm(iters: Int): String = {
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
  }

  /** q332: DPO pair construction — the struct-max/min tie-break
    * (higher id wins the chosen side, lower id the rejected side)
    * mirrored as row_number with the matching two-key ORDER BY. */
  val dpoPairs: String =
    "WITH r AS (SELECT doc_id // 8 AS prompt_id, doc_id AS rid, " +
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
      "ORDER BY prompt_id"
}
