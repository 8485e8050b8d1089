package graft

/** DuckDB-dialect SQL fragments that several oracles share, kept in
  * lockstep with the Spark-side derivations (graft.fixtures.TimesheetFixture,
  * graft.pipelines, graft.ops). An oracle used by one query lives in that
  * query's record under `graft.queries`. The oracle runner registers each
  * testdata parquet as a bare-named view and runs the oracles against
  * the same scale factor as Verify. Vals initialize in declaration
  * order: a val must come after every val it reads.
  */
object Oracles {

  private val dayNames =
    Seq("lunedi", "martedi", "mercoledi", "giovedi", "venerdi", "sabato", "domenica")

  private def hourSql(d: Int): String = {
    val v = s"CAST((o_orderkey * ${d + 2} + o_custkey) % 11 AS VARCHAR)"
    s"CASE WHEN (o_orderkey + $d) % 13 = 0 THEN NULL " +
      s"WHEN (o_orderkey + $d) % 17 = 0 THEN 'n/a' " +
      s"WHEN $d = 3 THEN chr(160) || $v || ' ' " +
      s"ELSE $v END AS h_${dayNames(d)}"
  }

  /** The week-start parse for the timesheet fixture's oracles: only the
    * three shapes `TimesheetFixture.wide` writes (day-first slash,
    * day-first dash, ISO; first success wins), not the whole
    * `Cleansing.parseDateLenient` cascade. q225 and q265 prove the other
    * shapes with identity oracles instead. */
  def dateLenientSql(x: String): String =
    s"CAST(coalesce(try_strptime($x, '%d/%m/%Y'), " +
      s"try_strptime($x, '%d-%m-%Y'), try_strptime($x, '%Y-%m-%d')) AS DATE)"

  /** Mirrors TimesheetFixture.wide. */
  val wideCte: String = {
    val hours = (0 until 7).map(hourSql).mkString(", ")
    def range(fmt: String): String =
      s"strftime(date_trunc('week', CAST(o_orderdate AS DATE)), '$fmt') || ' al ' || " +
        s"strftime(date_trunc('week', CAST(o_orderdate AS DATE)) + INTERVAL 6 DAY, '$fmt')"
    "wide AS (SELECT o_orderkey AS rid, o_orderstatus AS sheet, " +
      "CASE WHEN o_orderkey % 97 = 0 THEN 'garbage' " +
      s"WHEN o_orderkey % 7 = 1 THEN ${range("%d-%m-%Y")} " +
      s"WHEN o_orderkey % 7 = 2 THEN ${range("%Y-%m-%d")} " +
      s"ELSE ${range("%d/%m/%Y")} END AS weekrange, " +
      "CASE WHEN o_orderkey % 89 = 0 THEN '  ' ELSE 'Mario ROSSI' || lpad(CAST(o_custkey % 50 AS VARCHAR), 2, '0') END AS autore, " +
      "CASE WHEN o_orderstatus = 'O' THEN 'SHEET-O' ELSE o_orderpriority END AS commessa, " +
      hours + " FROM orders)"
  }

  /** Mirrors Reshape.meltWeek over the wide fixture (nulls retained). */
  val meltCte: String = {
    val branches = dayNames.zipWithIndex.map { case (n, d) =>
      s"SELECT rid, sheet, weekrange, autore, commessa, '$n' AS giorno, $d AS doff, h_$n AS ore_raw FROM wide"
    }
    "melt AS (" + branches.mkString(" UNION ALL ") + ")"
  }

  /** Mirrors TimesheetPipeline.cleansedRecords (P1,P2,P4,P5,P6,P7,P8). */
  val cleanCte: String =
    "clean AS (SELECT rid, commessa, " +
      s"${dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} + doff AS data, " +
      "CASE WHEN trim(autore) = '' THEN 'unknown' ELSE lower(regexp_split_to_array(trim(autore), '\\s+')[-1]) END AS surname, " +
      "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw " +
      "FROM melt WHERE weekrange LIKE '% al %') , " +
      "kept AS (SELECT rid, commessa, data, surname, ore FROM clean " +
      "WHERE ore_raw IS NOT NULL AND ore <> 0.0 AND data IS NOT NULL)"

  /** Mirrors TimesheetFixture.mapping. */
  val mappingCte: String =
    "mapping(code_raw, code_mapped) AS (VALUES " +
      "('1-URGENT', 'P1-URG'), ('2-HIGH', 'P2-HIGH'), ('3-MEDIUM', 'P3-MED'))"

  /** Full cleansed-record pipeline prefix: wide → melt → clean/kept. */
  val recordsWith: String = s"WITH $wideCte, $meltCte, $cleanCte"

  /** E1 flagship oracle (J1 + A2 on the cleansed records). */
  val flagship: String =
    s"$recordsWith, $mappingCte, " +
      "joined AS (SELECT k.data, k.surname, coalesce(m.code_mapped, k.commessa) AS commessa, k.ore " +
      "FROM kept k LEFT JOIN mapping m ON k.commessa = m.code_raw) " +
      "SELECT data, surname, string_agg(DISTINCT commessa, '; ' ORDER BY commessa) AS commessa, " +
      "sum(ore) AS ore FROM joined GROUP BY data, surname ORDER BY data, surname"

  // ─── fragments shared by several oracles ───
  // Hash constants come from the same Scala values as
  // [[graft.ops.Hashing]]: hash60(s) is the first 15 md5 hex chars as a
  // 60-bit int, permutation j = (37j+11)·h + 101j+7 mod 1000000007.

  private[graft] val P = 1000000007L

  private[graft] val K = 16 // minhash signature length

  private[graft] val BANDS = 4

  private[graft] def h60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** documents → word tokens. */
  val tokCte: String =
    "tok AS (SELECT doc_id, source, text, " +
      "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents)"

  /** word 3-gram distinct shingle sets (empty list when < 3 tokens). */
  val sh3Cte: String =
    "sh3 AS (SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ') " +
      "for i in range(len(toks)-2)]) AS shs FROM tok)"

  /** 10-word segments with per-doc position, shared by the segment-dedup
    * oracles. Mirrors Dedup.segmented: consecutive non-overlapping token
    * windows, trailing remainder kept, empty docs excluded. */
  private[graft] val segCte: String =
    "c AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0), " +
      "s AS (SELECT doc_id, toks, unnest(range(0, (n + 9) // 10)) AS i FROM c), " +
      "seg AS (SELECT doc_id, i AS seg_idx, " +
      "array_to_string(toks[i*10+1:i*10+10], ' ') AS seg FROM s)"

  /** Reassembly tail over a `k(doc_id, seg_idx, seg, keep)` CTE. */
  private[graft] val reassembleSql: String =
    "SELECT doc_id, " +
      "coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS text_clean, " +
      "(count(*) FILTER (WHERE keep))::BIGINT AS n_kept, " +
      "(count(*) FILTER (WHERE NOT keep))::BIGINT AS n_dropped " +
      "FROM k GROUP BY doc_id ORDER BY doc_id"

  val dedupJaccard: String =
    s"WITH $tokCte, $sh3Cte, " +
      "shing AS (SELECT doc_id, unnest(shs) AS s FROM sh3), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      "FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT ida AS id_a, idb AS id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jac " +
      "FROM inter JOIN sz x ON ida = x.doc_id JOIN sz y ON idb = y.doc_id " +
      "WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= 0.8 ORDER BY 1, 2"

  /** MinHash est-Jaccard over the banded candidates (exact multiples of
    * 1/K — threshold comparisons decide identically in both engines). */
  private[graft] val estJac: String =
    s"list_sum([CASE WHEN sa[i+1] = sb[i+1] THEN 1 ELSE 0 END " +
      s"for i in range($K)]) / $K.0"

  /** CTE chain ending in `cand(id_a, id_b, sa, sb)` — the MinHash+LSH
    * banded candidate derivation over a `(doc_id, toks)` source CTE
    * (parameterized so pipeline oracles can run it over a filtered
    * survivor set, q234). */
  private[graft] def minhashCandFrom(tokSrc: String): String = {
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
  private[graft] val minhashCandCte: String = s"$tokCte, ${minhashCandFrom("tok")}"

  /** CTE chain ending in `pairs(id_a, id_b, hdist)` — the simhash
    * near-dup pair derivation, shared by the pair and cluster oracles. */
  private[graft] val simhashPairsCte: String =
    s"$tokCte, " +
      "t2 AS (SELECT doc_id, unnest(toks) AS tk FROM tok), " +
      s"th AS (SELECT doc_id, ${h60("tk")} AS h FROM t2), " +
      "bits AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s " +
      "FROM th, range(60) r(j) GROUP BY 1, 2), " +
      "fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS f " +
      "FROM bits GROUP BY 1), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hdist " +
      "FROM fp a JOIN fp b ON a.doc_id < b.doc_id)"

  /** double-precision cosine, sequential fold — mirrors Similarity.cosine. */
  private[graft] def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  val embCte: String =
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"

  /** The pinned Lloyd-trained IVF centroids as literal VALUES rows
    * (cell, vector, ‖c‖²) — shared by the pinned-index oracles; cell is
    * BIGINT to match the Spark side's long cell ids. */
  private[graft] def pinnedCentRows: String =
    graft.fixtures.PinnedIndex.ivfCentroidsV1.zipWithIndex.map {
      case (c, i) =>
        s"($i::BIGINT, ${c.mkString("[", ", ", "]")}::DOUBLE[], ${c.map(x => x * x).sum})"
    }.mkString(", ")

  /** The q233 rule chain (CTEs `f`, `r` — `r` carries source and every
    * rule flag) shared by the rule report, the streaming gate, and the
    * per-source Wilson aggregate. */
  private[graft] def gopherCtes(minStopHits: Int): String = {
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
  private[graft] val gopherPass: String =
    "r_wc AND r_awl AND r_sym AND r_bullet AND r_ellipsis AND r_alpha " +
      "AND r_stop"

  /** Mirrors TextAnalysis.gopherRules (q233): each published rule as the
    * identical regexp-count arithmetic, ratios 6dp-rounded before their
    * threshold compare. */
  def gopherRules(minStopHits: Int): String =
    s"${gopherCtes(minStopHits)} " +
      "SELECT doc_id, n_words, r_wc, r_awl, r_sym, r_bullet, r_ellipsis, " +
      s"r_alpha, r_stop, $gopherPass AS pass FROM r ORDER BY doc_id"

  /** Mirrors pipelines.CurationPipeline.curate (q234): language gate
    * (q19's langid CASE), 6dp quality gate (q20's formula), exact dedup
    * window over the h60 content fingerprint, the banded MinHash chain
    * over the SURVIVOR token set ([[minhashCandFrom]]), first-stage
    * drop attribution, one per-source funnel aggregate. */
  /** The q234 funnel chain through `st(doc_id, source, wc, stage)` —
    * shared by the report (q234) and the balanced continuation (q248). */
  private[graft] def curationStCtes(minQuality: Double, minJac: Double): String = {
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

  private[graft] def simTopKPqBooks(books: Array[Array[Array[Double]]]): String = {
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

  /** Per-asset feature rows of the three REAL codecs (PGM/WAV/Y4M
    * formulas), ending in `f(doc_id, kind, n_bytes, units, val_sum)` —
    * shared by the q23 aggregate and q250's streaming per-row form. */
  private[graft] val multimodalRowCtes: String =
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

  private[graft] def hitRatioSql(listSql: String): String =
    s"(CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
      s"len(list_filter(toks, t -> list_contains($listSql, t))) * 1.0 / len(toks) END)"

  private[graft] def langList(lang: String): String =
    graft.ops.TextAnalysis.stopwords.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Mirrors TextAnalysis.bigramLmScore at vocabSize=20: add-1-smoothed
    * self-trained bigram LM over a top-20 vocab (rest → <unk>),
    * avg_nll = −mean ln (c(w1,w2)+1)/(c(w1)+|vocab|+1). */
  /** The shared bigram-LM training chain (top-20 vocab, unk-mapping,
    * bigram-type counts `lm`, context totals `ctx`) — the model half of
    * q61's add-1 scorer and q232's Kneser–Ney scorer. */
  private[graft] val lmBaseCtes: String =
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
  private[graft] val lmCtes: String =
    s"$lmBaseCtes, " +
      "nv AS (SELECT count(*) AS nv FROM vocab), " +
      "sc AS (SELECT doc_id, avg(-ln((cb + 1.0) / (cw + nv + 1.0))) AS nll " +
      "FROM b JOIN lm USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN nv GROUP BY doc_id), " +
      "scored AS (SELECT d.doc_id, round(coalesce(nll, 0.0), 6) AS avg_nll " +
      "FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)"

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
  private[graft] val logregScoredCte: String = {
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

  /** Shared CTE chain for the residual serving oracles (q341/q342):
    * pinned-cell assignment + probes (the q322 chain), micro-integer
    * centroid lists, per-corpus-row residual int lists, per-probe query
    * micro dims and the exact Σ Qᵢ·Cᵢ term. */
  private[graft] def residualBase(nProbe: Int): String =
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
  private[graft] def rerankTail(candK: Int, k: Int): String =
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

  private[graft] val urlTrackingIn: String =
    graft.ops.Url.trackingParams.map(p => s"'$p'").mkString("(", ", ", ")")

  private[graft] val urlSuffixIn: String =
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

  /** Shared LCS CTE chain for q327's oracle/q310's oracle: token LCS
    * per consecutive-doc pair via a recursive CTE carrying the DP row
    * as a LIST. Classic row update t[j] = max(dp_prev[j+1], dp_prev[j]
    * + match); the intra-row dependency dp_new[j] = max(dp_new[j-1],
    * t[j]) unrolls to a PREFIX MAX, computed per position with
    * list_max over a growing slice (O(m²) per row — m is bounded by
    * the 160-char slice, the chrF slicing posture). Iteration count =
    * ref token count; rows with i < len(r) keep advancing, the final
    * row (max i) holds the LCS in its last cell. Requires the caller
    * to open WITH RECURSIVE. */
  private[graft] val rougeLcsCte: String =
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

  /** Shared readability-count CTE body (q304/q305): words, sentence runs
    * floored at 1, vowel-group + vowel-less-word syllable heuristic. */
  private[graft] val readCountsCte: String =
    "c AS (SELECT doc_id, " +
      "len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS n_words, " +
      "greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences, " +
      "(len(regexp_extract_all(lower(text), '[aeiouy]+')) + " +
      "len(regexp_extract_all(lower(text), '\\b[0-9_b-df-hj-np-tv-xz]+\\b')))" +
      "::BIGINT AS n_syllables FROM documents)"

  /** The q306/q320 shared DP-chain generator: `lead` must end with the
    * `wd` CTE (any extra columns ride through every chain stage via
    * SELECT *), `tail` reads the final `t10` table. */
  private[graft] def unigramDpSql(lead: String, tail: String): String = {
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

  /** q178's PSI oracle, shared verbatim by q183 (the streaming current
    * side accumulates the same bin counts a batch scan produces —
    * complete-mode sums merge across micro-batches). */
  private[graft] val psiDriftOracle: String =
    "WITH r0 AS (SELECT value::DOUBLE AS v FROM events " +
      "WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'), " +
      "c0 AS (SELECT value::DOUBLE AS v FROM events " +
      "WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'), " +
      "b AS (SELECT min(v) AS lo, max(v) AS hi FROM r0), " +
      "rb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, greatest(0, " +
      "floor((v - lo) / ((hi - lo) / 10))))::INT END AS bin, " +
      "count(*)::BIGINT AS n_ref FROM r0 CROSS JOIN b GROUP BY 1), " +
      "cb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, greatest(0, " +
      "floor((v - lo) / ((hi - lo) / 10))))::INT END AS bin, " +
      "count(*)::BIGINT AS n_cur FROM c0 CROSS JOIN b GROUP BY 1), " +
      "s AS (SELECT unnest(range(10))::INT AS bin), " +
      "j AS (SELECT s.bin, coalesce(rb.n_ref, 0) AS n_ref, " +
      "coalesce(cb.n_cur, 0) AS n_cur FROM s " +
      "LEFT JOIN rb ON s.bin = rb.bin LEFT JOIN cb ON s.bin = cb.bin), " +
      "q AS (SELECT bin, n_ref, n_cur, " +
      "(n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 10) AS p, " +
      "(n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 10) AS q FROM j) " +
      "SELECT bin, n_ref, n_cur, round(p, 6) AS p_ref, " +
      "round(q, 6) AS p_cur, " +
      "round((p - q) * ln(p / q), 6) AS psi_contrib, " +
      "round(sum(round((p - q) * ln(p / q), 6)) OVER (), 6) AS psi " +
      "FROM q ORDER BY bin"

  /** Shared by q144 (batch) and q153 (streaming): the drained streaming
    * counter grid is bit-identical to the batch grid, so one oracle
    * serves both. Same permute constants as [[graft.ops.Hashing.permute]]. */
  private[graft] val cmsOracle: String =
    "WITH hp AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT " +
      "% 1000000007 AS h FROM events), " +
      "cells AS (SELECT i AS r, ((37*i+11)*h + (101*i+7)) % 1000000007 % 64 AS b " +
      "FROM hp, range(4) t(i)), " +
      "c AS (SELECT r, b, count(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2), " +
      "e AS (SELECT user_id, count(*)::BIGINT AS exact_cnt FROM events " +
      "GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 20), " +
      "probe AS (SELECT e.user_id, e.exact_cnt, i AS r, " +
      "((37*i+11)*(('0x' || substr(md5(e.user_id::VARCHAR), 1, 15))::BIGINT " +
      "% 1000000007) + (101*i+7)) % 1000000007 % 64 AS b " +
      "FROM e, range(4) t(i)) " +
      "SELECT p.user_id, p.exact_cnt, min(coalesce(c.cnt, 0))::BIGINT AS cms_est, " +
      "(min(coalesce(c.cnt, 0)) - p.exact_cnt)::BIGINT AS overest " +
      "FROM probe p LEFT JOIN c USING (r, b) GROUP BY 1, 2 " +
      "ORDER BY exact_cnt DESC, user_id"

  /** q254's cohort audit, shared verbatim by the streaming monitor
    * (q264) — the drained per-(cohort, user) store rolls up to the same
    * grid a batch scan produces. */
  private[graft] val kAnonymitySql: String =
    "SELECT event_type, CAST(ts AS DATE) AS day, " +
      "count(*)::BIGINT AS group_size, " +
      "count(DISTINCT user_id)::BIGINT AS l_distinct, " +
      "round(1.0::DOUBLE / count(*), 6) AS risk, " +
      "(count(*) < 30)::INT AS violates_k, " +
      "(count(DISTINCT user_id) < 10)::INT AS violates_l " +
      "FROM events GROUP BY 1, 2 ORDER BY event_type, day"

  /** One query's fused TF-IDF ⊕ BM25 chain (q198's oracle body,
    * parameterized by the term set) — top-20 arms, kConst 60, top-15. */
  private[graft] def rrfFusedSql(terms: Seq[String]): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(regexp_extract_all(lower(text), '\\b$t\\b')) AS tf$i"
    }.mkString(", ")
    val tfsD = terms.zipWithIndex.map { case (t, i) =>
      s"len(regexp_extract_all(lower(text), '\\b$t\\b'))::DOUBLE AS tf$i"
    }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
    val scoreA = terms.indices.map(i =>
      s"tf$i * ln((s.n + 1.0) / (s.df$i + 1.0))").mkString(" + ")
    val scoreB = terms.indices.map { i =>
      s"ln((s2.n - s2.df$i + 0.5) / (s2.df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
        s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / s2.avgdl))"
    }.mkString(" + ")
    s"WITH d AS (SELECT doc_id, $tfs FROM documents), " +
      s"s AS (SELECT count(*)::DOUBLE AS n, $dfs FROM d), " +
      s"la AS (SELECT doc_id, round($scoreA, 6) AS sc FROM d, s " +
      "ORDER BY sc DESC, doc_id LIMIT 20), " +
      "ra AS (SELECT doc_id, row_number() OVER " +
      "(ORDER BY sc DESC, doc_id)::INT AS rank_a FROM la), " +
      "d2 AS (SELECT doc_id, " +
      s"len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE AS dl, $tfsD " +
      "FROM documents), " +
      s"s2 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfs FROM d2), " +
      s"lb AS (SELECT doc_id, round($scoreB, 6) AS sc FROM d2, s2 " +
      "ORDER BY sc DESC, doc_id LIMIT 20), " +
      "rb AS (SELECT doc_id, row_number() OVER " +
      "(ORDER BY sc DESC, doc_id)::INT AS rank_b FROM lb) " +
      "SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, rank_a, rank_b, " +
      "round(coalesce(1.0::DOUBLE / (60 + rank_a), 0) + " +
      "coalesce(1.0::DOUBLE / (60 + rank_b), 0), 9) AS rrf " +
      "FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id " +
      "ORDER BY rrf DESC, doc_id LIMIT 15"
  }
}
