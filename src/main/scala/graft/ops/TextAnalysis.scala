package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * All pure `Column` functions over a text column — no UDFs, no explode:
  * each stays a single codegen'd projection, so a 100 TB corpus pays one
  * narrow map pass with filters/projections still pushed to the scan.
  */
object TextAnalysis {

  /** Lower-cased word tokens (`\w+`). */
  def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("\\w+"), lit(0))

  /** BPE-ish subword tokenization: word runs plus individual punctuation
    * marks — the standard pre-tokenizer split (`\w+|[^\w\s]`). */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0))

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column = size(split(trim(c), "\\s+"))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small: language ID at corpus scale is a
    * constant-size `array_intersect`-style scan per doc, not a model. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "mit", "von", "zu", "auf"),
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "dans", "est"))

  /** Fraction of `toks` found in `list` (hit ratio, counts repeats). */
  def hitRatio(toks: Column, list: Seq[String]): Column = {
    val set = array(list.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(set, t)))
        / size(toks).cast("double"))
  }

  /** Language-ID by stopword hit ratio: highest-scoring language wins,
    * alphabetical-first tie-break, zero hits → "und"(etermined). */
  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> hitRatio(toks, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(maxScore > 0.0 && s === maxScore, lit(l)).otherwise(els)
    }
  }

  // ── regexp_count reformulations ──────────────────────────────────────
  // The token-array forms above are the semantic reference, but Spark's
  // higher-order functions (filter/aggregate) have no doGenCode — each
  // element evaluation is an interpreted lambda call, and langId's
  // when-chain re-evaluates every score, multiplying that cost. The
  // variants below compute identical values as whole-text regexp_count
  // passes (RegExpCount is codegen'd): ~40x faster on the documents scan.

  /** Count of `\w+` word tokens ≡ `size(words(c))`, no array built. */
  def wordCount(c: Column): Column = regexp_count(c, lit("\\w+"))

  /** Count of word chars ≡ summed length of `words(c)` — tokens are
    * maximal `\w+` runs, so total token length = total `\w` chars. */
  def wordCharCount(c: Column): Column = regexp_count(c, lit("\\w"))

  /** Stopword occurrences in the lower-cased text as whole words ≡ the
    * number of `words(c)` members of `list`: `\b`-anchored alternation
    * matches exactly the maximal `\w+` runs equal to a list word (both
    * `\w` and `\b` are ASCII in Java and RE2, so Spark and the DuckDB
    * oracle tokenize identically). */
  def hitCount(c: Column, list: Seq[String]): Column =
    regexp_count(lower(c), lit("\\b(" + list.mkString("|") + ")\\b"))

  /** [[hitRatio]] over raw text — bit-identical (int counts → the same
    * double division). */
  def hitRatioText(c: Column, list: Seq[String]): Column = {
    val n = wordCount(c)
    when(n === 0, lit(0.0))
      .otherwise(hitCount(c, list).cast("double") / n.cast("double"))
  }

  /** [[langId]] over raw text — same scores, same tie-break. */
  def langIdText(c: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> hitRatioText(c, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(maxScore > 0.0 && s === maxScore, lit(l)).otherwise(els)
    }
  }

  /** [[avgWordLen]] over raw text (0.0 for token-free text). */
  def avgWordLenText(c: Column): Column =
    when(wordCount(c) === 0, lit(0.0))
      .otherwise(wordCharCount(c).cast("double") / wordCount(c).cast("double"))

  /** [[qualityScore]] over raw text — identical formula and values. */
  def qualityScoreText(c: Column): Column =
    hitRatioText(c, stopwords.toMap.apply("en")) * 0.5 +
      least(wordCount(c).cast("double") / 100.0, lit(1.0)) * 0.5 -
      punctRatio(c) * 0.25

  /** Mean word length of a token array (0.0 for empty). */
  def avgWordLen(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
          / size(toks).cast("double"))

  /** Punctuation chars per text char (regexp_count ≡ size of the
    * extract_all array, without materializing it); 0.0 for empty text
    * (ANSI mode would otherwise raise DIVIDE_BY_ZERO). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      regexp_count(c, lit("[^\\w\\s]")).cast("double") /
        length(c).cast("double"))

  /** Composite document quality score in [~-0.25, 1]: rewards stopword
    * density (fluent prose) and length, penalizes punctuation soup. The
    * exact formula is mirrored in the DuckDB oracle; the *shape* (cheap
    * per-doc ratios combined linearly) is what a corpus filter runs. */
  def qualityScore(text: Column, toks: Column): Column = {
    val stopRatio = hitRatio(toks, stopwords.toMap.apply("en"))
    stopRatio * 0.5 +
      least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 -
      punctRatio(text) * 0.25
  }

  /** The Gopher quality-filter rule battery (Rae et al. 2021, appendix
    * A1.1) — the published heuristic set most open-corpus pipelines
    * (MassiveText, RefinedWeb, FineWeb) start from, as EXPLICIT per-rule
    * boolean flags plus their conjunction, so the drop reason is
    * auditable (the report a curation run keeps, not just the filter):
    *
    *   r_wc       50 ≤ word count ≤ 100,000
    *   r_awl      3 ≤ mean word length ≤ 10
    *   r_sym      symbol-to-word ratio (# / … / "...") ≤ 0.1
    *   r_bullet   ≤ 90% of lines start with a bullet (-, •, *)
    *   r_ellipsis ≤ 30% of lines end with an ellipsis
    *   r_alpha    ≥ 80% of words contain an alphabetic character
    *   r_stop     ≥ `minStopHits` distinct required stop words present
    *              (published list: the, be, to, of, and, that, have,
    *              with; published threshold 2)
    *
    * All ratios are 6dp-rounded before their threshold compare (oracle
    * parity); zero-word docs fail r_wc/r_awl/r_alpha/r_stop and pass
    * the symbol/line rules vacuously (0-ratio). One codegen'd projection over the
    * scan — per-line rules are `(?m)`-anchored regexp_counts, never a
    * split-into-array HOF pass — no shuffle, no UDF; at 100 TB this is
    * a pure map stage that fuses into whatever runs next. */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minStopHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val wc = wordCount(t)
    val r6 = (c: Column) => round(c, 6)
    val ratio = (num: Column) => when(wc === 0, lit(0.0))
      .otherwise(num.cast("double") / wc.cast("double"))
    val nLines = (regexp_count(t, lit("\\n")) + 1).cast("double")
    val lineRatio = (num: Column) => num.cast("double") / nLines
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(w =>
      when(regexp_count(lower(t), lit("\\b" + w + "\\b")) > 0, 1)
        .otherwise(0)).reduce(_ + _)
    df.select(col(idCol), wc.cast("long").as("n_words"),
      (wc >= 50 && wc <= 100000).as("r_wc"),
      (r6(avgWordLenText(t)) >= 3.0 && r6(avgWordLenText(t)) <= 10.0)
        .as("r_awl"),
      (r6(ratio(regexp_count(t, lit("#|\\.\\.\\.|…")))) <= 0.1).as("r_sym"),
      (r6(lineRatio(regexp_count(t, lit("(?m)^\\s*[-•*]")))) <= 0.9)
        .as("r_bullet"),
      (r6(lineRatio(regexp_count(t, lit("(?m)(\\.\\.\\.|…)$")))) <= 0.3)
        .as("r_ellipsis"),
      (r6(ratio(regexp_count(lower(t), lit("\\w*[a-z]\\w*")))) >= 0.8)
        .as("r_alpha"),
      (stopHits >= minStopHits).as("r_stop"))
      .withColumn("pass",
        col("r_wc") && col("r_awl") && col("r_sym") && col("r_bullet") &&
          col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** Order-sensitive 60-bit content fingerprint of the normalized
    * (lower-cased, whitespace-collapsed) word stream. */
  def contentFingerprint(c: Column): Column =
    Hashing.hash60(concat_ws(" ", words(c)))

  /** Unicode NFC normalization (native codegen'd expression,
    * [[graft.expressions.NfcNormalize]]): combining sequences fold into
    * precomposed code points so dedup keys and tokens see one spelling
    * per grapheme. Also registered for SQL as `nfc_normalize` via
    * [[graft.ext.GraftExtensions]]. */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.NfcNormalize(Bridge.expression(c)))
  }

  /** Fixed-size token chunking with overlap — context-window preparation
    * (RAG / pretraining chunking; the within-document dual of
    * [[packBins]], which packs whole docs). Chunk c starts at token
    * c·(chunkTokens−overlap); starts run while they still contribute at
    * least one token past the previous chunk's overlap, so the trailing
    * chunk may be short but never redundant. Empty docs emit nothing.
    * Pure expressions — tokenize, `sequence`, one `posexplode`,
    * `slice` — a single Generate over the scan, no shuffle; chunk count
    * scales with corpus tokens, never with document count alone. */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 128,
      overlap: Int = 32): DataFrame = {
    require(0 <= overlap && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol), words(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(0),
          greatest(col("_n") - overlap - 1, lit(0)), lit(stride))))
      .select(col(idCol), col("pos").cast("long").as("chunk_no"),
        slice(col("_toks"), col("col") + 1, lit(chunkTokens)).as("_chunk"))
      .select(col(idCol), col("chunk_no"),
        size(col("_chunk")).cast("long").as("n_tok"),
        concat_ws(" ", col("_chunk")).as("chunk"))
  }

  /** PII masking regexes (emails, IPv4 addresses, 7+-digit phone-ish
    * runs). RE2-compatible syntax only (no lookarounds), so the DuckDB
    * oracle applies the literally identical patterns. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val longNumRe = "\\d{7,}"

  /** PII scrubbing — the pre-training hygiene pass every public-corpus
    * pipeline runs (emails / IPs / phone-ish numbers → typed
    * placeholders). Masks apply in a fixed sequence (email → IPv4 →
    * digit-runs) and each kind is counted on the text the PREVIOUS stage
    * produced, so an IPv4 never double-counts as a long number. Pure
    * codegen'd regexp projections: one pass, no shuffle, scales linearly
    * with corpus bytes. Returns (idCol, n_email, n_ip, n_num, scrubbed). */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, longNumRe, "<NUM>")
    df.select(
      col(idCol),
      regexp_count(t0, lit(emailRe)).as("n_email"),
      regexp_count(t1, lit(ipv4Re)).as("n_ip"),
      regexp_count(t2, lit(longNumRe)).as("n_num"),
      t3.as("scrubbed"))
  }

  /** Deterministic train/val/test assignment from a stable id: the same
    * row lands in the same split on every run, any engine, any partition
    * count — the reproducibility contract RNG-based splits can't give.
    * Buckets by hash60(id) % 100: [0,trainPct) train, then val, rest test. */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = Hashing.hash60(id.cast("string")) % 100
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Weighted sampling without replacement, Efraimidis–Spirakis form:
    * each row draws a deterministic uniform u ∈ (0, 1] from its id hash
    * and ranks by key = ln(u)/w (equivalently u^(1/w)) — the classic
    * distributed one-pass reservoir, here with the RNG replaced by the
    * id hash so the same corpus samples identically on any engine, any
    * partitioning, any run. Top-`k` keys per stratum win.
    *
    * Scale shape: one codegen'd projection for the key, then
    * [[TopK.perKey]] — per-partition bounded heaps, merge by key, no
    * stratum-wide sort; the key is 9dp-rounded so the float ranking is
    * bit-stable across engines (libm `ln` may differ in the last ulp). */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weightCol: String,
      k: Int): DataFrame = {
    val u = (Hashing.hash60(col(idCol).cast("string")) % 1000000000L + 1) /
      lit(1.0e9)
    val keyed = df.withColumn("es_key",
      round(log(u) / col(weightCol).cast("double"), 9))
    TopK.perKey(keyed, Seq(strataCol),
      Seq(("es_key", false), (idCol, true)), k)
  }

  /** Greedy sequence packing for training-context assembly: docs are
    * packed in `orderCol` order into fixed-`ctxTokens` bins — doc d goes
    * to bin floor(tokens-before-d / ctx). One running-sum window per
    * `groupCol` shard (packing at corpus scale is per-shard by design:
    * the window parallelizes across groups and stays deterministic,
    * where a global running sum would serialize on one task). */
  def packBins(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      nTokCol: String,
      ctxTokens: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(nTokCol)).over(w))
      .withColumn("bin", floor((col("_cum") - col(nTokCol)) / ctxTokens))
      .drop("_cum")
  }

  /** Packing-efficiency sweep — [[packBins]] evaluated at each context
    * length in `ctxs`: bins, total token mass, the largest bin, and the
    * fill rate total/(bins·ctx). The capacity-planning report read
    * before committing a context length (the [[graft.ops.Dedup.thresholdSweep]]
    * posture applied to sequence packing): short contexts waste bins on
    * boundary splits, long contexts strand tail capacity.
    *
    * Scale shape: each level is [[packBins]]'s per-group running-sum
    * window (one sorted shuffle by group) folded twice — (group, bin)
    * then 1-row — and levels union into one plan; the corpus tokenizes
    * once per level (a map pass), nothing collects. */
  def packSweep(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      nTokCol: String,
      ctxs: Seq[Int]): DataFrame = {
    require(ctxs.nonEmpty && ctxs.forall(_ >= 1), "ctxs must be positive")
    ctxs.map { ctx =>
      packBins(df, groupCol, orderCol, nTokCol, ctx)
        .groupBy(groupCol, "bin").agg(sum(col(nTokCol)).as("_bt"))
        .agg(count(lit(1)).as("n_bins"), sum("_bt").as("total_tokens"),
          max("_bt").as("max_bin_tokens"))
        .select(lit(ctx).as("ctx_tokens"), col("n_bins"),
          col("total_tokens"), col("max_bin_tokens"),
          round(col("total_tokens").cast("double") /
            (col("n_bins") * lit(ctx)).cast("double"), 6).as("fill_rate"))
    }.reduce(_ unionByName _)
  }

  /** Zipf rank–frequency fit over the top-`vocabSize` vocabulary: OLS of
    * ln freq on ln rank, returning (n_types, slope, intercept, r2) —
    * the corpus-health check (natural language sits near slope ≈ −1;
    * template/boilerplate-heavy corpora flatten, exact-dup-heavy ones
    * steepen). All three statistics derive from ONE six-sum aggregate
    * over the ≤V-row vocabulary; the corpus pays a single token count
    * (the [[buildVocab]] pass). Degenerate fits (fewer than 2 types, or
    * zero x-variance) return null slope/intercept/r2 (ANSI-safe). */
  def zipfFit(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 2, "vocabSize must be >= 2")
    val pts = buildVocab(df, textCol, vocabSize)
      .select(log((col("token_id") + 1).cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).cast("double").as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    s.withColumn("_sl", when(varX > 0, cov / varX))
      .select(col("n").cast("long").as("n_types"),
        round(col("_sl"), 6).as("slope"),
        round((col("sy") - col("_sl") * col("sx")) / col("n"), 6)
          .as("intercept"),
        when(varX > 0 && varY > 0, round(cov * cov / (varX * varY), 6))
          .as("r2"))
  }

  /** TF-IDF top-k retrieval for a fixed term list: tf = whole-word
    * occurrences ([[hitCount]]-style regexp_count, codegen'd), document
    * frequencies + corpus size from ONE aggregate broadcast back over the
    * scan, score = Σ tf·ln((N+1)/(df+1)) rounded to 6dp (ln may differ in
    * the last ulp across engines), ties broken by id. Two passes over the
    * corpus, no shuffle except the final top-k (TakeOrderedAndProject). */
  def tfidfTopK(
      df: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      regexp_count(lower(col(textCol)), lit("\\b" + t + "\\b")).as(s"tf$i")
    }
    val d = df.select(col(idCol) +: tfCols: _*)
    val statAggs = count(lit(1)).cast("double").as("n") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = d.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.indices.map(i =>
      col(s"tf$i") * log((col("n") + 1.0) / (col(s"df$i") + 1.0))).reduce(_ + _)
    d.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BM25 ranking over fixed query terms (Robertson–Spärck Jones, the
    * k1/b saturating form Lucene defaults to) — [[tfidfTopK]]'s
    * production sibling: term frequency saturates past k1 and long
    * documents are penalized toward the corpus mean length.
    *
    * Engine-parity note: `dl` and the corpus stats are integer-valued
    * doubles, so their sums are EXACT (< 2⁵³) and order-independent —
    * `avgdl` is bit-identical across engines despite float partial
    * aggregation. Scale shape: identical to tfidfTopK — per-doc regexp
    * projection, ONE 1-row global stats agg broadcast back (the only
    * non-equi join is 1×N against a single row), TakeOrderedAndProject
    * top-k, no sort of the corpus. */
  def bm25TopK(
      df: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      regexp_count(lower(col(textCol)), lit("\\b" + t + "\\b"))
        .cast("double").as(s"tf$i")
    }
    val d = df.select(
      col(idCol) +: size(words(col(textCol))).cast("double").as("dl") +:
        tfCols: _*)
    val statAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = d.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5)
        + 1.0)
      idf * (col(s"tf$i") * lit(k1 + 1.0)) /
        (col(s"tf$i") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    d.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion of two ranked candidate lists — the standard
    * hybrid-retrieval combiner (lexical BM25 ⊕ dense cosine, or any two
    * retrievers): each arm contributes `1/(kConst + rank)` (rank from 1
    * by (`scoreCol` desc, `idCol` asc) — the deterministic tie-break both
    * retrievers here already emit), a document missing from an arm
    * contributes 0, fused score 9dp-rounded so the two-term float sum is
    * engine-identical. Returns the top `topK` by (rrf desc, id asc) with
    * both ranks exposed (null = not retrieved by that arm).
    *
    * Scale note: inputs are RANKED CANDIDATE LISTS (top-k outputs of
    * retrievers like [[bm25TopK]]/[[tfidfTopK]]), bounded at k rows per
    * query. Production hybrid retrieval is always multi-query, so the
    * BATCHED shape is the op: [[rrfFuseBatched]] partitions every window
    * and the per-query truncation by `queryCol` and parallelizes across
    * queries; this single-list form is the one-query special case (a
    * constant query key, then dropped). */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      scoreCol: String,
      kConst: Int = 60,
      topK: Int = 10): DataFrame =
    rrfFuseBatched(a.withColumn("_q", lit(1)), b.withColumn("_q", lit(1)),
      "_q", idCol, scoreCol, kConst, topK).drop("_q")

  /** Batched reciprocal-rank fusion — [[rrfFuse]] over a whole query
    * workload at once: both frames carry `queryCol`, each query's two
    * arms are ranked independently (`1/(kConst + rank)`, rank from 1 by
    * (`scoreCol` desc, `idCol` asc); a document missing from an arm
    * contributes 0, fused score 9dp-rounded), and each query keeps its
    * top `topK` by (rrf desc, id asc) with both ranks exposed (null =
    * not retrieved by that arm).
    *
    * Scale shape: rank windows partition by query (state bounded by one
    * query's candidate list, queries parallelize across partitions); the
    * full-outer join keys on (query, id); the per-query truncation is
    * the sort-free [[graft.plans.TopKPerKeyExec]] heap — no global sort,
    * no driver loop over queries, one plan for the entire workload. */
  def rrfFuseBatched(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      idCol: String,
      scoreCol: String,
      kConst: Int = 60,
      topK: Int = 10): DataFrame = {
    require(kConst >= 1, "kConst must be >= 1")
    def ranked(df: DataFrame, out: String) = {
      val w = Window.partitionBy(col(queryCol))
        .orderBy(col(scoreCol).desc, col(idCol))
      df.select(col(queryCol), col(idCol), row_number().over(w).as(out))
    }
    val fused = ranked(a, "rank_a")
      .join(ranked(b, "rank_b"), Seq(queryCol, idCol), "full")
      .select(col(queryCol), col(idCol), col("rank_a"), col("rank_b"),
        round(
          coalesce(lit(1.0) / (lit(kConst) + col("rank_a")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kConst) + col("rank_b")), lit(0.0)),
          9).as("rrf"))
    graft.ops.TopK.perKey(fused, Seq(queryCol),
      Seq("rrf" -> false, idCol -> true), topK)
  }

  /** Offline ranking-quality metrics for a retrieval workload — NDCG@k
    * and MRR@k (Järvelin & Kekäläinen 2002), the numbers a retrieval
    * stack regression-gates on; completes the retrieval family: build
    * ([[tfidfTopK]]/[[bm25TopK]]), fuse ([[rrfFuseBatched]]), EVALUATE.
    * `ranked` is a per-query candidate list (queryCol, idCol, scoreCol);
    * `rels` the graded relevance judgments (queryCol, idCol, relCol ≥ 0
    * — the qrels table). Per query:
    *
    *   DCG@k  = Σ_{r≤k} (2^rel − 1) / log₂(r + 1)   (rank by score desc,
    *            id asc; unjudged docs rel = 0)
    *   IDCG@k = the same sum over the k highest judged relevances
    *   NDCG   = DCG/IDCG (null when the query has no judged positives)
    *   MRR    = 1/rank of the first judged-positive hit (0 if none)
    *
    * Scale shape: rank windows partition by query over BOUNDED inputs —
    * `ranked` is a top-k candidate list by construction, and the ideal
    * side cuts qrels to k rows per query with the sort-free
    * [[graft.ops.TopK.perKey]] heap BEFORE its window; gains are exact
    * (integer-valued 2^rel), the ≤k-term float sums round to 6dp. One
    * plan for the whole workload, queries parallelize across partitions.
    *
    * GRADE CEILING: rel is clamped to 900 before the 2^rel gain —
    * 2^900 ≈ 8.5e270 stays finite where an unclamped 2^1024 overflows to
    * Inf and poisons NDCG into Inf/Inf = NaN. Grades this large carry no
    * ordering information anyway (double spacing near 2^900 dwarfs every
    * smaller term); oracles mirror the identical least(rel, 900). */
  def rankingMetrics(
      ranked: DataFrame, // (queryCol, idCol, scoreCol)
      rels: DataFrame, // (queryCol, idCol, relCol)
      queryCol: String,
      idCol: String,
      scoreCol: String,
      relCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val gain = (rel: Column, rnk: Column) =>
      (pow(lit(2.0), least(rel, lit(900.0))) - 1.0) /
        log2(rnk.cast("double") + 1.0)
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val top = ranked
      .select(col(queryCol), col(idCol), row_number().over(w).as("_rnk"))
      .filter(col("_rnk") <= k)
    val judged = rels.filter(col(relCol) > 0)
      .select(col(queryCol), col(idCol), col(relCol).cast("double").as("_rel"))
    val dcg = top
      .join(judged, Seq(queryCol, idCol), "left")
      .withColumn("_rel", coalesce(col("_rel"), lit(0.0)))
      .groupBy(queryCol)
      .agg(sum(gain(col("_rel"), col("_rnk"))).as("_dcg"),
        min(when(col("_rel") > 0, col("_rnk"))).as("_first"))
    val wi = Window.partitionBy(col(queryCol))
      .orderBy(col("_rel").desc, col(idCol))
    val idcg = graft.ops.TopK
      .perKey(judged, Seq(queryCol), Seq("_rel" -> false, idCol -> true), k)
      .select(col(queryCol), col("_rel"), row_number().over(wi).as("_rnk"))
      .groupBy(queryCol)
      .agg(sum(gain(col("_rel"), col("_rnk"))).as("_idcg"))
    dcg.join(idcg, Seq(queryCol), "left")
      .select(col(queryCol),
        round(col("_dcg"), 6).as("dcg"),
        round(col("_idcg"), 6).as("idcg"),
        when(col("_idcg") > 0, round(col("_dcg") / col("_idcg"), 6)).as("ndcg"),
        round(coalesce(lit(1.0) / col("_first"), lit(0.0)), 6).as("mrr"))
  }

  /** BPE merge-table training (Sennrich et al. 2016) — the pair-merge
    * half of the tokenizer-training front end ([[buildVocab]] is the
    * frequency half): `merges` rounds of "count adjacent symbol pairs
    * over the word-frequency table, merge the most frequent pair
    * everywhere". Returns the merge table (step, lhs, rhs, pair_freq) —
    * the artifact a tokenizer ships. Deterministic: ties break on the
    * pair key (freq desc, "lhs|rhs" asc, binary UTF-8 — identical
    * collation in both engines).
    *
    * Words are carried as `(s)(y)(m)` strings: every symbol is
    * parenthesis-wrapped (safe — [[words]] emits `\w+`, so the corpus
    * never contains parens), which makes one `replace()` of
    * `"(l)(r)" -> "(lr)"` EXACTLY the leftmost-first single-pass merge
    * (adjacent matches share no characters, so replace-all cannot skip
    * a legal merge or merge across a symbol boundary) — and `replace`
    * behaves identically in Spark and DuckDB, giving the training loop
    * a full hash oracle (q228).
    *
    * Scale shape: the ONLY corpus-scale pass is the initial word count
    * (explode + map-side-combined hash-agg); every round then runs over
    * the VOCABULARY table — one pair hash-agg, a TakeOrderedAndProject
    * top-1, and a 1-row broadcast re-entry for the rewrite (the q32
    * scalar posture), with a lazy localCheckpoint per round bounding
    * plan depth (the pageRank knob). Rounds are inherently sequential —
    * that is BPE, not a formulation choice; HF's trainer iterates the
    * same way over the same word-count table. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 1024, "merges in [1, 1024]")
    val sess = df.sparkSession
    var cur = df.select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("word"), "(.)", "($1)").as("w"), col("freq"))
      .localCheckpoint(false)
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (step <- 1 to merges) {
      val syms = regexp_extract_all(col("w"), lit("\\(([^)]*)\\)"), lit(1))
      val pairs = cur
        .select(col("freq"), explode(
          when(size(syms) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(syms) - 1),
              i => concat(element_at(syms, i), lit("|"),
                element_at(syms, i + 1))))).as("p"))
        .groupBy("p").agg(sum(col("freq")).as("f"))
      val top = pairs.orderBy(col("f").desc, col("p")).limit(1)
        .select(col("p").as("_p"), col("f").as("_f"))
      steps += top.select(lit(step).as("step"),
        substring_index(col("_p"), "|", 1).as("lhs"),
        substring_index(col("_p"), "|", -1).as("rhs"),
        col("_f").as("pair_freq"))
      // 1-row left re-entry: an exhausted pair table (fewer distinct
      // pairs than rounds) leaves the words untouched instead of
      // annihilating them through an empty cross join
      cur = cur.join(broadcast(top), lit(true), "left")
        .withColumn("w", when(col("_p").isNull, col("w")).otherwise(
          expr("replace(w, '(' || substring_index(_p, '|', 1) || ')(' || " +
            "substring_index(_p, '|', -1) || ')', " +
            "'(' || substring_index(_p, '|', 1) || " +
            "substring_index(_p, '|', -1) || ')')")))
        .drop("_p", "_f")
        .localCheckpoint(false)
    }
    steps.reduce(_ unionByName _)
  }

  /** [[bpeTrain]] at REALISTIC merge counts — O(1) Spark jobs instead of
    * O(merges): ONE distributed word-count pass (the only corpus-scale
    * work; map-side-combined hash-agg), then the merge loop runs
    * driver-side over the collected word-frequency table — the
    * [[Similarity.pqTrain]] bounded-materialization posture. The
    * collected table is bounded by `vocabCap` WORD TYPES (vocabulary
    * grows ~Heaps-law, not with corpus size; the top-`vocabCap` types by
    * (freq desc, word asc) are kept — a deterministic cap any oracle
    * mirrors with ORDER BY + LIMIT). Per round the loop counts adjacent
    * symbol pairs weighted by word freq, picks the max by (freq desc,
    * "lhs|rhs" asc — symbols are ASCII `\w` tokens, so JVM string order
    * ≡ binary UTF-8), and applies the leftmost-first non-overlapping
    * merge — exactly [[bpeTrain]]'s per-round Spark plan
    * (`TextAnalysisSpec` proves row-identical output on the same
    * corpus). A 30k-merge production train is 30k O(vocab) loop
    * iterations here versus 30k scheduler rounds there. */
  def bpeTrainDriver(
      df: DataFrame,
      textCol: String,
      merges: Int,
      vocabCap: Int = 1 << 16): DataFrame = {
    require(merges >= 1 && merges <= (1 << 16), "merges in [1, 65536]")
    val spark = df.sparkSession
    import spark.implicits._
    val wf: Array[(String, Long)] = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(vocabCap)
      .as[(String, Long)].collect()
    // one round of the leftmost-first non-overlapping merge — the array
    // form of one replace() pass over the paren representation
    def mergeOnce(syms: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
    var table: Array[(Array[String], Long)] =
      wf.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val steps = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= merges) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        // max by (freq desc, JOINED pair string asc) — the joined form,
        // not the (lhs, rhs) tuple: "ab|c" < "a|bc" though ("a","bc") <
        // ("ab","c"); both engines order the joined string
        val ((l, r), f) = counts.minBy { case ((a, b), n) => (-n, a + "|" + b) }
        steps += ((step, l, r, f))
        table = table.map { case (syms, f0) => (mergeOnce(syms, l, r), f0) }
      }
      // exhausted pair table: no row for this step, words untouched —
      // identical to bpeTrain's empty-top-1 left-join round
      step += 1
    }
    steps.toSeq.toDF("step", "lhs", "rhs", "pair_freq")
  }

  /** The paren-string merge chain over a `word` column — shared by
    * [[bpeSegment]] and [[bpeFertility]]; see [[bpeTrain]] for why one
    * `replace()` per merge is the exact leftmost-first merge. */
  private def bpeMergedWord(merges: Seq[(String, String)]): Column = {
    require(merges.nonEmpty, "empty merge list")
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == '(' || c == ')' || c == '|') },
      "merge symbols must be paren/pipe-free")
    val w0 = regexp_replace(col("word"), "(.)", "($1)")
    merges.foldLeft(w0) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s"($l)($r)"), lit(s"($l$r)"))
    }
  }

  /** Apply a FIXED merge list to tokenize text — [[bpeTrain]]'s serving
    * half, the [[graft.fixtures.PinnedIndex]] posture: the merge table
    * is a shipped artifact (literals in the plan), application is the
    * same paren-string replace chain, one word at a time, merges in
    * table order. Returns (idCol, token, n) — per-document token
    * counts over the merged symbol vocabulary. */
  def bpeSegment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .select(col(idCol),
        explode(regexp_extract_all(bpeMergedWord(merges),
          lit("\\(([^)]*)\\)"), lit(1))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("n"))

  /** Tokenizer fertility report — THE standard tokenizer-quality metric
    * (tokens per word; chars per token is its inverse view): apply the
    * pinned merge table and aggregate per group (typically the declared
    * language — fertility gaps across languages are how tokenizer bias
    * is measured). Returns (groupCol, n_docs, n_words, n_tokens,
    * fertility, chars_per_token), ratios 6dp-rounded.
    *
    * Scale shape: one tokenize Generate, the per-word merge chain is a
    * codegen'd scalar projection (token COUNT via one regexp count — the
    * symbol array is never exploded), then a single hash-agg by group;
    * no window, no join, no second corpus pass. */
  def bpeFertility(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(groupCol), col(idCol),
        explode(words(col(textCol))).as("word"))
      .select(col(groupCol), col(idCol), length(col("word")).as("wl"),
        size(regexp_extract_all(bpeMergedWord(merges),
          lit("\\(([^)]*)\\)"), lit(1))).as("nt"))
      .groupBy(groupCol)
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        sum(col("wl")).as("_chars"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6).as("fertility"),
        round(col("_chars").cast("double") / col("n_tokens").cast("double"),
          6).as("chars_per_token"))

  /** ROUGE-N overlap between a reference and a candidate text per row —
    * the standard n-gram generation-eval metric (Lin 2004): clipped
    * overlap `Σ_g min(count_ref(g), count_cand(g))`, precision =
    * overlap/|cand grams|, recall = overlap/|ref grams|, F1 from the
    * 6dp-ROUNDED P/R (the cross-engine float contract). Zero-gram sides
    * yield null for the affected ratio (ANSI-safe), and F1 is null
    * whenever P+R is 0 or either side is null.
    *
    * Scale shape: MAP-ONLY — the codegen'd
    * [[graft.expressions.GramClipOverlap]] kernel counts the clipped
    * overlap inside the row (both texts share it); no explode, no
    * shuffle, no cross-row state; eval sets of any size parallelize
    * embarrassingly. */
  def rougeN(
      df: DataFrame,
      idCol: String,
      refCol: String,
      candCol: String,
      n: Int = 1): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // map-only: the codegen'd GramClipOverlap kernel (the bleu/chrF
    // posture) — order n is the last element of the 1..n overlap array.
    // Gram COUNTS are arithmetic (tokens − (n−1), floored at 0): never
    // materialize gram strings just to size() them
    def gramCount(c: Column): Column = {
      val t = size(words(c))
      when(t < n, lit(0)).otherwise(t - (n - 1))
    }
    val ovC = Bridge.column(graft.expressions.GramClipOverlap(
      Bridge.expression(words(col(refCol))),
      Bridge.expression(words(col(candCol))), n, chars = false))
    df.select(col(idCol), gramCount(col(refCol)).as("n_ref"),
        gramCount(col(candCol)).as("n_cand"),
        get(ovC, lit(n - 1)).cast("long").as("overlap"))
      .na.fill(0L, Seq("overlap"))
      .withColumn("rouge_p", when(col("n_cand") > 0,
        round(col("overlap") / col("n_cand"), 6)))
      .withColumn("rouge_r", when(col("n_ref") > 0,
        round(col("overlap") / col("n_ref"), 6)))
      .withColumn("rouge_f", when(col("rouge_p") + col("rouge_r") > 0,
        round(lit(2.0) * col("rouge_p") * col("rouge_r") /
          (col("rouge_p") + col("rouge_r")), 6)))
  }

  /** ROUGE-L (Lin 2004 §3.2): sentence-level LCS-based P/R/F per
    * (reference, candidate) row — the most-reported summarization
    * metric, scoring IN-ORDER coverage without [[rougeN]]'s contiguity
    * requirement. P = LCS/|cand tokens|, R = LCS/|ref tokens|, F1 from
    * the 6dp-ROUNDED P/R (the cross-engine float contract). Zero-token
    * sides yield null for the affected ratio (ANSI-safe); F is null
    * whenever P+R is 0 or either side is null.
    *
    * Scale shape: MAP-ONLY — the codegen'd
    * [[graft.expressions.TokenLcs]] kernel runs the O(n·m) rolling-row
    * DP inside the row (both texts share it); no explode, no shuffle,
    * no cross-row state. The quadratic cost is per-PAIR and bounded by
    * the caller's text length (sentence/slice granularity — the metric
    * is defined at sentence level; callers slice long texts the way
    * [[chrF]] callers do). */
  def rougeL(
      df: DataFrame,
      idCol: String,
      refCol: String,
      candCol: String): DataFrame = {
    val lcsC = Bridge.column(graft.expressions.TokenLcs(
      Bridge.expression(words(col(refCol))),
      Bridge.expression(words(col(candCol)))))
    df.select(col(idCol),
        size(words(col(refCol))).cast("long").as("n_ref"),
        size(words(col(candCol))).cast("long").as("n_cand"),
        lcsC.as("lcs"))
      .withColumn("rouge_l_p", when(col("n_cand") > 0,
        round(col("lcs") / col("n_cand"), 6)))
      .withColumn("rouge_l_r", when(col("n_ref") > 0,
        round(col("lcs") / col("n_ref"), 6)))
      .withColumn("rouge_l_f", when(col("rouge_l_p") + col("rouge_l_r") > 0,
        round(lit(2.0) * col("rouge_l_p") * col("rouge_l_r") /
          (col("rouge_l_p") + col("rouge_l_r")), 6)))
  }

  /** Per-document keyphrase extraction: the top `k` corpus-weighted
    * terms of each document by TF-IDF (`tf · ln((N+1)/(df+1))`,
    * 6dp-rounded), with a stop-term gate — terms in more than
    * `maxDfFrac` of the corpus carry no signal and are dropped BEFORE
    * scoring. [[tfidfTopK]] ranks documents for a fixed query; this is
    * the transpose (terms per document) feeding tagging, routing, and
    * index summarization.
    *
    * Scale shape: one tokenize explode → (doc, term, tf) hash-aggregate
    * (map-side combined) → term-df aggregate bounded by the vocabulary →
    * equi-join back by term; N is a 1-row broadcast. The per-doc top-k
    * runs on the sort-free [[graft.plans.TopKPerKeyExec]] heap operator —
    * state k rows per document, no partition sort. */
  def keyphrases(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxDfFrac: Double = 0.5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac must be in (0, 1]")
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfs, "term")
      .crossJoin(broadcast(n))
      .filter(col("df") <= col("n") * maxDfFrac)
      .withColumn("score",
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
      .select(col(idCol), col("term"), col("score"))
    graft.ops.TopK.perKey(scored, Seq(idCol),
      Seq("score" -> false, "term" -> true), k)
  }

  /** Vocabulary construction (the tokenizer-training front half): global
    * word frequencies → top-`size` by (freq desc, token asc) → contiguous
    * ids 0..size-1. Scale shape: one explode + hash-aggregate whose
    * shuffle carries (token, partial count) — map-side combine means the
    * token stream itself never crosses the wire; the top-k truncation is
    * TakeOrderedAndProject (no global sort of the full vocabulary); the
    * id-assigning row_number window runs over the `size` surviving rows
    * only, so the single-partition window is bounded by the vocab size,
    * never the corpus. */
  def buildVocab(df: DataFrame, textCol: String, size: Int): DataFrame = {
    val counts = df.select(explode(words(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    // NOT checkpointed here (r11): single-use consumers (q57, zipfFit,
    // q186) would pay an extra materialization job for nothing — the
    // multi-reference LM consumers checkpoint the ≤`size`-row result at
    // their own call sites (bigramLmScore / knBigramScore).
    counts.orderBy(col("freq").desc, col("token")).limit(size)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))) - 1)
  }

  /** Contrastive training-triplet mining: (anchor, positive, negative)
    * rows for embedding/retriever training — positives are MinHash+LSH
    * near-dup pairs ([[Dedup.minhashPairs]], est-Jaccard ≥ `minEstJac`),
    * negatives are RANDOM-by-hash draws: docs are hashed into `nBuckets`
    * buckets, each bucket's representative is its min id (a bounded
    * broadcast table), and the anchor's md5 picks a bucket — falling to
    * the next bucket when the draw collides with the anchor/positive,
    * dropping the row if both collide (vanishing probability at corpus
    * scale). Fully deterministic: same corpus → same triplets, no RNG
    * state (the q135/q212 md5 posture). These are EASY negatives — the
    * standard first epoch; hard negatives come from an ANN pass
    * ([[Similarity]]) instead of this op.
    *
    * Scale shape: pair generation is the banded LSH join (never
    * all-pairs); the negative draw is two broadcast joins against the
    * ≤`nBuckets`-row rep table — the corpus is never re-shuffled. */
  def contrastiveTriplets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minEstJac: Double = 0.5,
      nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val d = df.select(col(idCol), words(col(textCol)).as("toks"))
    val pos = Dedup.minhashPairs(d, idCol, Dedup.shingles(col("toks"), 3))
      .filter(col("est_jac") >= minEstJac)
      .select(col("id_a").as("anchor"), col("id_b").as("positive"),
        col("est_jac"))
    def bucketOf(c: Column, salt: String) =
      pmod(Hashing.hash60(concat(c.cast("string"), lit(salt))),
        lit(nBuckets.toLong))
    val rep = df.select(col(idCol).as("doc"),
        bucketOf(col(idCol), ":cp").as("b"))
      .groupBy("b").agg(min(col("doc")).as("rep"))
    val r1 = rep.select(col("b").as("t"), col("rep").as("rep1"))
    val r2 = rep.select(col("b").as("t2"), col("rep").as("rep2"))
    def ok(r: Column) =
      r.isNotNull && r =!= col("anchor") && r =!= col("positive")
    pos.withColumn("t", bucketOf(col("anchor"), ":cneg"))
      .join(broadcast(r1), Seq("t"), "left")
      .withColumn("t2", (col("t") + 1) % nBuckets)
      .join(broadcast(r2), Seq("t2"), "left")
      .withColumn("negative",
        when(ok(col("rep1")), col("rep1"))
          .otherwise(when(ok(col("rep2")), col("rep2"))))
      .filter(col("negative").isNotNull)
      .select(col("anchor"), col("positive"), col("negative"),
        col("est_jac"))
  }

  /** Vocabulary coverage curve — for each candidate vocab budget `k`,
    * the fraction of the corpus TOKEN MASS the top-`k` types cover
    * (types ranked freq desc, token asc — [[buildVocab]]'s order): the
    * tokenizer-budget sizing signal (the marginal value of the next
    * 10k vocab slots is this curve's slope) and the Zipf sanity check
    * in one ≤|ks|-row report. Returns (k, n_types, covered_tokens,
    * coverage 6dp) per requested budget.
    *
    * Scale shape: one explode + token hash-aggregate collapses the
    * corpus to the vocabulary; total token mass and type count come from
    * a plain hash-aggregate over that table (no window, no sort); the
    * rank/running-sum window runs ONLY over the top-max(ks) tokens — a
    * TakeOrderedAndProject truncation ([[buildVocab]]'s posture), so the
    * single-partition window is bounded by the largest requested budget,
    * never the vocabulary (10⁸+ types at web scale would otherwise sort
    * through one reducer). The plan's BroadcastNestedLoopJoin is the
    * `rank <= k` theta join of the |ks|-row broadcast spine onto the
    * ≤max(ks) cum rows — |ks|·max(ks) comparisons. */
  def vocabCoverage(
      df: DataFrame,
      textCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val maxK = ks.max
    val counts = df.select(explode(words(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .localCheckpoint(false)
    // totals via hash-agg — the full vocabulary never sorts anywhere
    val tot = counts.agg(sum(col("freq")).as("_t"),
      count(lit(1)).as("_v"))
    // TakeOrderedAndProject: only the top-max(ks) types enter the window
    val top = counts.orderBy(col("freq").desc, col("token")).limit(maxK)
    val wRank = Window.orderBy(col("freq").desc, col("token"))
    val cum = top
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cum", sum(col("freq")).over(
        wRank.rowsBetween(Window.unboundedPreceding, 0)))
    val spine = df.sparkSession.range(1).select(
      explode(array(ks.distinct.sorted.map(lit): _*)).as("k"))
    spine.crossJoin(broadcast(tot))
      .join(cum, col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(least(max(col("_v")), max(col("k"))).cast("int").as("n_types"),
        max(col("cum")).as("covered_tokens"),
        round(max(col("cum")).cast("double") / max(col("_t")), 6)
          .as("coverage"))
  }

  /** Adjacent-token bigram structs formed INSIDE the token array (empty
    * when < 2 tokens — `sequence` would otherwise count backwards). The
    * array-level formulation is what keeps n-gram stats shuffle-free: the
    * alternative (explode tokens, `lead()` window) pays a full
    * token-stream exchange + sort just to see each token's neighbor,
    * which at corpus scale dwarfs the interpreted per-element lambda this
    * costs (measured at sf0.1: the window variant is ~1.3× slower even
    * single-node). */
  private def bigramPairs(toks: Column): Column =
    // let-binding via a 1-element transform — evaluates a possibly
    // expensive (inlined tokenize) `toks` once per row instead of once
    // per bigram; see Dedup.shingles for the measured rationale
    get(transform(array(toks), ts =>
      when(size(ts) < 2,
          array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(ts) - 1),
          i => struct(element_at(ts, i).as("w1"),
            element_at(ts, i + 1).as("w2"))))), lit(0))

  /** Gopher-style repetition filters: per-doc top-unigram fraction,
    * top-bigram fraction, and distinct-token ratio — the standard
    * "repetitious document" signals a corpus-quality pass thresholds on.
    * All three are 6dp-rounded (oracle parity); token-free docs get
    * (0, 0, 1), single-token docs a 0 bigram fraction.
    *
    * Scale shape: ONE tokenize + one Generate (unigrams and bigrams
    * concatenated into a single exploded struct array), then one
    * (doc, kind, gram) hash-aggregate with map-side combine — the shuffle
    * carries per-partition partial counts, never the token stream — and a
    * conditional per-doc re-aggregate. No windows, no per-doc state beyond
    * the aggregation buffers. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize ONCE, form unigrams AND bigrams in the array, explode a
    // single combined struct array: one Generate, ZERO pre-aggregation
    // shuffles — the only exchange is the (id, kind, gram) hash-agg's own.
    // kind 0 = unigram, 1 = bigram; both stats come out of ONE
    // (id, kind, gram) count and one conditional per-doc aggregate,
    // so the whole op is a single aggregation pipeline + one join-back
    // (for token-free docs) instead of parallel branches joined twice.
    val toksDf = df.select(col(idCol), words(col(textCol)).as("_toks"))
    val grams = toksDf.select(col(idCol), explode(concat(
        transform(col("_toks"), t =>
          struct(lit(0).as("kind"), t.as("t"))),
        transform(bigramPairs(col("_toks")), p =>
          struct(lit(1).as("kind"),
            concat(p("w1"), lit(" "), p("w2")).as("t"))))).as("g"))
      .select(col(idCol), col("g.kind").as("kind"), col("g.t").as("t"))
    val k0 = col("kind") === 0
    val stats = grams.groupBy(idCol, "kind", "t").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(
        (max(when(k0, col("c"))) * 1.0 / sum(when(k0, col("c")))).as("uf"),
        (count(when(k0, lit(1))) * 1.0 / sum(when(k0, col("c")))).as("dr"),
        (max(when(!k0, col("c"))) * 1.0 / sum(when(!k0, col("c")))).as("bf"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("uf"), lit(0.0)), 6).as("top_unigram_frac"),
        round(coalesce(col("bf"), lit(0.0)), 6).as("top_bigram_frac"),
        round(coalesce(col("dr"), lit(1.0)), 6).as("distinct_ratio"))
  }

  /** Bigram-LM perplexity scoring (the KenLM-style corpus-quality
    * filter): train an add-1-smoothed bigram model over the corpus itself
    * on a top-`vocabSize` vocabulary (everything else → "<unk>"), then
    * score each doc by its average negative log-likelihood
    * avg_nll = −mean ln (c(w1,w2)+1)/(c(w1)+V), 6dp-rounded; docs with
    * fewer than 2 tokens score 0. Lower = more fluent under the corpus LM.
    *
    * Scale shape: the vocab cap is what makes this distributable — the
    * vocab (≤ V rows) and the LM (≤ V² bigram types, counts only) are
    * both broadcast, and bigrams form inside the token array
    * ([[bigramPairs]]), so the corpus pays ONE tokenize Generate and
    * map-side hash probes for unk-mapping and scoring; the token stream
    * never shuffles at all before the per-doc aggregate. c(w1) is the
    * bigram-context total (Σ_w2 c(w1,w2)), so the conditional
    * distribution normalizes over the vocab. */
  def bigramLmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    // vocab is referenced three times below (w1 probe, w2 probe, |V|):
    // materialize the <=vocabSize-row frame once instead of re-running
    // the corpus token count per broadcast (r10 optimization)
    val vocab = buildVocab(df, textCol, vocabSize).select("token")
      .localCheckpoint()
    // bigrams of RAW tokens from the array (no shuffle), then each side
    // unk-maps through a broadcast probe — mapping per token commutes
    // with pairing, so this is value-identical to mapping first
    val bg0 = df
      .select(col(idCol), words(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(bigramPairs(col("_toks"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1r"), col("bg.w2").as("w2r"))
    val v1 = vocab.select(col("token").as("w1r"), lit(true).as("_v1"))
    val v2 = vocab.select(col("token").as("w2r"), lit(true).as("_v2"))
    // ONE corpus pass (r11): per-doc unk-mapped bigram-TYPE counts,
    // materialized — the model build AND the scoring aggregate both
    // derive from this frame, so the tokenize+explode Generate runs once
    // instead of twice (previously `bg` was a plan subtree referenced by
    // both). Size ≤ the occurrence stream (types per doc ≤ tokens).
    val perDoc = bg0
      .join(broadcast(v1), Seq("w1r"), "left")
      .join(broadcast(v2), Seq("w2r"), "left")
      .select(col(idCol),
        when(col("_v1").isNotNull, col("w1r")).otherwise(lit("<unk>")).as("w1"),
        when(col("_v2").isNotNull, col("w2r")).otherwise(lit("<unk>")).as("w2"))
      .groupBy(idCol, "w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // one row per bigram TYPE (≤(V+1)² rows): aggregated off the stored
    // per-doc counts, never from the corpus again
    val lm = perDoc.groupBy("w1", "w2").agg(sum("c").as("cb"))
      .localCheckpoint()
    val ctx = lm.groupBy("w1").agg(sum("cb").as("cw"))
    // conditional-distribution support = |vocab| + 1 ("<unk>")
    val nVocab = vocab.agg(count(lit(1)).as("nv"))
    // per-doc avg over OCCURRENCES = count-weighted mean over types
    val scored = perDoc
      .join(broadcast(lm), Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .crossJoin(broadcast(nVocab))
      .groupBy(idCol)
      .agg((sum(col("c") *
          -log((col("cb") + 1.0) / (col("cw") + col("nv") + 1.0))) /
        sum(col("c"))).as("nll"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), round(coalesce(col("nll"), lit(0.0)), 6).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram perplexity scoring — the
    * production-grade upgrade of [[bigramLmScore]]'s add-1 smoothing and
    * the LM the CCNet-style quality filters actually ship (Kneser & Ney
    * 1995; Chen & Goodman 1999's interpolated form):
    *
    *   P(w2|w1) = (max(c(w1,w2) − D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1)
    *   Pcont(w2) = N1+(·,w2) / |distinct bigram types|
    *
    * with absolute discount `D` (0.75, Chen & Goodman's fixed choice).
    * The continuation probability ranks words by how many CONTEXTS they
    * follow, not raw frequency — the "San Francisco" fix: "francisco" is
    * frequent but follows one context, so its unigram back-off weight is
    * tiny. Trained over the corpus itself on a top-`vocabSize` vocabulary
    * (everything else → "<unk>", the [[bigramLmScore]] mapping); every
    * scored bigram therefore exists in the model, so c(w1) > 0 and
    * P > 0 always. Docs with < 2 tokens score 0. Returns
    * (idCol, avg_nll) with avg −ln P 6dp-rounded; lower = more fluent.
    *
    * Scale shape: identical to [[bigramLmScore]] — vocab (≤ V rows), LM
    * (≤ V² bigram-type counts), context totals, and the two continuation
    * tables (N1+(w1,·), N1+(·,w2): one row per vocab word) are ALL
    * broadcast; bigrams form inside the token array, the corpus pays one
    * tokenize Generate plus map-side hash probes, and the token stream
    * never shuffles before the per-doc aggregate. */
  def knBigramScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount in (0, 1)")
    // vocab referenced twice below — materialized once (r10, see
    // bigramLmScore)
    val vocab = buildVocab(df, textCol, vocabSize).select("token")
      .localCheckpoint()
    val bg0 = df
      .select(col(idCol), words(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(bigramPairs(col("_toks"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1r"), col("bg.w2").as("w2r"))
    val v1 = vocab.select(col("token").as("w1r"), lit(true).as("_v1"))
    val v2 = vocab.select(col("token").as("w2r"), lit(true).as("_v2"))
    // ONE corpus pass (r11, the bigramLmScore posture): per-doc
    // unk-mapped bigram-TYPE counts, materialized — model build and
    // scoring both derive from this frame, so the tokenize+explode
    // Generate runs once instead of twice
    val perDoc = bg0
      .join(broadcast(v1), Seq("w1r"), "left")
      .join(broadcast(v2), Seq("w2r"), "left")
      .select(col(idCol),
        when(col("_v1").isNotNull, col("w1r")).otherwise(lit("<unk>")).as("w1"),
        when(col("_v2").isNotNull, col("w2r")).otherwise(lit("<unk>")).as("w2"))
      .groupBy(idCol, "w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // one row per bigram TYPE: counts, and the three KN statistics all
    // derive from this ≤V²-row table, never from the corpus again
    val lm = perDoc.groupBy("w1", "w2").agg(sum("c").as("cb"))
      .localCheckpoint() // feeds four derived tables below (eager: they materialize concurrently)
    val ctx = lm.groupBy("w1").agg(sum("cb").as("cw"))
    val n1fwd = lm.groupBy("w1").agg(count(lit(1)).cast("double").as("n1f"))
    val n1bwd = lm.groupBy("w2").agg(count(lit(1)).cast("double").as("n1b"))
    val nTypes = lm.agg(count(lit(1)).cast("double").as("nbt"))
    val p = (greatest(col("cb") - lit(discount), lit(0.0)) +
      lit(discount) * col("n1f") * (col("n1b") / col("nbt"))) / col("cw")
    // per-doc avg over OCCURRENCES = count-weighted mean over types
    val scored = perDoc
      .join(broadcast(lm), Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(n1fwd), Seq("w1"))
      .join(broadcast(n1bwd), Seq("w2"))
      .crossJoin(broadcast(nTypes))
      .groupBy(idCol)
      .agg((sum(col("c") * (lit(0.0) - log(p))) / sum(col("c"))).as("nll"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), round(coalesce(col("nll"), lit(0.0)), 6).as("avg_nll"))
  }

  /** Exact-quota deterministic sampling per stratum (the data-mixing
    * step: "take N docs from each source"): rows rank by hash60(id)
    * within their stratum and the first `quota` survive — same rows on
    * every run, any engine, any partition count. Quotas are `default`
    * with per-stratum `overrides` (0 drops a stratum entirely).
    *
    * Scale shape: one rank window per stratum — a sorted shuffle bounded
    * by stratum sizes, right when strata are balanced shards (sources).
    * For unbounded strata or when approximate counts suffice, the
    * rate-based [[stratifiedKeep]] is the narrow no-shuffle path. */
  def quotaSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      defaultQuota: Int,
      overrides: Map[String, Int] = Map.empty): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(Hashing.hash60(col(idCol).cast("string")), col(idCol))
    val quota = overrides.toSeq.sortBy(_._1).foldLeft(lit(defaultQuota)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= quota).drop("_rn")
  }

  /** Deterministic stratified sampling: keep a row iff
    * hash60(id) % 1000 < rate(stratum)·1000. Same engine-independence as
    * [[splitAssign]]; `rates` maps stratum value → keep fraction. */
  def stratifiedKeep(id: Column, stratum: Column, rates: Map[String, Double]): Column = {
    val b = Hashing.hash60(id.cast("string")) % 1000
    rates.toSeq.sortBy(_._1).foldLeft(lit(false)) { case (acc, (k, r)) =>
      when(stratum === k, b < (r * 1000).toInt).otherwise(acc)
    }
  }

  /** Token-budget sampling: per stratum, admit documents in the
    * deterministic hash-rank order while the running token total fits
    * the stratum's TOKEN budget (the longest rank-order prefix that
    * fits — the running sum is monotone, so this is a simple cumulative
    * filter, exact in any engine). Pretraining mixtures are specified in
    * tokens, not documents —
    * [[quotaSample]]/[[temperatureMix]] count docs; this measures the
    * budget in what the model actually consumes.
    *
    * Scale shape: one running-sum window per stratum over (hash, id)
    * order — the same sorted-shuffle bound as [[packBins]]; token counts
    * are a codegen'd projection, nothing else is added. */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      textCol: String,
      tokenBudget: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(Hashing.hash60(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_tok", wsTokenCount(col(textCol)).cast("long"))
      .withColumn("_cum", sum(col("_tok")).over(w))
      .filter(col("_cum") <= tokenBudget)
      .drop("_cum")
      .withColumnRenamed("_tok", "n_tok")
  }

  /** Temperature-based domain mixing — the T5/mT5/LLaMA "α-sampling"
    * rule: stratum i receives `budget · c_iᵅ / Σ c_jᵅ` of the output,
    * where c_i is its row count. α = 1 keeps natural proportions, α = 0
    * equalizes strata, 0 < α < 1 up-weights low-resource domains.
    * Selection within a stratum is [[quotaSample]]'s deterministic
    * hash-rank, so the same rows survive on every run and engine.
    *
    * Exactness: weights are the INTEGER `floor(c^α · 10⁶)`, summed and
    * divided in integer arithmetic, so quotas are bit-reproducible in
    * any engine whose c^α is correctly rounded — true for α = 0.5
    * (IEEE sqrt; used explicitly) with counts up to ~2⁴⁰. Other α go
    * through `pow`, correct to ≤1 ulp — quotas can then differ across
    * engines only when a weight lands within 1 ulp of an integer.
    *
    * Scale shape: FULLY DISTRIBUTED — no driver materialization at any
    * stratum cardinality (the stratum column may be a web domain: 10⁸
    * values). One per-stratum count hash-aggregate becomes the quota
    * table (weight = floor(c^α·10⁶), normalizer Z = its 1-row sum joined
    * back as a broadcast scalar, quota = budget·w div Z in integer
    * arithmetic — the identical float/integer path the driver-side
    * formulation walked); quotas ride an equi-join back onto the data
    * (AQE broadcasts it when small), then quotaSample's one rank window
    * per stratum. Null strata never match the quota join and are
    * dropped, matching the map formulation's quota-0 fall-through. */
  def temperatureMix(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      budget: Int,
      alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0, 1], got $alpha")
    val c = col("_c").cast("double")
    val wExpr = if (alpha == 0.5) sqrt(c) else pow(c, lit(alpha))
    val cw = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_w", floor(wExpr * lit(1000000d)).cast("long"))
    val z = cw.agg(sum(col("_w")).as("_z"))
    val quotas = cw.crossJoin(broadcast(z))
      .withColumn("_n", lit(budget.toLong) * col("_w"))
      // integral division, as the Long/Long driver arithmetic had
      .withColumn("_q", expr("_n div _z").cast("int"))
      .select(col(stratumCol), col("_q"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(Hashing.hash60(col(idCol).cast("string")), col(idCol))
    df.join(quotas, Seq(stratumCol))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= col("_q"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Inverted index over word `n`-grams: one row per indexed term —
    * (term, df, postings = ";"-joined doc ids in id order). Terms outside
    * [`minDf`, `maxDf`] are dropped BEFORE their postings are collected:
    * the df pre-aggregate + semi-join is what bounds every collect_list
    * at `maxDf` entries — without the cap a stop-term's posting list is
    * the corpus itself, the classic inverted-index OOM. Shuffles carry
    * (term, id) pairs; document text never moves. */
  def invertedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDf: Long = 1L,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val terms = if (n == 1) array_distinct(words(col(textCol)))
      else array_distinct(Dedup.shingles(words(col(textCol)), n))
    val posting = df.select(col(idCol), explode(terms).as("term"))
    val dfs = posting.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    posting.join(dfs, "term")
      .groupBy("term", "df")
      .agg(concat_ws(";",
        transform(array_sort(collect_list(col(idCol))), _.cast("string")))
        .as("postings"))
      .select("term", "df", "postings")
  }

  /** Exact phrase search via a positional token index: documents
    * containing `phrase` as consecutive tokens, with occurrence counts.
    * Each phrase term selects its (doc, position−i) posting list and the
    * lists intersect on (doc, aligned position) — i.e. k−1 equi-joins
    * whose inputs are each bounded by that term's corpus frequency, the
    * standard IR positional-intersection; the full token stream is
    * scanned once and only matching terms' positions ever shuffle. */
  def phraseSearch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val pos = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("p", "tok")))
    val aligned = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("tok") === t)
        .select(col(idCol), (col("p") - i).as("p"))
    }
    aligned.reduce(_.join(_, Seq(idCol, "p")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Dictionary tagging (blocklist / topic-lexicon matching): count each
    * document's token hits against a small category→terms dictionary —
    * the brand-safety / toxicity-screen / topic-router primitive. One row
    * per (doc, category) with ≥1 hit: total hit count and distinct
    * matched terms. Terms are matched lower-cased and whole-token (no
    * substring false positives — "class" never fires an "ass" entry).
    *
    * Scale shape: one tokenize explode → broadcast-join against the
    * ≤|dict| term table → (doc, category) hash-aggregate, map-side
    * combined; the corpus never shuffles, only matched (doc, category)
    * partials do. The dictionary is plan-time data (same posture as the
    * langid stopword lists): real lexicons are 10²–10⁴ terms, far under
    * any broadcast threshold. */
  def dictionaryTag(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dict: Map[String, Seq[String]]): DataFrame = {
    require(dict.nonEmpty && dict.values.forall(_.nonEmpty),
      "dict must have >= 1 term per category")
    val s = df.sparkSession
    import s.implicits._
    val terms = dict.toSeq.sortBy(_._1)
      .flatMap { case (c, ts) => ts.map(t => (t.toLowerCase, c)) }
      .toDF("term", "category")
    df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .join(broadcast(terms), "term")
      .groupBy(col(idCol), col("category"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("term")).as("n_terms"))
  }

  /** Feature hashing (the hashing trick): bag-of-words vectorization
    * into a fixed `nBuckets`-dimensional space with no vocabulary pass —
    * bucket = content-hash(token) mod nBuckets, value = token count.
    * Emits sparse rows (id, bucket, cnt); collisions are the accepted
    * trade (Weinberger et al. 2009) — downstream linear models absorb
    * them. The hash is [[Hashing.hash60]] (md5-based) so vectors are
    * reproducible across engines and runs, not tied to a JVM hash seed.
    *
    * Scale shape: one tokenize explode → (id, bucket) hash-aggregate,
    * map-side combined; no vocabulary table, no join, no driver state —
    * the property that makes the trick THE vectorizer at corpus scale. */
  def featureHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    df.select(col(idCol), explode(words(col(textCol))).as("_tok"))
      .groupBy(col(idCol),
        pmod(Hashing.hash60(col("_tok")), lit(nBuckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Character-level Shannon entropy per document —
    * `H = −Σ p(c)·ln p(c)` over the text's character distribution, plus
    * the char count and distinct-char count. The gibberish/boilerplate
    * detector heuristic quality filters reach for after
    * [[repetitionStats]]: random keyboard mash scores HIGH (flat
    * distribution), single-char runs and template spam score LOW, and
    * natural language sits in a stable band per script — cheap tails to
    * cut on at corpus scale. Natural log, 6dp. Characters are extracted
    * with regex `.`, which skips line terminators — `n_chars` and the
    * distribution therefore exclude newlines (deliberate: a doc's
    * line-wrapping style is formatting, not content signal, and DuckDB's
    * `.` agrees, keeping the oracle bit-identical). Use length(text) for
    * the raw size.
    *
    * Scale shape: one char explode (rows = corpus chars — the honest
    * cost; the shuffle carries map-side-combined (doc, char) partials,
    * bounded per doc by the alphabet) → per-doc totals via a doc-keyed
    * window over the ≤|alphabet| rows → one hash-agg folds the entropy. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit("."), lit(0))).as("ch"))
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("cnt"))
    val wD = Window.partitionBy(idCol)
    val p = col("cnt").cast("double") / col("_n")
    chars.withColumn("_n", sum(col("cnt")).over(wD))
      .groupBy(col(idCol))
      .agg(max(col("_n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        // 0 − sum, not −sum: a constant doc's sum is +0.0 and bare
        // negation emits −0.0, which canonical float hashing distinguishes
        round(lit(0.0) - sum(p * log(p)), 6).as("entropy"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): select corpus
    * documents that LOOK LIKE a small target domain by reweighting with
    * hashed-feature bag models. Pipeline: [[featureHash]] unigram buckets
    * → add-1-smoothed bucket distributions for the target slice
    * (`isTarget`) and the full corpus → per-doc log importance weight
    * `Σ_b cnt_b·(ln p_t(b) − ln p_r(b))` (6dp) → Gumbel-top-`k` draw:
    * `key = logw + g` with `g = −ln(−ln u)` from the doc's md5-derived
    * `u ∈ (0,1)` (the q135 Efraimidis–Spirakis determinism pattern —
    * sampling ∝ softmax(logw) with no RNG state), key 9dp before the
    * rank so libm ulp differences cannot reorder.
    *
    * Scale shape: both distributions are `nBuckets`-row tables from ONE
    * hash-agg each (the target's a filtered twin); they broadcast back,
    * so scoring is map-side over the (doc, bucket) frame; the only
    * data-scale shuffles are featureHash's hash-agg and the final
    * top-k. No vocabulary, no driver state — the DSIR property that
    * makes it tractable where exact LM scoring isn't. */
  def importanceResample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      nBuckets: Int = 64,
      k: Int = 200): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val feats = featureHash(df, idCol, textCol, nBuckets).localCheckpoint()
    val targetIds = df.filter(isTarget).select(col(idCol))
    // full 0..B-1 spine: a bucket the slice never saw still carries its
    // add-1 smoothing mass 1/(t + B) — dropping it (a bare left join's
    // null) would silently zero that bucket's contribution
    val spine = df.sparkSession.range(nBuckets).select(col("id").as("bucket"))
    def dist(f: DataFrame, out: String): DataFrame = {
      // cnts is ≤ nBuckets rows by construction — say so (the aggregate
      // over checkpointed data has no stats and would sort-merge)
      val cnts = broadcast(f.groupBy("bucket").agg(sum(col("cnt")).as("_c")))
      val tot = f.agg(sum(col("cnt")).as("_t"))
      spine.join(cnts, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          ((coalesce(col("_c"), lit(0L)) + 1).cast("double") /
            (coalesce(col("_t"), lit(0L)) + nBuckets)).as(out))
    }
    val pT = dist(feats.join(targetIds, idCol), "p_t")
    val pR = dist(feats, "p_r")
    val logw = feats
      .join(broadcast(pT), "bucket")
      .join(broadcast(pR), "bucket")
      .groupBy(col(idCol))
      .agg(round(sum(col("cnt") *
        (log(col("p_t")) - log(col("p_r")))), 6).as("logw"))
    val u = (pmod(Hashing.hash60(concat(col(idCol).cast("string"),
      lit(":dsir"))), lit(1000000000L)) + 1).cast("double") / 1000000001.0
    logw.withColumn("key", round(col("logw") - log(-log(u)), 9))
      .orderBy(col("key").desc, col(idCol))
      .limit(k)
  }

  /** Size-balanced shard assignment: distribute documents into `k` output
    * shards with near-equal total size (training-data shards feed
    * fixed-capacity workers — count-balanced but size-skewed shards
    * straggle). Greedy bin packing is inherently sequential; the
    * distributed posture is STRATIFY-THEN-HASH: bucket docs into
    * `strata` fixed-width size strata (1-row broadcast min/max, the
    * histogram pattern), then spread each stratum's docs across shards by
    * content hash — every shard draws the same size mixture, so totals
    * concentrate tightly around mean (CLT within strata) with zero
    * coordination, no global sort, no sequential state. Returns one row
    * per (doc) with its stratum and shard — deterministic, so re-runs
    * and incremental appends agree. */
  def balancedShards(
      df: DataFrame,
      idCol: String,
      sizeCol: String,
      k: Int,
      strata: Int = 8): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(strata >= 1, "strata must be >= 1")
    val bounds = df.agg(
      min(col(sizeCol)).cast("double").as("_lo"),
      max(col(sizeCol)).cast("double").as("_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("stratum",
        when(col("_hi") === col("_lo"), lit(0))
          .otherwise(least(lit(strata - 1),
            floor((col(sizeCol).cast("double") - col("_lo")) /
              ((col("_hi") - col("_lo")) / strata)).cast("int"))))
      .withColumn("shard",
        pmod(Hashing.hash60(concat(col(idCol).cast("string"), lit(":shard"))),
          lit(k.toLong)).cast("int"))
      .drop("_lo", "_hi")
  }

  /** Code-switching detector — the multilingual-corpus triage op: docs
    * that MIX languages break monolingual pipelines (one [[langId]] call
    * per doc sees only the majority language). Chunk each doc into
    * `segTokens`-token segments (the segment-dedup windows), language-ID
    * each segment, and report the per-doc vote distribution: segment
    * count, distinct languages, the top language and its share, and the
    * vote entropy (0 = monolingual, ln 2 ≈ 0.69 = an even two-language
    * mix). Top-language ties break alphabetically (the min-struct
    * trick), matching [[langId]]'s own tie rule.
    *
    * Scale shape: one tokenize pass + a bounded per-doc explode (doc
    * length / segTokens rows of LANGUAGE LABELS, never text), then two
    * hash-aggs over the ≤5-langs-per-doc grid. */
  def codeSwitchScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int = 10): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val base = df.select(col(idCol), words(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
    val segs = base.select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          ceil(col("_n").cast("double") / segTokens).cast("int") - 1))
          .as("_i"))
      .select(col(idCol),
        langId(slice(col("_toks"), col("_i") * segTokens + 1, lit(segTokens)))
          .as("_lang"))
    val perLang = segs.groupBy(col(idCol), col("_lang"))
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(col(idCol))
    perLang
      .withColumn("_tot", sum("_c").over(w))
      .withColumn("_p", col("_c").cast("double") / col("_tot"))
      .groupBy(idCol)
      .agg(
        max("_tot").as("n_segs"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("_c")).as("negc"), col("_lang").as("l")))
          .as("_top"),
        round(sum(-col("_p") * log(col("_p"))), 6).as("lang_entropy"))
      .withColumn("top_lang", col("_top.l"))
      .withColumn("top_share",
        round((-col("_top.negc")).cast("double") / col("n_segs"), 6))
      .select(col(idCol), col("n_segs"), col("n_langs"), col("top_lang"),
        col("top_share"), col("lang_entropy"))
  }

  /** Conversation assembly — the SFT/chat-data shaping primitive: turn
    * an event stream into one rendered dialog per key, keeping only the
    * LATEST `maxTurns` turns (the chat-history context window; history
    * beyond the window is dropped from the front, never the back).
    * Turns render as `role: content` joined by newlines, ordered by
    * (time, id) — ties are total-order deterministic. Null contents
    * render as empty strings rather than swallowing the turn.
    *
    * Scale shape: one window shuffle on the key (rank-from-latest) +
    * one hash-agg (ordered string_agg within the ≤maxTurns survivors);
    * per-key state is bounded by maxTurns × turn size. */
  def assembleDialogs(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      role: Column,
      content: Column,
      maxTurns: Int): DataFrame = {
    require(maxTurns >= 1, "maxTurns must be >= 1")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    val wAll = Window.partitionBy(col(keyCol))
    df.select(col(keyCol), col(tsCol), col(idCol),
        concat(role, lit(": "), coalesce(content, lit(""))).as("_turn"))
      .withColumn("_rnk", row_number().over(w))
      .withColumn("_total", count(lit(1)).over(wAll))
      .filter(col("_rnk") <= maxTurns)
      .groupBy(keyCol)
      .agg(
        max("_total").as("n_turns_total"),
        count(lit(1)).as("n_turns_kept"),
        // collect_list order is arrival order (partition-dependent):
        // sort the (ts, id, turn) structs inside the agg value instead
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col(tsCol).as("t"),
            col(idCol).as("i"), col("_turn").as("v")))),
          x => x.getField("v"))).as("dialog"))
  }

  /** Quality-threshold sweep — the "choose the quality bar" curve next
    * to [[truncationLoss]]'s context curve and q218's dedup sweep: for
    * each candidate cutoff, the docs and tokens that survive a
    * `quality ≥ t` gate. Comparison happens on the 6dp-ROUNDED score
    * (the cross-engine threshold contract). One quality pass reduces
    * each doc to (score, token count) before the |thresholds|-way
    * explode — the [[truncationLoss]] narrow-stream shape. */
  def qualityThresholdSweep(
      df: DataFrame,
      textCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val toks = words(col(textCol))
    df.select(round(qualityScore(col(textCol), toks), 6).as("_q"),
        coalesce(size(toks), lit(0)).cast("long").as("_n"))
      .select(col("_q"), col("_n"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_q") >= col("threshold"), 1L).otherwise(0L))
          .as("docs_kept"),
        sum(when(col("_q") >= col("threshold"), col("_n")).otherwise(0L))
          .as("tokens_kept"),
        sum("_n").as("tokens_total"))
      .withColumn("frac_tokens_kept",
        when(col("tokens_total") === 0, lit(0.0))
          .otherwise(round(col("tokens_kept").cast("double") /
            col("tokens_total"), 6)))
  }

  /** Truncation-loss curve — the "what context length do we need"
    * companion to [[packSweep]] (which asks how tightly docs PACK, this
    * asks how much of the corpus a hard per-doc cap THROWS AWAY): for
    * each candidate context length, per group, the docs that would be
    * truncated and the tokens lost past the cap. Token-less (null/empty)
    * docs count as 0-token docs.
    *
    * Scale shape: ONE tokenize pass reduces each doc to its token count
    * BEFORE the |contexts|-way explode (the explode multiplies a narrow
    * (group, count) stream, never text), then a single hash-agg on
    * (group, context) with map-side combine. */
  def truncationLoss(
      df: DataFrame,
      textCol: String,
      group: Column,
      contexts: Seq[Int]): DataFrame = {
    require(contexts.nonEmpty && contexts.forall(_ >= 1),
      "contexts must be non-empty, all >= 1")
    df.select(group.as("grp"),
        coalesce(size(words(col(textCol))), lit(0)).as("_n"))
      .select(col("grp"), col("_n"),
        explode(array(contexts.map(lit): _*)).as("context_len"))
      .groupBy("grp", "context_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_n") > col("context_len"), 1L).otherwise(0L))
          .as("docs_truncated"),
        sum(greatest(col("_n") - col("context_len"), lit(0)).cast("long"))
          .as("tokens_lost"),
        sum(col("_n").cast("long")).as("tokens_total"))
      .withColumn("frac_lost",
        when(col("tokens_total") === 0, lit(0.0))
          .otherwise(round(col("tokens_lost").cast("double") /
            col("tokens_total"), 6)))
  }

  /** Structural validation of multi-turn dialogs — the instruction-data
    * gate the chat-assembly rendering (q272) needs upstream: a
    * trainable conversation starts with a user turn, strictly alternates
    * roles, ends on an assistant turn, has no empty turns, and has at
    * least `minTurns` turns (the SFT-format contract; malformed dialogs
    * poison chat-template training silently). One row per dialog with
    * each violation counted separately — the fix-vs-drop decision needs
    * to know WHICH rule failed.
    *
    * Scale posture: one shuffle keyed by the dialog key (the lag window
    * and the count window share it), then a per-key hash-aggregate.
    * State per key is O(1); dialogs parallelize across keys. */
  def dialogAudit(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[String],
      role: Column,
      text: Column,
      minTurns: Int = 2): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    df.select(col(keyCol) +: orderCols.map(col) :+ role.as("_role") :+
        text.as("_txt"): _*)
      .withColumn("_prev", lag(col("_role"), 1).over(w))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("_prev").isNotNull && col("_prev") === col("_role"), 1L)
          .otherwise(0L)).as("n_role_repeats"),
        sum(when(col("_txt").isNull || trim(col("_txt")) === "", 1L)
          .otherwise(0L)).as("n_empty_turns"),
        max(when(col("_rn") === 1, (col("_role") === "user").cast("int")))
          .as("starts_user"),
        max(when(col("_rn") === col("_n"),
          (col("_role") === "assistant").cast("int"))).as("ends_assistant"))
      .withColumn("valid",
        (col("n_turns") >= minTurns && col("n_role_repeats") === 0 &&
          col("n_empty_turns") === 0 && col("starts_user") === 1 &&
          col("ends_assistant") === 1).cast("int"))
  }

  /** Flesch readability (Flesch 1948 / Kincaid 1975): reading-ease and
    * grade-level scores from word, sentence, and syllable counts — the
    * classic interpretable difficulty signal beside the opaque LM/quality
    * scores (q20/q61), and the standard difficulty axis for curriculum
    * ordering. Counts are pure column regexes, no explode:
    *   - words: `\w+` runs (the [[words]] tokenizer),
    *   - sentences: `[.!?]+` runs, floored at 1,
    *   - syllables: vowel-group runs `[aeiouy]+` in the lower-cased text
    *     plus one per vowel-less word (`\b`-delimited consonant/digit
    *     runs) — the standard one-pass heuristic; vowel groups cannot
    *     span words because non-letters break them.
    * `flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)`,
    * `fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59`, both 6dp; null when
    * the text has no words. One narrow codegen'd projection per row —
    * a 100 TB corpus pays a single map pass. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lo = lower(col(textCol))
    val nWords = size(words(col(textCol))).cast("long")
    val nSent = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val vowelGroups =
      size(regexp_extract_all(lo, lit("[aeiouy]+"), lit(0))).cast("long")
    val noVowelWords = size(regexp_extract_all(lo,
      lit("\\b[0-9_b-df-hj-np-tv-xz]+\\b"), lit(0))).cast("long")
    val out = df.select(col(idCol), nWords.as("n_words"), nSent.as("n_sentences"),
      (vowelGroups + noVowelWords).as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences")
    val spw = col("n_syllables").cast("double") / col("n_words")
    out
      .withColumn("flesch", when(col("n_words") > 0,
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)))
      .withColumn("fk_grade", when(col("n_words") > 0,
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)))
  }

  /** Competence-based curriculum pacing (Platanios et al. 2019): at
    * training fraction `t`, the model's competence
    * `c(t) = min(1, √(t·(1−c₀²) + c₀²))` admits the easiest-`c(t)`
    * fraction of the corpus by difficulty CDF. Emits one row per step of
    * an evenly spaced grid: the competence value and how many documents /
    * tokens the curriculum admits at that step — the schedule a data
    * loader materializes per epoch.
    *
    * Scale shape: difficulty is binned to `binWidth` (a bounded bin
    * vocabulary — hundreds of bins, not rows), so the corpus pays one
    * (bin) hash-aggregate; the CDF window and the step-grid cross join
    * run on the TINY bin table (the single-partition window is over bins,
    * never rows — same posture as q82's broadcast quantile cuts). A bin
    * is admitted when the CDF through it (docs in bins ≤ this one, over
    * all docs) stays within c(t). */
  def curriculumPacing(
      df: DataFrame,
      idCol: String,
      difficulty: Column,
      tokens: Column,
      steps: Int = 10,
      c0: Double = 0.1,
      binWidth: Double = 0.5): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(c0 > 0 && c0 <= 1, "c0 must be in (0, 1]")
    require(binWidth > 0, "binWidth must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df
      .select(floor(difficulty / binWidth).cast("long").as("bin"),
        tokens.cast("long").as("_tok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("_tok").as("n_toks"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cdf = bins
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cdf",
        round(col("cum_docs") / sum("n_docs").over(wAll), 6))
    val grid = (1 to steps).map { t =>
      val tf = t.toDouble / steps
      val c = math.min(1.0, math.sqrt(tf * (1 - c0 * c0) + c0 * c0))
      (t, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("step", "competence")
    val admitted = grid.crossJoin(broadcast(cdf))
      .filter(col("cdf") <= col("competence"))
      .groupBy("step")
      .agg(count(lit(1)).as("n_bins"),
        sum("n_docs").as("n_docs"),
        sum("n_toks").as("n_tokens"))
    // steps whose competence admits no bin yet still appear, with zeros
    grid.join(admitted, Seq("step"), "left")
      .na.fill(0L, Seq("n_bins", "n_docs", "n_tokens"))
  }

  /** Length-bucketed PADDED batch planning — the data-loader layout for
    * models that pad each batch to its bucket's cap (the alternative to
    * concat-packing, q47/q83): docs route to power-of-two token-length
    * buckets (16 … `maxCap`, an integer `when` chain — no float log2,
    * whose libm/native parity differs at exact powers of two), and
    * because every doc in a bucket pays the SAME padded cost (the cap),
    * a batch is exactly `⌊maxTokensPerBatch / cap⌋` docs: assignment is
    * pure rank arithmetic, no running-sum window. Emits one row per
    * batch: doc count, real vs padded tokens, and the padding
    * efficiency the bucketing exists to maximize.
    *
    * Scale: one narrow projection + a per-bucket hash-ordered rank. The
    * rank window partitions on ~log₂(maxCap) buckets — wide partitions
    * at corpus scale; production shards the rank key further (e.g.
    * (bucket, day)), the same caveat as the sorted-neighborhood window
    * (q274). Docs longer than `maxCap` tokens are routed to the top
    * bucket and truncated to the cap in the padded accounting. */
  def lengthBatching(
      df: DataFrame,
      idCol: String,
      tokens: Column,
      maxTokensPerBatch: Long = 4096,
      maxCap: Int = 1024): DataFrame = {
    require(maxTokensPerBatch >= 16, "maxTokensPerBatch too small")
    require(maxCap >= 16 && (maxCap & (maxCap - 1)) == 0,
      "maxCap must be a power of two >= 16")
    val caps = Iterator.iterate(16)(_ * 2).takeWhile(_ <= maxCap).toSeq
    val bucket = caps.init.foldRight(lit(caps.last): Column) { (c, acc) =>
      when(tokens <= c, lit(c)).otherwise(acc)
    }
    val base = df.select(col(idCol), tokens.cast("long").as("_tok"),
      bucket.as("cap"))
    val w = Window.partitionBy("cap")
      .orderBy(Hashing.hash60(concat(col(idCol).cast("string"), lit(":lb"))),
        col(idCol))
    // docs-per-batch is a plan-time constant per bucket (caps are known),
    // so batch assignment is exact integer arithmetic in both engines
    val dpb = caps.init.foldRight(
      lit(math.max(1L, maxTokensPerBatch / caps.last)): Column) { (c, acc) =>
      when(col("cap") === c, lit(math.max(1L, maxTokensPerBatch / c)))
        .otherwise(acc)
    }
    base
      .withColumn("_rn", row_number().over(w))
      .withColumn("batch_id", floor((col("_rn") - 1) / dpb).cast("long"))
      .groupBy("cap", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("_tok"), col("cap"))).as("real_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("cap"))
      .withColumn("efficiency",
        round(col("real_tokens") / col("padded_tokens"), 6))
  }

  /** Per-group MT/generation eval report over per-pair metric scores
    * (the [[bleu]]/[[chrF]]/[[rougeL]] composition): pair count, metric
    * means, EXACT lower-median BLEU (rank-based — `⌊(n+1)/2⌋`-th
    * smallest with an id tie-break, the splitConformal rank idiom, so
    * both engines pick the identical row), and the share of pairs
    * clearing `passBar` BLEU. Means are 6dp-rounded sums of
    * already-6dp scores; a null rouge_l (zero-token side) counts as 0
    * in its mean so the denominator stays the pair count in both
    * engines.
    *
    * Scale: one rank window per group plus one hash-aggregate — the
    * report is bounded by group cardinality; the metric scans upstream
    * dominate. */
  def mtEvalReport(
      scored: DataFrame, // (lang, id, bleu, chrf, rouge_l)
      idCol: String,
      passBar: Double = 0.1): DataFrame = {
    val wOrd = Window.partitionBy("lang").orderBy(col("bleu"), col(idCol))
    val wAll = Window.partitionBy("lang")
    scored
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_n", count(lit(1)).over(wAll))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum("bleu") / count(lit(1)), 6).as("mean_bleu"),
        max(when(col("_rn") === floor((col("_n") + 1) / 2).cast("long"),
          col("bleu"))).as("median_bleu"),
        round(sum("chrf") / count(lit(1)), 6).as("mean_chrf"),
        round(sum(coalesce(col("rouge_l"), lit(0.0))) / count(lit(1)), 6)
          .as("mean_rouge_l"),
        round(sum(when(col("bleu") >= passBar, 1L).otherwise(0L)) /
          count(lit(1)), 6).as("pass_rate"))
  }

  /** Sentence-level BLEU (Papineni et al. 2002): clipped n-gram precision
    * for n = 1..`maxN`, geometric mean, brevity penalty
    * `min(1, e^(1 − ref_len/cand_len))`. Unsmoothed — any zero p_n (or a
    * zero-length candidate) yields BLEU 0, the standard sentence-level
    * convention; corpus users aggregate the released p_n/length columns.
    * Precisions, the penalty, and BLEU are 6dp-rounded, and BLEU is
    * computed FROM the rounded values so an oracle replays bit-identical
    * arithmetic.
    *
    * Scale shape: MAP-ONLY — one tokenize per side, then the codegen'd
    * [[graft.expressions.GramClipOverlap]] kernel computes every
    * order's clipped overlap inside the row (reference and candidate
    * share the row, so the metric is row-local by construction): no
    * explode, no shuffle, no join — gram text never leaves the row.
    * Replaced the tagged flatten-explode + (id, n, gram) aggregate +
    * equi-join-clip formulation (measured 10 s → ~2 s at sf1). */
  def bleu(
      df: DataFrame,
      idCol: String,
      refCol: String,
      candCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 9, "maxN must be in [1, 9]")
    val base = df.select(col(idCol), words(col(refCol)).as("_rt"),
      words(col(candCol)).as("_ct"))
    val ovC = Bridge.column(graft.expressions.GramClipOverlap(
      Bridge.expression(col("_rt")), Bridge.expression(col("_ct")),
      maxN, chars = false))
    val piv = base.select(col(idCol) +:
      size(col("_rt")).cast("long").as("ref_len") +:
      size(col("_ct")).cast("long").as("cand_len") +:
      (1 to maxN).map(n => get(ovC, lit(n - 1)).as(s"_ov$n")): _*)
    val withP = (1 to maxN).foldLeft(piv) { (d, n) =>
      val denom = greatest(col("cand_len") - (n - 1), lit(0L))
      d.withColumn(s"p$n",
        when(denom > 0, round(col(s"_ov$n") / denom, 6)).otherwise(0.0))
    }
    val bp = when(col("cand_len") === 0, 0.0)
      .when(col("cand_len") >= col("ref_len"), 1.0)
      .otherwise(round(
        exp(lit(1.0) - col("ref_len").cast("double") / col("cand_len")), 6))
    val allPos = (1 to maxN).map(n => col(s"p$n") > 0)
      .reduce(_ && _) && col("bp") > 0
    val logSum = (1 to maxN).map(n => log(col(s"p$n"))).reduce(_ + _)
    withP.withColumn("bp", bp)
      .withColumn("bleu",
        when(allPos, round(col("bp") * exp(logSum / maxN), 6)).otherwise(0.0))
      .drop((1 to maxN).map(n => s"_ov$n"): _*)
  }

  /** chrF (Popović 2015): character n-gram F_β over whitespace-stripped
    * lower-cased text — the tokenizer-free MT/generation metric that
    * complements word-level [[bleu]]. For n = 1..`maxN`: clipped char
    * n-gram precision and recall, macro-averaged across orders (an order
    * with a zero denominator contributes 0, sacreBLEU's convention),
    * then `F_β = (1+β²)·P·R / (β²·P + R)`. Per-order values are
    * 6dp-rounded before averaging so both engines replay the identical
    * arithmetic.
    *
    * Same MAP-ONLY scale shape as [[bleu]]: one strip per side, then
    * the codegen'd [[graft.expressions.GramClipOverlap]] kernel counts
    * every order's clipped overlap inside the row — no explode, no
    * shuffle. Callers still bound the text (e.g. a leading slice) when
    * the metric feeds a corpus-wide sweep: per-row cost is
    * O(maxN · chars). */
  def chrF(
      df: DataFrame,
      idCol: String,
      refCol: String,
      candCol: String,
      maxN: Int = 3,
      beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 6, "maxN must be in [1, 6]")
    require(beta > 0, "beta must be positive")
    def stripped(c: Column): Column =
      regexp_replace(lower(c), "\\s+", "")
    val base = df.select(col(idCol), stripped(col(refCol)).as("_rs"),
      stripped(col(candCol)).as("_cs"))
    // same map-only GramClipOverlap kernel as [[bleu]], code-point
    // grams (chars = true matches SQL substr/length semantics)
    val ovC = Bridge.column(graft.expressions.GramClipOverlap(
      Bridge.expression(col("_rs")), Bridge.expression(col("_cs")),
      maxN, chars = true))
    val piv = base.select(col(idCol) +:
      length(col("_rs")).cast("long").as("n_ref_chars") +:
      length(col("_cs")).cast("long").as("n_cand_chars") +:
      (1 to maxN).map(n => get(ovC, lit(n - 1)).as(s"_ov$n")): _*)
    def orderP(n: Int): Column = {
      val denom = greatest(col("n_cand_chars") - (n - 1), lit(0L))
      when(denom > 0, round(col(s"_ov$n") / denom, 6)).otherwise(0.0)
    }
    def orderR(n: Int): Column = {
      val denom = greatest(col("n_ref_chars") - (n - 1), lit(0L))
      when(denom > 0, round(col(s"_ov$n") / denom, 6)).otherwise(0.0)
    }
    val b2 = beta * beta
    piv
      .withColumn("prec",
        round((1 to maxN).map(orderP).reduce(_ + _) / maxN, 6))
      .withColumn("rec",
        round((1 to maxN).map(orderR).reduce(_ + _) / maxN, 6))
      .withColumn("chrf",
        when(lit(b2) * col("prec") + col("rec") > 0,
          round(lit(1 + b2) * col("prec") * col("rec") /
            (lit(b2) * col("prec") + col("rec")), 6)).otherwise(0.0))
      .drop((1 to maxN).map(n => s"_ov$n"): _*)
  }

  /** Substring blocklist screen — [[dictionaryTag]]'s SUBSTRING dual
    * for policy/spam/PII-phrase screening: every pattern is matched
    * (overlapping, any position — no token boundaries) in ONE pass per
    * document via the codegen'd Aho–Corasick kernel
    * ([[graft.expressions.AhoCorasickHits]]): O(|text| + matches)
    * regardless of pattern count, vs O(|text|·|patterns|) for stacked
    * `contains` and nothing at all for the token-explode join (which
    * cannot see phrases or sub-token fragments). Emits one row per
    * (doc, hit pattern) with the occurrence count.
    *
    * Scale shape: the automata are plan-time reference objects
    * (driver-built, shipped once per executor); the kernel emits
    * SPARSE `(pid, n)` hits — per-doc output is O(distinct matching
    * patterns), not O(|patterns|) — so the screen is a map-only
    * projection + ONE Generate over actual hits, no join, no shuffle
    * before the caller's aggregation. Pattern sets beyond one kernel's
    * cap (65536 patterns / 2^20 chars, or `maxPerKernel`) SHARD into
    * consecutive kernels whose globally-indexed outputs `concat` into
    * that same single Generate: k shards = k automaton passes per doc,
    * each still O(|text| + matches). The pattern lookup is one
    * plan-literal array index — no join at any pattern count. */
  def blocklistScreen(
      df: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[String],
      maxPerKernel: Int = 65536): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(maxPerKernel >= 1 && maxPerKernel <= 65536,
      s"maxPerKernel must be in [1, 65536], got $maxPerKernel")
    // shard on BOTH caps: pattern count and total chars per kernel
    val maxChars = 1 << 20
    val shards = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[String])]
    var start = 0
    var chars = 0
    patterns.zipWithIndex.foreach { case (p, i) =>
      if (i - start >= maxPerKernel || (chars + p.length > maxChars && i > start)) {
        shards += ((start, patterns.slice(start, i)))
        start = i
        chars = 0
      }
      chars += p.length
    }
    shards += ((start, patterns.slice(start, patterns.size)))
    val hitArrays = shards.toSeq.map { case (base, ps) =>
      Bridge.column(graft.expressions.AhoCorasickHits(
        Bridge.expression(col(textCol)), ps, idxBase = base))
    }
    val allHits =
      if (hitArrays.size == 1) hitArrays.head else concat(hitArrays: _*)
    df.select(col(idCol), allHits.as("_hits"))
      .select(col(idCol), explode(col("_hits")).as("_h"))
      .select(col(idCol),
        element_at(lit(patterns.toArray), col("_h.pid") + 1).as("pattern"),
        col("_h.n").as("n_hits"))
  }
}
