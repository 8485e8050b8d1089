package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Hashing.P

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - exact dedup is a single hash-aggregate on a 60-bit content key — the
  *    shuffle moves (key, partial) only, never the documents;
  *  - candidate generation for MinHash/SimHash is *banded*: docs are
  *    shuffled by small band keys so only same-bucket docs ever meet in a
  *    join (the all-pairs O(n²) never materializes);
  *  - the n-gram Jaccard join shuffles by shingle — exact but the
  *    "small corpus / verify" path; the sketch ops are the scale path.
  */
object Dedup {

  /** Word n-gram shingles of a token array (empty when too short). */
  def shingles(toks: Column, n: Int): Column =
    // LET-BINDING via a 1-element transform (r11): `toks` is often an
    // EXPENSIVE expression — CollapseProject inlines the caller's
    // words(text) regex tokenize straight into this lambda — and a
    // captured expression inside a higher-order lambda re-evaluates PER
    // ELEMENT on the (interpreted) HOF path: the tokenize regex ran once
    // per emitted shingle (stack-sampled on q162: RegExpExtractAll.eval
    // under ConcatWs dominating the stage). Passing it through a
    // 1-element array binds it to a lambda VARIABLE, evaluated once per
    // row; the window lambda then slices the bound value.
    get(transform(array(toks), ts =>
      when(size(ts) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", slice(ts, i, lit(n)))))), lit(0))

  /** Exact dedup: group by a normalized content key, keep the minimum id
    * as the canonical representative. Returns one row per duplicate
    * *group* (`minGroup` ≥ 2 hides singletons).
    *
    * `key` should be a deterministic digest (e.g.
    * [[TextAnalysis.contentFingerprint]] for exact-after-normalization, or
    * `md5(text)` for byte-exact).
    */
  def exactGroups(df: DataFrame, idCol: String, key: Column, minGroup: Int = 2): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(
        min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_copies"),
        concat_ws(";", transform(array_sort(collect_list(col(idCol))), _.cast("string")))
          .as("member_ids"))
      .filter(col("n_copies") >= minGroup)
      .drop("content_key")

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995) — the
    * third blocking family next to banding (MinHash/SimHash bands) and
    * content-key grouping: sort the corpus ONCE by the normalized
    * content key and compare each doc only to its `window` successors in
    * sort order, via `lead()` columns — NO pair join ever forms; the
    * candidate count is exactly n·window. Near-duplicates sort adjacent
    * because their normalized keys share long prefixes; docs whose keys
    * diverge early can still be near-dups and are MISSED — the classic
    * SNM recall trade documented since the original paper (banding is
    * the recall-favoring alternative; this is the sort-cheap one).
    *
    * Emits (id_a, id_b, jac) with id_a < id_b, exact token-set Jaccard
    * ≥ `minJaccard`, 6dp-rounded before the threshold. Scale shape: the
    * sort window is PARTITIONED by the first sorted token (the
    * distributed-SNM partition — an unpartitioned window would be a
    * single-reducer sort, the exact trap the vocabCoverage fix removed):
    * one hash exchange + per-partition sort, window state bounded.
    * Candidates never cross first-token partitions, which is aligned
    * with SNM's own prefix-affinity premise — near-dups that disagree on
    * their first sorted token were going to sort apart anyway. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      toks: Column,
      window: Int = 3,
      minJaccard: Double = 0.3): DataFrame = {
    require(window >= 1 && window <= 64, "window must be in [1, 64]")
    val base = df.select(col(idCol).as("_id"),
        array_sort(array_distinct(toks)).as("_set"))
      .withColumn("_key", concat_ws(" ", col("_set")))
      .withColumn("_pfx", coalesce(get(col("_set"), lit(0)), lit("")))
    val w = Window.partitionBy(col("_pfx")).orderBy(col("_key"), col("_id"))
    val withLeads = (1 to window).foldLeft(base) { (d, k) =>
      d.withColumn(s"_nid$k", lead(col("_id"), k).over(w))
        .withColumn(s"_nset$k", lead(col("_set"), k).over(w))
    }
    // ONE window pass + ONE Generate: a per-k union would re-sort and
    // re-window the corpus once per lead (column pruning splits the
    // shared frame), tripling the exchange work at scale
    val cands = withLeads
      .select(col("_id"), col("_set"),
        explode(array((1 to window).map(k =>
          struct(col(s"_nid$k").as("nid"), col(s"_nset$k").as("nset"))): _*))
          .as("_c"))
      .filter(col("_c.nid").isNotNull)
    val inter = size(array_intersect(col("_set"), col("_c.nset")))
    val union = size(col("_set")) + size(col("_c.nset")) - inter
    cands
      .select(
        least(col("_id"), col("_c.nid")).as("id_a"),
        greatest(col("_id"), col("_c.nid")).as("id_b"),
        round(when(union === 0, lit(0.0))
          .otherwise(inter.cast("double") / union), 6).as("jac"))
      .filter(col("jac") >= minJaccard)
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs: explode distinct shingles,
    * self-join on shingle, count intersections, filter by
    * |A∩B| / (|A|+|B|-|A∩B|) ≥ `minJaccard`. Output (id_a, id_b, jac)
    * with id_a < id_b, jac rounded to 6dp (threshold applied on the
    * rounded value so the DuckDB oracle decides identically).
    *
    * `maxShingleDf` caps shingle document frequency: the shuffle-by-shingle
    * self-join is O(Σ df²), so ONE stop-shingle shared by a million docs
    * melts a single reducer at corpus scale. Shingles with df above the
    * cap carry ~0 discrimination (they are corpus boilerplate, near-certain
    * to co-occur by chance) and are dropped from BOTH the intersection and
    * the set sizes — i.e. Jaccard is computed over the rare-shingle
    * subsets, the standard stop-shingle treatment. `None` = exact,
    * uncapped (verify path on bounded corpora only). */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      minJaccard: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // materialize the exploded shingle frame once: it feeds three plan
    // branches (both self-join sides + the size agg) which would otherwise
    // each recompute the scan+tokenize+explode
    val shAll = df
      .select(col(idCol).as("id"), explode(array_distinct(shingleCol)).as("s"))
      .localCheckpoint()
    val sh = maxShingleDf match {
      case Some(cap) =>
        // df per shingle is one hash-agg over the already-materialized
        // frame; the semi-join keeps only sub-cap shingles so the worst
        // reducer in the pair join is bounded by cap²
        val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("s")
        shAll.join(rare, Seq("s"), "left_semi").localCheckpoint()
      case None => shAll
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("sa.n") + col("sb.n") - col("i")), 6).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Dedup threshold-sweep curve: for each candidate similarity cutoff,
    * the pair count and the number of AFFECTED documents (docs touching
    * ≥ 1 pair at that cutoff) from ONE MinHash+LSH candidate pass — the
    * report you sweep BEFORE committing a corpus-wide dedup threshold
    * (too low deletes paraphrases, too high keeps templates; the knee of
    * this curve is the decision). Returns one row per threshold:
    * (threshold, n_pairs, n_docs_affected), thresholds descending-
    * monotone in both counts by construction.
    *
    * Scale shape: the banded candidate join runs ONCE ([[minhashPairs]] —
    * never all-pairs, never re-run per threshold); the sweep is an
    * explode of the ≤|thresholds| literal spine over the candidate rows
    * plus one distinct per (threshold, doc) — both bounded by candidate
    * volume, not the corpus. */
  def thresholdSweep(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t <= 1),
      "thresholds in (0, 1]")
    val pairs = minhashPairs(df, idCol, shingleCol).localCheckpoint()
    val ts = thresholds.distinct.sorted
    val swept = pairs.select(col("id_a"), col("id_b"), col("est_jac"),
        explode(array(ts.map(lit): _*)).as("threshold"))
      .filter(col("est_jac") >= col("threshold"))
      .localCheckpoint()
    val nPairs = swept.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("threshold")
      .agg(count_distinct(col("id")).as("n_docs_affected"))
    // join FROM the literal spine: a threshold nothing reaches still
    // emits its zero row (the windowFunnel zero-level contract)
    df.sparkSession.range(1)
      .select(explode(array(ts.map(lit): _*)).as("threshold"))
      .join(broadcast(nPairs), Seq("threshold"), "left")
      .join(broadcast(nDocs), Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
  }

  /** Directed n-gram CONTAINMENT pairs — Jaccard's asymmetric sibling
    * `c(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|`: a near-total quote of a short
    * doc inside a long one scores ~1 here while its Jaccard (÷ the UNION)
    * vanishes — the inclusion-dedup signal symmetric measures miss
    * (Broder 1997's "containment"). Emits BOTH directions ≥
    * `minContainment` as (src_id, dst_id, containment 6dp): src is the
    * contained side. Same df-cap contract as [[jaccardPairs]] (shingles
    * above the cap drop from intersections AND sizes; `None` = exact,
    * bounded-corpora verify path) and the same scale shape — the pair
    * space comes from the capped posting-list self-join, never all-pairs;
    * one extra projection turns each undirected intersection row into its
    * two directed scores, so containment costs exactly one union more
    * than Jaccard. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      minContainment: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val shAll = df
      .select(col(idCol).as("id"), explode(array_distinct(shingleCol)).as("s"))
      .localCheckpoint()
    val sh = maxShingleDf match {
      case Some(cap) =>
        val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("s")
        shAll.join(rare, Seq("s"), "left_semi").localCheckpoint()
      case None => shAll
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), col("i"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"))
    inter.select(col("id_a").as("src_id"), col("id_b").as("dst_id"),
        round(col("i") / col("n_a"), 6).as("containment"))
      .unionByName(
        inter.select(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          round(col("i") / col("n_b"), 6).as("containment")))
      .filter(col("containment") >= minContainment)
  }

  /** md5-based shingle-set hashes (mod P) — compute ONCE per row and alias
    * before deriving the k permutations: Catalyst's CollapseProject keeps
    * an expensive multiply-referenced alias materialized, so the md5 pass
    * runs once instead of k times. */
  def shingleHashes(shingleCol: Column): Column =
    transform(array_distinct(shingleCol), s => Hashing.hashP(s))

  /** k permutation-mins over an already-hashed shingle set ([[shingleHashes]]). */
  def minhashFromHashes(hs: Column, k: Int = 16): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    // one codegen'd pass updating all k minima ([[graft.expressions
    // .MinHashSig]]); the k-lambda Column form it replaces paid k
    // interpreted traversals per document (HOFs never codegen)
    Bridge.column(graft.expressions.MinHashSig(Bridge.expression(hs), k))
  }

  /** MinHash signature straight from shingles (one-shot convenience; the
    * pair pipeline materializes [[shingleHashes]] first instead). */
  def minhashSignature(shingleCol: Column, k: Int = 16): Column =
    minhashFromHashes(shingleHashes(shingleCol), k)

  /** MinHash + LSH candidate pairs: split the k-long signature into
    * `bands` bands of k/bands rows; docs sharing any full band collide.
    * Output (id_a, id_b, est_jac = matching-minhash fraction) for pairs
    * sharing ≥1 band. The band join shuffles on (band, key) — bucket-local
    * work only, the 100 TB shape. */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      k: Int = 16,
      bands: Int = 4): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // signatures via the codegen'd row-local kernel (r10 optimization):
    // the previous explode + k-min-aggregate formulation shuffled every
    // shingle hash (Σ|shingles| rows through a Generate + one data-scale
    // hash-aggregate); [[minhashFromHashes]] computes the IDENTICAL k
    // minima (same affine permutations mod P, null on empty = the same
    // "no shingles → no signature" drop) in one map-only pass — measured
    // 0.56 s → 0.19 s per derivation on the sf0.1 documents.
    //
    // The no-shingle drop is deliberately NOT a `filter(sig.isNotNull)`:
    // PushPredicateThroughProject substitutes the alias, inlining the
    // whole tokenize+md5+kernel chain into the Filter condition — the
    // chain then runs TWICE per row, interpreted (measured 0.19 s →
    // 3.4 s for the identical result). Instead the band explode's input
    // is null for a null signature, so Generate emits zero rows for
    // exactly the docs the old aggregate dropped, and no optimizer rule
    // can clone the expensive expression across operators.
    val sigs = df
      .select(col(idCol).as("id"),
        minhashFromHashes(shingleHashes(shingleCol), k).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
        explode(when(col("sig").isNotNull,
          sequence(lit(0), lit(bands - 1)))).as("b"))
      .withColumn("bkey",
        concat_ws(",", transform(slice(col("sig"), col("b") * r + 1, lit(r)),
          _.cast("string"))))
    // est computed BEFORE distinct: a pair colliding in several bands costs
    // a few extra 16-element compares, but the distinct then shuffles only
    // (id, id, double) rows instead of two full signatures per row.
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (size(filter(zip_with(col("x.sig"), col("y.sig"), (p, q) => p === q),
          b => b)) / lit(k.toDouble)).as("est_jac"))
      .distinct()
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * signature estimate next to the EXACT Jaccard of the (hashed)
    * shingle sets and their absolute error — the report that tells you
    * whether k signature rows suffice for your corpus before trusting
    * est-thresholded dedup at scale.
    *
    * Scale shape: the exact side is computed ONLY for documents that
    * appear in some candidate pair (semi-join restriction), so the
    * shingle equi-join is bounded by the candidate set, never the
    * corpus; intersections shuffle (id, id, partial count) rows. */
  def minhashCalibration(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      k: Int = 16,
      bands: Int = 4): DataFrame = {
    // the candidate frame feeds three branches (both doc sides + the final
    // join) — materialize once or the whole LSH derivation replans 3×
    val cand = minhashPairs(df, idCol, shingleCol, k, bands)
      .localCheckpoint()
    val docs = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    // semi-join BEFORE distinct: the dedup shuffle then carries only the
    // candidate documents' shingles, never the full corpus; materialized
    // because it feeds the size agg and both sides of the intersection join
    val shc = df.select(col(idCol).as("id"),
        explode(shingleHashes(shingleCol)).as("h"))
      .join(docs, Seq("id"), "left_semi")
      .distinct()
      .localCheckpoint()
    val sz = shc.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = shc.as("x")
      .join(shc.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val i0 = coalesce(col("i"), lit(0L))
    val exact = i0 / (col("na") + col("nb") - i0)
    cand.join(inter, Seq("id_a", "id_b"), "left")
      .join(sz.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sz.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("est_jac"), 6).as("est_jac"),
        round(exact, 6).as("exact_jac"),
        round(abs(col("est_jac") - exact), 6).as("abs_err"))
  }

  /** SimHash width: all 60 hash bits. More bits = sharper distance
    * separation (fewer false near-pairs on self-similar corpora) and
    * smaller LSH buckets; 60 stays sign-free in a 64-bit long in both
    * engines (the oracle sums bit powers in BIGINT). */
  val simhashBits = 60

  /** Band layout as (bit offset, width): 7 bands, 6x9 + 1x6 bits.
    * Pigeonhole needs only maxDist+1 bands for exact candidate
    * generation, so for maxDist = 6 seven WIDE bands beat ten narrow
    * ones: a 9-bit band key is 8x more selective than a 6-bit one, which
    * on a self-similar corpus cuts the quadratic band-bucket candidate
    * stream ~3.4x (measured 13M -> 3.9M rows on the sf0.1 documents)
    * while keeping the guarantee: any pair within distance <= 6 leaves
    * at least one of the 7 bands untouched. */
  private val simhashBandLayout: Seq[(Int, Int)] =
    Seq((0, 9), (9, 9), (18, 9), (27, 9), (36, 9), (45, 9), (54, 6))
  private def simhashBands = simhashBandLayout.size

  /** 60-bit SimHash fingerprints: per token, each bit of the 60-bit token
    * hash votes ±1; fingerprint bit j is the sign of the vote sum.
    * Since r10 a map-only pass through the codegen'd
    * [[graft.expressions.SimHashFp]] kernel (bit-identical to the former
    * explode + 60-sum-aggregate plan, which paid a Generate over every
    * token and an (id, 60 longs) shuffle for a row-local value; kernel
    * parity is spec-locked against the aggregate formulation). The
    * no-token drop filters AFTER the projection on the kernel's null —
    * callers that materialize first (the pair path) filter the stored
    * column instead, dodging the PushPredicateThroughProject
    * double-evaluation trap documented at [[minhashPairs]]. */
  def simhash(df: DataFrame, idCol: String, tokenCol: Column): DataFrame =
    simhashRaw(df, idCol, tokenCol).filter(col("fp").isNotNull)

  /** [[simhash]] without the empty-doc filter (null fp kept) — the pair
    * pipeline filters after its eager materialization. */
  private[ops] def simhashRaw(
      df: DataFrame, idCol: String, tokenCol: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    df.select(col(idCol).as("id"),
      Bridge.column(graft.expressions.SimHashFp(
        Bridge.expression(tokenCol))).as("fp"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`, via banded
    * candidate generation over [[simhashBandLayout]]: by pigeonhole any
    * pair within distance ≤ bands-1 shares an identical band at the same
    * position, so banding is *exact* (not approximate) for `maxDist` ≤ 6
    * while only same-band docs ever join. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      tokenCol: Column,
      maxDist: Int = 6): DataFrame = {
    require(maxDist < simhashBands, "banding is only exact for maxDist < bands")
    // materialized once: the fingerprint pass would otherwise run twice
    // (both sides of the self-join rebuild the whole subtree); the
    // empty-doc filter runs on the STORED column (see [[simhash]])
    val fps = simhashRaw(df, idCol, tokenCol).localCheckpoint()
      .filter(col("fp").isNotNull)
    def window(c: Column, off: Int, w: Int): Column =
      shiftright(c, off).bitwiseAND(lit((1L << w) - 1))
    val nibs = array(simhashBandLayout.map {
      case (off, w) => window(col("fp"), off, w)
    }: _*)
    val banded = fps.select(col("id"), col("fp"),
      posexplode(nibs).as(Seq("b", "nib")))
    // exactly-once emission: a near pair collides in many of its bands
    // (on a self-similar corpus ~1000x more collision rows than true
    // pairs), so instead of dedup-by-distinct each pair is emitted only
    // from its FIRST matching band — band b matches iff window b of
    // fp_x XOR fp_y is zero, so "no earlier band matched" is a handful
    // of codegen'd bit tests and no extra shuffle.
    val fpXor = col("x.fp").bitwiseXOR(col("y.fp"))
    val firstEqBand = simhashBandLayout.zipWithIndex.foldRight(lit(-1)) {
      case (((off, w), b), els) =>
        when(window(fpXor, off, w) === 0L, lit(b)).otherwise(els)
    }
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.nib") === col("y.nib") &&
          col("x.id") < col("y.id"))
      .filter(col("x.b") === firstEqBand && bit_count(fpXor) <= maxDist)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(fpXor).as("hdist"))
  }

  /** Rounds executed by the most recent [[connectedComponentsStar]] call
    * on this JVM, the convergence-confirming round included — the
    * measurement hook of the round-count comparison spec. */
  @volatile var ccLastRounds: Int = 0

  /** Connected components over an undirected edge list — turns near-dup
    * PAIRS (any of the pair generators above) into duplicate CLUSTERS,
    * the form a dedup pipeline actually consumes (keep one doc per
    * component, drop the rest).
    *
    * LARGE-STAR / SMALL-STAR alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", 2014) — THE implementation
    * behind [[clusters]] and the q43/q63/q88-family rows, chosen by
    * measurement over min-label + pointer-jumping rounds (now the
    * test-scope reference it is cross-checked against; sf1 simhash
    * edges, 411k pairs): 5 rounds / 3.2 s vs 12 rounds / 5.4 s — both
    * are O(log n) ROUNDS (the diameter-1024 path fixture measures 11
    * rounds each, so neither is O(diameter)), but each star round
    * halves star depth from BOTH ends and, decisively, the edge frame
    * SHRINKS as duplicates collapse onto component minima, while
    * min-label re-joins the full static edge set every round.
    *
    * Mechanics per round, on a canonically-oriented `(hi, lo)` distinct
    * edge frame: LARGE-STAR connects every neighbor `v > u` of each
    * node `u` to `min(N(u) ∪ u)`; SMALL-STAR re-points each center's
    * small neighbors (and itself) at their minimum. Both phases only
    * ever shuffle (node, node) pairs bounded by |edges|. The potential
    * Σ(hi+lo) over the distinct edge set strictly decreases on any
    * change (every emitted endpoint is ≤ its source, dedup only
    * removes), so convergence is one cheap decimal aggregate — the same
    * no-driver-collect probe as min-label. At the fixpoint edges form
    * stars child → component-min; labels read off with one final join
    * over the original node set. Returns (id, rep), rep = min member
    * id, for every node in the input. Non-convergence at `maxIter` is
    * loudly signaled on stderr — the partially-merged labels are a
    * valid coarsening but NOT components. */
  def connectedComponentsStar(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint()
    val nodes = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id"))).distinct()
    var e = e0.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct().localCheckpoint(false)
    def potential(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum((col("hi") + col("lo")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var prev = potential(e)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIter) {
      // LARGE-STAR: neighborhoods need both directions; each neighbor
      // v > u re-points at m = min(N(u) ∪ u). m ≤ u < v keeps the
      // output canonical without re-orienting.
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct().localCheckpoint(false)
      // SMALL-STAR on the oriented frame: every center hi's small
      // neighbors (all lo < hi) and hi itself re-point at min(lo).
      val sMins = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      val ss = ls.join(sMins, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .union(sMins.select(col("hi"), col("m").as("lo")))
        .distinct()
      iter += 1
      e = ss.localCheckpoint(false)
      val cur = potential(e)
      converged = cur == prev
      prev = cur
    }
    if (!converged)
      System.err.println(s"WARN graft.Dedup.connectedComponentsStar: NOT " +
        s"converged after maxIter=$maxIter rounds — returned labels are a " +
        "partial coarsening, not connected components")
    ccLastRounds = iter
    // converged edges are stars (child → component min); nodes missing
    // from the star map are roots or singletons — their own rep
    nodes.join(e.select(col("hi").as("id"), col("lo").as("rep")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
  }

  /** Duplicate clusters from an edge list: one row per component —
    * (rep = min member id, n_members, member_ids ";"-joined in id
    * order), the same presentation as [[exactGroups]]. */
  def clusters(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponentsStar(edges, aCol, bCol)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(";", transform(array_sort(collect_list(col("id"))),
          _.cast("string"))).as("member_ids"))

  /** Benchmark decontamination, step 1: which corpus docs share at least
    * one word `n`-gram with the held-out evaluation set. Returns
    * (`idCol`, n_shared = number of distinct corpus-doc n-grams that also
    * occur anywhere in `bench`).
    *
    * Scale shape: the benchmark n-gram set is built once, deduped, and
    * **broadcast** — eval suites are tiny next to a training corpus, so
    * the corpus side pays one map-side hash probe per exploded n-gram and
    * the corpus text never shuffles. (For an unusually large `bench`,
    * drop the broadcast hint and the same plan becomes a shuffle-by-ngram
    * equi-join.) */
  def contamination(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    contaminationFromGrams(
      docGrams(corpus, idCol, textCol, n),
      docGrams(bench, idCol, textCol, n), idCol)

  /** The per-doc distinct word-`n`-gram explode both contamination
    * checks run on — exposed so a caller running SEVERAL checks over the
    * same corpus (q146's bloom + exact arms) can materialize it once
    * instead of paying the tokenize+shingle Generate per arm. */
  def docGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol), explode(
      array_distinct(shingles(TextAnalysis.words(col(textCol)), n))).as("g"))

  /** [[contamination]] over pre-exploded (id, g) gram frames. */
  def contaminationFromGrams(
      corpusGrams: DataFrame,
      benchGrams: DataFrame,
      idCol: String): DataFrame = {
    val bng = benchGrams.select(col("g").as("s")).distinct()
    corpusGrams.select(col(idCol), col("g").as("s"))
      .join(broadcast(bng), "s")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** Benchmark decontamination, step 2: the corpus minus every doc
    * [[contamination]] flags — the standard "remove training documents
    * that overlap the eval set" pass. The anti-join keys on ids only
    * (AQE broadcasts the flagged-id side when it is small). */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    corpus.join(
      contamination(corpus, bench, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Bloom-filter contamination check — [[contamination]]'s
    * constant-memory scale path. The eval set is folded into an
    * `mBits`-position / `kHashes`-probe Bloom filter: every eval n-gram
    * sets k deterministic positions ([[Hashing.permute]] over the md5
    * domain, so the filter bits are engine-reproducible), and a corpus
    * n-gram counts as a (possible) hit iff ALL k of its positions are
    * set. Returns (`idCol`, n_flagged = distinct grams whose probes all
    * hit) — a SUPERSET of the exact [[contamination]] hits: one-sided,
    * false positives possible at rate ≈ fill^k, false negatives never.
    *
    * Scale shape: the broadcast is the distinct SET-POSITION table —
    * bounded at `mBits` rows (~1 MB at 2¹⁷) no matter how large the eval
    * suite grows, where the exact path broadcasts every eval gram string.
    * The corpus side pays one gram explode ×k probe rows, all consumed by
    * a map-side broadcast-hash probe + two partial-aggregated groupings
    * keyed by doc id; corpus text never shuffles. */
  def bloomContamination(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      mBits: Int = 1 << 17,
      kHashes: Int = 3): DataFrame =
    bloomContaminationFromGrams(
      docGrams(corpus, idCol, textCol, n),
      docGrams(bench, idCol, textCol, n), idCol, mBits, kHashes)

  /** [[bloomContamination]] over pre-exploded (id, g) gram frames. */
  def bloomContaminationFromGrams(
      corpusGrams: DataFrame,
      benchGrams: DataFrame,
      idCol: String,
      mBits: Int = 1 << 17,
      kHashes: Int = 3): DataFrame = {
    require(kHashes >= 1 && kHashes <= 8, "kHashes in [1, 8]")
    def positions(gram: Column): Column = array(
      (0 until kHashes).map(i =>
        Hashing.permute(i, Hashing.hashP(gram)) % mBits): _*)
    val setPos = benchGrams
      .select(explode(positions(col("g"))).as("pos"))
      .distinct()
    corpusGrams
      .select(col(idCol), col("g"), explode(positions(col("g"))).as("pos"))
      .join(broadcast(setPos), "pos")
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") === kHashes)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_flagged"))
  }

  /** Blocked fuzzy record linkage: candidate pairs within a blocking key
    * whose `nameCol` edit distance is ≤ `maxDist` — the classic entity-
    * resolution shape (near-dup for RECORDS rather than documents).
    * Returns (id_a, id_b, dist) with id_a < id_b.
    *
    * Scale shape: the pair space is an equi-join on the blocking key —
    * only same-block rows ever meet, exactly like the MinHash bands /
    * IVF cells elsewhere in this file; the edit distance is a codegen'd
    * residual on the joined pairs, never a driver loop. Blocking quality
    * is the caller's lever: a block of size b costs b² candidate pairs
    * (use [[graft.ops.Profile.skewProfile]] on the block key first). */
  def fuzzyPairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockCol: String,
      maxDist: Int = 2): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col(nameCol).as("name_a"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"),
      col(nameCol).as("name_b"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      // |len(a) − len(b)| > maxDist can never be within maxDist edits —
      // a codegen'd length compare prunes before any DP runs
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // the THRESHOLDED levenshtein runs the banded O(n·maxDist) DP and
      // bails at maxDist+1 (returned as -1) instead of the full O(n·m)
      // matrix; within the threshold the value is the exact distance
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Scalable fuzzy record linkage via symmetric-delete (SymSpell)
    * blocking — same result set as [[fuzzyPairs]], different candidate
    * generation. Each name emits every string reachable by deleting up
    * to `maxDist` characters; candidates are the pairs sharing a
    * deletion variant (and the block key), verified with the same
    * thresholded levenshtein. COMPLETE for Levenshtein ≤ maxDist: an
    * edit script of ≤ d operations aligns a common subsequence, so
    * deleting from `a` the ≤ d positions it touches (sub/delete) and
    * from `b` the ≤ d positions it touches (sub/insert) yields equal
    * strings — every true pair shares a variant, and the residual
    * levenshtein discards false candidates exactly.
    *
    * WHY: [[fuzzyPairs]]'s cost is Σ block², so a FIXED-cardinality
    * block key (country, category) degrades quadratically as data
    * grows — measured 7.3× time for 3× rows on the customer table.
    * Here each record emits ≤ 1 + L + L²/2 variant keys (L = name
    * length; ~190 for L=18) and the join key is high-cardinality
    * CONTENT, so hot keys are bounded by true near-duplicate
    * neighborhoods and cost grows linearly with data — measured ~3× for
    * 3× rows. The block column still rides the join key as an equality
    * predicate. `maxDist` ≤ 2 enforced: the variant count is O(L^d).
    *
    * ADVERSARIAL SKEW: variant generation runs over ONE REPRESENTATIVE
    * per distinct (block, name) — n records sharing a name would
    * otherwise make every one of their ~L²/2 variant buckets n wide
    * (n²·L²/2 candidate rows before the distinct). Exact-name groups
    * expand back afterwards: within-group pairs are emitted directly as
    * dist 0 (no DP), cross-group rep pairs fan out to member pairs via
    * two (block, name) equi-joins. Candidate width is therefore bounded
    * by DISTINCT names per variant; the residual worst case — many
    * distinct names within edit distance of each other — is inherent
    * (the OUTPUT is quadratic there) and the DP verify runs once per
    * distinct name pair, never per record pair. */
  def fuzzyPairsSymDel(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2,
      s"maxDist in [0, 2] (variant count is O(len^d)), got $maxDist")
    // null name/block rows can never pair (the equi-join drops nulls in
    // the variant formulation) — filter up front so the exact-name
    // group expansion preserves that contract
    val members = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(nameCol).as("nm"))
      .filter(col("nm").isNotNull && col("blk").isNotNull)
    val reps = members.select("blk", "nm").distinct()
    val cand = symDelCandidates(reps, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    // cross-group: fan each verified distinct-name pair out to members
    val cross = cand
      .join(members.select(col("blk"), col("nm").as("name_a"),
        col("id").as("ia")), Seq("blk", "name_a"))
      .join(members.select(col("blk"), col("nm").as("name_b"),
        col("id").as("ib")), Seq("blk", "name_b"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    // within-group: identical names are dist-0 pairs by definition —
    // quadratic only in the true-duplicate group size (= the output)
    val within = members
      .join(members.select(col("blk"), col("nm"), col("id").as("ib")),
        Seq("blk", "nm"))
      .filter(col("id") < col("ib"))
      .select(col("id").as("id_a"), col("ib").as("id_b"),
        lit(0).as("dist"))
    cross.unionByName(within).select("id_a", "id_b", "dist")
  }

  /** [[fuzzyPairsSymDel]]'s candidate generator, separated so the skew
    * bound is spec-testable: input is the (blk, id, nm) REPRESENTATIVE
    * table (one row per distinct name per block); output is the distinct
    * candidate name-pair table (blk, name_a, name_b) whose size the
    * adversarial-skew spec asserts directly. */
  private[ops] def symDelCandidates(
      reps: DataFrame,
      maxDist: Int): DataFrame = {
    // r11 restructure: the former shape (iterated delete-1 layers →
    // union → distinct → eager checkpoint → SELF-JOIN on (blk, v)) paid
    // three data-scale shuffles plus a stored ~L²/2-per-name variant
    // frame. Now: ALL ≤maxDist-deletion variants come out of ONE
    // array expression + Generate (no layer union, so the reps subtree
    // is planned once), and the self-join is a GROUP-AND-EXPAND — one
    // hash-aggregate collapses the variant stream to its key with
    // collect_set(nm) (in-flight dedup replaces the former distinct),
    // keys with a single distinct name (the overwhelming majority)
    // die in the size filter, and the surviving sets expand to ordered
    // name pairs in place. Set width is bounded by distinct names per
    // variant key — the same true-near-duplicate-neighborhood bound the
    // scaladoc argues, now also the bound on per-group aggregate state.
    val len = length(col("nm"))
    val emptyArr = array().cast("array<string>")
    // delete one position (1-based i): prefix ++ suffix; sequence(1, 0)
    // would generate a DESCENDING [1, 0] — guard len >= 1
    val del1 = when(len >= 1, transform(sequence(lit(1), len), i =>
      concat(col("nm").substr(lit(1), i - 1),
        col("nm").substr(i + 1, len - i)))).otherwise(emptyArr)
    // delete two positions i < j: three-way split around both
    val del2 = when(len >= 2, flatten(transform(sequence(lit(1), len - 1),
      i => transform(sequence(i + 1, len), j =>
        concat(col("nm").substr(lit(1), i - 1),
          col("nm").substr(i + 1, j - i - 1),
          col("nm").substr(j + 1, len - j)))))).otherwise(emptyArr)
    val variants = maxDist match {
      case 0 => array(col("nm"))
      case 1 => concat(array(col("nm")), del1)
      case _ => concat(array(col("nm")), del1, del2)
    }
    // pin the explode stage's parallelism (guide §2.5): reps is tiny in
    // BYTES, so AQE coalesces the exchange feeding it to one partition —
    // but the deletion explode amplifies each row ~L²/2× in CPU (measured
    // 8.1 s single-task vs 0.3 s spread, sf0.1 customers). An EXPLICIT
    // partition count survives AQE; the session's configured shuffle
    // parallelism scales with the deployment instead of hard-coding one.
    // Keyed on nm ALONE so the caller's (blk, nm)-partitioned distinct
    // can't satisfy it (a same-key same-N repartition is pruned as
    // redundant at plan time, and the AQE-coalescible exchange below it
    // becomes the one feeding the explode again)
    val shufP = reps.sparkSession.sessionState.conf.numShufflePartitions
    reps
      .repartition(shufP, col("nm"))
      .select(col("blk"), col("nm"),
        explode(array_distinct(variants)).as("v"))
      .groupBy("blk", "v")
      .agg(sort_array(collect_set(col("nm"))).as("nms"))
      .filter(size(col("nms")) >= 2)
      .select(col("blk"), explode(flatten(transform(col("nms"),
        (x, i) => transform(
          slice(col("nms"), i + lit(2), size(col("nms")) - i - lit(1)),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      // a pair can meet through many shared variants — dedup before the
      // (comparatively expensive) DP verification runs
      .select(col("blk"), col("p.a").as("name_a"), col("p.b").as("name_b"))
      .distinct()
  }

  /** Canonical-document selection (the "which copy survives" step after
    * clustering): join [[connectedComponentsStar]] labels (id, rep) with a
    * per-doc quality score and keep each cluster's best member — max
    * quality, ties broken by min id, so selection is deterministic in any
    * engine. Output (rep, keeper_id, keeper_q, n_members).
    *
    * Scale shape: one equi-join on doc id plus a rank window partitioned
    * by cluster rep — window state is bounded by cluster size, and
    * clusters parallelize across partitions. */
  def canonicalPerCluster(
      labels: DataFrame,
      quality: DataFrame,
      idCol: String,
      qCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // frame-qualified selects: quality's id column may itself be named
    // "id" (connectedComponentsStar's own output name), which an unqualified
    // col("id") would make ambiguous
    val j = labels.join(quality, labels("id") === quality(idCol))
      .select(labels("rep"), labels("id"), quality(qCol))
    j.withColumn("rn",
        row_number().over(Window.partitionBy("rep")
          .orderBy(col(qCol).desc, col("id"))))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("rep")))
      .filter(col("rn") === 1)
      .select(col("rep"), col("id").as("keeper_id"), col(qCol),
        col("n_members"))
  }

  /** Embedding-cosine near-dup pairs within coarse blocks: `blockCol`
    * (e.g. a cluster/label id — the IVF-style coarse quantizer) bounds the
    * pair space so the join shuffles by block instead of exploding n².
    * Threshold applied on the 6dp-rounded cosine (oracle parity). */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      minCosine: Double): DataFrame = {
    // norms precomputed once per vector (not once per pair): the join-side
    // projections keep them, so each pair costs one dot product.
    val x = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col(blockCol).as("blk"), Similarity.l2norm(col(vecCol)).as("na"))
    val y = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col(blockCol).as("blk"), Similarity.l2norm(col(vecCol)).as("nb"))
    x.join(y, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** N-gram novelty against a reference corpus — the memorization lens
    * inverted (Lee et al. 2022; McCoy et al. 2023 "RAVEN"): per document
    * the fraction of its DISTINCT n-gram shingles that appear nowhere in
    * `reference`. 1.0 = fully novel text, 0.0 = entirely assembled from
    * reference n-grams; the eval that catches a generator (or a crawl)
    * replaying its training data. Returns (id, n_grams, n_novel,
    * novelty); docs too short for one n-gram emit 0 counts and null
    * novelty (ANSI-safe).
    *
    * Scale shape: the reference gram set is a DISTINCT broadcast bounded
    * by reference size (the [[decontaminate]] contract; Bloom is the
    * beyond-broadcast fallback); corpus grams explode once, probe
    * map-side, and one hash-agg per doc closes it. */
  def noveltyScore(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol),
        explode(shingles(TextAnalysis.words(col(textCol)), n)).as("g"))
      .distinct()
    val ref = grams(reference).select("g").distinct()
      .withColumn("_seen", lit(true))
    val scored = grams(corpus).join(broadcast(ref), Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("_ng"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("_nv"))
    corpus.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ng"), lit(0L)).as("n_grams"),
        coalesce(col("_nv"), lit(0L)).as("n_novel"),
        when(col("_ng") > 0,
          round(col("_nv").cast("double") / col("_ng"), 6)).as("novelty"))
  }

  /** Duplicate-aware sampling weights — "soft dedup": keep every member
    * of a near-dup cluster but down-weight each to 1/cluster-size so the
    * cluster contributes one document's worth of training mass (the
    * alternative to dropping when provenance or coverage must survive).
    * `labels` is [[connectedComponentsStar]] output (id, rep); ids absent
    * from any cluster weigh 1.0. Returns (id, cluster_size, weight).
    *
    * Scale shape: cluster sizes are one hash-agg over the LABEL table
    * (bounded by clustered docs, not the corpus); both joins are
    * id/rep-keyed and narrow; the corpus text never moves. */
  def dedupWeights(
      ids: DataFrame,
      labels: DataFrame, // (id, rep)
      idCol: String): DataFrame = {
    val sz = labels.groupBy("rep").agg(count(lit(1)).as("_n"))
    val m = labels.join(sz, Seq("rep"))
      .select(col("id").as(idCol), col("_n"))
    ids.select(col(idCol)).join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("_n"), lit(1L)), 6).as("weight"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") — semantic dedup through
    * a LEARNED coarse quantizer: every vector is assigned to its nearest
    * pinned-centroid cell ([[Similarity.probeCells]] with nProbe = 1, the
    * IVF assignment; centroids are plan-time literals, the
    * [[graft.fixtures.PinnedIndex]] artifact contract), and within each
    * cell a row is a semantic duplicate iff some LOWER-id cell-mate's
    * 6dp-rounded cosine reaches `minCosine`. Keep-lowest-id replaces the
    * paper's keep-farthest-from-centroid as the representative rule —
    * the paper itself reports the choice "does not matter much" (§4.4);
    * lowest-id is deterministic and engine-reproducible. Returns EVERY
    * row as (cid, cell, kept) so the decision is auditable.
    *
    * Scale shape — exactly why SemDeDup clusters first: assignment is
    * one codegen'd projection over the scan (k centroid dot products, no
    * shuffle); the pair space is cell-blocked (Σ|cell|² not n², with k
    * sized so cells stay ~n/k); the dup set is a semi-join-shaped
    * distinct on the higher id, never a materialized pair table. Skewed cells
    * degrade like [[embeddingPairs]] blocks — the fix at 100 TB is more
    * centroids (k ∝ n), which is a retrain, not a reshape. The final
    * kept-flag join is (id)-keyed and NARROW — the dup side carries ids
    * only, bounded by the duplicate count, never vectors. */
  def semDedup(
      df: DataFrame, // (cid, cvec)
      centroids: Array[Array[Double]],
      minCosine: Double): DataFrame = {
    val asg = df.select(col("cid"), col("cvec"),
      element_at(Similarity.probeCells(col("cvec"), centroids, 1), 1)
        .as("cell"),
      Similarity.l2norm(col("cvec")).as("nn"))
    val a = asg.select(col("cell"), col("cid").as("id_a"),
      col("cvec").as("va"), col("nn").as("na"))
    val b = asg.select(col("cell"), col("cid").as("id_b"),
      col("cvec").as("vb"), col("nn").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")),
        6) >= minCosine)
      .select(col("id_b").as("cid")).distinct()
      .withColumn("_dup", lit(true))
    asg.join(dups, Seq("cid"), "left")
      .select(col("cid"), col("cell"), col("_dup").isNull.as("kept"))
  }

  // ── segment-level dedup (C4-style, sub-document granularity) ─────────

  /** Fixed-width word segments of each document: one row per segment,
    * (idCol, seg_idx, seg). Segments are consecutive `segWords`-token
    * windows (no overlap); the trailing segment may be short. Empty docs
    * emit nothing. Pure expressions — tokenize, `sequence`, one
    * `posexplode` — a single Generate over the scan, no shuffle. */
  def segmented(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    df.select(col(idCol), TextAnalysis.words(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0),
            ((col("_n") + lit(segWords - 1)) / lit(segWords)).cast("int") - 1),
          i => array_join(slice(col("_toks"), i * segWords + 1, lit(segWords)), " "))))
      .select(col(idCol), col("pos").as("seg_idx"), col("col").as("seg"))
  }

  /** Re-assemble documents from flagged segments: kept segments re-join in
    * segment order; (n_kept, n_dropped) make the removal auditable. Docs
    * whose every segment dropped stay present with empty text (the caller
    * decides whether empties survive — C4 drops them, a provenance audit
    * keeps them). One hash-aggregate by doc id. */
  private def reassemble(segs: DataFrame, idCol: String): DataFrame =
    segs.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_keep"), struct(col("seg_idx"), col("seg"))))),
          _.getField("seg"))).as("text_clean"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"))

  /** Corpus-wide exact segment dedup — the C4-style sub-document
    * treatment: any fixed-width word segment that already occurred
    * anywhere in the corpus (first occurrence = smallest (id, seg_idx))
    * is dropped; documents are re-assembled from their surviving
    * segments. Catches page-level boilerplate and partial copies that
    * whole-document dedup (exact or MinHash) misses.
    *
    * Scale shape: one Generate (segmentation, no shuffle), one window
    * partitioned by segment text (the dedup shuffle — carries each
    * segment once, bounded by corpus bytes; exactly what a 100 TB C4 run
    * shuffles), one hash-agg by doc id for re-assembly. Window state per
    * key = the occurrence list of ONE segment, bounded by its duplication
    * count, never by corpus size. */
  def segmentDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("seg").orderBy(col(idCol), col("seg_idx"))
    val flagged = segmented(df, idCol, textCol, segWords)
      .withColumn("_keep", row_number().over(w) === 1)
    reassemble(flagged, idCol)
  }

  /** Boilerplate removal by segment document-frequency (the CCNet /
    * RefinedWeb frequent-line filter at fixed word granularity): segments
    * appearing in more than `maxDocFreq` distinct documents are removed
    * from EVERY document (unlike [[segmentDedup]], no first-occurrence
    * survivor — a nav-bar string is noise in all its hosts).
    *
    * Scale shape: segment df counts are a map-side-combinable hash-agg on
    * segment text; the hot-segment list (df > threshold) is tiny by
    * construction relative to the corpus, so the join back is left
    * unhinted for AQE to broadcast from its measured size (a pathological
    * all-boilerplate corpus degrades to a plain shuffle join, not an OOM). */
  def dropFrequentSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 10,
      maxDocFreq: Int = 2): DataFrame = {
    val segs = segmented(df, idCol, textCol, segWords)
    val hot = segs.groupBy("seg")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("seg"), lit(true).as("_hot"))
    val flagged = segs.join(hot, Seq("seg"), "left")
      .withColumn("_keep", col("_hot").isNull)
    reassemble(flagged, idCol)
  }

  /** Exact substring-span duplication coverage (the window form of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models Better"
    * — suffix-array exact-substring dedup approximated at fixed `width`
    * tokens): every `width`-token window is hashed with
    * [[graft.expressions.RollingHash]]; a span value occurring in ≥
    * `minDf` distinct documents is *duplicated*, and each document
    * reports how many of its window positions are covered by duplicated
    * spans. High coverage = the document is largely stitched from text
    * that exists elsewhere in the corpus — the removal signal the paper
    * thresholds on.
    *
    * Scale shape: span hashes are ONE codegen'd O(n) projection (no
    * explode-per-window of the text itself — 8-byte hashes are what
    * shuffles); span df is a map-side-combinable hash-agg; the join back
    * is an equi-join on span hash against the *duplicated-only* side,
    * which is small relative to the corpus for natural data (and bounded
    * by it otherwise). Per-doc totals then re-aggregate by id. The text
    * column never shuffles.
    *
    * Approximation strength (measured once against a driver-side
    * exact-substring reference — DedupSpec "width-w approximation vs an
    * exact-substring reference"): the mod-P rolling hash can only
    * OVER-flag, never miss (equal strings always hash equal; birthday
    * collisions in the ~2³⁰ space add false flags — measured ≤0.01% of
    * windows at sf0.001, and the DuckDB oracle replays the identical
    * hash so the gate is unaffected). For a target duplicated-span
    * length L the coverage recall is exactly 1.0 whenever `width` ≤ L
    * (every position of a ≥L-token duplicated span sits inside a
    * duplicated width-window); over-sizing width past L collapses
    * recall (an edge-spanning window mixes unique context into its
    * hash) — size `width` to the SHORTEST span you want caught, never
    * longer. */
  def spanDedupCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8,
      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spansCol = Bridge.column(graft.expressions.RollingHash(
      Bridge.expression(TextAnalysis.words(col(textCol))), width))
    // the exploded (id, span) frame feeds three plan branches (df agg,
    // coverage join, per-doc totals); materialize it once — 16 bytes/row
    val spans = df.select(col(idCol), explode(spansCol).as("span"))
      .localCheckpoint()
    val dup = spans.groupBy("span")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("span")
    val perDoc = spans.join(dup, Seq("span"))
      .groupBy(idCol).agg(count(lit(1)).as("n_dup"))
    val totals = spans.groupBy(idCol).agg(count(lit(1)).as("n_spans"))
    totals.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)) / col("n_spans"), 6)
          .as("dup_frac"))
  }

  /** Exact substring-span dedup *removal* — the output side of Lee et al.
    * 2022 that [[spanDedupCoverage]] only measures: every token position
    * covered by a duplicated `width`-token window (span hash in ≥ `minDf`
    * distinct docs) is dropped from ALL occurrences, and the surviving
    * tokens are reassembled. This is the aggressive variant (no canonical
    * copy is spared — C4-style); pair with [[canonicalPerCluster]] when
    * one representative must survive.
    *
    * Returns one row per input document: `(id, n_tok, n_removed,
    * cleaned)` — documents shorter than `width` tokens pass through
    * untouched. `cleaned` is token-space (lower-cased `\w+` joined by
    * single spaces), the form downstream tokenizers consume.
    *
    * Scale shape: the duplicated-span df agg and the coverage join see
    * only 8-byte hashes; the ×`width` position explode happens on the
    * *duplicated-only* rows. The removed-position sets ride an id
    * equi-join back to one final pass over the corpus (AQE broadcasts
    * them when small); the per-doc token filter is one array lambda per
    * document — interpreted, but O(doc length) work that never shuffles
    * text. */
  def spanDedupRemove(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8,
      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val toksCol = TextAnalysis.words(col(textCol))
    val spansCol = Bridge.column(graft.expressions.RollingHash(
      Bridge.expression(toksCol), width))
    val spans = df
      .select(col(idCol), posexplode(spansCol).as(Seq("pos", "span")))
      .localCheckpoint() // feeds the df agg AND the coverage join
    val dup = spans.groupBy("span")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("span")
    // duplicated window at pos covers token positions pos .. pos+w-1
    val flagged = spans.join(dup, Seq("span")).select(col(idCol), col("pos"))
    removeCovered(df, idCol, toksCol, flagged, width)
  }

  /** The covered-position removal + reassembly tail shared by
    * [[spanDedupRemove]] and [[decontaminateSpans]]: flagged window
    * positions expand to covered token positions; covered tokens null
    * out of the token array and the document reassembles around them.
    * Returns (id, n_tok, n_removed, cleaned). */
  private def removeCovered(
      df: DataFrame,
      idCol: String,
      toksCol: Column,
      flagged: DataFrame, // (idCol, pos)
      width: Int): DataFrame = {
    val removed = flagged
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(width - 1)))
          .as("rmpos"))
      .distinct()
      .groupBy(idCol).agg(sort_array(collect_set(col("rmpos"))).as("_rm"))
    df.select(col(idCol), toksCol.as("_toks"))
      .join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tok"),
        coalesce(size(col("_rm")).cast("long"), lit(0L)).as("n_removed"),
        array_join(
          zip_with(col("_toks"),
            sequence(lit(0), size(col("_toks")) - 1),
            (t, i) => when(coalesce(array_contains(col("_rm"), i),
              lit(false)), lit(null: String)).otherwise(t)),
          " ").as("cleaned"))
  }

  /** SURGICAL benchmark decontamination — [[decontaminate]]'s span-level
    * sibling: instead of dropping every document that overlaps the
    * benchmark (doc-level, the q59 posture), remove ONLY the overlapping
    * spans and keep the rest of the document — the treatment used when
    * eval text is quoted inside otherwise-good documents and doc-level
    * removal would cost too much corpus. Every corpus window whose
    * [[graft.expressions.RollingHash]] appears anywhere in the benchmark
    * marks its `width` covered token positions; covered tokens are
    * removed and the document reassembles ([[spanDedupRemove]]'s tail).
    *
    * Scale shape: the benchmark gram-hash set is a broadcast DISTINCT
    * bounded by benchmark size (the [[decontaminate]] contract — for
    * benchmarks too large to broadcast exactly, [[bloomContamination]]
    * is the bounded-at-m-bits doc-level fallback); corpus windows are
    * one codegen'd O(n) RollingHash projection, the probe is a map-side
    * broadcast join, and only flagged (id, pos) pairs shuffle for the
    * per-doc removal agg. */
  def decontaminateSpans(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    def spansOf(df: DataFrame) = {
      val toksCol = TextAnalysis.words(col(textCol))
      df.select(col(idCol), posexplode(Bridge.column(
        graft.expressions.RollingHash(Bridge.expression(toksCol), width)))
        .as(Seq("pos", "span")))
    }
    val benchSpans = spansOf(bench).select("span").distinct()
    val flagged = spansOf(corpus).join(broadcast(benchSpans), Seq("span"))
      .select(col(idCol), col("pos"))
    removeCovered(corpus, idCol, TextAnalysis.words(col(textCol)), flagged,
      width)
  }

  /** Content-defined-chunking duplication stats (LBFS/restic-style CDC
    * applied to corpus near-dup measurement): each document's token
    * stream is cut into variable-length chunks by
    * [[graft.expressions.CdcChunks]] (rolling-hash boundaries, expected
    * `modulus` tokens per chunk), and a chunk whose content hash appears
    * in ≥ `minDf` distinct documents is *duplicated*. Because boundaries
    * depend only on local content, a shared run chunks identically at
    * ANY offset — insertions shift chunk positions but not identities,
    * the property fixed-width spans (q107) lack.
    *
    * Returns `(id, n_chunks, n_dup, dup_frac)` per document.
    *
    * Scale shape: chunking is ONE codegen'd O(n) projection; only 8-byte
    * chunk hashes explode and shuffle (ca. n/modulus rows per doc — an
    * order less than q107's per-window rows); chunk df is a map-side-
    * combinable hash-agg; the join back hits the duplicated-only side.
    * The text column never shuffles. */
  def cdcChunkStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 4,
      modulus: Int = 16,
      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val chunksCol = Bridge.column(graft.expressions.CdcChunks(
      Bridge.expression(TextAnalysis.words(col(textCol))), width, modulus))
    // feeds three plan branches (df agg, dup join, per-doc totals)
    val chunks = df.select(col(idCol), explode(chunksCol).as("chunk"))
      .localCheckpoint()
    val dup = chunks.groupBy("chunk")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("chunk")
    val perDoc = chunks.join(dup, Seq("chunk"))
      .groupBy(idCol).agg(count(lit(1)).as("n_dup"))
    val totals = chunks.groupBy(idCol).agg(count(lit(1)).as("n_chunks"))
    totals.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)) / col("n_chunks"), 6)
          .as("dup_frac"))
  }

  /** Prefix-filtered exact Jaccard pairs (AllPairs / PPJoin candidate
    * generation; Bayardo et al. "Scaling Up All Pairs Similarity Search",
    * Xiao et al. "Efficient Similarity Joins for Near Duplicate
    * Detection") — same output contract as [[jaccardPairs]] (id_a < id_b,
    * jac rounded to 6dp, threshold on the rounded value) but a
    * fundamentally cheaper join:
    *
    *  - each document's distinct shingles are ordered by GLOBAL RARITY
    *    (document frequency asc, shingle asc — one hash-agg + one
    *    re-assembly agg);
    *  - only the PREFIX — the first `|x| − ⌈θ·|x|⌉ + 1` rarest
    *    shingles — is exploded into the candidate join. Any pair with
    *    J ≥ θ must share ≥ ⌈θ·|x|⌉ shingles, so its smallest common
    *    shingle (in the global order) sits inside BOTH prefixes: no
    *    false negatives, exactly;
    *  - candidates additionally pass the length filter
    *    `θ·max(|x|,|y|) ≤ min(|x|,|y|)` inside the join condition;
    *  - surviving candidate pairs are verified exactly by an id
    *    equi-join back to the full shingle sets (`array_intersect`).
    *
    * Scale posture vs [[jaccardPairs]]: the shuffle-by-shingle self-join
    * is O(Σ df²) over ALL shingles — one boilerplate shingle shared by a
    * million docs melts a reducer. Here only ~(1−θ)·|x|+1 of the RAREST
    * shingles per doc enter the join, and rare-by-definition shingles
    * have small df, so the worst reducer is bounded without dropping any
    * pair (the df cap in [[jaccardPairs]] buys its bound by changing the
    * measure; prefix filtering buys a bound at θ-high thresholds for
    * free). Verification joins move candidate rows only.
    *
    * Candidate-stage bounds use `θ − 1e−6` so pairs whose TRUE Jaccard
    * sits just under θ but ROUNDS to ≥ θ (the output contract) are never
    * pruned early; the float-vs-rational ceiling is likewise guarded by
    * the 1e−9 slack inside `ceil`. */
  def prefixFilterPairs(
      df: DataFrame,
      idCol: String,
      shingleCol: Column,
      minJaccard: Double): DataFrame = {
    // rounded-threshold + float-ceiling slack (see scaladoc)
    val theta = minJaccard - 1e-6
    // distinct shingle sets, materialized once: feeds the df count, the
    // ordered re-assembly, and both sides of the verify join
    val sets = df
      .select(col(idCol).as("id"), array_distinct(shingleCol).as("ss"))
      .filter(size(col("ss")) > 0)
      .localCheckpoint()
    val ex = sets.select(col("id"), explode(col("ss")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // per-doc shingles in global-rarity order; array_sort on (df, s)
    // structs gives the canonical total order with no window
    val ordered = ex.join(dfreq, "s")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("os"))
      .select(col("id"),
        transform(col("os"), x => x.getField("s")).as("toks"),
        size(col("os")).as("n"))
    // prefix = |x| − ⌈θ|x|⌉ + 1 rarest shingles
    val prefLen = (col("n") - ceil(col("n") * theta - lit(1e-9)) + 1)
      .cast("int")
    // NOT materialized: measured twice (r10 on the wide `ordered` arrays
    // 4.97 → 7.02 s, r11 on these narrow post-explode rows 5.76 → 9.40 s
    // isolated) — storing either side of this subtree costs more than
    // the duplicate rarity-sort work it saves at any tested scale
    val pref = ordered.select(col("id"), col("n"),
      explode(slice(col("toks"), lit(1), prefLen)).as("s"))
    // candidate pairs: shared prefix shingle + length filter, then
    // distinct (a pair can collide on several prefix shingles)
    val cand = pref.as("x").join(pref.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id") &&
          col("y.n") * theta <= col("x.n") &&
          col("x.n") * theta <= col("y.n"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // exact verification: id equi-joins move candidate rows only
    cand
      .join(sets.select(col("id").as("id_a"), col("ss").as("sa"),
        size(col("ss")).as("na")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ss").as("sb"),
        size(col("ss")).as("nb")), "id_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 6).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Detector evaluation against PLANTED ground truth — the harness that
    * answers "what recall does this MinHash configuration actually buy on
    * this corpus" before trusting it at scale: every `plantEvery`-th doc
    * gets a near-duplicate twin (text + one appended token, so the true
    * Jaccard is just under 1), [[minhashPairs]] runs on the augmented
    * corpus, and the one-row report scores detected pairs against the
    * planted pair set. `n_detected` includes the corpus's own incidental
    * near-dups, so precision here is a LOWER bound (documented; recall
    * against the planted set is the calibrated number).
    *
    * Scale posture: the twin synthesis is a projection; everything else
    * is [[minhashPairs]]'s banded shape plus two id-pair joins and a
    * single-row aggregate. */
  def plantedTwinEval(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      plantEvery: Int,
      idOffset: Long,
      threshold: Double): DataFrame = {
    require(plantEvery >= 1 && threshold > 0 && threshold <= 1,
      "need plantEvery >= 1 and threshold in (0, 1]")
    val twins = docs.filter(col(idCol) % plantEvery === 0)
      .select((col(idCol) + idOffset).as(idCol),
        concat(col(textCol), lit(" twintoken")).as(textCol))
    val corpus = docs.select(col(idCol), col(textCol)).unionByName(twins)
    val d = corpus.select(col(idCol),
      TextAnalysis.words(col(textCol)).as("toks"))
    val det = minhashPairs(d, idCol, shingles(col("toks"), 3))
      .filter(col("est_jac") >= threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("_d"))
    val truth = docs.filter(col(idCol) % plantEvery === 0)
      .select(col(idCol).as("id_a"), (col(idCol) + idOffset).as("id_b"),
        lit(1).as("_t"))
    det.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("_t") === 1, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("_d") === 1, 1L).otherwise(0L)).as("n_detected"),
        sum(when(col("_d") === 1 && col("_t") === 1, 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("n_truth"), col("n_detected"), col("n_hits"),
        when(col("n_detected") > 0,
          round(col("n_hits").cast("double") / col("n_detected"), 6))
          .as("precision_lb"),
        when(col("n_truth") > 0,
          round(col("n_hits").cast("double") / col("n_truth"), 6))
          .as("recall"))
  }

  /** Winnowing near-dup pairs (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * fingerprint): per document, token `k`-gram rolling hashes
    * ([[graft.expressions.RollingHash]], O(n)) → all `w`-window minima
    * ([[graft.expressions.WindowMin]], O(n) monotonic deque) → the
    * DISTINCT minima are the fingerprint set. Winnowing's guarantee:
    * any shared run of at least `k + w − 1` tokens yields at least one
    * shared fingerprint, with expected density 2/(w+1) — a principled
    * sparsification the fixed-stride segmenter (q72) lacks. Documents
    * sharing ≥ `minShared` fingerprints emit a pair.
    *
    * Scale shape: the whole fingerprint derivation is ONE codegen'd
    * projection (two custom expressions chained); candidates bucket by
    * fingerprint with a df-cap dropping degenerate hubs (the q99/q162
    * posture), so pair space is Σ df² over capped buckets, never n². */
  def winnowingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      dfCap: Int = 50,
      minShared: Int = 3): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    require(dfCap >= 2 && minShared >= 1, "dfCap >= 2, minShared >= 1")
    import org.apache.spark.sql.graftbridge.Bridge
    val fps = Bridge.column(graft.expressions.WindowMin(
      graft.expressions.RollingHash(
        Bridge.expression(TextAnalysis.words(col(textCol))), k), w))
    val fp = df.select(col(idCol), explode(array_distinct(fps)).as("fp"))
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= dfCap).select("fp")
    val f2 = fp.join(keep, Seq("fp"))
    f2.select(col("fp"), col(idCol).as("id_a"))
      .join(f2.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Row-local LSH band keys — [[minhashPairs]]'s banding computed
    * entirely INSIDE the row (array lambdas over the shingle hashes, no
    * aggregation): an array of `(b, key)` structs, one per band. A
    * document is one row, so its full signature needs no groupBy — the
    * property that lets a STREAMING near-dup gate band documents with a
    * single stateful operator downstream (Spark allows only one
    * streaming aggregation per query outside append-mode windows).
    * Same permutation constants and band layout as [[minhashPairs]],
    * so batch and stream derive identical keys. */
  def bandKeys(sig: Column, k: Int = 16, bands: Int = 4): Column = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("b"),
        concat_ws(",", transform(slice(sig, b * r + 1, lit(r)),
          _.cast("string"))).as("key")))
  }

  /** Fellegi–Sunter record-linkage weights via EM (Fellegi & Sunter
    * 1969; Winkler's EM formulation) — the PRINCIPLED scoring layer the
    * edit-distance candidate generators (q157/q189) feed: given
    * candidate pairs with binary field-agreement indicators γ, estimate
    * unsupervisedly the per-field agreement probabilities among true
    * matches (m_j) and non-matches (u_j) and the match prevalence p,
    * then score each agreement PATTERN with its match posterior and
    * log-likelihood-ratio weight ln(P(γ|M)/P(γ|U)) — the quantity
    * record-linkage thresholds are calibrated on.
    *
    * Scale shape: the ONLY data-scale pass is one map-side-combinable
    * hash-aggregate to ≤ 2^k pattern counts (k = |gammaCols| ≤ 8,
    * enforced); EM runs driver-side on the collected counts (bounded by
    * the parameter, never data scale — the q328/q333 posture). EM per
    * iteration: E-step pattern responsibilities w_g, M-step
    * m_j = Σ c_g·w_g·γ_j / Σ c_g·w_g (u_j with 1−w_g), p = Σ c_g·w_g/N;
    * every parameter is 9dp-rounded per iteration and all pattern sums
    * fold in ascending pattern order, so the DuckDB recursive-CTE
    * oracle replays the trajectory bit-for-bit (the Holt/IPF parity
    * pattern). After each rounded M-step, p, m_j and u_j are CLAMPED
    * into [1e-9, 1−1e-9] (mirrored in the oracle): 9dp rounding can
    * otherwise drive a parameter to exactly 0 or 1 on degenerate pair
    * sets (e.g. a field that always agrees), which makes a likelihood
    * 0 → weight ±Infinity / posterior NaN, and an all-1
    * responsibility state divides by zero in the u update. Clamped
    * parameters keep every likelihood strictly positive, so every
    * responsibility is strictly inside (0, 1) and both M-step
    * denominators stay nonzero — no degenerate trajectory can error
    * or emit non-finite output. Emits one row per OBSERVED pattern:
    * (pattern, n_pairs, posterior 6dp, weight 6dp). */
  def fellegiSunterEM(
      pairs: DataFrame,
      gammaCols: Seq[String],
      iters: Int = 20): DataFrame = {
    require(gammaCols.nonEmpty && gammaCols.size <= 8,
      s"need 1..8 gamma columns, got ${gammaCols.size}")
    val k = gammaCols.size
    val rd9 = (x: Double) => math.rint(x * 1e9) / 1e9
    val rd6 = (x: Double) => math.rint(x * 1e6) / 1e6
    // the only data-scale pass: pattern histogram
    val pats: Seq[(Seq[Int], Long)] = pairs
      .groupBy(gammaCols.map(c => col(c).cast("int")): _*)
      .agg(count(lit(1)).as("c"))
      .collect().map { r =>
        val g = (0 until k).map(r.getInt)
        require(g.forall(v => v == 0 || v == 1),
          s"gamma columns must be 0/1, got $g")
        (g, r.getLong(k))
      }.sortBy(_._1.mkString)
    require(pats.nonEmpty, "no candidate pairs")
    val nTot = pats.map(_._2).sum.toDouble
    val clamp = (x: Double) => math.min(math.max(x, 1e-9), 1.0 - 1e-9)
    var p = 0.1
    var m = Array.fill(k)(0.9)
    var u = Array.fill(k)(0.1)
    def lik(g: Seq[Int], v: Array[Double]) =
      (0 until k).map(j => if (g(j) == 1) v(j) else 1.0 - v(j)).product
    def resp(g: Seq[Int]) = {
      val a = p * lik(g, m)
      a / (a + (1.0 - p) * lik(g, u))
    }
    var it = 0
    while (it < iters) {
      val ws = pats.map { case (g, c) => (g, c.toDouble, resp(g)) }
      val sW = ws.map { case (_, c, w) => c * w }.sum
      val mN = Array.tabulate(k)(j =>
        ws.map { case (g, c, w) => c * w * g(j) }.sum)
      val uN = Array.tabulate(k)(j =>
        ws.map { case (g, c, w) => c * (1.0 - w) * g(j) }.sum)
      m = mN.map(x => clamp(rd9(x / sW)))
      u = uN.map(x => clamp(rd9(x / (nTot - sW))))
      p = clamp(rd9(sW / nTot))
      it += 1
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    pats.map { case (g, c) =>
      (g.mkString, c, rd6(resp(g)), rd6(math.log(lik(g, m) / lik(g, u))))
    }.toDF("pattern", "n_pairs", "posterior", "weight")
  }
}
