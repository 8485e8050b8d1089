package graft.ops

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Cardinality sketches with DETERMINISTIC hash-derived randomness — the
  * estimate a given corpus produces is identical on any engine, any
  * partitioning, any run (unlike `approx_count_distinct`, whose HLL++
  * register encoding is engine-private and therefore un-oracle-able).
  *
  * Scale shape: the sketch is a (group, bucket) → max(rho) hash-aggregate
  * — map-side combine reduces every partition to ≤ m rows per group
  * before the shuffle, the classic mergeable-sketch property; the
  * finalization folds the ≤ m registers per group in bucket-sorted order
  * (an array fold over a bounded list, so the float sum has ONE
  * well-defined ordering — cross-partition double-sum ordering is the
  * usual source of nondeterminism in sketch finalizers).
  */
object Sketches {

  /** HyperLogLog distinct-count estimate per group over `value`, with
    * m = 2^p registers (p=8 → 256, ~6.5% standard error). Returns
    * (group, n_exact is NOT included — compose it if wanted) →
    * (groupCol, hll_est). Register derivation: h = 60-bit md5 hash;
    * bucket = h mod m; rho = leading-zero count of the remaining
    * (60-p)-bit word + 1, via integer `bin`-length arithmetic (float
    * log2 would misround at exact powers of two). Small-range correction
    * (E ≤ 2.5m with empty registers → linear counting) matches the
    * original Flajolet et al. formulation. */
  def hllDistinct(
      df: DataFrame,
      groupCol: String,
      value: Column,
      p: Int = 8): DataFrame =
    finalizeRegisters(registers(df, groupCol, value, p), groupCol, p)

  /** The mergeable half: (group, bucket) → max(rho). Works unchanged as a
    * STREAMING aggregate (max is monotone, so complete-mode state is the
    * running sketch) — merging sketches from any partitioning of the data
    * gives identical registers. */
  def registers(
      df: DataFrame,
      groupCol: String,
      value: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4, 16]")
    val m = 1 << p
    val wordBits = 60 - p
    val h = Hashing.hash60(value.cast("string"))
    val w = shiftright(h, p)
    val rho = when(w === 0, lit(wordBits + 1))
      .otherwise(lit(wordBits + 1) - length(bin(w)))
    df.select(col(groupCol), (h % m).as("bucket"), rho.as("rho"))
      .groupBy(groupCol, "bucket")
      .agg(max(col("rho")).as("mr"))
  }

  /** The finalization half over (group, bucket, mr) registers. */
  def finalizeRegisters(
      regs: DataFrame,
      groupCol: String,
      p: Int = 8): DataFrame = {
    val m = 1 << p
    val alpha = 0.7213 / (1 + 1.079 / m)
    // fold the ≤ m registers in bucket order; absent buckets are rho=0
    // (contributing 2^0 = 1 each) and count toward the zero-register V
    regs.groupBy(groupCol)
      .agg(count(lit(1)).as("n_present"),
        aggregate(
          array_sort(collect_list(struct(col("bucket"), col("mr")))),
          lit(0.0),
          (acc, x) => acc + pow(lit(2.0), -x.getField("mr")))
          .as("sum_present"))
      .select(col(groupCol),
        (lit(m) - col("n_present")).as("v_zero"),
        (lit(alpha * m * m.toDouble) /
          (col("sum_present") + (lit(m) - col("n_present")))).as("e_raw"))
      .select(col(groupCol),
        round(when(col("e_raw") <= 2.5 * m && col("v_zero") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
          .otherwise(col("e_raw")), 6).as("hll_est"))
  }

  /** Count-min sketch counters over `value`: `depth` independent
    * universal-hash rows × `width` buckets, one count per (row, bucket)
    * cell. The sketch is a plain hash-aggregate — map-side combine reduces
    * every partition to ≤ depth·width rows before the shuffle (the same
    * mergeable property as [[registers]]), and the d-fold explode that
    * feeds it multiplies the stream by `depth` BEFORE partial aggregation,
    * never across the wire. Counters use [[Hashing.permute]] over the
    * md5-derived [[Hashing.hashP]] domain, so the cells (and therefore
    * every estimate) are bit-identical on any engine or partitioning. */
  def cmsCounters(
      df: DataFrame,
      value: Column,
      depth: Int = 4,
      width: Int = 64): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1, 16]")
    require(width >= 2, "width >= 2")
    val h = Hashing.hashP(value.cast("string"))
    val cells = (0 until depth).map { i =>
      struct(lit(i).as("r"), (Hashing.permute(i, h) % width).as("b"))
    }
    df.select(explode(array(cells: _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("r", "b")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for every key in `keys` (whose columns pass
    * through): `cms_est` = min over the depth rows of the addressed cell —
    * the classic one-sided estimator, `cms_est >= true count` always, with
    * overestimates only from bucket collisions. The counter table is at
    * most depth·width rows regardless of stream size, so the probe join
    * broadcasts: estimating any number of keys costs one map-side pass. */
  def cmsEstimate(
      counters: DataFrame,
      keys: DataFrame,
      keyCol: String,
      depth: Int = 4,
      width: Int = 64): DataFrame = {
    val h = Hashing.hashP(col(keyCol).cast("string"))
    val cells = (0 until depth).map { i =>
      struct(lit(i).as("r"), (Hashing.permute(i, h) % width).as("b"))
    }
    val passThrough = keys.columns.map(col).toSeq
    keys.select(passThrough :+ explode(array(cells: _*)).as("rb"): _*)
      .select(passThrough :+ col("rb.r").as("r") :+ col("rb.b").as("b"): _*)
      .join(broadcast(counters), Seq("r", "b"), "left")
      .groupBy(passThrough: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Fixed-width histogram quantile sketch: `bins` equal-width buckets
    * between the column's min and max, quantiles read off the cumulative
    * histogram with linear interpolation inside the landing bin. Returns
    * one row per requested probability — (p, hq_est). Like every sketch
    * here the estimate is deterministic on any engine/partitioning: the
    * bin arithmetic is plain double math on values both engines read
    * identically, and the cumulative fold runs in bin order.
    *
    * Scale shape: TWO aggregate passes (global min/max, then per-bin
    * counts — ≤ `bins` rows out of the partial aggregation regardless of
    * input size; the classic mergeable histogram), a cumulative window
    * over the ≤`bins`-row count table (bounded by the sketch width, not
    * the data), and a probs×bins threshold join. Where
    * `percentile_approx`'s state is engine-private, this sketch is
    * oracle-able bit for bit. */
  def histogramQuantiles(
      df: DataFrame,
      value: Column,
      probs: Seq[Double],
      bins: Int = 1024): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probs in (0, 1)")
    require(bins >= 2, "bins >= 2")
    val bounds = df.agg(min(value).cast(DoubleType).as("lo"),
      max(value).cast(DoubleType).as("hi"), count(value).as("n"))
    val binned = df.select(value.cast(DoubleType).as("v"))
      .crossJoin(broadcast(bounds))
      .select(when(col("hi") === col("lo"), lit(0)) // degenerate: one bin
        .otherwise(least(lit(bins - 1), floor((col("v") - col("lo")) /
          ((col("hi") - col("lo")) / bins)).cast("int"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned.withColumn("cum", sum(col("cnt")).over(w))
    val ps = probs.map(p => lit(p))
    val probDf = df.sparkSession.range(1).select(
      explode(array(ps: _*)).as("p"))
    probDf.crossJoin(broadcast(bounds))
      .join(broadcast(cum), col("cum") >= col("p") * col("n"))
      .groupBy("p", "lo", "hi", "n")
      .agg(min_by(struct(col("bin"), col("cnt"), col("cum")), col("bin"))
        .as("b"))
      .select(col("p"), round(when(col("hi") === col("lo"), col("lo"))
        .otherwise(col("lo") +
          ((col("hi") - col("lo")) / bins) * (col("b.bin") +
            (col("p") * col("n") - (col("b.cum") - col("b.cnt"))) /
              col("b.cnt"))),
        6).as("hq_est"))
  }

  /** KMV (k-minimum-values) distinct estimate per group: keep the k
    * smallest distinct 60-bit hashes of `value`; with the k-th smallest at
    * h₍ₖ₎ in a domain of 2⁶⁰, the unbiased estimate is
    * (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef et al. 2002). Groups with fewer than k
    * distinct values report the EXACT count (the sketch holds every hash).
    * Returns (groupCol, n_kept, kmv_est).
    *
    * Scale shape: one distinct-(group, hash) aggregate — shuffle carries
    * 8-byte hashes, never values — then bottom-k per group via the
    * sort-free [[graft.plans.TopKPerKeyExec]] operator (ascending order =
    * min-k; state bounded at k rows per group), then one ≤k-row fold per
    * group. Sketches from different partitions merge by construction
    * (min-k of a union = min-k of min-k's). */
  /** KMV set algebra between every pair of groups — THE payoff of a
    * mergeable sketch: |A∪B| and |A∩B| estimated from the two bottom-k
    * sketches alone, no second scan of the data. Union: the merged
    * bottom-k of the two sketches is itself a valid KMV sketch of A∪B
    * (min-k of a union = min-k of min-k's). Intersection: of the merged
    * k minimum hashes, the fraction present in BOTH sketches estimates
    * the Jaccard similarity ρ, and `|A∩B| ≈ ρ·|A∪B|` (Beyer et al.
    * 2007). When the merged sketch holds fewer than k hashes both
    * sketches are complete and the estimates are EXACT counts.
    *
    * Exact union/intersection ride along (one hash self-join, the
    * verify path) with relative errors — the same est-vs-exact report
    * shape as [[kmvDistinct]] / the MinHash calibration. Scale: the
    * pair algebra runs entirely on sketch rows (≤ |groups|·k); only the
    * distinct-(group, hash) pass and the exact verify see data scale.
    *
    * The pair grid is QUADRATIC IN GROUPS by design — all-pairs set
    * algebra emits |groups|·(|groups|−1)/2 rows. That is the report's
    * contract (group counts are report-scale: regions, languages,
    * sources), not a data-scale join, and `maxGroups` enforces it: a
    * bounded `LIMIT n+1` probe of the (already-sketched, checkpointed)
    * group spine fails loud past the cap instead of silently planning a
    * billion-row grid. The spine side of the grid is broadcast — the
    * pair expansion never shuffles. */
  def kmvSetOps(
      df: DataFrame,
      groupCol: String,
      value: Column,
      k: Int = 64,
      maxGroups: Int = 10000): DataFrame = {
    require(k >= 2, "k >= 2")
    require(maxGroups >= 2, "maxGroups >= 2")
    val m = math.pow(2.0, 60)
    // one distinct pass feeds the sketches AND the exact verify side
    val d = df.select(col(groupCol).as("g"),
        Hashing.hash60(value.cast("string")).as("h"))
      .distinct()
      .localCheckpoint()
    val sk = TopK.perKey(d, Seq("g"), Seq(("h", true)), k).localCheckpoint()
    val gs = sk.select("g").distinct()
    // cardinality guard: a LIMIT n+1 probe is one bounded job over the
    // sketch spine, never a full count of data
    val nGroups = gs.limit(maxGroups + 1).count()
    require(nGroups <= maxGroups,
      s"kmvSetOps: > $maxGroups groups — the all-pairs grid is " +
        s"quadratic in groups; raise maxGroups deliberately or " +
        s"pre-filter the group spine")
    val gp = broadcast(gs.select(col("g").as("ga")))
      .crossJoin(gs.select(col("g").as("gb")))
      .where(col("ga") < col("gb"))
    // merged candidates per pair: two equi joins + union, sketch-sized
    val merged = gp.join(sk.select(col("g").as("ga"), col("h")), "ga")
      .select("ga", "gb", "h")
      .unionByName(gp.join(sk.select(col("g").as("gb"), col("h")), "gb")
        .select("ga", "gb", "h"))
      .distinct()
    val mk = TopK.perKey(merged, Seq("ga", "gb"), Seq(("h", true)), k)
    val agg = mk
      .join(sk.select(col("g").as("ga"), col("h"), lit(1).as("_ina")),
        Seq("ga", "h"), "left")
      .join(sk.select(col("g").as("gb"), col("h"), lit(1).as("_inb")),
        Seq("gb", "h"), "left")
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"),
        sum(when(col("_ina") === 1 && col("_inb") === 1, 1L).otherwise(0L))
          .as("n_both"))
    val unionEstRaw = lit((k - 1).toDouble * m) / col("kth").cast(DoubleType)
    val est = agg.select(col("ga"), col("gb"),
      when(col("n_kept") < k, col("n_kept").cast(DoubleType))
        .otherwise(round(unionEstRaw, 6)).as("union_est"),
      when(col("n_kept") < k, col("n_both").cast(DoubleType))
        .otherwise(round(col("n_both") / lit(k.toDouble) * unionEstRaw, 6))
        .as("inter_est"))
    // exact verify: one hash equi self-join, pairs with no overlap kept
    val nd = d.groupBy("g").agg(count(lit(1)).as("nd"))
    val interExact = d.as("x").join(d.as("y"),
        col("x.h") === col("y.h") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("ga"), col("y.g").as("gb"))
      .agg(count(lit(1)).as("exact_inter"))
    est
      .join(nd.select(col("g").as("ga"), col("nd").as("n_a")), "ga")
      .join(nd.select(col("g").as("gb"), col("nd").as("n_b")), "gb")
      .join(interExact, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_inter"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_a"), col("n_b"), col("union_est"), col("inter_est"),
        col("exact_union"), col("exact_inter"),
        round(abs(col("union_est") - col("exact_union")) / col("exact_union"), 6)
          .as("union_rel_err"),
        when(col("exact_inter") > 0,
          round(abs(col("inter_est") - col("exact_inter")) / col("exact_inter"), 6))
          .as("inter_rel_err"))
  }

  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      value: Column,
      k: Int = 64): DataFrame = {
    require(k >= 2, "k >= 2")
    val m = math.pow(2.0, 60) // hash domain size, exact as a double
    val d = df.select(col(groupCol), Hashing.hash60(value.cast("string")).as("h"))
      .distinct()
    val bottomK = TopK.perKey(d, Seq(groupCol), Seq(("h", true)), k)
    bottomK.groupBy(groupCol)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .select(col(groupCol), col("n_kept"),
        when(col("n_kept") < k, col("n_kept").cast(DoubleType))
          .otherwise(round(lit((k - 1).toDouble * m) / col("kth").cast(DoubleType), 6))
          .as("kmv_est"))
  }

  /** Deterministic q-digest quantile sketch (Shrivastava et al. 2004) —
    * the rank/quantile member completing the mergeable-sketch family
    * (HLL counts distincts, CMS counts frequencies, KMV does set
    * algebra; none can answer "what is the p99"). Values must be
    * pre-quantized into the integer domain [0, 2^levels) (the caller's
    * fixed binning — no data-dependent bounds, so both engines and any
    * two sketch shards agree on the domain). Build: one data-scale
    * hash-aggregate to exact leaf counts (bounded by 2^levels rows —
    * that aggregate is the ONLY pass over the data), then
    * LEVEL-SYNCHRONOUS bottom-up compression: a parent absorbs its
    * children's subtree counts iff their sum fits under the bucket
    * threshold ⌊n/k⌋. Level-synchronous processing makes the digest a
    * pure function of the counts — no processing-order or partitioning
    * dependence, so digests MERGE by adding node counts and
    * re-compressing, and a SQL oracle can replay the build exactly.
    * Quantile query: nodes in post-order (right endpoint asc, width
    * asc), first node whose cumulative count reaches ⌈p·n⌉ answers with
    * its right endpoint — error bounded by the absorbed range widths
    * (ε ≈ levels/k in rank).
    *
    * Compression runs DRIVER-SIDE over the collected ≤ 2^levels-row
    * histogram (the bpeTrainDriver/pqTrain bounded-model posture —
    * `levels` is a sketch parameter, never data scale; levels ≤ 16 is
    * enforced, a ≤ 65k-row bounded collect). Returns one row per
    * requested prob: (p, n, n_nodes, qd_est, exact_q, err) — the
    * est-vs-exact report shape of [[kmvDistinct]], with the exact
    * quantile of the quantized values computed from the same histogram. */
  def qdigestQuantiles(
      df: DataFrame,
      value: Column, // integer in [0, 2^levels)
      probs: Seq[Double],
      levels: Int = 12,
      k: Int = 64): DataFrame = {
    qdigestFromCounts(
      df.select(value.cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt")),
      probs, levels, k)
  }

  /** [[qdigestQuantiles]] over a PRE-AGGREGATED (value, count)
    * histogram — the shape a streaming build takes (a complete-mode
    * count store accumulates the exact leaf histogram; the digest
    * compresses at read time), and the merge path for pre-sharded LEAF
    * histograms: duplicate `v` rows are SUMMED here (a union of shard
    * histograms merges by count addition, as the merge law requires —
    * the group-by is part of the contract, not a convenience), so
    * `qdigestFromCounts(histA union histB)` is exactly the whole-corpus
    * digest. For merging already-COMPRESSED digests see
    * [[qdigestMergedQuantiles]]. Empty input fails loud. */
  def qdigestFromCounts(
      histDf: DataFrame, // (v, cnt)
      probs: Seq[Double],
      levels: Int = 12,
      k: Int = 64): DataFrame = {
    checkQdigestParams(probs, levels, k)
    val (n, hist, nodes) = buildDigest(histDf, levels, k)
    quantileRows(histDf.sparkSession, probs, n, nodes, hist, levels)
  }

  /** The mergeability claim at the DIGEST level (Shrivastava 2004 §4):
    * each shard histogram is compressed into its OWN digest (shard-local
    * τ = ⌊n_s/k⌋), the digests merge by NODE-count addition (node ids
    * are position-in-tree, shared across shards by the fixed
    * [0, 2^levels) domain), and ONE re-compression at the combined
    * τ = ⌊n/k⌋ yields the released digest — the path a 1000-executor
    * build takes when each executor ships a ≤2k-node digest instead of
    * its (bounded but 2^levels-wide) raw histogram. The merged digest
    * carries the SAME never-undershoot guarantee as a direct build (all
    * counts still sit at nodes whose range covers their values), with
    * rank error bounded by the sum of the shard and merge thresholds;
    * it is NOT in general node-identical to the whole-corpus digest
    * (shard compression may have lifted counts a global build keeps at
    * leaves — see QdigestProps for the exact laws that DO hold).
    *
    * The `exact_q` / `err` report columns come from the summed shard
    * leaf histograms — eval-harness columns (a production merge ships
    * digests precisely to avoid keeping leaves). */
  def qdigestMergedQuantiles(
      shards: Seq[DataFrame], // each (v, cnt)
      probs: Seq[Double],
      levels: Int = 12,
      k: Int = 64): DataFrame = {
    require(shards.nonEmpty, "qdigestMergedQuantiles needs >= 1 shard")
    checkQdigestParams(probs, levels, k)
    val built = shards.map(buildDigest(_, levels, k))
    val n = built.map(_._1).sum
    // merge: node counts ADD (ids align by construction), then exactly
    // one re-compression pass at the combined threshold
    val summed = built.map(_._3).reduce { (a, b) =>
      b.foldLeft(a) { case (m, (id, c)) =>
        m + (id -> (m.getOrElse(id, 0L) + c))
      }
    }
    val merged = compressNodes(summed, n / k, levels)
    val histAll = built.flatMap(_._2).groupBy(_._1)
      .map { case (v, xs) => (v, xs.map(_._2).sum) }
      .toArray.sortBy(_._1)
    quantileRows(shards.head.sparkSession, probs, n, merged, histAll, levels)
  }

  private def checkQdigestParams(
      probs: Seq[Double], levels: Int, k: Int): Unit = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probs in (0, 1)")
    require(levels >= 2 && levels <= 16,
      "levels in [2, 16] — the histogram collect is bounded by 2^levels")
    require(k >= 2, "k >= 2")
  }

  /** Build one digest driver-side from a (v, cnt) frame: domain
    * enforced BEFORE the bounded collect, duplicate `v` rows summed,
    * empty input fails loud. Returns (n, leaf histogram sorted by v,
    * compressed node map). */
  private def buildDigest(
      histDf: DataFrame,
      levels: Int,
      k: Int): (Long, Array[(Long, Long)], TreeMap[Long, Long]) = {
    val cap = 1L << levels
    // enforce the domain BEFORE collecting: an out-of-contract caller
    // (values never quantized) would otherwise pull an unbounded
    // distinct-value histogram onto the driver before any check fires.
    // One bounded min/max aggregate; only then is the collect ≤ 2^levels
    val mm = histDf.agg(min(col("v").cast("long")),
      max(col("v").cast("long")), min(col("cnt").cast("long"))).head()
    require(!mm.isNullAt(0),
      "q-digest needs a non-empty histogram — got zero (v, cnt) rows")
    require(mm.getLong(0) >= 0 && mm.getLong(1) < cap,
      s"values must be pre-quantized into [0, $cap) — got " +
        s"[${mm.getLong(0)}, ${mm.getLong(1)}]")
    require(mm.getLong(2) >= 0, "histogram counts must be >= 0")
    // SUM duplicate v rows (a unioned shard histogram must add counts —
    // a last-wins drop here would desync node counts from n); the
    // group-by keeps the collect bounded by the 2^levels domain
    val hist = histDf
      .groupBy(col("v").cast("long").as("v"))
      .agg(sum(col("cnt").cast("long")).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val (n, nodes) = digestFromHist(hist, levels, k)
    (n, hist, nodes)
  }

  /** Pure hist → (n, compressed digest); the driver-side core shared by
    * the frame-shaped builders. */
  private def digestFromHist(
      hist: Array[(Long, Long)],
      levels: Int,
      k: Int): (Long, TreeMap[Long, Long]) = {
    val cap = 1L << levels
    val n = hist.map(_._2).sum
    require(n > 0, "q-digest needs at least one counted value (n = 0)")
    val leaves = TreeMap(hist.map { case (v, c) => (cap + v) -> c }: _*)
    (n, compressNodes(leaves, n / k, levels))
  }

  /** One-pass shard-merge REPORT — the q328 shape done right at scale:
    * a single data-scale (shard, v) hash-aggregate (vs one scan per
    * shard plus one for the whole build — 6 scans for 4 shards), then
    * everything driver-side on the ≤ nShards·2^levels collected
    * histogram: per-shard digests at shard τ, node-count-addition merge
    * + one re-compression at the combined τ, the whole-corpus digest
    * from the summed histogram, and the exact quantiles. Returns one
    * row per prob: (p, n, n_nodes_merged, n_nodes_whole, qd_merged,
    * qd_whole, exact_q, err_merged, merged_eq_whole) — parity released
    * as a column (node identity does NOT hold in general; see
    * [[qdigestMergedQuantiles]]).
    *
    * `shard` must be a SMALL key (executor/partition bucket — ≤ 1024
    * enforced after the bounded aggregate): the collect is
    * nShards·2^levels rows. */
  def qdigestMergeReport(
      df: DataFrame,
      value: Column, // integer in [0, 2^levels)
      shard: Column,
      probs: Seq[Double],
      levels: Int = 12,
      k: Int = 64): DataFrame = {
    checkQdigestParams(probs, levels, k)
    val cap = 1L << levels
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(value.cast("long").as("v"),
      shard.cast("long").as("s"))
    val mm = base.agg(min(col("v")), max(col("v"))).head()
    require(!mm.isNullAt(0), "q-digest needs at least one row")
    require(mm.getLong(0) >= 0 && mm.getLong(1) < cap,
      s"values must be pre-quantized into [0, $cap) — got " +
        s"[${mm.getLong(0)}, ${mm.getLong(1)}]")
    // guard the shard cardinality BEFORE the collect (a 1025-row LIMIT
    // probe, never data scale) — a high-cardinality shard column must
    // fail loud without first pulling an unbounded row set into driver
    // memory (the buildDigest posture: enforce bounds, then collect)
    val nShards = base.select("s").distinct().limit(1025).count()
    require(nShards <= 1024,
      s"shard must be a small bucket key — got ${
        if (nShards > 1024) "more than 1024" else nShards.toString} distinct")
    // the ONLY data-scale pass: one map-side-combinable hash-aggregate,
    // bounded by the guard above at nShards·2^levels rows
    val rows = base.groupBy("s", "v").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byShard = rows.groupBy(_._1)
    val built = byShard.toSeq.sortBy(_._1).map { case (_, rs) =>
      digestFromHist(rs.map(t => (t._2, t._3)).sortBy(_._1), levels, k)
    }
    val n = built.map(_._1).sum
    val summed = built.map(_._2).reduce { (a, b) =>
      b.foldLeft(a) { case (m, (id, c)) =>
        m + (id -> (m.getOrElse(id, 0L) + c))
      }
    }
    val merged = compressNodes(summed, n / k, levels)
    val histAll = rows.groupBy(_._2).map { case (v, rs) =>
      (v, rs.map(_._3).sum)
    }.toArray.sortBy(_._1)
    val (_, whole) = digestFromHist(histAll, levels, k)
    val mq = quantilesOf(probs, n, merged, histAll, levels)
    val wq = quantilesOf(probs, n, whole, histAll, levels)
    mq.zip(wq).map { case ((p, _, nnM, estM, exact, errM), (_, _, nnW, estW, _, _)) =>
      (p, n, nnM, nnW, estM, estW, exact, errM,
        if (estM == estW) 1 else 0)
    }.toDF("p", "n", "n_nodes_merged", "n_nodes_whole", "qd_merged",
      "qd_whole", "exact_q", "err_merged", "merged_eq_whole")
  }

  /** One full LEVEL-SYNCHRONOUS bottom-up compression pass: at each
    * level (deepest first) a parent absorbs its children's counts iff
    * their sum ≤ τ. Pure function of (nodes, τ) — no processing-order
    * or partitioning dependence, which is what lets shard digests merge
    * and a SQL oracle replay the build. Nodes keyed by heap id
    * (leaf v → 2^levels + v; parent = id/2); input may hold nodes at
    * ANY level (the merge path re-compresses a mixed-depth map). */
  private def compressNodes(
      nodes0: TreeMap[Long, Long],
      tau: Long,
      levels: Int): TreeMap[Long, Long] = {
    var nodes = nodes0
    var lvl = levels
    while (lvl >= 1) {
      val lo = 1L << lvl
      val hi = 1L << (lvl + 1)
      val atLevel = nodes.range(lo, hi)
      val byParent = atLevel.groupBy(_._1 / 2)
      byParent.foreach { case (pid, ch) =>
        val csum = ch.values.sum
        if (csum <= tau) {
          nodes = nodes -- ch.keys
          nodes += pid -> (nodes.getOrElse(pid, 0L) + csum)
        }
      }
      lvl -= 1
    }
    nodes
  }

  /** Post-order quantile read over a compressed node map + the
    * est-vs-exact report columns from the leaf histogram. */
  private def quantilesOf(
      probs: Seq[Double],
      n: Long,
      nodes: TreeMap[Long, Long],
      hist: Array[(Long, Long)],
      levels: Int): Seq[(Double, Long, Long, Long, Long, Long)] = {
    val cap = 1L << levels
    val nNodes = nodes.size.toLong
    // post-order spine: (right endpoint asc, width asc), cumulative
    val spine = nodes.toSeq.map { case (id, c) =>
      val depth = 63 - java.lang.Long.numberOfLeadingZeros(id)
      val width = 1L << (levels - depth)
      val right = (id + 1) * width - cap - 1
      (right, width, c)
    }.sortBy(t => (t._1, t._2))
    val cum = spine.scanLeft(0L)(_ + _._3).tail
    // exact quantile of the quantized values from the same histogram
    val exactCum = hist.scanLeft(0L)(_ + _._2).tail
    probs.map { p =>
      val rank = math.max(1L, math.ceil(p * n).toLong)
      val qi = cum.indexWhere(_ >= rank)
      val est = if (qi < 0) spine.last._1 else spine(qi)._1
      val ei = exactCum.indexWhere(_ >= rank)
      val exact = if (ei < 0) hist.last._1 else hist(ei)._1
      (p, n, nNodes, est, exact, est - exact)
    }
  }

  private def quantileRows(
      spark: org.apache.spark.sql.SparkSession,
      probs: Seq[Double],
      n: Long,
      nodes: TreeMap[Long, Long],
      hist: Array[(Long, Long)],
      levels: Int): DataFrame = {
    import spark.implicits._
    quantilesOf(probs, n, nodes, hist, levels)
      .toDF("p", "n", "n_nodes", "qd_est", "exact_q", "err")
  }
}
