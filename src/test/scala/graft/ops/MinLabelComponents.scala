package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object MinLabelComponents {

  /** Min-label connected components — the reference
    * [[Dedup.connectedComponentsStar]] is cross-checked against (fixtures,
    * GraphX parity, union-find properties, round counts on long paths).
    * It was the production implementation until large-star/small-star
    * measured 1.7× faster at sf1 (5 rounds vs 12: the star rounds also
    * shrink the edge frame); two independently-derived algorithms
    * agreeing is the guard on the iterative-graph family.
    *
    * Min-label propagation with pointer jumping: every node starts
    * labeled with its own id; each round takes the min of its own and
    * its neighbors' labels, then replaces its label by its label's label
    * (path halving), so rounds are O(log diameter) instead of
    * O(diameter) — the standard MapReduce CC acceleration (cf. Kiveris
    * et al., "Connected Components in MapReduce and Beyond"). Labels are
    * monotone non-increasing, so the label SUM strictly decreases until
    * the fixpoint: convergence is one cheap aggregate (exact decimal
    * sum — no overflow ambiguity), never a data-sized driver collect.
    * Labels being monotone, equal sums `probeEvery` rounds apart prove
    * NOTHING changed in between — so probing every 2 rounds halves the
    * job count with no correctness loss. Per-round frames are
    * checkpointed to truncate lineage; every shuffle is bounded by
    * |edges|.
    *
    * Returns (id, rep) with rep = min id in the component. Deterministic
    * regardless of partitioning or iteration count. Non-convergence at
    * `maxIter` (possible only on adversarially deep graphs given pointer
    * jumping's O(log d) rounds) is loudly signaled on stderr — the
    * partially-merged labels are a valid coarsening but NOT components.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50,
      probeEvery: Int = 2): DataFrame = {
    require(probeEvery >= 1, "probeEvery must be >= 1")
    // materialize the (possibly expensive) edge derivation ONCE: the
    // symmetrizing union references it twice and would recompute it
    val e0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // static propagation edges: the graph plus self-loops. The self-loop
    // carries a node's own label through the min, so each round is ONE
    // join + one min-aggregate (no second "keep own label" join) — and it
    // folds the first neighbor-min round into label init: min(dst) over
    // base is min(id, min neighbor id) directly.
    val base = sym
      .union(sym.select(col("src"), col("src").as("dst")).distinct())
      .localCheckpoint(false)
    var labels = base.groupBy("src").agg(min("dst").as("rep"))
      .select(col("src").as("id"), col("rep"))
      .localCheckpoint(false)
    // LAZY local checkpoints (eager=false): each round's frame still
    // truncates lineage — next's plan references labels 3× and would
    // otherwise grow exponentially across rounds — but materializes
    // inside the next probe's job instead of an eager checkpoint job
    // plus the probe.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("rep").cast("decimal(38,0)"))).head.getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var prevSum: java.math.BigDecimal = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // per-round edges = base ∪ label links both ways: v -> rep(v)
      // contributes rep(rep(v)) (a pointer jump, for free, inside the
      // same join) and rep(v) -> v spreads a low label back up. Labels
      // are monotone non-increasing (the self-loop keeps the current
      // label in the min), so the decimal label sum strictly decreases
      // until fixpoint — the convergence probe is one cheap aggregate,
      // never a data-sized driver collect.
      val linkF = labels.select(col("id").as("src"), col("rep").as("dst"))
      val linkR = labels.select(col("rep").as("src"), col("id").as("dst"))
      val next = base.union(linkF).union(linkR)
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src").agg(min("rep").as("rep"))
        .select(col("src").as("id"), col("rep"))
      iter += 1
      labels = next.localCheckpoint(false)
      if (iter % probeEvery == 0 || iter == maxIter) {
        val curSum = labelSum(labels) // materializes the lazy checkpoint
        converged = curSum == prevSum
        prevSum = curSum
      }
    }
    if (!converged)
      System.err.println(s"WARN MinLabelComponents: NOT " +
        s"converged after maxIter=$maxIter rounds — returned labels are a " +
        "partial coarsening, not connected components")
    lastRounds = iter
    labels
  }

  /** Rounds executed by the most recent [[connectedComponents]] call
    * (includes the convergence-confirming round; probe cadence can
    * overshoot the fixpoint by up to `probeEvery - 1`). */
  @volatile var lastRounds: Int = 0
}
