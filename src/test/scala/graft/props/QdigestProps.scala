package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.Sketches

/** Invariants of the round-8 q-digest: the estimate may only OVERSHOOT
  * the exact quantile (every digest node's count sits at values ≤ its
  * right endpoint, so the first cum ≥ rank node can never answer
  * early), τ = n/k = 0 disables compression entirely (digest ≡ exact
  * histogram), and the digest is a pure function of the value multiset
  * (partitioning can never change it — the mergeability claim's
  * operational form). */
object QdigestProps extends Properties("graft.invariants.round8qd") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  private val genVals: Gen[List[Int]] =
    Gen.choose(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        3 -> Gen.choose(0, 63),      // bulk
        1 -> Gen.choose(48, 55),     // a hot span (skew)
        1 -> Gen.const(0))))         // a heavy head

  private val genProb: Gen[Double] = Gen.oneOf(0.1, 0.5, 0.9, 0.99)

  property("estimate never undershoots the exact quantile") =
    forAll(genVals, genProb, Gen.choose(2, 8)) { (vs, p, k) =>
      import spark.implicits._
      val df = vs.toDF("v")
      val r = Sketches.qdigestQuantiles(df, col("v"), Seq(p),
        levels = 6, k = k).head()
      r.getAs[Long]("err") >= 0L &&
        r.getAs[Long]("qd_est") <= 63L &&
        r.getAs[Long]("exact_q") == vs.sorted.apply(
          math.max(0, math.ceil(p * vs.size).toInt - 1)).toLong
    }

  property("tau = 0 (k > n) disables compression: digest is exact") =
    forAll(genVals, genProb) { (vs, p) =>
      import spark.implicits._
      val df = vs.toDF("v")
      val r = Sketches.qdigestQuantiles(df, col("v"), Seq(p),
        levels = 6, k = vs.size + 1).head()
      r.getAs[Long]("err") == 0L &&
        r.getAs[Long]("n_nodes") == vs.distinct.size.toLong
    }

  property("digest is partitioning-independent") =
    forAll(genVals, genProb, Gen.choose(2, 6)) { (vs, p, k) =>
      import spark.implicits._
      val a = Sketches.qdigestQuantiles(vs.toDF("v").repartition(7),
        col("v"), Seq(p), levels = 6, k = k).head()
      val b = Sketches.qdigestQuantiles(vs.toDF("v").repartition(2),
        col("v"), Seq(p), levels = 6, k = k).head()
      a.toSeq == b.toSeq
    }

  private def histDf(vs: Seq[Int]) = {
    import spark.implicits._
    vs.groupBy(identity).toSeq
      .map { case (v, xs) => (v.toLong, xs.size.toLong) }.toDF("v", "cnt")
  }

  // the DIGEST-level merge laws (qdigestMergedQuantiles): an arbitrary
  // 2-way shard split, each shard compressed with its OWN tau, merged by
  // node-count addition + one re-compression —
  //   (1) n is the union n;
  //   (2) the estimate still never undershoots the exact union quantile
  //       (counts only ever move UP the tree, in shards and in the
  //       merge alike, so every value stays under a covering node);
  //   (3) the estimate stays in the domain.
  // Node-IDENTITY with the whole-corpus digest is deliberately NOT
  // claimed: shard compression may lift counts a global build keeps at
  // leaves (tau_s < tau), which is why the merged digest is a valid
  // sketch of the union, not a bit-replay of the unsharded build.
  property("shard-merged digest: union n, never undershoots, in-domain") =
    forAll(genVals, genVals, genProb, Gen.choose(2, 8)) { (va, vb, p, k) =>
      val r = Sketches.qdigestMergedQuantiles(
        Seq(histDf(va), histDf(vb)), Seq(p), levels = 6, k = k).head()
      val all = va ++ vb
      val exact = all.sorted.apply(
        math.max(0, math.ceil(p * all.size).toInt - 1)).toLong
      r.getAs[Long]("n") == all.size.toLong &&
        r.getAs[Long]("exact_q") == exact &&
        r.getAs[Long]("err") >= 0L &&
        r.getAs[Long]("qd_est") <= 63L
    }

  property("merging a digest with an empty-complement split is the whole digest") =
    forAll(genVals, genProb, Gen.choose(2, 8)) { (vs, p, k) =>
      // single-shard "merge" (no second digest): the merge path must
      // degenerate to the plain build — same tau, one no-op re-compress
      val m = Sketches.qdigestMergedQuantiles(
        Seq(histDf(vs)), Seq(p), levels = 6, k = k).head()
      val w = Sketches.qdigestFromCounts(histDf(vs), Seq(p),
        levels = 6, k = k).head()
      m.toSeq == w.toSeq
    }
}
