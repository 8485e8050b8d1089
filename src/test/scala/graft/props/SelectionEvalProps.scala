package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.{Dedup, Layout, Models, Similarity}

/** Invariants of the round-7 session-3 selection/eval/layout operators:
  * the winnowing detection guarantee, RBO bounds and self-identity,
  * BH-FDR monotonicity in the FDR budget, the k-center non-increasing
  * coverage radius, and skipping-eval row conservation across layouts.
  * Spark-stage cases at the HeavyInvariantProps budget of 15. */
object SelectionEvalProps extends Properties("graft.invariants.round7sel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  private val genWord: Gen[String] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  // ── Winnowing ─────────────────────────────────────────────────────

  property("winnowing: a planted shared run of k+w-1 tokens always collides") =
    forAll(Gen.listOfN(8, genWord), Gen.listOfN(6, genWord),
      Gen.listOfN(6, genWord)) { (run0, pre, post) =>
      import spark.implicits._
      // structural guarantee input: the shared run is made unique by
      // position-tagging, so shrinking can't destroy the plant
      val run = run0.zipWithIndex.map { case (w, i) => s"${w}shared$i" }
        .mkString(" ")
      val docs = Seq(
        (1L, (pre :+ run).mkString(" ")),
        (2L, (run +: post).mkString(" "))
      ).toDF("doc_id", "text")
      val got = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 5, w = 4, dfCap = 50, minShared = 1).collect()
      got.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
        r.getLong(2) >= 1L)
    }

  // ── RBO ───────────────────────────────────────────────────────────

  property("rbo: in [0,1]; self-comparison = 1 - p^k exactly") =
    forAll(Gen.choose(3, 10), Gen.choose(2L, 50L)) { (k, base) =>
      import spark.implicits._
      val a = (1 to k).map(r => (1L, base + r, r)).toDF("qid", "cid", "rnk")
      val b = (1 to k).map(r => (1L, base + 100 + r, r))
        .toDF("qid", "cid", "rnk")
      val self = Models.rbo(a, a, k = k, p = 0.9).head()
      val cross = Models.rbo(a, b, k = k, p = 0.9).head()
      val expect = BigDecimal(1 - math.pow(0.9, k))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.abs(self.getAs[Double]("rbo") - expect) < 2e-6 &&
        cross.getAs[Double]("rbo") == 0.0 &&
        self.getAs[Double]("rbo") >= 0.0 && self.getAs[Double]("rbo") <= 1.0
    }

  // ── BH-FDR ────────────────────────────────────────────────────────

  property("bhFdr: discoveries monotone non-decreasing in the FDR budget q") =
    forAll(Gen.listOfN(12, Gen.choose(1, 999))) { ps =>
      import spark.implicits._
      val df = ps.zipWithIndex
        .map { case (p, i) => (i.toLong, p / 1000.0) }.toDF("id", "p")
      def discoveries(q: Double): Long =
        Models.bhFdr(df, "id", "p", q)
          .agg(sum("discovery")).head().getLong(0)
      val d = Seq(0.01, 0.05, 0.1, 0.25).map(discoveries)
      d.zip(d.tail).forall { case (a, b) => a <= b }
    }

  // ── k-center ──────────────────────────────────────────────────────

  property("kCenterGreedy: coverage radius is non-increasing after the seed") =
    forAll(Gen.choose(4, 8), Gen.listOfN(8,
      Gen.listOfN(3, Gen.choose(1, 10)))) { (k, raw) =>
      import spark.implicits._
      // ids from 1, first component forced positive → no zero vectors
      val vecs = raw.zipWithIndex.map { case (v, i) =>
        (i.toLong + 1, v.map(_.toFloat).toArray) }
      val corpus = vecs.toDF("cid", "cvec")
      val kk = math.min(k, vecs.size)
      val d = Similarity.kCenterGreedy(corpus, kk).orderBy("rank")
        .collect().map(_.getAs[Double]("dist")).drop(1) // drop the sentinel
      d.zip(d.drop(1)).forall { case (a, b) => a >= b }
    }

  // ── Skipping eval ─────────────────────────────────────────────────

  property("skippingEval: every layout conserves rows; scanned <= total") =
    forAll(Gen.choose(20, 60)) { n =>
      import spark.implicits._
      val df = (0L until n.toLong).map(i => (i, (i * 13) % 50))
        .toDF("id", "v")
      val got = Layout.skippingEval(df,
          Seq("byv" -> col("v"), "nat" -> col("id")),
          value = col("v"), lo = 5L, hi = 15L, nFiles = 8)
        .collect()
      got.length == 2 && got.forall { r =>
        r.getAs[Long]("rows_total") == n.toLong &&
          r.getAs[Long]("rows_scanned") <= r.getAs[Long]("rows_total") &&
          r.getAs[Long]("n_hit_files") <= r.getAs[Long]("n_files")
      }
    }
}
