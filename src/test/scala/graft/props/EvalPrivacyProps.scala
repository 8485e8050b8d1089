package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.{Models, Privacy, TextAnalysis, Unigram}

/** Invariants of the round-7 session-2 operators: BLEU/chrF bounds and
  * self-identity, Fleiss-kappa perfect agreement, entropy-l-diversity
  * information bounds, DP-release determinism and clamping, unigram
  * Viterbi reconstruction/optimality, curriculum-pacing monotonicity,
  * and the syllable floor. Spark-stage cases at the HeavyInvariantProps
  * budget of 15 per property. */
object EvalPrivacyProps extends Properties("graft.invariants.round7eval") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  private val genWord: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val genSentence: Gen[String] =
    Gen.choose(4, 12).flatMap(n =>
      Gen.listOfN(n, genWord).map(_.mkString(" ")))

  // ── BLEU / chrF ───────────────────────────────────────────────────

  property("bleu: self-pair scores 1; any pair stays in [0,1]") =
    forAll(Gen.listOfN(3, genSentence), Gen.listOfN(3, genSentence)) {
      (refs, cands) =>
        import spark.implicits._
        val pairs = refs.zip(cands).zipWithIndex
          .map { case ((r, c), i) => (i.toLong, r, c) }
          .toDF("id", "ref", "cand")
        val cross = TextAnalysis.bleu(pairs, "id", "ref", "cand").collect()
        val self = refs.zipWithIndex.map { case (r, i) => (i.toLong, r, r) }
          .toDF("id", "ref", "cand")
        val ident = TextAnalysis.bleu(self, "id", "ref", "cand").collect()
        cross.forall { r =>
          val b = r.getAs[Double]("bleu")
          b >= 0.0 && b <= 1.0 && (1 to 4).forall { n =>
            val p = r.getAs[Double](s"p$n"); p >= 0.0 && p <= 1.0
          }
        } && ident.forall(_.getAs[Double]("bleu") == 1.0)
    }

  property("chrF: self-pair scores 1; any pair stays in [0,1]") =
    forAll(Gen.listOfN(3, genSentence), Gen.listOfN(3, genSentence)) {
      (refs, cands) =>
        import spark.implicits._
        val pairs = refs.zip(cands).zipWithIndex
          .map { case ((r, c), i) => (i.toLong, r, c) }
          .toDF("id", "ref", "cand")
        val cross = TextAnalysis.chrF(pairs, "id", "ref", "cand").collect()
        val self = refs.zipWithIndex.map { case (r, i) => (i.toLong, r, r) }
          .toDF("id", "ref", "cand")
        val ident = TextAnalysis.chrF(self, "id", "ref", "cand").collect()
        cross.forall { r =>
          val f = r.getAs[Double]("chrf"); f >= 0.0 && f <= 1.0
        } && ident.forall(_.getAs[Double]("chrf") == 1.0)
    }

  // ── Fleiss' kappa ─────────────────────────────────────────────────

  property("fleissKappa: unanimous raters over >=2 categories give kappa 1") =
    forAll(Gen.choose(2, 5), Gen.choose(3, 8)) { (nRaters, nItems) =>
      import spark.implicits._
      // item i unanimously labeled c<i%3> — multiple categories, so Pe < 1
      val rows = for {
        item <- 0 until math.max(nItems, 3)
        _ <- 0 until nRaters
      } yield ("g", item.toLong, s"c${item % 3}")
      val df = rows.toDF("grp", "item", "label")
      val r = Models.fleissKappa(df, "grp", "item", "label", nRaters).head()
      r.getAs[Double]("pbar") == 1.0 && r.getAs[Double]("kappa") == 1.0
    }

  // ── Entropy l-diversity ───────────────────────────────────────────

  property("entropyLDiversity: 0 <= H <= ln(group), eff <= l_distinct") =
    forAll(Gen.listOfN(12, Gen.choose(0, 3))) { vals =>
      import spark.implicits._
      val df = vals.map(v => ("q", s"v$v")).toDF("q", "v")
      val r = Privacy.entropyLDiversity(df, Seq("q"), col("v"), l = 2).head()
      val h = r.getAs[Double]("entropy")
      val n = r.getAs[Long]("group_size")
      val ld = r.getAs[Long]("l_distinct")
      h >= 0.0 && h <= math.log(n.toDouble) + 1e-6 &&
        r.getAs[Double]("eff_values") <= ld + 1e-6
    }

  // ── DP release ────────────────────────────────────────────────────

  property("dpNoisyCount: released >= 0, reproducible, raw count hidden") =
    forAll(Gen.listOfN(20, Gen.oneOf("a", "b", "c"))) { ks =>
      import spark.implicits._
      val df = ks.zipWithIndex.toDF("g", "x")
      val r1 = Privacy.dpNoisyCount(df, Seq("g"), epsilon = 0.5, salt = "s1")
        .orderBy("g").collect()
      val r2 = Privacy.dpNoisyCount(df, Seq("g"), epsilon = 0.5, salt = "s1")
        .orderBy("g").collect()
      r1.forall(_.getAs[Long]("released") >= 0L) &&
        r1.map(_.getAs[Long]("released")).toSeq ==
          r2.map(_.getAs[Long]("released")).toSeq &&
        !r1.head.schema.fieldNames.contains("_true") &&
        !r1.head.schema.fieldNames.contains("noise")
    }

  // ── Unigram Viterbi ───────────────────────────────────────────────

  private val genMixedWord: Gen[String] =
    Gen.choose(1, 14).flatMap(n => Gen.listOfN(n,
      Gen.frequency(8 -> Gen.alphaLowerChar, 2 -> Gen.numChar))
      .map(_.mkString))

  property("unigram: seg rejoins to the capped word; cost <= singles path") =
    forAll(Gen.listOfN(6, genMixedWord)) { ws =>
      import spark.implicits._
      val singles = Unigram.piecesV1.filter(_._1.length == 1).toMap
      def singleCost(c: Char): Long =
        singles.get(c.toString).map(_.toLong).getOrElse(9000L)
      val got = Unigram.segment(ws.distinct.toDF("word")).collect()
      got.forall { r =>
        val w = r.getAs[String]("word").take(10)
        val seg = r.getAs[String]("seg")
        val cost = r.getAs[Long]("cost")
        val np = r.getAs[Long]("n_pieces")
        seg.split('|').mkString == w &&
          cost <= w.map(singleCost).sum &&
          np >= 1 && np <= w.length
      }
    }

  // ── Curriculum pacing ─────────────────────────────────────────────

  property("curriculumPacing: admitted docs monotone in step, final = all") =
    forAll(Gen.listOfN(12, Gen.choose(0.0, 20.0))) { diffs =>
      import spark.implicits._
      val df = diffs.zipWithIndex
        .map { case (d, i) => (i.toLong, d, 5L) }.toDF("id", "diff", "tok")
      val got = TextAnalysis.curriculumPacing(df, "id", col("diff"),
          col("tok"), steps = 5, c0 = 0.2, binWidth = 1.0)
        .orderBy("step").collect()
      val docs = got.map(_.getAs[Long]("n_docs")).toSeq
      docs.zip(docs.tail).forall { case (a, b) => a <= b } &&
        docs.last == diffs.size.toLong
    }

  // ── Readability ───────────────────────────────────────────────────

  property("readability: every word contributes >= 1 syllable") =
    forAll(Gen.listOfN(4, genSentence)) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      TextAnalysis.readability(df, "id", "text").collect().forall { r =>
        r.getAs[Long]("n_syllables") >= r.getAs[Long]("n_words")
      }
    }
}
