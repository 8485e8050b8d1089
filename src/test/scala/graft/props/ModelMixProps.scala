package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.{Dedup, Html, Models, Privacy, Sampling, Similarity, TextAnalysis}

/** Invariants of the round-7 operators (classifier, privacy audit,
  * preference ratings, mixture raking, PCA, HTML extraction). Each case
  * runs a multi-stage Spark plan — 15 cases per property, the
  * HeavyInvariantProps budget. */
object ModelMixProps extends Properties("graft.invariants.round7") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")

  // one doc of each class is forced in (naiveBayesFit's prior is
  // unsmoothed), the rest random; ids by position
  private val genDocs: Gen[List[(Long, Int, String)]] = for {
    t1 <- Gen.nonEmptyListOf(Gen.oneOf(words))
    t0 <- Gen.nonEmptyListOf(Gen.oneOf(words))
    rest <- Gen.listOf(Gen.zip(Gen.oneOf(0, 1),
      Gen.nonEmptyListOf(Gen.oneOf(words)).map(_.mkString(" "))))
  } yield ((1, t1.mkString(" ")) :: (0, t0.mkString(" ")) :: rest)
    .zipWithIndex.map { case ((y, t), i) => (i.toLong + 1, y, t) }

  property("naiveBayes: serve (literal-map projection) ≡ score (join) exactly") =
    forAll(genDocs.map(_.take(12))) { docs =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "y", "text")
      val model = Models.naiveBayesFit(df, "text", col("y"), vocabSize = 8)
      val a = Models.naiveBayesScore(df, model, "doc_id", "text")
        .select("doc_id", "log_odds", "pred").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      val b = Models.naiveBayesServe(df, model, "text")
        .select("doc_id", "log_odds", "pred").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      a == b
    }

  private val genMatches: Gen[List[(String, String)]] = Gen.nonEmptyListOf(
    Gen.zip(Gen.oneOf("A", "B", "C", "D"), Gen.oneOf("A", "B", "C", "D")))
    .map(_.filter(p => p._1 != p._2))
    .retryUntil(_.nonEmpty, 500)

  property("bradleyTerry: duplicating every match leaves ratings unchanged") =
    forAll(genMatches.map(_.take(20))) { ms =>
      import spark.implicits._
      val one = Models.bradleyTerry(ms.toDF("w", "l"), "w", "l", iters = 10)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      val three = Models.bradleyTerry(
          (ms ++ ms ++ ms).toDF("w", "l"), "w", "l", iters = 10)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      one == three
    }

  property("bradleyTerry: ratings form a distribution; wins ≤ games") =
    forAll(genMatches.map(_.take(20))) { ms =>
      import spark.implicits._
      val rows = Models.bradleyTerry(ms.toDF("w", "l"), "w", "l", iters = 10)
        .collect()
      val ratings = rows.map(_.getDouble(3))
      math.abs(ratings.sum - 1.0) < 1e-6 &&
        ratings.forall(r => r >= 0.0 && r <= 1.0) &&
        rows.forall(r => r.getLong(1) <= r.getLong(2))
    }

  private val genGrid: Gen[List[(String, String, Int)]] = for {
    m <- Gen.choose(2, 4)
    k <- Gen.choose(2, 3)
    masses <- Gen.listOfN(m * k, Gen.choose(1, 50))
  } yield (for {
    s <- 0 until m
    j <- 0 until k
  } yield (s"r$s", s"c$j", masses(s * k + j))).toList

  property("ipfMixture: fitted weights hit both uniform marginals; mass preserved") =
    forAll(genGrid) { cells =>
      import spark.implicits._
      val df = cells.flatMap { case (r, c, n) => Seq.fill(n)((r, c)) }
        .toDF("r", "c")
      val out = Sampling.ipfMixture(df, "r", "c", lit(1.0), iters = 60)
        .collect().map(x => (x.getString(0), x.getString(1)) ->
          (x.getDouble(2), x.getDouble(3))).toMap
      val total = cells.map(_._3).sum.toDouble
      val m = cells.map(_._1).distinct.size
      val k = cells.map(_._2).distinct.size
      val rowSums = out.toSeq.groupBy(_._1._1).values
        .map(_.map(_._2._2).sum)
      val colSums = out.toSeq.groupBy(_._1._2).values
        .map(_.map(_._2._2).sum)
      rowSums.forall(v => math.abs(v - total / m) < 1e-3) &&
        colSums.forall(v => math.abs(v - total / k) < 1e-3) &&
        cells.forall { case (r, c, n) => out((r, c))._1 == n.toDouble }
    }

  private val genTexts: Gen[List[(Long, String, String)]] = Gen.nonEmptyListOf(
    for {
      id <- Gen.choose(1L, 1000000L)
      g <- Gen.oneOf("g1", "g2")
      n <- Gen.choose(0, 30)
    } yield (id, g, Seq.fill(n)("tok").mkString(" ")))
    .map(_.distinctBy(_._1))

  property("truncationLoss: lost ≤ total, monotone in context, docs conserved") =
    forAll(genTexts.map(_.take(15))) { docs =>
      import spark.implicits._
      val df = docs.toDF("id", "g", "text")
      val out = TextAnalysis
        .truncationLoss(df, "text", col("g"), Seq(4, 8, 16))
        .collect().map(r => (r.getString(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
      val byGroup = out.keys.map(_._1).toSet
      byGroup.forall { g =>
        val lost = Seq(4, 8, 16).map(c => out((g, c))._2)
        val (nd, tot) = (out((g, 4))._1, out((g, 4))._3)
        lost.forall(_ <= tot) && lost == lost.sorted.reverse &&
          Seq(8, 16).forall(c => out((g, c))._1 == nd)
      }
    }

  private val genCohorts: Gen[List[(String, String)]] = Gen.nonEmptyListOf(
    Gen.zip(Gen.oneOf("q1", "q2", "q3"), Gen.oneOf("s1", "s2", "s3", "s4")))

  property("kAnonymity: cohort sizes partition the rows; summary ≡ audit") =
    forAll(genCohorts.map(_.take(30))) { rows =>
      import spark.implicits._
      val df = rows.toDF("q", "s")
      val audit = Privacy.kAnonymityAudit(df, Seq("q"), col("s"), k = 3, l = 2)
        .collect()
      val summary = Privacy
        .kAnonymitySummary(df, Seq("q"), col("s"), k = 3, l = 2)
        .collect().head
      audit.map(_.getLong(1)).sum == rows.size &&
        summary.getLong(0) == audit.map(_.getLong(1)).min &&
        summary.getLong(1) == audit.length.toLong &&
        summary.getLong(2) == audit.map(_.getInt(4).toLong).sum &&
        summary.getLong(4) ==
          audit.filter(_.getInt(4) == 1).map(_.getLong(1)).sum
    }

  private val genVecs: Gen[List[(Long, Array[Float])]] = for {
    n <- Gen.choose(3, 8)
    vs <- Gen.listOfN(n, Gen.listOfN(3, Gen.choose(-10, 10))
      .map(_.map(_.toFloat).toArray))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }

  property("pcaProject: translation-invariant projections; var_explained in [0,1]") =
    forAll(genVecs.map(_.take(8))) { vecs =>
      import spark.implicits._
      val df = vecs.toDF("vec_id", "embedding")
      val shifted = vecs.map { case (id, v) =>
        (id, v.map(_ + 100f))
      }.toDF("vec_id", "embedding")
      val a = Similarity.pcaProject(df, "vec_id", "embedding", dim = 3, iters = 20)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      val b = Similarity
        .pcaProject(shifted, "vec_id", "embedding", dim = 3, iters = 20)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ve = a.values.head._2
      (ve >= 0.0 && ve <= 1.0 || ve.isNaN) &&
        a.forall { case (id, (p, _)) => math.abs(p - b(id)) <= 2e-4 }
    }

  private val genEvents: Gen[List[(Long, String, Int)]] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("u1", "u2", "u3"),
      Gen.choose(0, 50)))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (i.toLong + 1, k, t) }

  property("temporalSplit: per-key test count = ceil(n·frac); test is the time suffix") =
    forAll(genEvents, Gen.oneOf(0.0, 0.2, 0.5, 1.0)) { (rows, frac) =>
      import spark.implicits._
      val df = rows.toDF("id", "k", "t")
      val got = Sampling.temporalSplit(df, Seq("k"), "t", "id", frac)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getString(3)))
      val byKey = got.groupBy(_._2)
      val ord = implicitly[Ordering[(Int, Long)]]
      byKey.values.forall { g =>
        val test = g.filter(_._4 == "test").map(r => (r._3, r._1))
        val train = g.filter(_._4 == "train").map(r => (r._3, r._1))
        test.length == math.ceil(g.length * frac).toInt &&
          // every test row sorts strictly after every train row in the
          // (t, id) total order — the split is a time suffix
          (train.isEmpty || test.isEmpty ||
            ord.gt(test.min, train.max))
      }
    }

  private val genVec64: Gen[Array[Float]] =
    Gen.listOfN(64, Gen.oneOf(-2, -1, 0, 1, 2)).map(_.map(_.toFloat).toArray)

  property("topKHamming: self-distance 0; distances bounded by dim") =
    forAll(Gen.listOfN(5, genVec64)) { vs =>
      import spark.implicits._
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
        .toDF("id", "v")
      val out = Similarity.topKHamming(
          df.select(col("id").as("qid"), col("v").as("qvec")),
          df.select(col("id").as("cid"), col("v").as("cvec")),
          dim = 64, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      out.forall { case (_, _, d) => d >= 0 && d <= 64 } &&
        // symmetric: d(a,b) present as d(b,a) with the same value
        out.forall { case (a, b, d) =>
          out.find(x => x._1 == b && x._2 == a).forall(_._3 == d)
        }
    }

  property("matryoshkaRecall: the full-width arm always scores recall 1.0") =
    forAll(genVecs.map(_.take(6))) { vecs =>
      import spark.implicits._
      val corpus = vecs.toDF("cid", "cvec")
      val queries = vecs.take(2)
        .map { case (id, v) => (id + 1000, v) }.toDF("qid", "qvec")
      Similarity.matryoshkaRecall(queries, corpus, k = 2, dims = Seq(2, 3))
        .collect().filter(_.getInt(0) == 3)
        .forall(_.getDouble(3) == 1.0)
    }

  private val genRate: Gen[Double] =
    Gen.choose(1, 40).map(_ / 10.0) // 0.1 .. 4.0

  property("applyMixtureRates: per-cell copies within [floor, ceil]·n and deterministic") =
    forAll(Gen.choose(20, 60), genRate) { (n, rate) =>
      import spark.implicits._
      val docs = (1L to n.toLong).map(i => (i, "c")).toDF("id", "cell")
      val rates = Seq(("c", rate)).toDF("cell", "rate")
      val got = Sampling.applyMixtureRates(docs, rates, Seq("cell"), "id")
        .select("id", "n_copies").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val total = got.values.map(_.toLong).sum
      val lo = math.floor(rate).toLong * n
      val hi = math.ceil(rate).toLong * n
      got.values.forall(c =>
        c == math.floor(rate).toInt || c == math.ceil(rate).toInt) &&
        total >= lo && total <= hi &&
        got == Sampling.applyMixtureRates(docs, rates, Seq("cell"), "id")
          .select("id", "n_copies").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }

  private val genSnmDocs: Gen[List[(Long, String)]] = Gen.nonEmptyListOf(
    Gen.nonEmptyListOf(Gen.oneOf(words)).map(_.mkString(" ")))
    .map(_.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) })

  property("sortedNeighborhood: SOUND — every pair's jac matches the direct set computation") =
    forAll(genSnmDocs.map(_.take(10))) { docs =>
      import spark.implicits._
      val df = docs.toDF("id", "text")
      val sets = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSet
      }.toMap
      Dedup.sortedNeighborhoodPairs(df, "id",
          TextAnalysis.words(col("text")), window = 3, minJaccard = 0.1)
        .collect().forall { r =>
          val (a, b, jac) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          val (sa, sb) = (sets(a), sets(b))
          val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
          a < b && jac == math.rint(expect * 1e6) / 1e6
        }
    }

  private val genProse: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(words))
    .map(_.mkString(" "))

  property("html: visibleText(wrap(text)) == text; density bounded by 1") =
    forAll(Gen.listOfN(6, genProse)) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .withColumn("h", concat(lit("<html><body><p>"), col("t"),
          lit("</p><a href='/x'>"), col("t"), lit("</a></body></html>")))
      df.select(col("t"), Html.visibleText(col("h")).as("v"),
          Html.linkDensity(col("h")).as("d"))
        .collect().forall { r =>
          r.getString(1) == s"${r.getString(0)} ${r.getString(0)}" &&
            r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0
        }
    }
}
