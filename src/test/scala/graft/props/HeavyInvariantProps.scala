package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.Dedup

/** Invariants of the heavier round-6 operators — each case runs a
  * multi-stage Spark plan (windows, broadcast joins, TopK), so this
  * group trades case count for depth: 15 cases per property instead of
  * the default 100, keeping the suite's wall-clock budget intact. */
object HeavyInvariantProps extends Properties("graft.invariants.heavy") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  private val genDocs: Gen[List[(Long, String)]] = Gen.nonEmptyListOf(for {
    id <- Gen.choose(1L, 1000000L)
    toks <- Gen.nonEmptyListOf(Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
  } yield (id, toks.mkString(" ")))
    .map(_.distinctBy(_._1))

  property("noveltyScore against itself is 0 everywhere (no gram is novel)") =
    forAll(genDocs.map(_.take(10))) { docs =>
      import spark.implicits._
      val df = docs.toDF("id", "text")
      Dedup.noveltyScore(df, df, "id", "text", 3).collect().forall { r =>
        r.getLong(2) == 0L && (r.isNullAt(3) || r.getDouble(3) == 0.0)
      }
    }

  // random label table directly (connectedComponents has its own
  // union-find differential property): ids 1..30 assigned to random
  // cluster keys, rep = the cluster's min id, singletons unlabeled
  private val genLabels: Gen[Map[Long, Long]] =
    Gen.listOf(Gen.zip(Gen.choose(1L, 30L), Gen.choose(1, 5))).map { asg =>
      asg.distinctBy(_._1).groupBy(_._2).values
        .filter(_.size >= 2)
        .flatMap { c => val rep = c.map(_._1).min; c.map(_._1 -> rep) }
        .toMap
    }

  property("dedupWeights: every cluster's weights sum to 1 (6dp); unclustered weigh 1") =
    forAll(genLabels) { rep =>
      import spark.implicits._
      val labels = rep.toSeq.toDF("id", "rep")
      val ids = (1L to 30L).toDF("id")
      val w = Dedup.dedupWeights(ids, labels, "id")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val clusters = rep.groupBy(_._2).values.map(_.keys.toSeq)
      clusters.forall { members =>
        members.forall(m => w(m)._1 == members.size) &&
          math.abs(members.map(w(_)._2).sum - 1.0) < members.size * 5e-7
      } && w.collect { case (id, t) if !rep.contains(id) => t }
        .forall(t => t._1 == 1L && t._2 == 1.0)
    }

  property("bpeSegment conserves character mass under any merge table") =
    forAll(genDocs.map(_.take(10)),
      Gen.listOfN(4, Gen.zip(Gen.alphaLowerChar, Gen.alphaLowerChar))) {
      (docs, rawMerges) =>
      import spark.implicits._
      val merges = rawMerges.map { case (l, r) => (l.toString, r.toString) }
      val df = docs.toDF("id", "text")
      val toks = graft.ops.TextAnalysis.bpeSegment(df, "id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getString(1).length * r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val chars = docs.map { case (id, t) =>
        id -> t.count(_ != ' ').toLong }.toMap
      chars.forall { case (id, c) => toks.getOrElse(id, 0L) == c }
    }

  // NOTE: bin count is deliberately NOT asserted monotone in ctx — a
  // coarser grid's boundaries can SPLIT starts a finer grid merged
  // (e.g. doc starts {0, 89, 112, ...}: 9 bins at ctx=22, 10 at
  // ctx=30), so the only safe claims are conservation and the fill
  // identity. ScalaCheck found the counterexample; kept as regression
  // documentation.
  property("packSweep: mass conserved at every level, fill identity holds, bins bounded by docs") =
    forAll(genDocs.map(_.take(12)), Gen.listOfN(3, Gen.choose(1, 64))) { (docs, ctxsRaw) =>
      import spark.implicits._
      val ctxs = ctxsRaw.distinct.sorted
      val d = docs.toDF("id", "text")
        .select(col("id"), lit("g").as("grp"),
          size(graft.ops.TextAnalysis.words(col("text"))).as("n"))
      val trueMass = docs.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      val out = graft.ops.TextAnalysis
        .packSweep(d, "grp", "id", "n", ctxs)
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
      ctxs.forall { ctx =>
        val (bins, mass, fill) = out(ctx)
        // round() rounds HALF_UP, as the DuckDB oracle does; a half-even
        // reference disagrees on exact ties (169 / (8 * 16) = 1.3203125)
        mass == trueMass && bins >= 1 && bins <= docs.size &&
          fill == BigDecimal(mass.toDouble / (bins * ctx))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }

  // the driver-side merge loop must be indistinguishable from the
  // per-round distributed trainer on ANY corpus — same pair counts,
  // same (freq desc, joined-pair asc) tie-break, same leftmost-first
  // merge, same exhaustion behavior
  property("bpeTrainDriver ≡ bpeTrain on random corpora") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.oneOf(
      "ab", "aab", "abab", "ba", "bb", "abc", "cab", "ca"))
      .map(_.take(6).mkString(" "))).map(_.take(5))) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).sortBy(_._1).toSeq
      rows(graft.ops.TextAnalysis.bpeTrain(df, "text", merges = 4)) ==
        rows(graft.ops.TextAnalysis.bpeTrainDriver(df, "text", merges = 4))
    }

  property("rankingMetrics: ranking by true relevance scores a perfect NDCG and MRR") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 1000L),
      Gen.choose(1, 5))).map(_.distinctBy(_._1).take(20)), Gen.choose(1, 10)) {
      (rels, k) =>
      import spark.implicits._
      val rdf = rels.map { case (id, r) => (1, id, r) }.toDF("q", "id", "rel")
      val ranked = rels.map { case (id, r) => (1, id, r.toDouble) }
        .toDF("q", "id", "score")
      val row = graft.ops.TextAnalysis
        .rankingMetrics(ranked, rdf, "q", "id", "score", "rel", k).head()
      row.getDouble(3) == 1.0 && row.getDouble(4) == 1.0
    }
}
