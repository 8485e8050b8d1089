package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("words / bpeTokens / wsTokenCount") {
    val df = Seq("Hello, world! It's 42.").toDF("t")
    val r = df.select(
      TextAnalysis.words(col("t")).as("w"),
      TextAnalysis.bpeTokens(col("t")).as("b"),
      TextAnalysis.wsTokenCount(col("t")).as("n")).head()
    assert(r.getSeq[String](0) == Seq("hello", "world", "it", "s", "42"))
    // words + each punctuation mark as its own token
    assert(r.getSeq[String](1) == Seq("Hello", ",", "world", "!", "It", "'", "s", "42", "."))
    assert(r.getInt(2) == 4)
  }

  test("langId: stopword majority picks language; no hits -> und") {
    val df = Seq(
      "the cat is on the mat and a dog",  // en
      "der Hund ist ein Tier und das Haus", // de
      "xyzzy plugh qwerty"                // none
    ).toDF("t")
    val got = df.select(TextAnalysis.langId(TextAnalysis.words(col("t"))))
      .as[String].collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("quality metrics: ratios and composite") {
    val df = Seq("the data of the table is good").toDF("t")
    val toks = TextAnalysis.words(col("t"))
    val r = df.select(
      TextAnalysis.hitRatio(toks, TextAnalysis.stopwords.toMap.apply("en")).as("s"),
      TextAnalysis.avgWordLen(toks).as("awl"),
      TextAnalysis.punctRatio(col("t")).as("p")).head()
    assert(r.getDouble(0) == 4.0 / 7.0) // the, of, the, is
    assert(math.abs(r.getDouble(1) - 23.0 / 7.0) < 1e-12)
    assert(r.getDouble(2) == 0.0)
  }

  test("regexp_count variants are value-identical to the token-array forms") {
    // edge cases: stopword repeats, tie-break, prefix-stopwords glued to
    // word chars (the_x, an1), accents (ASCII \w splits on them), empty
    // and punctuation-only text, plus the real sf0.001 documents corpus
    val edge = Seq(
      "the cat is on the mat and a dog",
      "der Hund ist ein Tier und das Haus",
      "le chat est dans la maison et les",
      "el gato y la casa de un que en los",
      "xyzzy plugh qwerty",
      "the_x an1 a-b the.the,the",
      "perché città è the più the",
      "", "!!! ... ???", "a", "an an an").toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    for (df <- Seq(edge, corpus)) {
      val toks = TextAnalysis.words(col("text"))
      val en = TextAnalysis.stopwords.toMap.apply("en")
      val both = df.select(
        TextAnalysis.langId(toks).as("lang_slow"),
        TextAnalysis.langIdText(col("text")).as("lang_fast"),
        TextAnalysis.hitRatio(toks, en).as("hr_slow"),
        TextAnalysis.hitRatioText(col("text"), en).as("hr_fast"),
        size(toks).as("n_slow"),
        TextAnalysis.wordCount(col("text")).as("n_fast"),
        TextAnalysis.avgWordLen(toks).as("awl_slow"),
        TextAnalysis.avgWordLenText(col("text")).as("awl_fast"),
        TextAnalysis.qualityScore(col("text"), toks).as("q_slow"),
        TextAnalysis.qualityScoreText(col("text")).as("q_fast"))
      val bad = both.filter(
        col("lang_slow") =!= col("lang_fast") ||
          col("hr_slow") =!= col("hr_fast") ||
          col("n_slow") =!= col("n_fast") ||
          col("awl_slow") =!= col("awl_fast") ||
          col("q_slow") =!= col("q_fast")).count()
      assert(bad == 0)
    }
  }

  test("fingerprints: normalization-invariant content hash; order-sensitive poly hash") {
    val df = Seq(
      (1L, "Hello   WORLD foo"),
      (2L, "hello world FOO"),   // same normalized stream
      (3L, "foo world hello")    // same words, different order
    ).toDF("id", "t")
    val r = df.select(col("id"),
        TextAnalysis.contentFingerprint(col("t")).as("c"),
        Hashing.polyFingerprint(TextAnalysis.words(col("t"))).as("p"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == r(2L))
    assert(r(1L)._1 != r(3L)._1 && r(1L)._2 != r(3L)._2)
  }

  test("packBins: id-ordered greedy packing into fixed token bins per group") {
    val df = Seq(
      (1L, "a", 1000), (2L, "a", 900), (3L, "a", 300), (4L, "a", 1), // cum-before: 0,1000,1900,2200
      (5L, "b", 2048), (6L, "b", 1))                                 // cum-before: 0,2048
      .toDF("doc_id", "src", "n_tok")
    val got = TextAnalysis.packBins(df, "src", "doc_id", "n_tok", 2048)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L, 6L -> 1L))
  }

  test("tfidfTopK: rare term outranks common term; ties broken by id") {
    val df = Seq(
      (1L, "spark spark spark"),   // tf(spark)=3, df(spark)=3 of 4
      (2L, "spark rare"),          // rare: df=1 -> higher idf
      (3L, "spark something else"),
      (4L, "nothing relevant")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(df, "text", "doc_id", Seq("spark", "rare"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc2: 1*ln(5/4) + 1*ln(5/2) = 1.139434; doc1: 3*ln(5/4) = 0.669431
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 3L))
    assert(math.abs(got.head._2 - 1.139434) < 1e-6)
  }

  test("bm25TopK: tf saturates past k1 and long docs are length-penalized") {
    val spam = ("cat " * 50).trim
    val df = Seq(
      (1L, "cat sat"),                         // tf=1, dl=2
      (2L, spam),                              // tf=50, dl=50
      (3L, "cat " + ("filler " * 48).trim),    // tf=1, dl=49
      (4L, "dog dog")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "text", "doc_id", Seq("cat"), 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side twin (k1=1.2, b=0.75): idf = ln((4-3+0.5)/(3+0.5)+1)
    val idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1.0)
    val avgdl = (2 + 50 + 49 + 2) / 4.0
    def bm25(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(got(2L) - math.rint(bm25(50, 50) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(3L) - math.rint(bm25(1, 49) * 1e6) / 1e6) < 1e-9)
    // saturation: 50x the tf buys ~2.5x the score, not 50x
    assert(got(2L) < got(1L) * 3)
    // length penalty: same tf, longer doc scores lower
    assert(got(3L) < got(1L))
    assert(got(4L) == 0.0)
  }

  test("repetitionStats: hand-computed fractions; empty and single-token edge cases") {
    val df = Seq(
      (1L, "a a a b"),   // top uni 3/4, 2 distinct of 4; bigrams: "a a"×2,"a b" → 2/3
      (2L, "x"),         // one token: uf=1, dr=1, no bigrams → bf=0
      (3L, ""),          // no tokens: uf=0, bf=0, dr=1
      (4L, "p q r s")    // all distinct: uf=1/4, dr=1, bf=1/3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((0.75, 0.666667, 0.5)))
    assert(got(2L) == ((1.0, 0.0, 1.0)))
    assert(got(3L) == ((0.0, 0.0, 1.0)))
    assert(got(4L) == ((0.25, 0.333333, 1.0)))
  }

  test("bigramLmScore: hand-computed add-1 bigram NLL; short docs score 0") {
    val df = Seq(
      (1L, "a b a b"), // bigrams (a,b)x2, (b,a)
      (2L, "a a a"),   // bigrams (a,a)x2
      (3L, "z")        // no bigrams
    ).toDF("doc_id", "text")
    // vocab top-2 = {a(5), b(2)}; V = 2+1. lm: (a,b)=2,(b,a)=1,(a,a)=2;
    // ctx: a=4, b=1. P(a,b)=3/7, P(b,a)=2/4, P(a,a)=3/7.
    val got = TextAnalysis.bigramLmScore(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nll1 = -(math.log(3.0 / 7) * 2 + math.log(0.5)) / 3
    assert(got(1L) == math.rint(nll1 * 1e6) / 1e6)
    assert(got(2L) == math.rint(-math.log(3.0 / 7) * 1e6) / 1e6)
    assert(got(3L) == 0.0)
  }

  test("quotaSample: exact per-stratum counts, deterministic, 0 drops a stratum") {
    val df = (1L to 20L).map(i => (i, if (i <= 10) "a" else if (i <= 15) "b" else "c"))
      .toDF("doc_id", "src")
    val got = TextAnalysis.quotaSample(df, "doc_id", "src", 3, Map("b" -> 1, "c" -> 0))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "a") == 3)
    assert(got.count(_._2 == "b") == 1)
    assert(got.count(_._2 == "c") == 0)
    // deterministic: a second run selects the identical rows
    val again = TextAnalysis.quotaSample(df, "doc_id", "src", 3, Map("b" -> 1, "c" -> 0))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
    // quota above stratum size keeps the whole stratum
    val all = TextAnalysis.quotaSample(df, "doc_id", "src", 100)
    assert(all.count() == 20)
  }

  test("temperatureMix: α=1 keeps natural shares, α=0 equalizes, α=0.5 between") {
    // strata 90/9/1 — extreme imbalance makes the temperature visible
    val df = (1L to 100L).map(i =>
        (i, if (i <= 90) "big" else if (i <= 99) "mid" else "tiny"))
      .toDF("doc_id", "src")
    def shares(alpha: Double): Map[String, Long] =
      TextAnalysis.temperatureMix(df, "doc_id", "src", budget = 50, alpha = alpha)
        .groupBy("src").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nat = shares(1.0) // quotas ∝ counts: 45/4/0 (floor of 50·c/100)
    assert(nat("big") == 45 && nat("mid") == 4 && nat.getOrElse("tiny", 0L) == 0L)
    val eq = shares(0.0) // quotas equal: 16 each, capped by stratum size
    assert(eq("big") == 16 && eq("mid") == 9 && eq("tiny") == 1)
    val mid = shares(0.5) // ∝ sqrt(c): 9.49/3/1 → 34/10→9(cap)/3→1(cap)
    assert(mid("big") > nat.getOrElse("tiny", 0L) && mid("big") < 45)
    assert(mid("mid") > nat("mid")) // low-resource stratum up-weighted
    // selection is deterministic hash-rank — identical rows both runs
    val a = TextAnalysis.temperatureMix(df, "doc_id", "src", 50, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = TextAnalysis.temperatureMix(df, "doc_id", "src", 50, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("temperatureMix: distributed quotas are exact at high stratum cardinality") {
    // 400 strata of varying sizes — the shape whose per-stratum counts a
    // driver-side formulation would materialize; the distributed quota
    // join must reproduce the reference integer arithmetic exactly
    val rows = for {
      s <- 1 to 400
      i <- 1 to (s % 7) + 1
    } yield ((s.toLong * 1000) + i, s"stratum_$s")
    val df = rows.toDF("doc_id", "src")
    val counts = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    // reference quotas, the documented integer arithmetic
    val weights = counts.map { case (k, c) =>
      k -> math.floor(math.sqrt(c.toDouble) * 1000000d).toLong
    }
    val z = weights.values.sum
    val budget = 300
    val expected = weights.map { case (k, w) =>
      k -> math.min(counts(k), (budget.toLong * w) / z)
    }.filter(_._2 > 0)
    val got = TextAnalysis.temperatureMix(df, "doc_id", "src", budget, 0.5)
      .groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
  }

  test("rrfFuse: both-arm docs sum reciprocal ranks, single-arm docs keep one term") {
    val a = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("doc_id", "score")
    val b = Seq((2L, 5.0), (4L, 4.0)).toDF("doc_id", "score")
    // selection is by (rrf desc, id) but the TopKPerKey heap emits rows
    // unordered (callers add their ORDER BY) — assert the SET, not order
    val got = TextAnalysis.rrfFuse(a, b, "doc_id", "score", kConst = 60, topK = 10)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getDouble(3))).toList
    def rr(r: Int) = 1.0 / (60 + r)
    def rd(x: Double) = math.rint(x * 1e9) / 1e9
    val byId = got.map(x => x._1 -> x).toMap
    // doc 2: rank 2 in a + rank 1 in b — the only both-arm doc wins
    assert(byId(2L) == ((2L, Some(2), Some(1), rd(rr(2) + rr(1)))), got.toString)
    assert(got.maxBy(_._4)._1 == 2L, got.toString)
    assert(byId(1L) == ((1L, Some(1), None, rd(rr(1)))), got.toString)
    assert(byId(4L) == ((4L, None, Some(2), rd(rr(2)))), got.toString)
    // topK truncation selects the highest-rrf rows
    val top2 = TextAnalysis.rrfFuse(a, b, "doc_id", "score", kConst = 60, topK = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top2 == got.sortBy(x => (-x._4, x._1)).take(2).map(_._1).toSet)
  }

  test("rrfFuseBatched: per-query rank windows and truncation — each query fused independently") {
    val a = Seq((1, 1L, 9.0), (1, 2L, 8.0), (2, 1L, 3.0), (2, 9L, 2.0))
      .toDF("q", "doc_id", "score")
    val b = Seq((1, 2L, 5.0), (2, 9L, 4.0), (2, 8L, 3.0))
      .toDF("q", "doc_id", "score")
    def rr(r: Int) = 1.0 / (60 + r)
    def rd(x: Double) = math.rint(x * 1e9) / 1e9
    val got = TextAnalysis.rrfFuseBatched(a, b, "q", "doc_id", "score",
        kConst = 60, topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // ranks restart per query: doc 1 is rank 1 in BOTH queries' a-arms
    assert(got((1, 2L)) == rd(rr(2) + rr(1)), got.toString)
    assert(got((1, 1L)) == rd(rr(1)), got.toString)
    assert(got((2, 1L)) == rd(rr(1)), got.toString)
    assert(got((2, 9L)) == rd(rr(2) + rr(1)), got.toString)
    assert(got((2, 8L)) == rd(rr(2)), got.toString)
    assert(got.size == 5)
    // single-query rrfFuse ≡ batched with a constant query key
    val single = TextAnalysis.rrfFuse(
        a.filter(col("q") === 1).drop("q"), b.filter(col("q") === 1).drop("q"),
        "doc_id", "score", kConst = 60, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(single == got.collect { case ((1, d), v) => d -> v }, single.toString)
  }

  test("gopherRules: each rule trips on its own pathology; clean prose passes") {
    val fifty = (1 to 50).map(_ => "the quick brown fox").mkString(" ")
    val df = Seq(
      (1L, fifty), // clean: 200 words, all rules pass
      (2L, "the tiny doc"), // fails r_wc only
      (3L, fifty + " ### # ## " + "# " * 30), // symbol soup -> r_sym
      (4L, (1 to 30).map(_ => "- the bullet line item").mkString("\n")), // r_bullet (and r_wc: 150 words pass)
      (5L, (1 to 30).map(_ => "the line trails off...").mkString("\n")), // r_ellipsis
      (6L, ((1 to 120).map(_ => "9464 77821") :+ "the a1").mkString(" ")), // digits -> r_alpha
      (7L, fifty.replace("the ", "zz ")) // no required stopwords -> r_stop
    ).toDF("id", "text")
    val out = TextAnalysis.gopherRules(df, "id", "text", minStopHits = 1)
      .collect().map(r => r.getLong(0) ->
        (2 to 8).map(i => r.getBoolean(i))).toMap
    // flags: (r_wc, r_awl, r_sym, r_bullet, r_ellipsis, r_alpha, r_stop)
    assert(out(1L) == Seq(true, true, true, true, true, true, true), out(1L).toString)
    assert(out(1L).last && out.values.forall(_.size == 7))
    assert(!out(2L)(0) && out(2L)(6), out(2L).toString) // wc fails, stop passes
    assert(!out(3L)(2), out(3L).toString)
    assert(!out(4L)(3) && out(4L)(0), out(4L).toString)
    assert(!out(5L)(4), out(5L).toString)
    assert(!out(6L)(5), out(6L).toString)
    assert(!out(7L)(6) && out(7L)(0), out(7L).toString)
    // published default demands 2 distinct stopwords: doc 1 has only "the"
    val strict = TextAnalysis.gopherRules(df, "id", "text")
      .filter(col("id") === 1L).head()
    assert(!strict.getBoolean(8), strict.toString) // r_stop under default 2
  }

  test("rankingMetrics: hand-checked NDCG/MRR; miss-everything query; unjudged query -> null ndcg") {
    val ranked = Seq(
      (1, 10L, 3.0), (1, 20L, 2.0), (1, 30L, 1.0), // q1: top-2 = d10, d20
      (2, 10L, 1.0), // q2: retrieves only the unjudged d10
      (3, 10L, 1.0)  // q3: no judgments at all
    ).toDF("q", "id", "score")
    val rels = Seq(
      (1, 20L, 3), (1, 30L, 1), (1, 90L, 2), // d90 judged, never retrieved
      (2, 99L, 2)).toDF("q", "id", "rel")
    val out = TextAnalysis.rankingMetrics(ranked, rels, "q", "id", "score",
        "rel", k = 2)
      .collect().map(r => r.getInt(0) ->
        ((r.get(1), r.get(2), r.get(3), r.getDouble(4)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // q1: dcg = (2^0−1)/log2(2) + (2^3−1)/log2(3); ideal grades (3, 2)
    val dcg1 = 7.0 / (math.log(3.0) / math.log(2.0))
    val idcg1 = 7.0 + 3.0 / (math.log(3.0) / math.log(2.0))
    assert(out(1) == ((r6(dcg1), r6(idcg1), r6(dcg1 / idcg1), 0.5)), out(1).toString)
    // q2: judged positive exists (idcg = 3) but top-k misses it
    assert(out(2) == ((0.0, 3.0, 0.0, 0.0)), out(2).toString)
    // q3: nothing judged — ndcg undefined (null), mrr 0
    assert(out(3) == ((0.0, null, null, 0.0)), out(3).toString)
  }

  test("knBigramScore: hand-checked interpolated Kneser-Ney; short docs score 0") {
    // corpus: doc1 "a b a b" -> bigrams (a,b)×2, (b,a); doc2 "a c"
    // lm types: (a,b):2 (b,a):1 (a,c):1; ctx a:3 b:1
    // N1+(a,·)=2 N1+(b,·)=1; N1+(·,b)=1 N1+(·,a)=1 N1+(·,c)=1; types=3
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("id", "text")
    val out = TextAnalysis.knBigramScore(df, "id", "text", vocabSize = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pAB = (math.max(2 - 0.75, 0) + 0.75 * 2 * (1.0 / 3)) / 3 // P(b|a)
    val pBA = (math.max(1 - 0.75, 0) + 0.75 * 1 * (1.0 / 3)) / 1 // P(a|b)
    val pAC = (math.max(1 - 0.75, 0) + 0.75 * 2 * (1.0 / 3)) / 3 // P(c|a)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(1L) == r6(-(2 * math.log(pAB) + math.log(pBA)) / 3), out.toString)
    assert(out(2L) == r6(-math.log(pAC)), out.toString)
    assert(out(3L) == 0.0, out.toString) // single token: no bigrams
    // the backoff arm discriminates: every conditional is a proper prob
    assert(Seq(pAB, pBA, pAC).forall(p => p > 0 && p < 1))
  }

  test("bpeTrain: hand-checked merge sequence; exhausted pairs stop cleanly; bpeSegment applies the table") {
    // corpus: "ab ab abc" -> word freqs ab:2, abc:1
    // step 1: pairs a|b f=3, b|c f=1 -> merge (a, b)
    // step 2: only ab|c f=1 left     -> merge (ab, c)
    // step 3: no pairs remain        -> no row, words untouched
    val df = Seq((1L, "ab ab abc")).toDF("id", "text")
    val got = TextAnalysis.bpeTrain(df, "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", "b", 3L), (2, "ab", "c", 1L)), got.mkString(","))
    // tie-break: "aa bb" has a|a f=1 and b|b f=1 -> pair key asc picks a|a
    val tie = TextAnalysis.bpeTrain(Seq((1L, "aa bb")).toDF("id", "text"), "text", 1)
      .head()
    assert((tie.getString(1), tie.getString(2)) == (("a", "a")), tie.toString)
    // segmentation with the learned table: "abc abd" under merges
    // [(a,b),(ab,c)] -> tokens abc:1, ab:1, d:1
    val seg = TextAnalysis.bpeSegment(
        Seq((9L, "abc abd")).toDF("id", "text"), "id", "text",
        Seq("a" -> "b", "ab" -> "c"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(seg == Set(("abc", 1L), ("ab", 1L), ("d", 1L)), seg.toString)
  }

  test("bpeTrainDriver ≡ bpeTrain: row-identical merge tables on the same corpus, incl. ties and exhaustion") {
    // mixed corpus: repeated words, shared prefixes, a tie, exhaustion
    // well before the merge budget
    val df = Seq((1L, "ab ab abc banana band band"), (2L, "banana ban aa bb"))
      .toDF("id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val dist = rows(TextAnalysis.bpeTrain(df, "text", merges = 12))
    val drv = rows(TextAnalysis.bpeTrainDriver(df, "text", merges = 12))
    assert(drv == dist, s"driver:\n$drv\ndistributed:\n$dist")
    // exhaustion emits no rows for the dry steps in BOTH paths
    assert(dist.size < 12 && dist.map(_._1) == dist.map(_._1).sorted)
    // the vocab cap is a deterministic top-(freq, word) truncation:
    // top-2 word types by (freq desc, word asc) = ab(2), banana(2);
    // step-1 pairs a|b:2, b|a:2, a|n:4, n|a:4 -> tie at 4 breaks on the
    // joined pair string, "a|n" < "n|a" -> merge (a, n) with freq 4
    val capped = rows(TextAnalysis.bpeTrainDriver(df, "text", merges = 3,
      vocabCap = 2))
    assert(capped.head == ((1, "a", "n", 4L)), capped.toString)
  }

  test("rankingMetrics: graded relevance is capped before 2^rel — huge grades stay finite, never NaN") {
    val ranked = Seq(("q", 1L, 10.0), ("q", 2L, 9.0)).toDF("q", "doc", "sc")
    val rels = Seq(("q", 1L, 2000.0), ("q", 2L, 1500.0)).toDF("q", "doc", "rel")
    val out = TextAnalysis.rankingMetrics(ranked, rels, "q", "doc", "sc", "rel", 2)
      .select("ndcg", "mrr").head()
    // uncapped, 2^2000 = Inf and ndcg = Inf/Inf = NaN; capped both gains
    // are finite and the ideal ordering matches -> ndcg = 1
    assert(!out.isNullAt(0) && !out.getDouble(0).isNaN, out.toString)
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 1.0, out.toString)
  }

  test("packSweep: hand-checked bins, mass, and fill per context level") {
    val d = Seq((1L, "g", 3L), (2L, "g", 3L), (3L, "g", 3L))
      .toDF("id", "grp", "n")
    val out = TextAnalysis.packSweep(d, "grp", "id", "n", Seq(4, 10))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // ctx 4: bins (start offset / 4) = {0: docs 1+2, 1: doc 3} ->
    // 2 bins, max 6, fill 9/8; ctx 10: one bin, fill 0.9
    assert(out(4) == ((2L, 9L, 6L, 1.125)), out.toString)
    assert(out(10) == ((1L, 9L, 9L, 0.9)), out.toString)
  }

  test("zipfFit: exact power law recovers slope -1, r2 1; degenerate corpus nulls out") {
    // freq 12/rank: 12, 6, 4, 3 -> ln f = ln 12 - ln rank exactly
    val txt = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    val out = TextAnalysis.zipfFit(Seq((1L, txt)).toDF("id", "text"),
      "text", 10).head()
    assert(out.getLong(0) == 4L, out.toString)
    assert(out.getDouble(1) == -1.0, out.toString)
    assert(math.abs(out.getDouble(2) - math.log(12.0)) < 1e-5, out.toString)
    assert(out.getDouble(3) == 1.0, out.toString)
    // single-type corpus: zero rank variance -> null fit, count survives
    val degen = TextAnalysis.zipfFit(Seq((1L, "zz zz")).toDF("id", "text"),
      "text", 10).head()
    assert(degen.getLong(0) == 1L && degen.isNullAt(1) && degen.isNullAt(2)
      && degen.isNullAt(3), degen.toString)
  }

  test("bpeFertility: hand-checked tokens/word and chars/token per group") {
    // merges [(a,b),(ab,c)]: "abc" -> 1 token, "abd" -> 2 (ab, d),
    // "xy" -> 2 (x, y)
    val df = Seq(
      (1L, "g1", "abc abd"), // 3 tokens / 2 words; 6 chars
      (2L, "g2", "xy xy")    // 4 tokens / 2 words; 4 chars
    ).toDF("id", "grp", "text")
    val out = TextAnalysis.bpeFertility(df, "id", "text", "grp",
        Seq("a" -> "b", "ab" -> "c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out("g1") == ((1L, 2L, 3L, 1.5, 2.0)), out.toString)
    assert(out("g2") == ((1L, 2L, 4L, 2.0, 1.0)), out.toString)
  }

  test("rougeN: hand-checked clipped overlap, P/R/F; zero-gram and disjoint arms") {
    val df = Seq(
      // ref "the cat sat on the mat", cand "the cat lay on the mat":
      // unigram clip: the min(2,2)=2, cat 1, on 1, mat 1 -> overlap 5
      (1L, "the cat sat on the mat", "the cat lay on the mat"),
      (2L, "alpha beta", "gamma delta"), // disjoint -> overlap 0, F null
      (3L, "one", ""),                   // empty candidate -> P null
      (4L, "a b c", "a b c"))            // identical -> P=R=F=1
      .toDF("id", "ref", "cand")
    val r1 = TextAnalysis.rougeN(df, "id", "ref", "cand", n = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    assert(r1(1L) == ((6, 6, 5L, Some(0.833333), Some(0.833333), Some(0.833333))), r1(1L).toString)
    assert(r1(2L) == ((2, 2, 0L, Some(0.0), Some(0.0), None)), r1(2L).toString)
    assert(r1(3L) == ((1, 0, 0L, None, Some(0.0), None)), r1(3L).toString)
    assert(r1(4L) == ((3, 3, 3L, Some(1.0), Some(1.0), Some(1.0))), r1(4L).toString)
    // bigrams: row 1 shares "the cat", "on the", "the mat" -> 3 of 5
    val r2 = TextAnalysis.rougeN(df, "id", "ref", "cand", n = 2)
      .filter(col("id") === 1L).head()
    assert(r2.getLong(3) == 3L && r2.getDouble(4) == 0.6, r2.toString)
  }

  test("rougeL: hand-checked LCS P/R/F; order sensitivity vs rougeN; null arms") {
    val df = Seq(
      // LCS("the cat sat on the mat", "the cat lay on the mat") = 5
      (1L, "the cat sat on the mat", "the cat lay on the mat"),
      // REVERSED candidate: unigram overlap stays 3 but the LCS
      // collapses to 1 — the in-order signal rougeN can't see
      (2L, "a b c", "c b a"),
      (3L, "alpha beta", "gamma delta"), // disjoint -> LCS 0, F null
      (4L, "one", ""),                   // empty candidate -> P null
      (5L, "a b c", "a b c"))            // identical -> P=R=F=1
      .toDF("id", "ref", "cand")
    val got = TextAnalysis.rougeL(df, "id", "ref", "cand")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    assert(got(1L) == ((6L, 6L, 5L, Some(0.833333), Some(0.833333), Some(0.833333))), got(1L).toString)
    assert(got(2L) == ((3L, 3L, 1L, Some(0.333333), Some(0.333333), Some(0.333333))), got(2L).toString)
    assert(got(3L) == ((2L, 2L, 0L, Some(0.0), Some(0.0), None)), got(3L).toString)
    assert(got(4L) == ((1L, 0L, 0L, None, Some(0.0), None)), got(4L).toString)
    assert(got(5L) == ((3L, 3L, 3L, Some(1.0), Some(1.0), Some(1.0))), got(5L).toString)
  }

  test("keyphrases: per-doc tf-idf top-k with the stop-term df gate") {
    val df = Seq(
      (1L, "alpha alpha beta common common"),
      (2L, "beta gamma common"),
      (3L, "gamma gamma delta common"),
      (4L, "common epsilon")
    ).toDF("doc_id", "text")
    // 'common' is in 4/4 docs — the 0.5 df gate (df <= 2) must drop it
    // everywhere while df-2 terms (beta, gamma) survive
    val got = TextAnalysis.keyphrases(df, "doc_id", "text", k = 2, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(!got.exists(_._2 == "common"), got.mkString(", "))
    val doc1 = got.filter(_._1 == 1L).sortBy(-_._3)
    // doc 1: alpha tf=2 df=1 beats beta tf=1 df=2
    assert(doc1.map(_._2).toList == List("alpha", "beta"), doc1.mkString(", "))
    val n = 4.0
    def tfidf(tf: Long, dfc: Long) =
      math.rint(tf * math.log((n + 1.0) / (dfc + 1.0)) * 1e6) / 1e6
    assert(doc1.head._3 == tfidf(2, 1), doc1.mkString(", "))
    // every doc keeps at most k terms
    assert(got.groupBy(_._1).values.forall(_.length <= 2))
  }

  test("tokenBudgetSample: longest hash-rank prefix within the token budget, per stratum") {
    // doc i carries exactly i whitespace tokens
    val docs = (1L to 12L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", ("w " * i.toInt).trim))
    val df = docs.toDF("doc_id", "src", "text")
    val budget = 15L
    val got = TextAnalysis.tokenBudgetSample(df, "doc_id", "src", "text", budget)
      .select("doc_id", "src", "n_tok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // n_tok is the whitespace token count (= doc_id by construction)
    assert(got.forall { case (id, _, n) => n == id })
    // the driver-side twin of the hash-rank order predicts the exact set:
    // the longest prefix whose running token total fits the budget
    def expected(st: String): Seq[Long] = {
      val order = docs.filter(_._2 == st).map(_._1)
        .sortBy(id => (Hashing.longHash60(id.toString), id))
      var cum = 0L
      order.takeWhile { id => cum += id; cum <= budget }
    }
    for (st <- Seq("even", "odd")) {
      val gotIds = got.filter(_._2 == st).map(_._1).sorted.toSeq
      assert(gotIds == expected(st).sorted,
        s"stratum $st: got $gotIds expected ${expected(st).sorted}")
      assert(got.filter(_._2 == st).map(_._3).sum <= budget)
    }
    assert(got.nonEmpty)
    // budget 0 admits nothing; a huge budget admits everything
    assert(TextAnalysis.tokenBudgetSample(df, "doc_id", "src", "text", 0L).count() == 0)
    assert(TextAnalysis.tokenBudgetSample(df, "doc_id", "src", "text", 1000L).count() == 12)
  }

  test("chunkDocs: overlap grid, clamped tail, no redundant trailing chunk") {
    // chunkTokens=4, overlap=1 -> stride=3; starts while start < n-1
    val df = Seq(
      (1L, "a b c d e f g h"), // n=8: starts 0,3,6 -> [a..d],[d..g],[g h]
      (2L, "a b"),             // n=2: one (short) chunk
      (3L, "")                 // empty: no chunks
    ).toDF("id", "text")
    val got = TextAnalysis.chunkDocs(df, "id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      (1L, 0L) -> ((4L, "a b c d")),
      (1L, 1L) -> ((4L, "d e f g")),
      (1L, 2L) -> ((2L, "g h")),
      (2L, 0L) -> ((2L, "a b"))))
    // every consecutive pair of full chunks shares exactly `overlap` tokens
    val c0 = got((1L, 0L))._2.split(" ")
    val c1 = got((1L, 1L))._2.split(" ")
    assert(c0.takeRight(1).sameElements(c1.take(1)))
  }

  test("piiScrub: email -> IP -> digit-run masking in sequence, staged counts") {
    val df = Seq(
      (1L, "mail a.b+c@x-y.org and ip 192.168.0.1 and tel 5551234567"),
      (2L, "no pii here"),
      (3L, "1.2.3.4 twice 10.0.0.255 short 123456") // 6 digits: below the run cap
    ).toDF("id", "text")
    val got = TextAnalysis.piiScrub(df, "id", "text")
      .select(col("id"), col("n_email").cast("int"), col("n_ip").cast("int"),
        col("n_num").cast("int"), col("scrubbed"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) == ((1, 1, 1, "mail <EMAIL> and ip <IP> and tel <NUM>")))
    assert(got(2L) == ((0, 0, 0, "no pii here")))
    assert(got(3L) == ((0, 2, 0, "<IP> twice <IP> short 123456")))
  }

  test("hash60 matches the DuckDB construction on a known value") {
    // md5('abc') = 900150983cd24fb0...; first 15 hex = 0x900150983cd24fb
    val got = Seq("abc").toDF("s").select(Hashing.hash60(col("s")))
      .as[Long].head()
    assert(got == 648541476951500027L)
    assert(Hashing.longHash60("abc") == 648541476951500027L)
  }

  test("nfcNormalize: decomposed sequences recompose; NFC input unchanged; null-safe") {
    val df = Seq(
      (1L, "caffe\u0301 latte"),  // e + combining acute, decomposed
      (2L, "caff\u00e9 latte"),   // already NFC (precomposed)
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select(col("id"),
        TextAnalysis.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == "caff\u00e9 latte")
    assert(got(2L) == "caff\u00e9 latte")
    assert(got(3L) == "plain ascii")
    assert(got(4L) == null)
    // idempotent: a second pass is the identity
    val twice = df.filter(col("t").isNotNull).select(
      (TextAnalysis.nfcNormalize(TextAnalysis.nfcNormalize(col("t"))) ===
        TextAnalysis.nfcNormalize(col("t"))).as("eq"))
    assert(twice.collect().forall(_.getBoolean(0)))
  }

  test("nfc_normalize is SQL-callable once GraftExtensions' builder is registered") {
    // the suite's session loads GraftExtensions, which registers nfc_normalize
    val got = spark.sql("SELECT nfc_normalize('é') AS n").head().getString(0)
    assert(got == "\u00e9")
  }

  test("weightedSample: matches the reference Efraimidis-Spirakis draw exactly") {
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b",
      if (i % 10 == 0) 5000L else 50L))
    val df = rows.toDF("doc_id", "lang", "n_chars")
    val got = TextAnalysis.weightedSample(df, "doc_id", "lang", "n_chars", k = 10)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    // reference draw with the same hash-derived uniform
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val want = rows.groupBy(_._2).toSeq.flatMap { case (lang, rs) =>
      rs.map { case (id, _, w) =>
        val u = (h60(id.toString) % 1000000000L + 1) / 1.0e9
        val key = BigDecimal(math.log(u) / w)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (lang, id, key)
      }.sortBy { case (_, id, key) => (-key, id) }.take(10)
        .map { case (l, id, _) => (l, id) }
    }.toSet
    assert(got == want)
    // heavy rows (100x weight, 10% of the population) must dominate
    val heavy = got.count(_._2 % 10 == 0)
    assert(heavy >= 10, s"expected heavy rows to dominate, got $heavy/20")
  }

  test("cluster-safe split: near-dup cluster members always share a split") {
    val text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val docs = (1L to 40L).map(i =>
      // ids 1-10 are one near-dup cluster (identical text); rest unique
      (i, if (i <= 10) text else s"unique document number $i with words " * 3))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
    val labels = Dedup.connectedComponentsStar(
      Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6), "id_a", "id_b")
    val splits = docs.select(col("doc_id"))
      .join(labels, docs("doc_id") === labels("id"), "left")
      .withColumn("grp", coalesce(col("rep"), docs("doc_id")))
      .withColumn("split", TextAnalysis.splitAssign(col("grp")))
    val clusterSplits = splits.filter(col("doc_id") <= 10)
      .select("split").distinct().count()
    assert(clusterSplits == 1, "the near-dup cluster straddles splits")
    val leaked = splits.groupBy("grp")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(leaked == 0)
  }

  test("invertedIndex: df bounds applied before collection, postings id-ordered") {
    val docs = Seq(
      (3L, "red fish blue fish"),
      (1L, "red fish swims"),
      (2L, "blue sky")
    ).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", n = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(idx("fish") == ((2L, "1;3")), "numeric id order, distinct per doc")
    assert(idx("red") == ((2L, "1;3")))
    assert(idx("blue") == ((2L, "2;3")))
    assert(idx("sky") == ((1L, "2")))
    val capped = TextAnalysis.invertedIndex(docs, "doc_id", "text", n = 1,
        minDf = 2, maxDf = 2)
      .collect().map(_.getString(0)).toSet
    assert(capped == Set("fish", "red", "blue"), capped.toString)
  }

  test("phraseSearch: consecutive-token matches only, overlaps counted") {
    val docs = Seq(
      (1L, "a b a b a"), // "a b a" occurs twice (overlapping)
      (2L, "a x b a"),   // tokens present but never consecutive
      (3L, "b a b")      // contains "a b" once, not "a b a"
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.phraseSearch(docs, "doc_id", "text", Seq("a", "b", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L), hits.toString)
    val pair = TextAnalysis.phraseSearch(docs, "doc_id", "text", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pair == Map(1L -> 2L, 3L -> 1L), pair.toString)
  }

  test("dictionaryTag: whole-token category hits, case-folded, no zero rows") {
    val df = Seq(
      (1L, "Slow JOIN slow scan"),   // perf: slow×2; exec: join, scan
      (2L, "classy assertion"),       // substrings must NOT fire 'class'/'ass'
      (3L, "table batch table")       // storage only
    ).toDF("doc_id", "text")
    val dict = Map("perf" -> Seq("slow"), "exec" -> Seq("join", "scan"),
      "rude" -> Seq("ass", "class"), "storage" -> Seq("table", "batch"))
    val got = TextAnalysis.dictionaryTag(df, "doc_id", "text", dict)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (1L, "perf") -> ((2L, 1L)), (1L, "exec") -> ((2L, 2L)),
      (3L, "storage") -> ((3L, 2L))), got.toString)
  }

  test("featureHash: buckets are md5-derived mod n, counts are token counts") {
    val df = Seq((1L, "alpha alpha beta")).toDF("doc_id", "text")
    val got = TextAnalysis.featureHash(df, "doc_id", "text", 16)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    def b(t: String) = Hashing.longHash60(t) % 16
    // collisions SUM (the hashing-trick contract) — build the expectation
    // by bucket, not by token
    val expected = Seq("alpha" -> 2L, "beta" -> 1L)
      .groupMapReduce { case (t, _) => b(t) } { case (_, n) => n }(_ + _)
    assert(got == expected, s"$got vs $expected")
    // determinism across runs / engines: same md5, no JVM hash seed
    val again = TextAnalysis.featureHash(df.repartition(3), "doc_id", "text", 16)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got == again)
  }

  test("charEntropy: uniform beats skewed beats constant; counts exact") {
    val df = Seq(
      (1L, "abcd"),     // uniform over 4 chars: H = ln 4
      (2L, "aaab"),     // skewed: H = -(3/4 ln 3/4 + 1/4 ln 1/4)
      (3L, "aaaa")      // constant: H = 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def rd(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) == ((4L, 4L, rd(math.log(4)))), got.toString)
    val h2 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(got(2L) == ((4L, 2L, rd(h2))), got.toString)
    assert(got(3L) == ((4L, 1L, 0.0)), got.toString)
    assert(got(1L)._3 > got(2L)._3 && got(2L)._3 > got(3L)._3)
  }

  test("contrastiveTriplets: near-dup positives, hash negatives never collide") {
    val near = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, near), (2L, near), // exact dup pair -> positive
      (3L, "completely unrelated text about spark queries and joins"),
      (4L, "another distinct document mentioning tables and columns"),
      (5L, "yet more filler content to populate negative buckets here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contrastiveTriplets(docs, "doc_id", "text",
        minEstJac = 0.5, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.nonEmpty, "expected the dup pair to mine a triplet")
    got.foreach { case (a, p, n, j) =>
      assert(a < p && n != a && n != p, got.mkString(", "))
      assert(j >= 0.5, got.mkString(", "))
    }
    // deterministic under repartitioning — no RNG state anywhere
    val again = TextAnalysis.contrastiveTriplets(docs.repartition(5),
        "doc_id", "text", minEstJac = 0.5, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("vocabCoverage: cumulative mass at each budget, ties ranked by token") {
    // freqs: a=4, b=3, c=2, d=1 (10 tokens, 4 types)
    val df = Seq((1L, "a a b c"), (2L, "a b d"), (3L, "a b c")).toDF("id", "text")
    val got = TextAnalysis.vocabCoverage(df, "text", Seq(1, 2, 3, 100))
      .collect().map(r => r.getInt(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1) == ((1, 4L, 0.4)), got.toString)
    assert(got(2) == ((2, 7L, 0.7)), got.toString)
    assert(got(3) == ((3, 9L, 0.9)), got.toString)
    // budget beyond the vocab saturates at the full mass and true V
    assert(got(100) == ((4, 10L, 1.0)), got.toString)
    // tie-break: equal freqs rank alphabetically — swap c to tie with b
    val tied = Seq((1L, "a a a b b c c")).toDF("id", "text")
    val g2 = TextAnalysis.vocabCoverage(tied, "text", Seq(2))
      .collect().head
    assert(g2.getLong(2) == 5L, g2.toString) // a(3) + b(2), not c
  }

  test("importanceResample: target-like docs out-weigh target-unlike; deterministic") {
    // target slice speaks 'aaa bbb'; the distractor dialect is 'zzz yyy'
    val docs = (
      (1L to 10L).map(i => (i, "aaa bbb aaa bbb", true)) ++
      (11L to 20L).map(i => (i, "zzz yyy zzz yyy", false)) ++
      Seq((21L, "aaa bbb aaa", false), (22L, "zzz yyy zzz", false))
    ).toDF("doc_id", "text", "is_t")
    val got = TextAnalysis.importanceResample(docs, "doc_id", "text",
      col("is_t"), nBuckets = 32, k = 50)
    val logw = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 21 (target dialect) must out-weigh doc 22 (distractor dialect)
    assert(logw(21L) > logw(22L), logw.toString)
    assert(logw(1L) > 0 && logw(11L) < 0, logw.toString)
    // every doc returned (k > corpus), key = logw + gumbel is total
    assert(logw.size == 22)
    // deterministic under repartitioning (md5 keys, no RNG state)
    val again = TextAnalysis.importanceResample(docs.repartition(7), "doc_id",
      "text", col("is_t"), nBuckets = 32, k = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val keys = got.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(keys == again)
  }

  test("balancedShards: strata from min/max, shards balanced within tolerance") {
    val df = (1L to 400L).map(i => (i, (i % 100) * 10 + 50))
      .toDF("doc_id", "n_chars")
    val got = TextAnalysis.balancedShards(df, "doc_id", "n_chars",
      k = 4, strata = 4).cache()
    // stratum = fixed-width bin of [50, 1040]
    val strat = got.select("doc_id", "stratum").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (lo, hi) = (50.0, 1040.0)
    (1L to 400L).foreach { i =>
      val v = ((i % 100) * 10 + 50).toDouble
      val want = if (v == hi) 3 else math.min(3, ((v - lo) / ((hi - lo) / 4)).toInt)
      assert(strat(i) == want, s"doc $i v=$v got=${strat(i)} want=$want")
    }
    // every shard's total size within 30% of the mean (CLT bound, n=400)
    val totals = got.groupBy("shard").agg(sum("n_chars").as("t"))
      .collect().map(_.getLong(1))
    assert(totals.length == 4)
    val mean = totals.sum.toDouble / 4
    assert(totals.forall(t => math.abs(t - mean) / mean < 0.3),
      totals.mkString(","))
    got.unpersist()
  }

  test("codeSwitchScore: monolingual entropy 0; even mix entropy ln 2") {
    // doc 1: two segments, both English; doc 2: one English + one German
    // segment (10 tokens each); doc 3: no stopword hits at all -> 'und'
    val en10 = "the a an and of to in is on for"
    val de10 = "der die und das ist ein mit von zu auf"
    val df = Seq(
      (1L, s"$en10 $en10"),
      (2L, s"$en10 $de10"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.codeSwitchScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got(1L) == ((2L, 1L, "en", 1.0, 0.0)))
    val ln2 = math.rint(math.log(2.0) * 1e6) / 1e6
    // tie on counts (1 each): top lang breaks alphabetically -> de
    assert(got(2L) == ((2L, 2L, "de", 0.5, ln2)))
    assert(got(3L) == ((1L, 1L, "und", 1.0, 0.0)))
  }

  test("assembleDialogs: keeps the latest turns in chronological order") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "u1", ts("2024-01-01 08:00:00"), "user", "hi"),
      (2L, "u1", ts("2024-01-01 09:00:00"), "bot", "hello"),
      (3L, "u1", ts("2024-01-01 10:00:00"), "user", null.asInstanceOf[String]),
      (4L, "u2", ts("2024-01-01 10:00:00"), "user", "solo")
    ).toDF("event_id", "user_id", "ts", "role", "content")
    val got = TextAnalysis.assembleDialogs(ev, "user_id", "ts", "event_id",
        col("role"), col("content"), maxTurns = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // u1: oldest turn dropped from the FRONT; null content renders empty
    assert(got("u1") == ((3L, 2L, "bot: hello\nuser: ")))
    assert(got("u2") == ((1L, 1L, "user: solo")))
  }

  test("truncationLoss: hand-computed losses; null doc counts as 0 tokens") {
    val df = Seq(
      (1L, "a", "one two three four five"), // 5 tokens
      (2L, "a", "one two"),                 // 2
      (3L, "a", null.asInstanceOf[String]), // 0
      (4L, "b", "x y z w")                  // 4
    ).toDF("id", "src", "text")
    val got = TextAnalysis.truncationLoss(df, "text", col("src"), Seq(3))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    // a: 3 docs, 1 truncated (5>3), lost 2, total 7
    assert(got("a") == ((3L, 1L, 2L, 7L, math.rint(2.0 / 7 * 1e6) / 1e6)))
    // b: 1 doc, 1 truncated, lost 1, total 4
    assert(got("b") == ((1L, 1L, 1L, 4L, 0.25)))
  }

  test("truncationLoss: loss is monotone non-increasing in context length") {
    val df = Seq((1L, "g", ("tok " * 100).trim), (2L, "g", ("tok " * 10).trim))
      .toDF("id", "src", "text")
    val byCtx = TextAnalysis
      .truncationLoss(df, "text", col("src"), Seq(8, 32, 128))
      .collect().map(r => r.getInt(1) -> r.getLong(4)).toMap
    assert(byCtx(8) >= byCtx(32) && byCtx(32) >= byCtx(128))
    assert(byCtx(128) == 0L) // everything fits at 128
  }

  test("dialogAudit flags each structural rule independently") {
    // d1: valid u/a/u/a; d2: starts assistant; d3: role repeat (u,u,a);
    // d4: empty middle turn; d5: single turn (under minTurns, ends wrong)
    val turns = Seq(
      (1L, 1, "user", "hi"), (1L, 2, "assistant", "hello"),
      (1L, 3, "user", "q?"), (1L, 4, "assistant", "a."),
      (2L, 1, "assistant", "welcome"), (2L, 2, "user", "hi"),
      (2L, 3, "assistant", "yes"),
      (3L, 1, "user", "a"), (3L, 2, "user", "b"), (3L, 3, "assistant", "c"),
      (4L, 1, "user", "a"), (4L, 2, "assistant", "  "), (4L, 3, "user", "b"),
      (4L, 4, "assistant", "ok"),
      (5L, 1, "user", "alone")
    ).toDF("k", "i", "role", "txt")
    val got = TextAnalysis.dialogAudit(turns, "k", Seq("i"),
        col("role"), col("txt"))
      .orderBy("k")
      .select("k", "n_turns", "n_role_repeats", "n_empty_turns",
        "starts_user", "ends_assistant", "valid")
      .collect()
    def row(k: Long) = got(k.toInt - 1)
    assert(row(1).getInt(6) == 1)
    assert(row(2).getInt(4) == 0 && row(2).getInt(6) == 0)
    assert(row(3).getLong(2) == 1L && row(3).getInt(6) == 0)
    assert(row(4).getLong(3) == 1L && row(4).getInt(6) == 0)
    assert(row(5).getLong(1) == 1L && row(5).getInt(5) == 0 &&
      row(5).getInt(6) == 0)
  }

  test("bleu: hand-computed clipped precisions, bp, and unsmoothed gate") {
    val df = Seq(
      (1L, "the cat sat on the mat", "the cat sat on mat"),
      (2L, "same text here again", "same text here again"),
      (3L, "alpha beta gamma delta", "zeta eta theta iota")
    ).toDF("id", "ref", "cand")
    val got = TextAnalysis.bleu(df, "id", "ref", "cand").orderBy("id")
      .collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 6L && r1.getLong(2) == 5L)
    assert(r1.getDouble(3) == 1.0)      // p1 = 5/5
    assert(r1.getDouble(4) == 0.75)     // p2 = 3/4
    assert(r1.getDouble(5) == 0.666667) // p3 = 2/3
    assert(r1.getDouble(6) == 0.5)      // p4 = 1/2
    assert(r1.getDouble(7) == 0.818731) // bp = e^(1 - 6/5)
    // 0.818731 · exp((ln 1 + ln .75 + ln .666667 + ln .5)/4), 6dp
    assert(r1.getDouble(8) == 0.57893)
    val r2 = got(1) // identical pair: all precisions 1, bp 1, bleu 1
    assert(r2.getDouble(7) == 1.0 && r2.getDouble(8) == 1.0)
    val r3 = got(2) // disjoint: p1 = 0 zeroes the whole product
    assert(r3.getDouble(3) == 0.0 && r3.getDouble(8) == 0.0)
  }

  test("chrF: per-order clipped P/R, macro average, F2") {
    val df = Seq(
      (1L, "ab ab", "AB"),       // strips/folds to rs=abab, cs=ab
      (2L, "hello", "hello"),
      (3L, "", "xyz")            // empty ref: rec 0, chrf 0
    ).toDF("id", "ref", "cand")
    val got = TextAnalysis.chrF(df, "id", "ref", "cand").orderBy("id")
      .collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 4L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.666667) // (1 + 1 + 0)/3
    assert(r1.getDouble(4) == 0.277778) // (1/2 + 1/3 + 0)/3
    assert(r1.getDouble(5) > 0.31 && r1.getDouble(5) < 0.32)
    assert(got(1).getDouble(5) == 1.0)
    assert(got(2).getDouble(4) == 0.0 && got(2).getDouble(5) == 0.0)
  }

  test("readability: counts, vowel-less fallback, Flesch/FK formulas") {
    val df = Seq(
      (1L, "The cat sat. It ran fast!"), // 6 words, 2 sents, 6 syllables
      (2L, "Dr Smth 42"),                // 3 vowel-less words → 3 syllables
      (3L, "")                           // no words → null scores
    ).toDF("id", "text")
    val got = TextAnalysis.readability(df, "id", "text").orderBy("id")
      .collect()
    assert(got(0).getLong(1) == 6L && got(0).getLong(2) == 2L &&
      got(0).getLong(3) == 6L)
    assert(got(0).getDouble(4) == 119.19)  // 206.835 − 1.015·3 − 84.6·1
    assert(got(0).getDouble(5) == -2.62)   // 0.39·3 + 11.8·1 − 15.59
    assert(got(1).getLong(1) == 3L && got(1).getLong(2) == 1L &&
      got(1).getLong(3) == 3L)
    assert(got(2).getLong(1) == 0L && got(2).isNullAt(4) && got(2).isNullAt(5))
  }

  test("curriculumPacing: CDF gating, zero-admission steps preserved") {
    val df = Seq((1L, 0.1, 10L), (2L, 0.2, 10L), (3L, 1.5, 10L),
      (4L, 2.7, 10L)).toDF("id", "diff", "tok")
    // bins (width 1): {0: 2 docs, cdf .5}, {1: 1, .75}, {2: 1, 1.0}
    val got = TextAnalysis.curriculumPacing(df, "id", col("diff"),
        col("tok"), steps = 2, c0 = 0.6, binWidth = 1.0)
      .orderBy("step").collect()
    // c(1) = √(.5·(1−.36)+.36) = .824621 → bins 0,1; c(2) = 1 → all
    assert(got(0).getDouble(1) == 0.824621)
    assert(got(0).getLong(2) == 2L && got(0).getLong(3) == 3L &&
      got(0).getLong(4) == 30L)
    assert(got(1).getDouble(1) == 1.0 && got(1).getLong(3) == 4L &&
      got(1).getLong(4) == 40L)
    // a single bin with cdf 1: every pre-final step admits nothing but
    // still appears with zeros
    val one = Seq((1L, 5.0, 7L)).toDF("id", "diff", "tok")
    val z = TextAnalysis.curriculumPacing(one, "id", col("diff"),
        col("tok"), steps = 4, c0 = 0.1, binWidth = 1.0)
      .orderBy("step").collect()
    assert(z.length == 4)
    assert(z.take(3).forall(r => r.getLong(2) == 0L && r.getLong(4) == 0L))
    assert(z(3).getLong(3) == 1L && z(3).getLong(4) == 7L)
  }

  test("lengthBatching: bucket routing, exact batch capacity, efficiency") {
    // 5 tiny docs (cap 16, 4 per 64-token batch), one mid (cap 32), one
    // over-cap doc truncated into the top bucket
    val df = (1L to 5L).map(i => (i, 10L)) ++ Seq((6L, 20L), (7L, 300L))
    val got = TextAnalysis.lengthBatching(df.toDF("id", "tok"), "id",
        col("tok"), maxTokensPerBatch = 64, maxCap = 64)
      .orderBy("cap", "batch_id").collect()
    val byCap = got.groupBy(_.getInt(0))
    assert(byCap(16).map(r => r.getLong(2)).sorted.toSeq == Seq(1L, 4L))
    assert(byCap(16).forall(r => r.getLong(2) <= 4L)) // 64/16 docs max
    assert(byCap(32).head.getLong(2) == 1L)
    val top = byCap(64).head
    assert(top.getLong(3) == 64L && top.getLong(4) == 64L &&
      top.getDouble(5) == 1.0) // 300 tokens truncated to the cap
    val full = byCap(16).find(_.getLong(2) == 4L).get
    assert(full.getLong(3) == 40L && full.getLong(4) == 64L &&
      full.getDouble(5) == 0.625)
  }

  test("mtEvalReport: exact lower median, pass rate, means") {
    val scored = Seq(
      ("en", 1L, 0.2, 0.5, Some(0.4)), ("en", 2L, 0.4, 0.7, Some(0.6)),
      ("en", 3L, 0.05, 0.1, None), // null rouge_l counts as 0 in the mean
      ("en", 4L, 0.6, 0.9, Some(0.2)),
      ("it", 5L, 0.0, 0.2, Some(0.5))
    ).toDF("lang", "id", "bleu", "chrf", "rouge_l")
    val got = TextAnalysis.mtEvalReport(scored, "id", passBar = 0.1)
      .orderBy("lang").collect()
    val en = got(0)
    assert(en.getAs[Long]("n_pairs") == 4L)
    // sorted bleu: .05 .2 .4 .6 → lower median = rank (4+1)/2 = 2 → 0.2
    assert(en.getAs[Double]("median_bleu") == 0.2)
    assert(en.getAs[Double]("mean_bleu") == 0.3125)
    // (0.4 + 0.6 + 0 + 0.2) / 4 — the null row stays in the denominator
    assert(en.getAs[Double]("mean_rouge_l") == 0.3)
    assert(en.getAs[Double]("pass_rate") == 0.75)
    val it = got(1)
    assert(it.getAs[Double]("median_bleu") == 0.0 &&
      it.getAs[Double]("mean_rouge_l") == 0.5 &&
      it.getAs[Double]("pass_rate") == 0.0)
  }

  test("GramClipOverlap: matches a brute-force multiset clip, both modes") {
    import org.apache.spark.sql.graftbridge.Bridge
    // brute reference: exact string grams, multiset min
    def brute(a: Seq[String], b: Seq[String], n: Int): Long = {
      def grams(t: Seq[String]) = t.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
      val ra = grams(a).groupBy(identity).view.mapValues(_.size)
      grams(b).groupBy(identity).map { case (g, c) =>
        math.min(ra.getOrElse(g, 0), c.size).toLong }.sum
    }
    val cases = Seq(
      (Seq("a", "b", "a", "b", "c"), Seq("a", "b", "a", "b", "a", "b")),
      (Seq("the", "cat"), Seq("the", "cat")),
      (Seq("x"), Seq("y", "z")),
      (Seq.empty[String], Seq("a")),
      (Seq("r", "r", "r"), Seq("r", "r")))
    val df = cases.toDF("ra", "ca")
    val ovC = Bridge.column(graft.expressions.GramClipOverlap(
      Bridge.expression(col("ra")), Bridge.expression(col("ca")),
      maxN = 3, chars = false))
    val got = df.select(ovC.as("ov")).collect().map(_.getSeq[Long](0))
    cases.zip(got).foreach { case ((a, b), ov) =>
      (1 to 3).foreach { n =>
        assert(ov(n - 1) == brute(a, b, n), s"($a, $b) order $n")
      }
    }
    // char mode: code-point grams — the astral char (1 code point, 2
    // UTF-16 units) must gram as ONE character, matching SQL substr
    def bruteC(a: String, b: String, n: Int): Long = {
      def grams(s: String) = {
        val cps = s.codePoints.toArray
        cps.sliding(n).filter(_.length == n).map(_.mkString(",")).toSeq
      }
      val ra = grams(a).groupBy(identity).view.mapValues(_.size)
      grams(b).groupBy(identity).map { case (g, c) =>
        math.min(ra.getOrElse(g, 0), c.size).toLong }.sum
    }
    val cc = Seq(("banana", "anan"), ("aaa", "aa"), ("", "xy"),
      ("x😀y", "😀y"))
    val cdf = cc.toDF("r", "c")
    val ovCc = Bridge.column(graft.expressions.GramClipOverlap(
      Bridge.expression(col("r")), Bridge.expression(col("c")),
      maxN = 2, chars = true))
    val gotC = cdf.select(ovCc.as("ov")).collect().map(_.getSeq[Long](0))
    cc.zip(gotC).foreach { case ((a, b), ov) =>
      (1 to 2).foreach { n =>
        assert(ov(n - 1) == bruteC(a, b, n), s"($a, $b) order $n")
      }
    }
    // interpreted eval path agrees with the codegen'd path above
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val ia = ArrayData.toArrayData(
      Array("a", "b", "a").map(UTF8String.fromString))
    val ib = ArrayData.toArrayData(
      Array("b", "a").map(UTF8String.fromString))
    val ev = graft.expressions.GramClipOverlap
      .overlapTokens(ia, ib, 2).toLongArray()
    assert(ev.toSeq == Seq(2L, 1L))
  }

  test("AhoCorasickMatcher: exhaustive parity with brute-force overlap counts") {
    // every string over {a,b} up to length 11 vs a pattern set with
    // nesting (a in ab/aba, b in bb) and shared prefixes — if failure
    // or output links are wrong anywhere, some string catches it
    val pats = Array("a", "ab", "aba", "bb", "bab")
    val m = new graft.expressions.AhoCorasickMatcher(pats)
    def brute(t: String): Seq[Long] = pats.toSeq.map { p =>
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
    }
    for (len <- 0 to 11; bits <- 0 until (1 << len)) {
      val t = (0 until len).map(i => if ((bits >> i & 1) == 0) 'a' else 'b').mkString
      assert(m.count(t).toLongArray().toSeq == brute(t), s"text '$t'")
    }
  }

  test("AhoCorasickMatcher: sparse hits ≡ nonzero dense counts (exhaustive, with idxBase)") {
    val pats = Array("a", "ab", "aba", "bb", "bab")
    val m = new graft.expressions.AhoCorasickMatcher(pats)
    for (len <- 0 to 11; bits <- 0 until (1 << len)) {
      val t = (0 until len).map(i => if ((bits >> i & 1) == 0) 'a' else 'b').mkString
      val dense = m.count(t).toLongArray()
      val wantSparse = dense.zipWithIndex.collect {
        case (n, i) if n > 0 => (100 + i, n)
      }.toSeq
      val got = m.hits(t, idxBase = 100)
      val gotSparse = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
      assert(gotSparse == wantSparse, s"text '$t'")
    }
  }

  test("blocklistScreen: sharded kernels ≡ one kernel (counts and chars caps)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the nation's data station"),
      (2L, "nothing in common at bat"),
      (3L, "zzz")).toDF("doc_id", "text")
    val pats = Seq("ation", "at", "ion", "the", "data", "in", "ing")
    def run(maxPerKernel: Int) =
      TextAnalysis.blocklistScreen(docs, "doc_id", "text", pats, maxPerKernel)
        .orderBy("doc_id", "pattern")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val whole = run(65536)
    assert(run(2) == whole, "3-pattern shards diverge")
    assert(run(1) == whole, "single-pattern shards diverge")
  }

  test("blocklistScreen at 10k patterns: parity with a brute scan; automaton builds fast") {
    import spark.implicits._
    // all 4-grams over a 10-char alphabet — the production-scale shape
    // (q339); build + flatten must be driver-cheap
    val alpha = "etaonis rh"
    val pats = for (a <- alpha; b <- alpha; c <- alpha; d <- alpha)
      yield s"$a$b$c$d"
    assert(pats.size == 10000)
    val t0 = System.nanoTime()
    val m = new graft.expressions.AhoCorasickMatcher(pats.toArray)
    val buildMs = (System.nanoTime() - t0) / 1e6
    assert(buildMs < 5000, s"10k-pattern automaton took $buildMs ms to build")
    val docs = Seq(
      (1L, "the rain in here stations the train onto east"),
      (2L, "no hits from this line of text? some: onset, threat"),
      (3L, "xx")).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistScreen(docs, "doc_id", "text", pats,
        maxPerKernel = 4096) // 3 shards
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    def brute(t: String) = pats.map(p => p ->
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, 4)).toLong)
      .filter(_._2 > 0).toMap
    for ((id, t) <- Seq((1L, "the rain in here stations the train onto east"),
        (2L, "no hits from this line of text? some: onset, threat"),
        (3L, "xx"))) {
      val want = brute(t).map { case (p, n) => ((id, p), n) }
      assert(got.filter(_._1._1 == id) == want, s"doc $id")
    }
  }

  test("blocklistScreen: overlapping substring hits with nested patterns") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the nation's data station"), // ation x2, at x3 (+the x1? 'the' standalone)
      (2L, "nothing in common"),
      (3L, "zzz")).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistScreen(docs, "doc_id", "text",
        Seq("ation", "at", "the", "in"))
      .orderBy("doc_id", "pattern")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def brute(t: String, p: String) =
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
    val want = for {
      (id, t) <- Seq((1L, "the nation's data station"), (2L, "nothing in common"), (3L, "zzz"))
      p <- Seq("ation", "at", "the", "in").sorted
      n = brute(t, p) if n > 0
    } yield (id, p, n)
    assert(got.toSeq == want)
    // doc 3 has no hits and is absent entirely
    assert(!got.exists(_._1 == 3L))
  }
}
