package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "dog lazy the over jumps fox brown quick the"), // same bag, diff order
    (4L, "a completely different document about spark engines"),
    (5L, "the quick brown fox jumps over the lazy cat")   // near-dup of 1
  ).toDF("doc_id", "text")
    .withColumn("toks", TextAnalysis.words(col("text")))

  test("shingles: n-grams with count size-n+1; short docs -> empty") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
      .select(col("id"), Dedup.shingles(TextAnalysis.words(col("t")), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L).isEmpty)
  }

  test("exactGroups: normalized-bag key groups 1,2,3; keeper is min id") {
    val key = md5(concat_ws(" ", array_sort(array_distinct(col("toks")))))
    val g = Dedup.exactGroups(docs, "doc_id", key).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("keeper_id") == 1L)
    assert(g.head.getAs[Long]("n_copies") == 3L)
    assert(g.head.getAs[String]("member_ids") == "1;2;3")
  }

  test("jaccardPairs: exact dups at 1.0, near-dup above 0.5, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id",
        Dedup.shingles(col("toks"), 3), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 5L)) && pairs((1L, 5L)) > 0.5 && pairs((1L, 5L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccardPairs: df cap — parity on rare-shingle data, stop-shingles dropped") {
    // the test corpus has no shingle shared by >3 docs: any cap >= 3 must
    // reproduce the exact (uncapped) pairs bit-for-bit
    val exact = Dedup.jaccardPairs(docs, "doc_id",
        Dedup.shingles(col("toks"), 3), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.jaccardPairs(docs, "doc_id",
        Dedup.shingles(col("toks"), 3), 0.3, maxShingleDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == exact)

    // docs related ONLY through a corpus-wide stop-shingle: the cap drops
    // it from both intersections and set sizes, so no pair survives and
    // the worst join reducer is bounded by cap^2
    val stop = Seq(
      (1L, "in the course of alpha beta gamma"),
      (2L, "in the course of delta epsilon zeta"),
      (3L, "in the course of eta theta iota"),
      (4L, "in the course of kappa lambda mu")
    ).toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.words(col("text")))
    val uncapped = Dedup.jaccardPairs(stop, "doc_id",
      Dedup.shingles(col("toks"), 3), 0.1).count()
    assert(uncapped == 6L) // all C(4,2) pairs meet 0.1 via the stop-shingles
    val cappedStop = Dedup.jaccardPairs(stop, "doc_id",
      Dedup.shingles(col("toks"), 3), 0.1, maxShingleDf = Some(3)).count()
    assert(cappedStop == 0L)
  }

  test("prefixFilterPairs: bit-identical to the all-pairs join (exactness)") {
    // prefix filtering claims zero false negatives: every threshold must
    // reproduce jaccardPairs exactly, including the 1.0 exact-dup pair
    // and the mid-range near-dup
    for (theta <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(docs, "doc_id",
          Dedup.shingles(col("toks"), 3), theta)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val pref = Dedup.prefixFilterPairs(docs, "doc_id",
          Dedup.shingles(col("toks"), 3), theta)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pref == exact, s"theta=$theta")
    }
  }

  test("prefixFilterPairs: exact-threshold boundary pair survives the length filter") {
    // |x|=4 ⊂ |y|=5 → J = 4/5 = 0.8 exactly; a float-naive length filter
    // (4 >= 0.8*5 with binary 0.8 > 4/5) would prune it
    val b = Seq((1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d", "e"))).toDF("doc_id", "ss")
    val got = Dedup.prefixFilterPairs(b, "doc_id", col("ss"), 0.8).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.8)
  }

  test("minhashPairs: identical shingle sets agree on every minhash (est 1.0)") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", Dedup.shingles(col("toks"), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // near-dups collide on >=1 band and agree on most rows
    assert(pairs.get((1L, 5L)).forall(_ >= 0.5))
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhashCalibration: exact Jaccard matches set arithmetic, err = |est - exact|") {
    val out = Dedup.minhashCalibration(docs, "doc_id",
        Dedup.shingles(col("toks"), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // docs 1 and 2 are identical: estimate and exact both 1.0, zero error
    assert(out((1L, 2L)) == ((1.0, 1.0, 0.0)))
    // every candidate pair: exact equals the driver-side shingle-set twin
    val sets = docs.select(col("doc_id"),
        Dedup.shingles(col("toks"), 3).as("sh"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).map(s => Hashing.longHash60(s) % Hashing.P).toSet)
      .toMap
    out.foreach { case ((a, b), (est, exact, err)) =>
      val i = sets(a).intersect(sets(b)).size.toDouble
      val u = (sets(a) ++ sets(b)).size.toDouble
      assert(math.abs(exact - math.rint(i / u * 1e6) / 1e6) < 1e-9,
        s"pair ($a,$b)")
      assert(math.abs(err - math.rint(math.abs(est - i / u) * 1e6) / 1e6)
        <= 1e-6, s"pair ($a,$b)")
    }
  }

  test("minhash signature is k longs, deterministic") {
    val sig = docs.filter(col("doc_id") === 1)
      .select(Dedup.minhashSignature(Dedup.shingles(col("toks"), 3), 16))
      .head().getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(v => v >= 0 && v < Hashing.P))
    val sig2 = docs.filter(col("doc_id") === 2)
      .select(Dedup.minhashSignature(Dedup.shingles(col("toks"), 3), 16))
      .head().getSeq[Long](0)
    assert(sig == sig2)
  }

  test("SimHashFp kernel == explode + 60-sum aggregate reference (r10 swap)") {
    // mixed real docs plus the edge shapes: null token inside an array
    // (vote skipped), all-null tokens (fp = 0), empty array (doc absent),
    // null array (doc absent)
    val rows = Seq(
      (1L, Seq("alpha", "beta", "gamma", "alpha two words here")),
      (2L, Seq("alpha", null, "gamma")),
      (3L, Seq[String](null, null)),
      (4L, Seq.empty[String]),
      (6L, Seq("solo"))
    ).toDF("doc_id", "toks")
      .unionByName(Seq((5L, null)).toDF("doc_id", "toks")
        .select(col("doc_id"), col("toks").cast("array<string>")))
    val kernel = Dedup.simhash(rows, "doc_id", col("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the pre-r10 aggregate formulation, verbatim
    val th = rows.select(col("doc_id").as("id"), explode(col("toks")).as("t"))
      .withColumn("h", graft.ops.Hashing.hash60(col("t")))
    val sums = (0 until 60).map(j =>
      sum(shiftright(col("h"), j) % 2 * 2 - 1).as(s"s$j"))
    val fpRef = (0 until 60).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val ref = th.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"), fpRef.as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == ref)
    assert(!kernel.contains(4L) && !kernel.contains(5L)) // empty/null drop
    assert(kernel(3L) == 0L) // all-null votes: every bit ties to 0
  }

  test("simhashPairs: identical token streams at distance 0; banding == brute force") {
    // 7-band layout is pigeonhole-exact for maxDist <= 6
    val banded = Dedup.simhashPairs(docs, "doc_id", col("toks"), maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(banded((1L, 2L)) == 0)
    // brute-force check of the banding exactness guarantee (maxDist <= 6)
    val fps = Dedup.simhash(docs, "doc_id", col("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- fps.keys; b <- fps.keys if a < b
      d = java.lang.Long.bitCount(fps(a) ^ fps(b)) if d <= 6
    } yield (a, b) -> d).toMap
    assert(banded == brute)
  }

  test("connectedComponents: chains, cycles, and isolated pairs get min-id reps") {
    // components: {1,2,3,4,5} (a path — needs multi-round propagation),
    // {10,11,12} (a triangle), {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("a", "b")
    val labels = MinLabelComponents.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val cl = Dedup.clusters(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(cl == Map(
      1L -> ((5L, "1;2;3;4;5")),
      10L -> ((3L, "10;11;12")),
      20L -> ((2L, "20;21"))))
  }

  test("decontaminate: docs sharing a 4-gram with the bench set are removed") {
    val corpus = docs.filter(col("doc_id").isin(1L, 4L, 5L))
    val bench = docs.filter(col("doc_id").isin(2L, 3L)) // 2 ≡ 1 verbatim; 3 is scrambled
    val contam = Dedup.contamination(corpus, bench, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc1: all 6 of its 4-grams occur in doc2; doc5 shares the 5 not
    // containing "cat"; doc4 shares none (and doc3's scrambled grams hit nothing)
    assert(contam == Map(1L -> 6L, 5L -> 5L))
    val clean = Dedup.decontaminate(corpus, bench, "doc_id", "text", 4)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(4L))
    // survivors and flagged docs partition the corpus
    assert(clean ++ contam.keySet == Set(1L, 4L, 5L))
  }

  test("bloomContamination: superset of exact hits, never a false negative") {
    val corpus = docs.filter(col("doc_id").isin(1L, 4L, 5L))
    val bench = docs.filter(col("doc_id").isin(2L, 3L))
    val exact = Dedup.contamination(corpus, bench, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a roomy filter reproduces the exact counts (no collisions)
    val roomy = Dedup.bloomContamination(corpus, bench, "doc_id", "text", 4,
        mBits = 1 << 17, kHashes = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roomy == exact)
    // a saturated 8-bit filter still never undercounts any exact hit
    val tight = Dedup.bloomContamination(corpus, bench, "doc_id", "text", 4,
        mBits = 8, kHashes = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (id, n) =>
      assert(tight.getOrElse(id, 0L) >= n, s"doc $id undercounted")
    }
  }

  test("fuzzyPairs: blocked edit-distance linkage, cross-block pairs never meet") {
    val recs = Seq(
      (1L, "smith john", "A"),
      (2L, "smith jonh", "A"), // transposition: dist 2
      (3L, "smith joan", "A"), // one substitution from 1
      (4L, "wholly different", "A"),
      (5L, "smith john", "B")  // identical to 1 but other block
    ).toDF("id", "name", "blk")
    val got = Dedup.fuzzyPairs(recs, "id", "name", "blk", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), got.toString)
    assert(got((1L, 2L)) == 2 && got((1L, 3L)) == 1, got.toString)
    assert(!got.contains((1L, 5L)), "blocking must prevent cross-block pairs")
  }

  test("fuzzyPairsSymDel: identical result set to the blocked-quadratic path") {
    // adversarial edit mix: substitutions, insertion+deletion (shifts),
    // short strings, an empty string, same-name different-block
    val names = Seq(
      "smith john", "smith jonh", "smith joan", "smiths john", "mith john",
      "smith", "smth", "s", "", "wholly different", "smith john")
    val recs = names.zipWithIndex.map { case (n, i) =>
      (i.toLong, n, if (i == 10) "B" else "A")
    }.toDF("id", "name", "blk")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exact = pairs(Dedup.fuzzyPairs(recs, "id", "name", "blk", maxDist = 2))
    val symdel = pairs(Dedup.fuzzyPairsSymDel(recs, "id", "name", "blk", maxDist = 2))
    assert(symdel == exact, s"symdel=$symdel\nexact=$exact")
    assert(exact.nonEmpty)
  }

  test("fuzzyPairsSymDel: 10³ duplicate names — candidates bounded by distinct names") {
    // the adversarial skew case: 1000 records share ONE name; naively
    // every ~L²/2 variant bucket is 1000 wide (≈10⁸ candidate rows).
    // The rep-dedup posture must generate candidates over the 3 DISTINCT
    // names only, and expand the exact-name group afterwards.
    val recs = ((1 to 1000).map(i => (i.toLong, "acme corporation")) ++
      Seq((2001L, "acme corpration"), (2002L, "zeta industries")))
      .map { case (i, n) => (i, n, "A") }.toDF("id", "name", "blk")
    val reps = recs.filter(col("name").isNotNull)
      .select(col("blk"), col("id"), col("name").as("nm"))
      .groupBy("blk", "nm").agg(org.apache.spark.sql.functions.min(col("id")).as("id"))
    // candidate NAME pairs: at most C(3,2) = 3, regardless of the 1000 dupes
    val cand = Dedup.symDelCandidates(reps, maxDist = 2).count()
    assert(cand <= 3, s"candidate name pairs must not scale with dupes: $cand")
    val out = Dedup.fuzzyPairsSymDel(recs, "id", "name", "blk", maxDist = 2)
    // 1000·999/2 within-group dist-0 pairs + 1000 cross pairs to 2001
    assert(out.count() === 1000L * 999 / 2 + 1000)
    val cross = out.filter(col("id_b") === 2001L)
    assert(cross.count() === 1000L &&
      cross.select("dist").distinct().head().getInt(0) === 1)
  }

  test("fuzzyPairsSymDel: maxDist 0 reduces to exact duplicates within a block") {
    val recs = Seq((1L, "abc", "A"), (2L, "abc", "A"), (3L, "abd", "A"),
      (4L, "abc", "B")).toDF("id", "name", "blk")
    val got = Dedup.fuzzyPairsSymDel(recs, "id", "name", "blk", maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("fuzzyPairsSymDel: a padded shuffle.partitions value (\" 8\") is read as 8") {
    // SQLConf trims integer confs, so " 8" is a legal setting; the
    // explode stage's partition count must come from the parsed value
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, " 8")
    try {
      val recs = Seq((1L, "abc", "A"), (2L, "abd", "A"), (3L, "xyz", "A"))
        .toDF("id", "name", "blk")
      val got = Dedup.fuzzyPairsSymDel(recs, "id", "name", "blk", maxDist = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L)))
    } finally spark.conf.set(key, was)
  }

  test("canonicalPerCluster: max quality wins, ties break to min id") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "rep")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5))
      .toDF("doc_id", "q")
    val got = Dedup.canonicalPerCluster(labels, quality, "doc_id", "q")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 0.9, 3L)),   // 2 and 3 tie on 0.9 -> min id 2
      10L -> ((10L, 0.5, 2L))))
    // quality keyed by a column literally named "id" (the labels frame's
    // own id name) must not trip an ambiguous-reference error
    val qid = quality.withColumnRenamed("doc_id", "id")
    val got2 = Dedup.canonicalPerCluster(labels, qid, "id", "q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 2L, 10L -> 10L))
  }

  test("segmentDedup: repeated segment survives once, docs reassemble in order") {
    // segWords=3: doc 1 = [a b c][d e f], doc 2 repeats segment "a b c"
    // at its head, doc 3 is untouched, doc 4 repeats "a b c" INSIDE one doc
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "p q r"),
      (4L, "a b c a b c")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segWords = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f", 2L, 0L))) // first occurrence keeps all
    assert(out(2L) == (("x y z", 1L, 1L)))       // head segment deduped away
    assert(out(3L) == (("p q r", 1L, 0L)))
    assert(out(4L) == (("", 0L, 2L)))            // both copies lose to doc 1
  }

  test("segmentDedup: trailing short segment is its own dedup unit") {
    val d = Seq((1L, "a b c d"), (2L, "x y z d")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segWords = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // both docs end in remainder segment "d"; doc 1 keeps it, doc 2 loses it
    assert(out(1L) == "a b c d")
    assert(out(2L) == "x y z")
  }

  test("dropFrequentSegments: boilerplate removed from every host, no survivor") {
    val d = Seq(
      (1L, "nav bar one two three"),
      (2L, "nav bar four five six"),
      (3L, "nav bar seven eight nine"),
      (4L, "unique text here")
    ).toDF("doc_id", "text")
    // segWords=2 -> "nav bar" is a segment in 3 distinct docs; maxDocFreq=2
    val out = Dedup.dropFrequentSegments(d, "doc_id", "text",
        segWords = 2, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(out(1L) == (("one two three", 1L)))
    assert(out(2L) == (("four five six", 1L)))
    assert(out(3L) == (("seven eight nine", 1L)))
    assert(out(4L)._2 == 0L)
  }

  test("RollingHash: windows equal the direct per-slice fold; short arrays empty") {
    import org.apache.spark.sql.graftbridge.Bridge
    val texts = Seq((1L, "a b c d e"), (2L, "a b"), (3L, ""))
    val got = texts.toDF("id", "t")
      .select(col("id"), Bridge.column(graft.expressions.RollingHash(
        Bridge.expression(TextAnalysis.words(col("t"))), 3)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // driver-side twin: fold ((0·31+h₀)·31+h₁)… mod P over each 3-slice
    def fold(toks: Seq[String]): Seq[Long] = {
      val hs = toks.map(t => Hashing.longHash60(t) % Hashing.P)
      if (hs.length < 3) Seq.empty
      else hs.sliding(3).map(_.foldLeft(0L)((a, b) =>
        (a * 31 + b) % Hashing.P)).toSeq
    }
    assert(got(1L) == fold(Seq("a", "b", "c", "d", "e")) && got(1L).length == 3)
    assert(got(2L).isEmpty && got(3L).isEmpty)
    // rolling (prefix-difference) and direct fold must agree on longer
    // random-ish content too, and the interpreted eval must match codegen
    val toks = (1 to 40).map(i => s"tok$i")
    val df2 = Seq((1L, toks.mkString(" "))).toDF("id", "t")
    val viaPlan = df2.select(Bridge.column(graft.expressions.RollingHash(
        Bridge.expression(TextAnalysis.words(col("t"))), 8)))
      .collect().head.getSeq[Long](0)
    assert(viaPlan == (toks.map(_.toLowerCase) match { case ts =>
      ts.map(t => Hashing.longHash60(t) % Hashing.P).sliding(8)
        .map(_.foldLeft(0L)((a, b) => (a * 31 + b) % Hashing.P)).toSeq }))
    val interp = graft.expressions.RollingHash.spanHashes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)), 8)
    assert(interp.toLongArray().toSeq == viaPlan)
  }

  test("spanDedupCoverage: shared runs counted per window position, short docs absent") {
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // one shared 8-token run
    val d = Seq(
      (1L, run + " alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa " + run),                       // shares exactly the run
      (3L, "totally unrelated text with enough tokens to have windows here"),
      (4L, "too short")                                // < 8 tokens: no windows
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupCoverage(d, "doc_id", "text", width = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 16 tokens -> 9 windows, exactly one (the run) duplicated
    assert(out(1L) == ((9L, 1L, math.rint(1.0 / 9 * 1e6) / 1e6)))
    // doc 2: 10 tokens -> 3 windows, the run window duplicated
    assert(out(2L)._1 == 3L && out(2L)._2 == 1L)
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    assert(!out.contains(4L))
  }

  test("spanDedupRemove: covered positions dropped everywhere, short docs pass through") {
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // one shared 8-token run
    val d = Seq(
      (1L, run + " alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa " + run),  // run at positions 2..9
      (3L, "totally unrelated text with enough tokens to have windows here"),
      (4L, "too short"),          // < 8 tokens: untouched
      (5L, run)                   // exactly the run: fully removed
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupRemove(d, "doc_id", "text", width = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((16L, 8L,
      "alpha beta gamma delta epsilon zeta eta theta")))
    assert(out(2L) == ((10L, 8L, "iota kappa")))
    assert(out(3L)._2 == 0L &&
      out(3L)._3 == "totally unrelated text with enough tokens to have windows here")
    assert(out(4L) == ((2L, 0L, "too short")))  // short doc passes through
    assert(out(5L) == ((8L, 8L, "")))           // everything duplicated
  }

  test("spanDedup width-w approximation vs an exact-substring reference: " +
    "hash soundness at every width, full recall of >=50-token spans for w <= 50") {
    // Lee et al. 2022 dedups EXACT substrings >= some length L via a
    // suffix array; spanDedupCoverage approximates with width-w rolling
    // windows. This spec quantifies that approximation ONCE against a
    // driver-side exact-substring reference over real sf0.001 documents
    // with injected 50-token duplicated spans, so the production `width`
    // knob has a measured meaning:
    //   (1) hash soundness: the mod-P (~2^30) rolling hash can only
    //       OVER-flag (equal strings always hash equal; birthday
    //       collisions across ~40k windows add false flags) — per-doc
    //       operator counts >= the exact reference everywhere, and the
    //       corpus-wide excess is measured (a handful of windows);
    //   (2) recall: for w <= L every token position inside a duplicated
    //       >=L-token span is covered (any such position sits in a
    //       w-window wholly inside the span, and that window is
    //       duplicated wherever the span is) — measured 1.000;
    //   (3) for w > L recall degrades (a 64-window spanning a 50-span's
    //       edge mixes non-duplicated context, so its hash is unique) —
    //       the measured drop is the cost of over-sizing `width`.
    val L = 50
    val raw = graft.ops.Sources.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // inject a shared 50-token block into every 5th doc (the corpus has
    // no natural >=50-token cross-doc duplicates; the ground truth
    // below would also pick any up)
    val block = (0 until L).map(i => s"dupblk$i").mkString(" ")
    val corpus = raw.map { case (id, t) =>
      (id, if (id % 5 == 0) s"$t $block" else t)
    }
    val toks: Map[Long, Array[String]] = corpus.map { case (id, t) =>
      id -> "\\w+".r.findAllIn(t.toLowerCase).toArray
    }.toMap
    // exact-substring reference at width w: window -> distinct docs;
    // returns per-doc flagged window positions
    def exactDupWindows(w: Int): Map[Long, Set[Int]] = {
      val wins = toks.toSeq.flatMap { case (id, ts) =>
        ts.sliding(w).zipWithIndex.collect {
          case (win, p) if win.size == w => (win.mkString("\u0000"), id, p)
        }
      }
      val dupKeys = wins.groupBy(_._1).view
        .filter(_._2.map(_._2).distinct.size >= 2).keySet.toSet
      wins.filter(t => dupKeys(t._1)).groupBy(_._2).view
        .mapValues(_.map(_._3).toSet).toMap
    }
    def positions(flagged: Map[Long, Set[Int]], w: Int): Map[Long, Set[Int]] =
      flagged.map { case (id, ps) =>
        id -> ps.flatMap(p => p until p + w)
      }
    val truthPos = positions(exactDupWindows(L), L)
    assert(truthPos.nonEmpty && truthPos.values.map(_.size).sum >=
      L * corpus.count(_._1 % 5 == 0), "injection failed to create truth")
    val df = corpus.toSeq.toDF("doc_id", "text")
    val rows = Seq(8, 16, 32, 50, 64).map { w =>
      val got = Dedup.spanDedupCoverage(df, "doc_id", "text",
          width = w, minDf = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val exact = exactDupWindows(w)
      // (1) soundness: never UNDER the exact reference; over-flag bounded
      var excess = 0L
      toks.keys.foreach { id =>
        val want = exact.getOrElse(id, Set.empty).size.toLong
        val have = got.getOrElse(id, 0L)
        assert(have >= want,
          s"width $w doc $id: operator $have missed exact dups ($want)")
        excess += have - want
      }
      val nWindows = toks.valuesIterator.map(ts =>
        math.max(0, ts.length - w + 1)).sum
      info(f"width $w%2d collision over-flag: $excess windows of $nWindows " +
        f"(${excess.toDouble / nWindows * 100}%.3f%%)")
      assert(excess <= nWindows / 200,
        s"width $w: collision over-flag $excess exceeds 0.5% of $nWindows")
      // (2)/(3) recall of >=L-span positions under width-w coverage
      val covered = positions(exact, w)
      val (hit, tot) = truthPos.foldLeft((0, 0)) { case ((h, t), (id, ps)) =>
        (h + ps.count(covered.getOrElse(id, Set.empty)), t + ps.size)
      }
      val recall = math.rint(hit.toDouble / tot * 1000) / 1000
      info(f"width $w%2d -> recall of >=$L-token dup-span positions: $recall%.3f")
      (w, recall)
    }
    rows.filter(_._1 <= L).foreach { case (w, r) =>
      assert(r == 1.0, s"width $w must fully cover >=$L-token spans, got $r")
    }
    // over-sized width measurably loses spans (the documented trade)
    assert(rows.toMap.apply(64) < 1.0,
      "w=64 unexpectedly reached full recall — the table is degenerate")
  }

  test("CdcChunks: short docs fold to one chunk; boundaries are offset-invariant") {
    import org.apache.spark.sql.graftbridge.Bridge
    def chunksOf(text: String, width: Int, modulus: Int): Seq[Long] =
      Seq(Tuple1(text)).toDF("t")
        .select(Bridge.column(graft.expressions.CdcChunks(
          Bridge.expression(TextAnalysis.words(col("t"))), width, modulus)))
        .collect().head.getSeq[Long](0)
    // < width tokens: single chunk equal to the direct fold of token hashes
    val short = chunksOf("alpha beta", 4, 16)
    val expect = Seq("alpha", "beta")
      .map(t => Hashing.longHash60(t) % Hashing.P)
      .foldLeft(0L)((a, b) => (a * 31 + b) % Hashing.P)
    assert(short == Seq(expect))
    assert(chunksOf("", 4, 16).isEmpty)
    // offset invariance: after the first boundary shared by both layouts,
    // every downstream chunk is identical — a run chunks the same at any
    // offset (the property fixed-width spans lack)
    val run = (1 to 30).map(i => s"tok$i").mkString(" ")
    val a = chunksOf(run, 2, 2)
    val b = chunksOf("pfx1 pfx2 pfx3 " + run, 2, 2)
    assert(a.length >= 2, s"run must contain an interior boundary, got $a")
    assert(b.takeRight(a.length - 1) == a.tail)
    // interpreted eval matches codegen
    val toks = (1 to 30).map(i => s"tok$i")
    val interp = graft.expressions.CdcChunks.chunkHashes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)), 2, 2)
    assert(interp.toLongArray().toSeq == a)
  }

  test("cdcChunkStats: shared run duplicated at different offsets, unique text is not") {
    val run = (1 to 24).map(i => s"r$i").mkString(" ")
    val d = Seq(
      (1L, run),
      (2L, "lead1 lead2 lead3 " + run),   // same run, shifted
      (3L, "solo text that nobody else repeats anywhere at all")
    ).toDF("doc_id", "text")
    val out = Dedup.cdcChunkStats(d, "doc_id", "text",
        width = 2, modulus = 2, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // both run-carrying docs share their post-first-boundary chunks
    assert(out(1L)._2 >= 1L && out(2L)._2 >= 1L)
    assert(out(3L)._2 == 0L)
  }

  test("embeddingPairs: parallel vectors ~1.0, blocked by label, orthogonal excluded") {
    val e = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(2f, 0f, 0f), 0), // parallel to 1, same block
      (3L, Array(0f, 1f, 0f), 0), // orthogonal
      (4L, Array(1f, 0f, 0f), 1)  // parallel to 1 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("decontaminateSpans: only benchmark-overlapping spans removed, clean docs untouched") {
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val corpus = Seq(
      (1L, "lead1 lead2 " + run + " tail1 tail2"), // quotes the bench run
      (2L, "totally unrelated words that nobody benchmarks at all here ok")
    ).toDF("doc_id", "text")
    val bench = Seq((99L, "intro " + run + " outro")).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: exactly the 8 quoted tokens vanish, lead/tail survive
    assert(out(1L) == ((12L, 8L, "lead1 lead2 tail1 tail2")), out.toString)
    // doc 2: untouched
    assert(out(2L)._2 == 0L && out(2L)._3.startsWith("totally unrelated"),
      out.toString)
  }

  test("noveltyScore: quoted grams not novel, fresh grams novel, short docs null") {
    val run = "alpha beta gamma delta" // 4 tokens -> 2 distinct 3-grams
    val corpus = Seq(
      (1L, run), // both 3-grams appear in the reference -> novelty 0
      (2L, "completely fresh words here"), // 2 grams, both novel
      (3L, run + " extra"), // 3 grams: 2 quoted + 1 novel
      (4L, "too short") // < 3 tokens -> no grams
    ).toDF("doc_id", "text")
    val ref = Seq((9L, "intro " + run + " outro")).toDF("doc_id", "text")
    val out = Dedup.noveltyScore(corpus, ref, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(out(1L) == ((2L, 0L, Some(0.0))), out.toString)
    assert(out(2L) == ((2L, 2L, Some(1.0))), out.toString)
    assert(out(3L) == ((3L, 1L, Some(math.rint(1.0 / 3 * 1e6) / 1e6))), out.toString)
    assert(out(4L) == ((0L, 0L, None)), out.toString)
  }

  test("dedupWeights: cluster members share 1/size, unclustered docs weigh 1.0") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // clusters {1,2,3} and {4,5} as raw edges
    val labels = Dedup.connectedComponentsStar(
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b"), "a", "b")
    val out = Dedup.dedupWeights(ids, labels, "id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1L) == ((3L, math.rint(1.0 / 3 * 1e6) / 1e6)), out.toString)
    assert(out(2L) == out(1L) && out(3L) == out(1L))
    assert(out(4L) == ((2L, 0.5)) && out(5L) == out(4L), out.toString)
    // a sixth id never clustered weighs 1.0
    val lone = Dedup.dedupWeights(Seq(6L).toDF("id"), labels, "id").head()
    assert(lone.getLong(1) == 1L && lone.getDouble(2) == 1.0, lone.toString)
  }

  test("semDedup: pinned-cell assignment, keep-lowest-id per star, cross-cell near-dups survive") {
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val e = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)), // cell 0, cos(1,2)≈0.994 -> dropped
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(0.1f, 0.9f, 0f)), // cell 1, cos(3,4)≈0.994 -> dropped
      (5L, Array(0.6f, -0.8f, 0f)), // cell 0, dissimilar -> kept
      (6L, Array(0.71f, 0.7f, 0f)), // cell 0 ┐ near-identical but split
      (7L, Array(0.7f, 0.71f, 0f)) //  cell 1 ┘ across cells: BOTH kept
    ).toDF("cid", "cvec")
    val out = Dedup.semDedup(e, cents, 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out.view.mapValues(_._2).toMap == Map(1L -> true, 2L -> false,
      3L -> true, 4L -> false, 5L -> true, 6L -> true, 7L -> true), out.toString)
    // assignment: ties and nearness land where the quantizer says
    assert(out(2L)._1 == 0L && out(4L)._1 == 1L)
    assert(out(6L)._1 == 0L && out(7L)._1 == 1L) // the blocking caveat
  }

  test("thresholdSweep: monotone counts, zero levels emit, matches direct filters") {
    val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
    val sh = Dedup.shingles(col("toks"), 3)
    val ts = Seq(0.25, 0.5, 0.75, 1.0)
    val got = Dedup.thresholdSweep(d, "doc_id", sh, ts)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == ts.toSet, got.toString) // every level emits
    // monotone non-increasing in the threshold
    ts.sliding(2).foreach { case Seq(a, b) =>
      assert(got(a)._1 >= got(b)._1 && got(a)._2 >= got(b)._2, got.toString)
    }
    // each level equals the direct minhashPairs filter
    val pairs = Dedup.minhashPairs(d, "doc_id", sh).cache()
    ts.foreach { t =>
      val n = pairs.filter(col("est_jac") >= t).count()
      assert(got(t)._1 == n, s"t=$t: ${got(t)._1} vs $n")
    }
    // exact dup pair (docs 1, 2) keeps est 1.0 alive at the top level
    assert(got(1.0)._1 >= 1 && got(1.0)._2 >= 2, got.toString)
    pairs.unpersist()
  }

  test("containmentPairs: asymmetric — short-in-long scores 1.0 both ways differ") {
    // doc 2 = doc 1 quoted inside extra framing text: containment(1→2)=1,
    // Jaccard far below 1 (the case the union denominator hides)
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words alpha beta gamma delta closing remark trailer"),
      (3L, "totally unrelated content right here")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
    val got = Dedup.containmentPairs(d, "doc_id",
        Dedup.shingles(col("toks"), 3), minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc1 has 2 3-gram shingles, both inside doc2 (7 shingles)
    assert(got((1L, 2L)) == 1.0, got.toString)
    assert(!got.contains((2L, 1L)), got.toString) // 2/7 < 0.5 drops
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // agreement with jaccardPairs' intersection arithmetic: j = i/(na+nb-i)
    // => containment(1->2) = i/na with i=2, na=2, nb=7 -> jac = 2/7
    val jac = Dedup.jaccardPairs(d, "doc_id",
        Dedup.shingles(col("toks"), 3), 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) == math.rint(2.0 / 7 * 1e6) / 1e6, jac.toString)
  }

  test("containmentPairs: df cap drops boilerplate from sizes and intersections") {
    // 'x y z' appears in every doc (df=4 > cap=3): with the cap it cannot
    // hold pairs together on its own
    val d = Seq(
      (1L, "x y z alpha beta gamma"),
      (2L, "x y z alpha beta gamma"),
      (3L, "x y z other stuff here"),
      (4L, "x y z more different words")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
    val capped = Dedup.containmentPairs(d, "doc_id",
        Dedup.shingles(col("toks"), 3), 0.9, maxShingleDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the true duplicate pair survives, in both directions
    assert(capped == Set((1L, 2L), (2L, 1L)), capped.toString)
  }

  test("sortedNeighborhoodPairs: adjacent near-dups found; window bounds recall") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),       // exact dup of 1 -> adjacent
      (3L, "alpha beta delta gamma"), // near-dup, same prefix region
      (10L, "zeta yotta"), (11L, "zeta xi"), (12L, "zeta omega")
    ).toDF("id", "text")
    val got = Dedup.sortedNeighborhoodPairs(df, "id",
        TextAnalysis.words(col("text")), window = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == 0.75)
    // different first sorted token -> different partition, never compared
    assert(!got.keySet.exists { case (a, b) => a <= 3 && b >= 10 })
  }

  test("sortedNeighborhoodPairs: candidates never exceed n x window") {
    import org.apache.spark.sql.functions._
    val df = (1L to 30L).map(i => (i, s"tok$i common words here"))
      .toDF("id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(df, "id",
      TextAnalysis.words(col("text")), window = 3, minJaccard = 0.0)
    assert(pairs.count() <= 30 * 3)
  }

  test("plantedTwinEval: long distinct docs → perfect recall, counts add up") {
    // long docs with disjoint vocabularies: every planted twin is a
    // near-exact MinHash match, and no incidental cross-doc pair exists
    val docs = (0L until 12L).map { i =>
      (i, (0 until 30).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.plantedTwinEval(docs, "doc_id", "text",
      plantEvery = 4, idOffset = 1000L, threshold = 0.5).head()
    assert(got.getLong(0) == 3L) // ids 0, 4, 8 planted
    assert(got.getLong(2) == got.getLong(1)) // every detection is a plant
    assert(got.getDouble(4) == 1.0) // recall
    assert(got.getDouble(3) == 1.0) // precision (no incidental pairs)
  }

  test("WindowMin.slidingMin matches the naive per-window minimum") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 3, 4, 17, 64); w <- Seq(1, 3, 4, 9)) {
      val a = Array.fill(n)(rnd.nextLong(1000))
      val got = graft.expressions.WindowMin
        .slidingMin(new GenericArrayData(a), w).toLongArray().toSeq
      val want = if (n < w) Seq.empty[Long]
        else (0 to n - w).map(j => a.slice(j, j + w).min)
      assert(got == want, s"n=$n w=$w")
    }
  }

  test("winnowingPairs: shared run >= k+w-1 guarantees a shared fingerprint") {
    val run = (0 until 8).map(j => s"shared$j").mkString(" ") // k+w−1 = 8
    val docs = Seq(
      (1L, s"alpha beta $run gamma delta epsilon zeta"),
      (2L, s"one two three four $run five six seven"),
      (3L, "totally different words with no common n grams at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowingPairs(docs, "doc_id", "text",
      k = 5, w = 4, dfCap = 50, minShared = 1).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(got.head.getLong(2) >= 1L) // the winnowing guarantee
    // identical documents share their entire fingerprint set
    val twin = Seq((1L, run + " tail of text here"),
      (2L, run + " tail of text here")).toDF("doc_id", "text")
    val t = Dedup.winnowingPairs(twin, "doc_id", "text",
      k = 5, w = 4, dfCap = 50, minShared = 1).head()
    assert(t.getLong(2) >= 2L)
  }

  test("fellegiSunterEM: recovers a separable match/non-match mixture") {
    import spark.implicits._
    // plant the generative structure EM should find: 600 match pairs
    // agreeing on nearly every field, 1400 non-match pairs agreeing on
    // almost none. Counts are exact products of the planted per-field
    // rates so the histogram is deterministic.
    def expand(n: Int, rates: Seq[Double]): Seq[(Int, Int, Int)] = {
      // distribute n over the 8 patterns by the independent-field product
      val pats = for (a <- 0 to 1; b <- 0 to 1; c <- 0 to 1) yield (a, b, c)
      pats.flatMap { case (a, b, c) =>
        val pr = Seq(a, b, c).zip(rates)
          .map { case (g, r) => if (g == 1) r else 1 - r }.product
        Seq.fill(math.round(n * pr).toInt)((a, b, c))
      }
    }
    val pairs = (expand(600, Seq(0.9, 0.9, 0.8)) ++
        expand(1400, Seq(0.1, 0.2, 0.1)))
      .toDF("g1", "g2", "g3")
    val got = Dedup.fellegiSunterEM(pairs, Seq("g1", "g2", "g3"), iters = 20)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // all-agree is near-certainly a match, all-disagree near-certainly not
    assert(got("111")._1 > 0.9, s"posterior(111) = ${got("111")._1}")
    assert(got("000")._1 < 0.1, s"posterior(000) = ${got("000")._1}")
    // log-likelihood-ratio weights order with agreement count
    assert(got("111")._2 > 0 && got("000")._2 < 0)
    assert(got("111")._2 > got("110")._2 && got("110")._2 > got("100")._2)
    // determinism: a second run yields the identical frame
    val again = Dedup.fellegiSunterEM(pairs, Seq("g1", "g2", "g3"), iters = 20)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(again == got)
  }

  test("fellegiSunterEM: non-binary gamma fails loud") {
    import spark.implicits._
    val bad = Seq((2, 0, 0), (0, 0, 0)).toDF("g1", "g2", "g3")
    val e = intercept[Exception](
      Dedup.fellegiSunterEM(bad, Seq("g1", "g2", "g3")).collect())
    assert(e.getMessage.contains("0/1"))
  }

  test("connected components on a long path (diameter ≫ log n): both algorithms " +
      "agree and converge in O(log n) rounds") {
    import spark.implicits._
    // 1025-node path graph — diameter 1024, log2 = 10. If either
    // algorithm were O(diameter) it would hit maxIter; both must stay
    // within a small multiple of log2(n).
    val edges = (0L until 1024L).map(i => (i, i + 1)).toDF("a", "b")
    val ml = MinLabelComponents.connectedComponents(edges, "a", "b",
        maxIter = 50, probeEvery = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mlRounds = MinLabelComponents.lastRounds
    assert(ml.size == 1025 && ml.values.forall(_ == 0L))
    // pointer jumping doubles label reach per round: O(log d), NOT
    // O(d) — the property this fixture pins (12 propagation rounds +
    // the convergence-confirming probe round, with slack for the
    // label-link constant)
    assert(mlRounds <= 20, s"min-label took $mlRounds rounds on a path")
    val st = Dedup.connectedComponentsStar(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stRounds = Dedup.ccLastRounds
    assert(st == ml, "star labels != min-label labels")
    assert(stRounds <= 20, s"star alternation took $stRounds rounds on a path")
    info(s"rounds on diameter-1024 path: min-label+jumping $mlRounds, " +
      s"large/small-star $stRounds")
  }

  test("connectedComponentsStar: multi-component graphs, singleton via self-loop, determinism") {
    import spark.implicits._
    // two components + an isolated self-loop node + duplicate edges
    val edges = Seq((5L, 9L), (9L, 3L), (3L, 5L), (20L, 21L), (21L, 20L),
      (40L, 40L)).toDF("a", "b")
    val got = Dedup.connectedComponentsStar(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L,
      40L -> 40L)
    assert(got == want)
    // same answer as the min-label reference
    val ml = MinLabelComponents.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml == want)
  }

  test("fellegiSunterEM: degenerate pair sets stay finite (parameter clamp)") {
    import spark.implicits._
    // every pair agrees on every field: unclamped EM drives p and all
    // m_j to 1 (and u_j to 0/1), making sW = nTot divide the u update
    // by zero and weight = ln(mlik/ulik) = ±Infinity. The
    // [1e-9, 1-1e-9] clamp must keep the trajectory finite.
    val allAgree = Seq.fill(50)((1, 1, 1)).toDF("g1", "g2", "g3")
    val r1 = Dedup.fellegiSunterEM(allAgree, Seq("g1", "g2", "g3"), 20)
      .collect()
    assert(r1.length == 1)
    assert(!r1(0).getDouble(2).isNaN && !r1(0).getDouble(2).isInfinite)
    assert(!r1(0).getDouble(3).isNaN && !r1(0).getDouble(3).isInfinite)
    // one field constant-agree, others mixed: that field's m and u both
    // round toward 1 — likelihoods must stay strictly positive
    val mixed = (Seq.fill(40)((1, 1, 0)) ++ Seq.fill(60)((1, 0, 1)))
      .toDF("g1", "g2", "g3")
    val r2 = Dedup.fellegiSunterEM(mixed, Seq("g1", "g2", "g3"), 20).collect()
    r2.foreach { r =>
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite, r.toString)
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite, r.toString)
    }
  }
}
