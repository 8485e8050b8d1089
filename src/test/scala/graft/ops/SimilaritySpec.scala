package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: orthogonal 0, parallel 1, anti-parallel -1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(2f, 4f)),
      (Array(1f, 0f), Array(-3f, 0f))
    ).toDF("a", "b")
    val got = df.select(round(Similarity.cosine(col("a"), col("b")), 9))
      .as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0, -1.0))
  }

  test("topKBrute: exact ranking, self excluded, ties broken by id") {
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0f, 1f)), (13L, Array(1f, 0f))
    ).toDF("cid", "cvec")
    val queries = Seq((10L, Array(1f, 0f))).toDF("qid", "qvec")
    val got = Similarity.topKBrute(queries, corpus, 2)
      .orderBy("rnk").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 13L), (2, 11L))) // 13 is cos=1.0; self (10) excluded
  }

  test("topKIvf returns a subset of brute-force candidates with identical scores") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("cell"))
    val ivf = Similarity.topKIvf(q,
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("label").as("cell")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val brute = Similarity.topKBrute(q.drop("cell"),
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), 10000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(ivf.nonEmpty)
    // every ivf hit appears in the deep brute list with the same score
    ivf.foreach { case (k, v) => assert(brute.get(k).contains(v), s"$k") }
  }

  test("topKLsh: hits subset of brute force with identical scores, decent recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val lsh = Similarity.topKLsh(q, c, 5, dim = 64, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val brute = Similarity.topKBrute(q, c, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (k, v) => assert(brute.get(k).contains(v), s"$k") }
    // recall@5 floor vs exact top-5. Near-uniform random vectors are the
    // LSH worst case (no cluster structure, single probe): this only
    // guards against a broken bucketing, not a quality bar.
    val bruteTop5 = Similarity.topKBrute(q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = lsh.keySet.count(bruteTop5) / bruteTop5.size.toDouble
    assert(recall > 0.1, s"recall@5 = $recall")
  }

  test("topKLshMultiProbe: recall >= single-probe recall, scores exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = hits(Similarity.topKLsh(q, c, 5, dim = 64, nBits = 4))
    val multi = hits(Similarity.topKLshMultiProbe(q, c, 5, dim = 64, nBits = 4))
    val bruteTop5 = hits(Similarity.topKBrute(q, c, 5))
    val rs = single.count(bruteTop5) / bruteTop5.size.toDouble
    val rm = multi.count(bruteTop5) / bruteTop5.size.toDouble
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(rm > 0.3, s"recall@5 multi-probe = $rm")
  }

  test("trainIvfLloyd + topKIvfCentroids: subset of brute, exact scores, full probe == brute, partitioning-invariant") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val cents = Similarity.trainIvfLloyd(c, nCells = 8)
    // the trainer is bit-deterministic regardless of input partitioning
    // (the property the retired ml-lib KMeans path could not give)
    val cents1 = Similarity.trainIvfLloyd(c.repartition(13), nCells = 8)
    assert(cents.map(_.toSeq).toSeq == cents1.map(_.toSeq).toSeq)
    val p2 = hits(Similarity.topKIvfCentroids(q, c, cents, 5, nProbe = 2))
    val p8 = hits(Similarity.topKIvfCentroids(q, c, cents, 5, nProbe = 8))
    val brute = hits(Similarity.topKBrute(q, c, 10000))
    p2.foreach { case (k, v) => assert(brute.get(k).contains(v), s"$k") }
    // probing every cell IS brute force
    val bruteTop5 = hits(Similarity.topKBrute(q, c, 5))
    assert(p8 == bruteTop5)
    val r2 = p2.keySet.count(bruteTop5.keySet) / bruteTop5.size.toDouble
    assert(r2 > 0.2, s"recall@5 nProbe=2: $r2")
    // the pinned sf0.01-trained index serves this corpus too: exact
    // scores, subset of brute (correctness is corpus-independent)
    val pinned = hits(Similarity.topKIvfCentroids(q, c,
      graft.fixtures.PinnedIndex.ivfCentroidsV1, 5, nProbe = 2))
    pinned.foreach { case (k, v) => assert(brute.get(k).contains(v), s"$k") }
  }

  test("topKIvfSampled: subset of brute with exact scores; full probe == brute") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val p2 = hits(Similarity.topKIvfSampled(q, c, 5, nCells = 8, nProbe = 2))
    val brute = hits(Similarity.topKBrute(q, c, 10000))
    p2.foreach { case (k, v) => assert(brute.get(k).contains(v), s"$k") }
    // probing every cell IS brute force (cells partition the corpus)
    val p8 = hits(Similarity.topKIvfSampled(q, c, 5, nCells = 8, nProbe = 8))
    assert(p8 == hits(Similarity.topKBrute(q, c, 5)))
    // deterministic: no RNG/training state — identical reruns
    assert(p2 == hits(Similarity.topKIvfSampled(q, c, 5, nCells = 8, nProbe = 2)))
  }

  test("topKPqSeeded: deterministic, decent recall, all-candidates == brute set") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q2 = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val pq = Similarity.topKPqSeeded(q2, c, k = 5, dim = 64, candMult = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.topKBrute(q2, c, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size == brute.size)
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"seeded-PQ recall@5 vs brute: $recall%.3f")
    assert(recall >= 0.4) // seeded codebooks trail trained ones; re-rank is exact
    // candMult large enough to keep every candidate -> exact == brute ids
    val all = Similarity.topKPqSeeded(q2, c, k = 5, dim = 64, candMult = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == brute)
  }

  test("VecDot: native expression is bit-identical to the HOF fold on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val both = e.as("a").crossJoin(e.as("b"))
      .select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("native"),
        Similarity.dotHof(col("a.embedding"), col("b.embedding")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("VecDot: null elements, ragged lengths, and null inputs all yield NULL like the HOF fold") {
    val df = Seq(
      (1L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)), // clean
      (2L, Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)), // null elem
      (3L, Array[java.lang.Double](1.0, 2.0, 3.0), Array[java.lang.Double](3.0, 4.0)), // ragged
      (4L, null, Array[java.lang.Double](3.0, 4.0))) // null input
      .toDF("id", "a", "b")
    val nulls = df.select(col("id"),
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(nulls(1L) == ((false, false)))
    assert(nulls(2L) == ((true, true)))
    assert(nulls(3L) == ((true, true)))
    assert(nulls(4L) == ((true, true)))
  }

  test("pqTrain + topKPqWithBooks: ADC candidates + exact re-rank recover most brute-force neighbors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val books = Similarity.pqTrain(Similarity.l2normalized(c, "cvec"),
      m = 8, ksub = 16)
    val pq = Similarity.topKPqWithBooks(q, c, books, k = 5, candMult = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.topKBrute(q, c, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size == brute.size)
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"PQ recall@5 vs brute: $recall%.3f")
    assert(recall >= 0.6)
    // deterministic: retraining gives identical books and result set
    val books2 = Similarity.pqTrain(
      Similarity.l2normalized(c.repartition(7), "cvec"), m = 8, ksub = 16)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq ==
      books2.map(_.map(_.toSeq).toSeq).toSeq)
    val pq2 = Similarity.topKPqWithBooks(q, c, books2, k = 5, candMult = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq2 == pq)
    // the pinned sf0.01-trained books serve this corpus with the same
    // exactness contract: candMult -> all keeps every candidate == brute
    val all = Similarity.topKPqWithBooks(q, c,
      graft.fixtures.PinnedIndex.pqBooksV1, k = 5, candMult = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == brute)
  }

  test("hardNegatives: nearest same-cell non-pair member; ties to lower id; cross-cell and pair members excluded") {
    val corpus = Seq(
      (1L, Array(1f, 0f), 0L),    // anchor
      (2L, Array(0.9f, 0.1f), 0L), // positive
      (3L, Array(0.8f, 0.2f), 0L), // the hard negative
      (4L, Array(0f, 1f), 0L),     // far
      (5L, Array(1f, 0f), 1L),     // identical to anchor but other cell
      (6L, Array(0.8f, 0.2f), 0L)) // same cos as 3 -> tie, 3 wins
      .toDF("cid", "cvec", "cell")
    val pairs = Seq((1L, 2L)).toDF("anchor", "positive")
    val got = Similarity.hardNegatives(pairs, corpus).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 3L)), r.toString)
    assert(r.getDouble(3) > 0.96 && r.getDouble(3) < 1.0, r.toString)
    // minCos floor: no candidate clears 0.999 -> the pair drops
    assert(Similarity.hardNegatives(pairs, corpus, minCos = 0.999).isEmpty)
  }

  test("quantizeInt8: hand-checked codes, endpoints exact, constant vector all-zero") {
    val df = Seq(
      (1L, Array(0f, 1f, 2f)),       // sc = 2/255; codes 0, 127, 255
      (2L, Array(3f, 3f, 3f))        // constant: sc = 0, codes all 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // codes: floor(0)=0, floor(127.5)=127, floor(255)=255 (capped) -> sum 382
    assert(got(1L)._1 == 0.0 && got(1L)._2 == 2.0 && got(1L)._3 == 382L)
    // err = (1 - 127*(2/255))^2 / 3 = 5.126e-6 -> 6dp
    assert(got(1L)._4 == 0.000005)
    assert(got(2L) == ((3.0, 3.0, 0L, 0.0)))
  }

  test("vec_dot is SQL-callable once GraftExtensions' builder is registered") {
    // the suite's session loads GraftExtensions, which registers vec_dot
    val got = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(got == 11.0)
  }

  test("lshBucket: deterministic and equal for identical vectors") {
    val df = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.5f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)))
      .toDF("id", "v")
      .select(col("id"), Similarity.lshBucket(col("v"), dim = 8, nBits = 8).as("b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    assert(got.values.forall(b => b >= 0 && b < 256))
  }

  test("embeddingDrift: stable dim scores ~0, shifted dim alarms; out-of-range clamps") {
    import spark.implicits._
    // dim 0: identical uniform spread on both sides -> psi 0, no alarm;
    // dim 1: uniform ref vs all-mass-at-max cur (one value far out of
    // the ref range, clamping into the edge bin) -> large psi, alarm
    val ref = (0 until 20).map(i => Tuple1(Array((i % 10).toFloat, (i % 10).toFloat)))
      .toDF("embedding")
    val cur = (0 until 20).map(i => Tuple1(Array((i % 10).toFloat,
      if (i == 0) 99f else 9f))).toDF("embedding")
    val out = Similarity.embeddingDrift(ref, cur, "embedding", nBins = 10)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    assert(out(0)._1 == 0.0 && !out(0)._2, out.toString)
    assert(out(1)._1 > 0.2 && out(1)._2, out.toString)
  }

  test("probeRecallCurve: hand-checked recall per level; widening probes never lose recall") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val corpus = Seq(
      (10L, Array(1f, 0f)),    // cell 0
      (20L, Array(0.6f, 0.8f)),// cell 1 (closer to [0,1])
      (30L, Array(0f, 1f))     // cell 1
    ).toDF("cid", "cvec")
    // q=[0.8,0.6] probes cell 0 first (-2·0.8+1 = -0.6 < -2·0.6+1);
    // brute top-2 = {20 (cos .96), 10 (cos .8)}; probe 1 sees only cell
    // 0 -> {10} (recall .5); probe 2 sees both cells -> recall 1.0
    val queries = Seq((1L, Array(0.8f, 0.6f))).toDF("qid", "qvec")
    val out = Similarity
      .probeRecallCurve(queries, corpus, cents, k = 2, probes = Seq(1, 2))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1) == ((1L, 0.5)), out.toString)
    assert(out(2) == ((1L, 1.0)), out.toString)
    assert(out(1)._2 <= out(2)._2) // monotone in probe width
  }

  test("binaryQuantize/topKHamming: packing bits and hand-counted distances") {
    import spark.implicits._
    // 64-dim vectors: v1 all positive, v2 flips dims 0 and 35, v3 all
    // non-positive (zero counts as 0 — sign of 0 is not set)
    val base = Array.fill(64)(1f)
    val v2 = base.clone(); v2(0) = -1f; v2(35) = 0f
    val v3 = Array.fill(64)(0f)
    val df = Seq((1L, base), (2L, v2), (3L, v3)).toDF("id", "v")
    val packed = Similarity.binaryQuantize(df, "id", "v", dim = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(packed(1L) == ((0xFFFFFFFFL, 0xFFFFFFFFL)))
    assert(packed(2L) == ((0xFFFFFFFEL, 0xFFFFFFFFL ^ (1L << 3))))
    assert(packed(3L) == ((0L, 0L)))
    val got = Similarity.topKHamming(
        df.filter(col("id") === 1).select(col("id").as("qid"), col("v").as("qvec")),
        df.select(col("id").as("cid"), col("v").as("cvec")),
        dim = 64, k = 2)
      .collect().map(r => r.getLong(2) -> (r.getInt(1), r.getInt(3))).toMap
    assert(got(2L) == ((1, 2)))  // 2 flipped bits -> nearest
    assert(got(3L) == ((2, 64))) // all bits differ
  }

  test("topKBinaryRerank: with candK = corpus size the rerank equals brute") {
    import spark.implicits._
    val vecs = (1L to 12L).map { i =>
      (i, Array.tabulate(64)(d => math.sin(i * 13.0 + d).toFloat))
    }
    val corpus = vecs.toDF("cid", "cvec")
    val queries = vecs.take(2).map { case (id, v) => (id + 100, v) }
      .toDF("qid", "qvec")
    val brute = Similarity.topKBrute(queries, corpus, k = 4)
      .select("qid", "rnk", "cid", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val rerank = Similarity
      .topKBinaryRerank(queries, corpus, dim = 64, candK = 12, k = 4)
      .select("qid", "rnk", "cid", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rerank == brute)
  }

  test("matryoshkaRecall: full-width arm is recall 1.0; prefix arm measures loss") {
    import spark.implicits._
    // first 2 dims carry one ordering, the last dim reverses it for id 30
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f, 0f)), (20L, Array(0.9f, 0.1f, 0f, 0f)),
      (30L, Array(0.5f, 0.5f, 0f, 5f)), (40L, Array(0f, 1f, 0f, 0f))
    ).toDF("cid", "cvec")
    val queries = Seq((1L, Array(1f, 0f, 0f, 1f))).toDF("qid", "qvec")
    val got = Similarity
      .matryoshkaRecall(queries, corpus, k = 2, dims = Seq(2, 4))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(got(4) == 1.0) // full width reproduces the ground truth
    // at width 2 the q-side last-dim signal is gone: 30 (the true top-1,
    // cos driven by the shared 4th dim) drops out of the top-2
    assert(got(2) < 1.0, got.toString)
  }

  test("matryoshkaRecall: a corpus smaller than k still scores full recall 1") {
    import spark.implicits._
    // the shrunken-ScalaCheck regression: 1 candidate, k = 2 — recall
    // divides by |ground truth|, so the full-width arm is 1.0, not 1/k
    val corpus = Seq((0L, Array(1f, 2f, 3f))).toDF("cid", "cvec")
    val queries = Seq((1000L, Array(1f, 2f, 3f))).toDF("qid", "qvec")
    val got = Similarity
      .matryoshkaRecall(queries, corpus, k = 2, dims = Seq(2, 3))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(got(3) == 1.0 && got(2) == 1.0)
  }

  test("pcaProject: recovers the dominant axis on axis-aligned data") {
    import spark.implicits._
    // zero-mean, exactly diagonal covariance: C = diag(10/3, 1/300);
    // the component ratio shrinks 3e-4 per power step, so 30 rounds
    // leave v = (1, 0) exactly after 9dp rounding
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(-1f, 0f)),
      (3L, Array(3f, 0f)), (4L, Array(-3f, 0f)),
      (5L, Array(0f, 0.1f)), (6L, Array(0f, -0.1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, "vec_id", "embedding", dim = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // projections = the first coordinate (v = e1, mu = 0)
    assert(got(1L)._1 == 1.0 && got(2L)._1 == -1.0)
    assert(got(3L)._1 == 3.0 && got(4L)._1 == -3.0)
    assert(got(5L)._1 == 0.0 && got(6L)._1 == 0.0)
    // var_explained = (20/6) / (20/6 + 0.02/6) at the rounded moments
    val c00 = math.rint(20.0 / 6 * 1e9) / 1e9
    val c11 = math.rint(0.02 / 6 * 1e9) / 1e9
    val exp = math.rint(c00 / (c00 + c11) * 1e6) / 1e6
    assert(got(1L)._2 == exp, s"got ${got(1L)._2}, want $exp")
  }

  test("pcaProject: projections are mean-centered (sum ~ 0) on shifted data") {
    import spark.implicits._
    // same shape as above but shifted +5 on both axes: centering must
    // remove the offset, leaving the identical projections
    val df = Seq(
      (1L, Array(6f, 5f)), (2L, Array(4f, 5f)),
      (3L, Array(8f, 5f)), (4L, Array(2f, 5f)),
      (5L, Array(5f, 5.1f)), (6L, Array(5f, 4.9f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, "vec_id", "embedding", dim = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum) < 1e-6, got.toString)
    assert(got(3L) == 3.0 && got(4L) == -3.0, got.toString)
  }

  test("bitextMine: true pairs score high margin, hubs score ~1") {
    // src basis vectors e0, e1, e2; dst has an exact translation of each
    // plus a "hub" equidistant from everything — margin demotes the hub
    def v(xs: Float*) = xs.toArray
    val src = Seq(
      (0L, v(1f, 0f, 0f, 0f)), (1L, v(0f, 1f, 0f, 0f)),
      (2L, v(0f, 0f, 1f, 0f))).toDF("sid", "svec")
    val dst = Seq(
      (10L, v(0.9f, 0.1f, 0f, 0f)), (11L, v(0.1f, 0.9f, 0f, 0f)),
      (12L, v(0f, 0.1f, 0.9f, 0f)),
      (13L, v(0.5f, 0.5f, 0.5f, 0.5f))) // the hub
      .toDF("did", "dvec")
    val got = Similarity.bitextMine(src, dst, k = 3, minMargin = 1.0)
      .orderBy("sid")
      .select("sid", "did", "margin", "mutual").collect()
    // every source finds its translation, mutually
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 10L), (1L, 11L), (2L, 12L)))
    assert(got.forall(_.getInt(3) == 1))
    assert(got.forall(_.getDouble(2) > 1.1)) // clear margin over the hub
  }

  test("bitextMine margin is scale-invariant in the raw cosine sense") {
    // doubling every dst vector changes no cosine, hence no output
    def v(xs: Float*) = xs.toArray
    val src = Seq((0L, v(1f, 0f)), (1L, v(0.6f, 0.8f))).toDF("sid", "svec")
    val dst1 = Seq((10L, v(0.8f, 0.6f)), (11L, v(0f, 1f))).toDF("did", "dvec")
    val dst2 = dst1.select(col("did"),
      transform(col("dvec"), x => x * 2.0f).as("dvec"))
    val a = Similarity.bitextMine(src, dst1, k = 2, minMargin = 0.1)
      .orderBy("sid").collect().toSeq
    val b = Similarity.bitextMine(src, dst2, k = 2, minMargin = 0.1)
      .orderBy("sid").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("embeddingDecontam: argmax benchmark, threshold flag, tie to low bid") {
    def v(xs: Float*) = xs.toArray
    val corpus = Seq(
      (1L, v(1f, 0f)),   // identical to bench 10 → cos 1, flagged
      (2L, v(0.9f, 0.1f)), // close to bench 10
      (3L, v(0f, 1f))    // orthogonal to 10, identical to 20 → flagged
    ).toDF("cid", "cvec")
    val bench = Seq((10L, v(1f, 0f)), (20L, v(0f, 1f))).toDF("bid", "bvec")
    // cos((0.9,0.1),(1,0)) = 0.993884 — the 0.995 bar keeps it clean
    val got = Similarity.embeddingDecontam(corpus, bench, tau = 0.995)
      .orderBy("cid").collect()
    assert(got(0).getAs[Long]("bench_id") == 10L &&
      got(0).getAs[Double]("max_cos") == 1.0 &&
      got(0).getAs[Int]("contaminated") == 1)
    assert(got(1).getAs[Long]("bench_id") == 10L &&
      got(1).getAs[Int]("contaminated") == 0)
    assert(got(2).getAs[Long]("bench_id") == 20L &&
      got(2).getAs[Int]("contaminated") == 1)
    // exact cosine tie across two benchmarks resolves to the LOWER bid
    val tie = Seq((7L, v(1f, 1f))).toDF("cid", "cvec")
    val benches = Seq((30L, v(1f, 0f)), (29L, v(0f, 1f))).toDF("bid", "bvec")
    val t = Similarity.embeddingDecontam(tie, benches, tau = 0.99).head()
    assert(t.getAs[Long]("bench_id") == 29L)
  }

  test("kCenterGreedy: picks the farthest point each round, seed = min id") {
    def v(xs: Float*) = xs.toArray
    val corpus = Seq(
      (1L, v(1f, 0f)), (2L, v(1f, 0.01f)), (3L, v(0f, 1f)), (4L, v(-1f, 0f))
    ).toDF("cid", "cvec")
    val got = Similarity.kCenterGreedy(corpus, k = 3).orderBy("rank")
      .collect()
    // seed 1 (sentinel 2.0) → antipode 4 (dist 2.0) → orthogonal 3 (1.0);
    // the near-duplicate 2 is never picked
    assert(got.map(_.getAs[Long]("cid")).toSeq == Seq(1L, 4L, 3L))
    assert(got.map(_.getAs[Double]("dist")).toSeq == Seq(2.0, 2.0, 1.0))
  }

  test("kCenterGreedy: stops at perfect coverage instead of duplicating") {
    def v(xs: Float*) = xs.toArray
    // k > n: after both distinct directions are picked every residual
    // distance is 0 — the loop must stop, not re-select a picked cid
    val corpus = Seq((1L, v(1f, 0f)), (2L, v(0f, 1f))).toDF("cid", "cvec")
    val got = Similarity.kCenterGreedy(corpus, k = 5).orderBy("rank")
      .collect()
    assert(got.map(_.getAs[Long]("cid")).toSeq == Seq(1L, 2L))
    // all-duplicate corpus (distinct cids, one direction): seed only
    val dup = Seq((1L, v(1f, 1f)), (2L, v(2f, 2f)), (3L, v(0.5f, 0.5f)))
      .toDF("cid", "cvec")
    val g2 = Similarity.kCenterGreedy(dup, k = 3).collect()
    assert(g2.map(_.getAs[Long]("cid")).toSeq == Seq(1L))
  }

  test("pqDistortion: m rows, non-negative errors, sane utilization") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.ops.Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val books = graft.fixtures.PinnedIndex.pqBooksV1
    val got = Similarity.pqDistortion(e, books).orderBy("s").collect()
    assert(got.length == books.length)
    got.foreach { r =>
      assert(r.getAs[Double]("mse") >= 0.0)
      assert(r.getAs[Long]("codes_used") >= 1L &&
        r.getAs[Long]("codes_used") <= books.head.length)
      val u = r.getAs[Double]("code_util")
      assert(u > 0.0 && u <= 1.0)
      assert(r.getAs[Long]("n_vectors") == 500L)
    }
  }

  test("residual kernels: micro-int laws against a driver-side reference") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftbridge.Bridge
    val dim = 8
    val cents = Seq(
      Seq(0.5, -0.25, 0.125, 0.0, 1.0, -1.0, 0.75, -0.5),
      Seq(-0.5, 0.25, 0.0, 0.5, -1.0, 1.0, -0.75, 0.5))
    val vecs = Seq(
      (0L, Array(0.6f, -0.2f, 0.1f, 0.05f, 1.1f, -0.9f, 0.7f, -0.45f), 0),
      (1L, Array(-0.4f, 0.3f, -0.05f, 0.55f, -1.2f, 0.8f, -0.7f, 0.6f), 1),
      (2L, Array(0.5f, -0.25f, 0.125f, 0.0f, 1.0f, -1.0f, 0.75f, -0.5f), 0))
    val df = vecs.toDF("id", "v", "cell")
    def k(mk: (org.apache.spark.sql.catalyst.expressions.Expression,
        org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
      Bridge.column(mk(Bridge.expression(col("v")), Bridge.expression(col("cell"))))
    val got = df.select(col("id"),
        k((v, c) => graft.expressions.ResidualSignPack(v, c, cents, dim)).as("w"),
        k((v, c) => graft.expressions.ResidualScale(v, c, cents, dim)).as("b"),
        k((v, c) => graft.expressions.CentroidDot(v, c, cents, dim)).as("a"),
        k((v, c) => graft.expressions.Int8ResidualPack(v, c, cents, dim)).as("c8"),
        k((v, c) => graft.expressions.Int8ResidualScale(v, c, cents, dim)).as("s8"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getLong(2), r.getLong(3), r.getSeq[Long](4),
          r.getLong(5))).toMap
    def micro(x: Double) = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    for ((id, v, cell) <- vecs) {
      val c = cents(cell).map(micro)
      val r = v.map(_.toDouble).map(micro).zip(c).map { case (a, b) => a - b }
      val (w, b, a, c8, s8) = got(id)
      // 1-bit pack = strict-positive residual signs
      val bits = (0 until dim).map(i => (w(i / 32) >> (i % 32)) & 1L)
      assert(bits == r.map(x => if (x > 0) 1L else 0L).toSeq, s"id $id words")
      assert(b == r.map(math.abs).sum / dim, s"id $id beta")
      assert(a == v.map(_.toDouble).map(micro).zip(c)
        .map { case (q, cc) => q * cc }.sum, s"id $id A")
      val sm = r.map(math.abs).max
      assert(s8 == sm, s"id $id s8")
      val codes = (0 until dim).map { i =>
        val b = (c8(i / 8) >>> ((i % 8) * 8)) & 0xffL
        (b << 56) >> 56 // sign-extend the byte
      }
      val wantCodes = r.map(x => if (sm == 0) 0L
        else java.math.BigDecimal.valueOf(x * 127.0 / sm)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
      assert(codes == wantCodes.toSeq, s"id $id codes")
      // the exact-centroid row (id 2) has zero residual everywhere
      if (id == 2L) assert(b == 0L && s8 == 0L && c8.forall(_ == 0L))
    }
  }

  test("residual serving: int8 tier ranks exact-dot neighbors on a planted-cluster fixture") {
    import org.apache.spark.sql.functions.col
    // two tight clusters; within-cluster neighbors differ only in tiny
    // residuals — raw signs collapse (every member shares the center's
    // pattern), residual codes must still rank the true neighbor first
    val c0 = Array.fill(16)(1.0f)
    val c1 = Array.fill(16)(-1.0f)
    def jitter(base: Array[Float], seed: Int): Array[Float] = {
      val rnd = new java.util.Random(seed)
      base.map(x => x + 0.01f * rnd.nextFloat())
    }
    val rows = (0 until 10).map(i => (i.toLong, jitter(c0, i))) ++
      (10 until 20).map(i => (i.toLong, jitter(c1, i)))
    val e = rows.toDF("vec_id", "embedding")
    val cents = Array(c0.map(_.toDouble), c1.map(_.toDouble))
    val queries = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // candK covers the whole cluster so the exact-cosine rerank decides
    // the final order (the ADC score approximates the DOT product, not
    // cosine — with fewer candidates the two can disagree on entry)
    val got = Similarity.topKInt8ResidualCells(queries, corpus, cents,
        dim = 16, candK = 10, k = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute exact-cosine reference
    val brute = Similarity.topKBrute(queries, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == brute,
      s"int8 residual top-3 != exact top-3 within probed cluster: $got vs $brute")
    // and every returned neighbor is same-cluster (nProbe=1 probes the
    // query's own cell only)
    got.foreach { case ((q, _), c) => assert((q < 10) == (c < 10)) }
  }
}
