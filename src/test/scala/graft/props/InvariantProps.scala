package graft.props

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.{Aggregates, Cleansing, Dedup, MergeUpdate, MinLabelComponents, Reshape}

/** Property-based invariants (SURVEY.md §5.3): unpivot row-count
  * conservation, aggregate sum preservation + idempotence, merge-update
  * frame invariants. Small generated frames, but the properties are the
  * ones that must hold at any scale.
  */
object InvariantProps extends Properties("graft.invariants") {

  private lazy val spark = graft.GraftSession.local(4)

  private val genCell: Gen[Option[String]] = Gen.frequency(
    3 -> Gen.choose(0, 10).map(n => Some(n.toString)),
    1 -> Gen.const(Some("n/a")),
    1 -> Gen.const(Some(" 7 ")),
    1 -> Gen.const(None))

  private val genRow: Gen[(Long, Seq[Option[String]])] = for {
    rid <- Gen.choose(1L, 1000000L)
    cells <- Gen.listOfN(7, genCell)
  } yield (rid, cells)

  private def wideDf(rows: List[(Long, Seq[Option[String]])]): DataFrame = {
    import spark.implicits._
    rows.map { case (rid, cs) =>
      (rid, cs(0), cs(1), cs(2), cs(3), cs(4), cs(5), cs(6))
    }.toDF("rid", "h_lunedi", "h_martedi", "h_mercoledi", "h_giovedi",
      "h_venerdi", "h_sabato", "h_domenica")
  }

  property("melt conserves non-null cells") =
    forAll(Gen.nonEmptyListOf(genRow)) { rows =>
      val df = wideDf(rows)
      val melted = Reshape.meltWeek(df, idCols = Seq("rid"))
      val nonNullIn = rows.map(_._2.count(_.isDefined)).sum
      melted.filter(col("ore_raw").isNotNull).count() == nonNullIn &&
        melted.count() == rows.size * 7L
    }

  property("setJoinSum preserves the measure sum and is idempotent") =
    forAll(Gen.nonEmptyListOf(for {
      k <- Gen.choose(1, 5); c <- Gen.oneOf("A", "B", "C")
      v <- Gen.choose(0, 100)
    } yield (k, c, v.toDouble))) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "c", "v")
      val agg = Aggregates.setJoinSum(df, Seq("k"), "c", "v").cache()
      val sumIn = rows.map(_._3).sum
      val sumOut = agg.agg(sum("v")).head().getDouble(0)
      val keysUnique = agg.groupBy("k").count().filter(col("count") > 1).count() == 0
      // idempotence (A3 semantics): re-aggregating the aggregate is identity
      val again = Aggregates.setJoinSum(agg, Seq("k"), "c", "v")
      val same = again.exceptAll(agg).count() == 0 && agg.exceptAll(again).count() == 0
      math.abs(sumIn - sumOut) < 1e-6 && keysUnique && same
    }

  property("updateOnly preserves target cardinality and untouched rows") =
    forAll(
      Gen.nonEmptyListOf(for {
        k <- Gen.choose(1, 20); v <- Gen.choose(0, 100)
      } yield (k, v.toDouble)),
      Gen.listOf(for {
        k <- Gen.choose(1, 30); v <- Gen.choose(200, 300)
      } yield (k, v.toDouble))) { (targetRows, updateRows) =>
      import spark.implicits._
      val target = targetRows.distinctBy(_._1).toDF("k", "v")
      val updates = updateRows.distinctBy(_._1).toDF("k", "v")
      val merged = MergeUpdate.updateOnly(target, updates, Seq("k"), Map("v" -> "v"))
      val updatedKeys = updateRows.map(_._1).toSet
      val untouched = merged.filter(!col("k").isin(updatedKeys.toSeq: _*))
      val untouchedIn = target.filter(!col("k").isin(updatedKeys.toSeq: _*))
      merged.count() == target.count() &&
        untouched.exceptAll(untouchedIn).count() == 0
    }

  property("upsert: |out| = |target| + |new keys|; untouched rows identical; updates verbatim") =
    forAll(
      Gen.nonEmptyListOf(for {
        k <- Gen.choose(1, 20); v <- Gen.choose(0, 100)
      } yield (k, v.toDouble)),
      Gen.listOf(for {
        k <- Gen.choose(1, 30); v <- Gen.choose(200, 300)
      } yield (k, v.toDouble))) { (targetRows, updateRows) =>
      import spark.implicits._
      val target = targetRows.distinctBy(_._1).toDF("k", "v")
      val updates = updateRows.distinctBy(_._1).toDF("k", "v")
      val merged = MergeUpdate.upsert(target, updates, Seq("k"), Map("v" -> "v"))
      val targetKeys = targetRows.map(_._1).toSet
      val updateKeys = updateRows.map(_._1).toSet
      val got = merged.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val updMap = updateRows.distinctBy(_._1).toMap
      val tgtMap = targetRows.distinctBy(_._1).toMap
      merged.count() == (targetKeys ++ updateKeys).size &&
        got.forall { case (k, v) =>
          if (updateKeys(k)) v == updMap(k) else v == tgtMap(k)
        }
    }

  property("cleanHours never yields null; null/garbage raw maps to 0") =
    forAll(Gen.listOfN(20, genCell)) { cells =>
      import spark.implicits._
      val df = cells.map(c => Tuple1(c.orNull)).toDF("raw")
        .select(Cleansing.cleanHours(col("raw")).as("v"))
      df.filter(col("v").isNull).count() == 0
    }

  property("shingle count is max(0, n - 2) for 3-grams") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "d"))) { toks =>
      import spark.implicits._
      val df = Seq(Tuple1(toks)).toDF("toks")
        .select(size(Dedup.shingles(col("toks"), 3)).as("n"))
      df.head().getInt(0) == math.max(0, toks.size - 2)
    }

  property("asofJoinBackward matches the per-row scan reference") =
    forAll(
      Gen.listOf(for {
        k <- Gen.choose(0, 4); t <- Gen.choose(0L, 50L)
      } yield (k, t)),
      Gen.listOf(for {
        k <- Gen.choose(0, 4); t <- Gen.choose(0L, 50L); v <- Gen.choose(1, 999)
      } yield (k, t, v.toDouble))) { (leftRows, rightRows) =>
      leftRows.isEmpty || {
        import spark.implicits._
        import graft.ops.Temporal
        // unique (k, t) on the right — the as-of determinism contract
        val rightU = rightRows.groupBy(r => (r._1, r._2))
          .map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
        val left = leftRows.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
          .toDF("id", "k", "t")
        val right = rightU
          .map { case (k, t, v) => (k, new java.sql.Timestamp(t * 1000), v) }
          .toDF("k", "rt", "pay")
        val got = Temporal.asofJoinBackward(left, right, Seq("k"), "t", "rt", Seq("pay"))
          .collect()
          .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
          .toMap
        val want = leftRows.zipWithIndex.map { case ((k, t), i) =>
          val cand = rightU.filter(r => r._1 == k && r._2 <= t)
          i.toLong -> (if (cand.isEmpty) None
                       else Some(cand.maxBy(_._2)._3))
        }.toMap
        got == want
      }
    }

  // reference CC by union-find, to check the distributed label propagation
  private def ccReference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  property("connectedComponents matches union-find on random graphs") =
    forAll(Gen.listOf(for {
      a <- Gen.choose(0L, 25L); b <- Gen.choose(0L, 25L) if a != b
    } yield (a, b))) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val got = MinLabelComponents.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == ccReference(edges)
      }
    }

  private def captureStderr[T](f: => T): (T, String) = {
    val bos = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(bos, true))
    try { val r = f; (r, bos.toString("UTF-8")) }
    finally System.setErr(old)
  }

  // deep graphs are the stress case for label propagation: a PATH of n
  // nodes has diameter n-1, so naive propagation needs n rounds. The
  // pointer-jumping rounds (v→rep(v) link edges) must converge in
  // O(log d) — well under the maxIter=50 default even for diameters that
  // would exhaust it naively. Each distinct n costs a full multi-round
  // distributed CC, so the generator draws from sampled depths and the
  // result is memoized (ScalaCheck still exercises every sampled depth).
  private val deepCcCache = scala.collection.mutable.Map.empty[Int, Boolean]

  private def pathEdges(n: Int): Seq[(Long, Long)] =
    (0L until n.toLong).sliding(2).map(p => (p(0), p(1))).toSeq

  property("connectedComponents: O(log d) rounds on path graphs (d ≈ n)") =
    forAll(Gen.oneOf(16, 23, 33, 48, 64, 96)) { n =>
      deepCcCache.getOrElseUpdate(n, {
        import spark.implicits._
        val (labels, err) = captureStderr {
          // log2(96) ≈ 6.6; 12 rounds is comfortable for pointer jumping
          // (plus the equal-sum confirmation probe) and impossible for
          // naive O(d) propagation at n > 12
          MinLabelComponents.connectedComponents(pathEdges(n).toDF("a", "b"),
              "a", "b", maxIter = 12)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        (0L until n.toLong).forall(i => labels.get(i).contains(0L)) &&
          !err.contains("NOT converged")
      })
    }

  private val warnCcCache = scala.collection.mutable.Map.empty[Int, Boolean]

  property("connectedComponents: warning fires when maxIter is too small") =
    forAll(Gen.oneOf(16, 32, 48)) { n =>
      warnCcCache.getOrElseUpdate(n, {
        import spark.implicits._
        val (_, err) = captureStderr {
          MinLabelComponents.connectedComponents(pathEdges(n).toDF("a", "b"),
              "a", "b", maxIter = 1)
            .collect()
        }
        err.contains("NOT converged")
      })
    }

  // random "documents" over a 6-word alphabet so 2-gram collisions are common
  private val genDoc: Gen[String] =
    Gen.listOf(Gen.oneOf("ga", "bu", "zo", "meu", "pim", "pam"))
      .map(_.mkString(" "))

  property("decontaminate = brute-force n-gram-overlap filter; idempotent") =
    forAll(
      Gen.nonEmptyListOf(genDoc).map(_.take(12)),
      Gen.nonEmptyListOf(genDoc).map(_.take(4))) { (corpusDocs, benchDocs) =>
      import spark.implicits._
      val n = 2
      def grams(t: String): Set[String] =
        t.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.size == n)
          .map(_.mkString(" ")).toSet
      val corpus = corpusDocs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bench = benchDocs.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val benchGrams = benchDocs.flatMap(grams).toSet
      val want = corpusDocs.zipWithIndex
        .filter { case (t, _) => grams(t).intersect(benchGrams).isEmpty }
        .map(_._2.toLong).toSet
      val clean = Dedup.decontaminate(corpus, bench, "doc_id", "text", n)
      val got = clean.select("doc_id").as[Long].collect().toSet
      val twice = Dedup.decontaminate(clean, bench, "doc_id", "text", n)
        .select("doc_id").as[Long].collect().toSet
      got == want && twice == got
    }

  property("TopK.perKey == rank-window formulation on random frames") =
    forAll(
      Gen.nonEmptyListOf(for {
        k <- Gen.oneOf("a", "b", "c"); v <- Gen.choose(0, 50)
      } yield (k, v)),
      Gen.choose(1, 4)) { (rows, k) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = rows.zipWithIndex
        .map { case ((key, v), i) => (key, i.toLong, v.toDouble) }
        .toDF("k", "id", "v")
      val custom = graft.ops.TopK.perKey(df, Seq("k"),
          Seq("v" -> false, "id" -> true), k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
      val windowed = df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      custom == windowed
    }

  property("nfcNormalize: idempotent, and composed/decomposed spellings converge") =
    forAll(Gen.listOf(Gen.frequency(
      5 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.oneOf("e\u0301", "a\u0300", "o\u0302", "u\u0308"), // decomposed
      2 -> Gen.oneOf("\u00e9", "\u00e0", "\u00f4", "\u00fc"),     // precomposed
      1 -> Gen.const(" "))).map(_.mkString)) { s =>
      import spark.implicits._
      val df = Seq(s).toDF("t")
      val once = df.select(graft.ops.TextAnalysis.nfcNormalize(col("t")))
        .as[String].head()
      val twice = Seq(once).toDF("t")
        .select(graft.ops.TextAnalysis.nfcNormalize(col("t")))
        .as[String].head()
      once == twice &&
        once == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }

  property("CdcChunks: boundaries are offset-invariant — suffix chunks survive any prefix") =
    forAll(for {
      n <- Gen.choose(8, 40)
      run <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      np <- Gen.choose(0, 5)
      pfx <- Gen.listOfN(np, Gen.oneOf("p", "q", "r"))
    } yield (run, pfx)) { case (run, pfx) =>
      // pure driver-side eval of the expression kernel — no Spark job per
      // case (a distributed op per ScalaCheck case costs minutes)
      def chunks(toks: Seq[String]): Seq[Long] =
        graft.expressions.CdcChunks.chunkHashes(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)),
          2, 2).toLongArray().toSeq
      val a = chunks(run)
      val b = chunks(pfx ++ run)
      // every interior boundary of `run` recurs at the shifted offset and
      // no new boundary can appear after the first shared one, so B's tail
      // chunks equal A's — the CDC property fixed-width spans lack
      a.size < 2 || b.takeRight(a.size - 1) == a.tail
    }

  property("segmentDedup conserves segments; one keeper per distinct segment") =
    forAll(Gen.nonEmptyListOf(genDoc).map(_.take(10))) { docs =>
      import spark.implicits._
      val segWords = 2
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.segmentDedup(df, "doc_id", "text", segWords)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      def segsOf(t: String): Seq[String] =
        t.split("\\s+").filter(_.nonEmpty).grouped(segWords)
          .map(_.mkString(" ")).toSeq
      val allSegs = docs.zipWithIndex
        .flatMap { case (t, i) => segsOf(t).map(s => (i.toLong, s)) }
      // kept + dropped = total segments; kept = |distinct segment values|;
      // the min-id doc never loses anything it said first — which for the
      // overall-first doc with segments is everything
      val conserves = out.map(t => t._2 + t._3).sum == allSegs.size
      val oneKeeper = out.map(_._2).sum == allSegs.map(_._2).distinct.size
      conserves && oneKeeper
    }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b
    } yield (a, b)).map(_.distinct.take(20))

  property("pageRank conserves total mass on symmetric graphs") =
    forAll(genEdges) { pairs =>
      import spark.implicits._
      val edges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
        .toDF("src", "dst")
      val n = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.size
      val ranks = graft.ops.Graph.pageRank(edges, "src", "dst",
        iterations = 4).collect().map(_.getDouble(1))
      // symmetric → no dangling mass: Σ rank stays N (up to 9dp rounds)
      ranks.size == n && math.abs(ranks.sum - n) < 1e-5
    }

  property("hllDistinct is partitioning-invariant and duplicate-blind") =
    forAll(Gen.choose(1, 400), Gen.choose(1, 8)) { (card, parts) =>
      import spark.implicits._
      val base = (1 to card).map(i => ("g", s"v$i"))
      val dup = base ++ base.take(card / 2)
      val a = graft.ops.Sketches.hllDistinct(
        base.toDF("g", "v").repartition(parts), "g", col("v"))
        .head().getDouble(1)
      val b = graft.ops.Sketches.hllDistinct(
        dup.toDF("g", "v").coalesce(1), "g", col("v"))
        .head().getDouble(1)
      a == b && math.abs(a - card) / card < 0.3 // ~4.6σ at m=256
    }

  property("weightedSample draws min(k, |stratum|) rows, stable under repartition") =
    forAll(Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 500L); g <- Gen.oneOf("x", "y")
      w <- Gen.choose(1L, 9999L)
    } yield (id, g, w)).map(_.distinctBy(_._1)), Gen.choose(1, 6)) { (rows, k) =>
      import spark.implicits._
      val df = rows.toDF("id", "g", "w")
      val got = graft.ops.TextAnalysis.weightedSample(df, "id", "g", "w", k)
        .select("g", "id").as[(String, Long)].collect().toSet
      val again = graft.ops.TextAnalysis.weightedSample(
          df.repartition(5), "id", "g", "w", k)
        .select("g", "id").as[(String, Long)].collect().toSet
      val sizesOk = rows.groupBy(_._2).forall { case (g, rs) =>
        got.count(_._1 == g) == math.min(k, rs.size)
      }
      val subset = got.forall { case (g, id) => rows.exists(r => r._1 == id && r._2 == g) }
      sizesOk && subset && got == again
    }

  property("cms is one-sided (est >= exact) and partitioning-invariant") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 40)), Gen.choose(1, 6)) { (keys, parts) =>
      import spark.implicits._
      val df = keys.map(k => s"key$k").toDF("v")
      val counters = graft.ops.Sketches.cmsCounters(
        df.repartition(parts), col("v"), depth = 3, width = 8)
      val exact = df.groupBy("v").agg(count(lit(1)).as("exact"))
      val got = graft.ops.Sketches.cmsEstimate(
          counters, exact, "v", depth = 3, width = 8)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val oneSided = got.forall { case (ex, est) => est >= ex }
      val again = graft.ops.Sketches.cmsCounters(
          df.coalesce(1), col("v"), depth = 3, width = 8)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val stable = counters.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet == again
      oneSided && stable
    }

  property("kmv: exact below k, estimate within 4/sqrt(k) above, merge-stable") =
    forAll(Gen.choose(1, 600), Gen.choose(1, 6)) { (card, parts) =>
      import spark.implicits._
      val k = 32
      val df = (1 to card).map(i => ("g", s"item$i")).toDF("g", "v")
      val r = graft.ops.Sketches.kmvDistinct(df.repartition(parts), "g", col("v"), k)
        .head()
      val (kept, est) = (r.getLong(1), r.getDouble(2))
      if (card < k) kept == card && est == card.toDouble
      else kept == k && math.abs(est - card) / card < 4.0 / math.sqrt(k)
    }

  // short names over a 3-letter alphabet: maximal edit-space density, so
  // every completeness hole in the deletion-variant candidate generation
  // would surface as a missing pair vs the exhaustive quadratic path
  private val genShortName: Gen[String] = for {
    len <- Gen.choose(0, 6)
    cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
  } yield cs.mkString

  property("fuzzyPairsSymDel ≡ blocked-quadratic fuzzyPairs (complete and exact)") =
    forAll(
      Gen.listOfN(12, genShortName),
      Gen.listOfN(12, Gen.oneOf("A", "B"))) { (names, blks) =>
      import spark.implicits._
      val recs = names.zip(blks).zipWithIndex
        .map { case ((n, b), i) => (i.toLong, n, b) }
        .toDF("id", "name", "blk")
      def m(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      m(Dedup.fuzzyPairsSymDel(recs, "id", "name", "blk", maxDist = 2)) ==
        m(Dedup.fuzzyPairs(recs, "id", "name", "blk", maxDist = 2))
    }

  // ── round-5 ops ──

  private val genDocs: Gen[List[(Long, String)]] = Gen.nonEmptyListOf(for {
    id <- Gen.choose(1L, 1000000L)
    toks <- Gen.nonEmptyListOf(Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
  } yield (id, toks.mkString(" ")))
    .map(_.distinctBy(_._1))

  property("containment/jaccard algebra: 1/j = 1/c_ab + 1/c_ba - 1; c >= j") =
    forAll(genDocs) { docs =>
      import spark.implicits._
      val d = docs.toDF("doc_id", "text")
        .select(col("doc_id"), graft.ops.TextAnalysis.words(col("text")).as("toks"))
      val sh = Dedup.shingles(col("toks"), 2)
      val jac = Dedup.jaccardPairs(d, "doc_id", sh, 0.000001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val con = Dedup.containmentPairs(d, "doc_id", sh, 0.000001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      jac.forall { case ((a, b), j) =>
        val (ca, cb) = (con((a, b)), con((b, a)))
        // 6dp rounding amplifies through 1/x by x² — with j possibly as
        // small as 1/128 the identity holds only to ~3e-2
        ca >= j - 1e-6 && cb >= j - 1e-6 &&
          math.abs(1 / j - (1 / ca + 1 / cb - 1)) < 0.05
      }
    }

  property("featureHash conserves per-doc token counts for any bucket width") =
    forAll(genDocs, Gen.choose(2, 64)) { (docs, b) =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.featureHash(df, "doc_id", "text", b)
        .groupBy("doc_id").agg(sum("cnt").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.forall { case (id, text) =>
        got(id) == text.split(" ").length.toLong
      }
    }

  property("holtLinear is exact on linear series: level = last, trend = slope") =
    forAll(Gen.choose(2, 40), Gen.choose(-50, 50), Gen.choose(-1000, 1000)) {
      (n, slope, intercept) =>
        import spark.implicits._
        val pts = (1 to n).map(i =>
          ("k", i, (intercept + slope.toDouble * i)))
        val r = graft.ops.Temporal.holtLinear(
          pts.toDF("k", "i", "v"), "k", "i", "v", 0.5, 0.3, 3)
          .collect().head
        r.getInt(1) == n &&
          r.getDouble(2) == intercept + slope.toDouble * n &&
          r.getDouble(3) == slope.toDouble &&
          r.getDouble(4) == intercept + slope.toDouble * (n + 3) &&
          r.getDouble(5) == 0.0
    }

  private val genEvents: Gen[List[(Long, Int, String)]] =
    Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 6L)
      t <- Gen.choose(0, 500)
      e <- Gen.oneOf("a", "b", "c", "x")
    } yield (u, t, e)).map(_.distinctBy(r => (r._1, r._2)))

  property("windowFunnel: levels monotone non-increasing, partition-invariant") =
    forAll(genEvents, Gen.choose(1, 8)) { (evs, parts) =>
      import spark.implicits._
      def run(df: DataFrame) = graft.ops.Temporal.windowFunnel(
        df.withColumn("ts", col("t").cast("timestamp")),
        "u", "ts", "e", Seq("a", "b", "c"), expr("INTERVAL 100 SECONDS"))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val df = evs.toDF("u", "t", "e")
      val lv = run(df)
      lv.size == 3 && lv(1) >= lv(2) && lv(2) >= lv(3) &&
        run(df.repartition(parts)) == lv
    }
}
