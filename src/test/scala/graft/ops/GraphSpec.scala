package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("pageRank: regular graphs stay uniform (rank 1.0 is the fixed point)") {
    // a symmetric cycle: every node has in = out = 2, so rank 1.0 maps to
    // 0.15 + 0.85 * (1.0/2 + 1.0/2) = 1.0 exactly, every iteration
    val cycle = sym((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val got = Graph.pageRank(cycle, "src", "dst", iterations = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 4 && got.values.forall(_ == 1.0), got.toString)
  }

  test("pageRank: star center accumulates rank; mass is conserved") {
    val star = sym((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val got = Graph.pageRank(star, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val leaves = (1L to 4L).map(got)
    assert(leaves.distinct.size == 1, s"leaves must tie: $got")
    assert(got(0L) > leaves.head * 2, s"center must dominate: $got")
    // no dangling nodes → total mass N is invariant (up to the 9dp rounds)
    assert(math.abs(got.values.sum - 5.0) < 1e-6, got.values.sum.toString)
  }

  test("pageRank: degenerate graphs — empty edges, self-loop, single pair") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, "src", "dst", iterations = 2).count() == 0)
    // a single symmetric pair is 1-regular: fixed point rank 1.0
    val pair = sym((1L, 2L))
    val got = Graph.pageRank(pair, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0))
    // self-loops keep mass in place and don't crash the outdeg math
    val loop = Seq((5L, 5L)).toDF("src", "dst")
    val l = Graph.pageRank(loop, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(l == Map(5L -> 1.0))
  }

  test("labelPropagation: labels stay inside their component; runs are deterministic") {
    // two disjoint triangles — labels can never cross components
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val run1 = Graph.labelPropagation(g, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val run2 = Graph.labelPropagation(g.repartition(5), "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run1 == run2, s"$run1 vs $run2")
    assert(run1.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    val a = Set(1L, 2L, 3L); val b = Set(10L, 11L, 12L)
    assert(a.forall(n => a.contains(run1(n))), run1.toString)
    assert(b.forall(n => b.contains(run1(n))), run1.toString)
  }

  test("labelPropagation: the every-8 truncation bounds plan depth at iterations=20; labels are the converged result") {
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    // plan-size probe: count of nodes in the analyzed logical plan — the
    // lazy checkpoints after rounds 8 and 16 restart the lineage at a
    // leaf, so 20 rounds carry only 4 rounds of plan, like a 4-round run
    val deep = Graph.labelPropagation(g, "src", "dst", iterations = 20)
    val planNodes = deep.queryExecution.analyzed.collect { case p => p }.size
    val four = Graph.labelPropagation(g, "src", "dst", iterations = 4)
    val fourNodes = four.queryExecution.analyzed.collect { case p => p }.size
    assert(planNodes <= fourNodes,
      s"plan depth must stay bounded: 20-round plan has $planNodes nodes " +
        s"vs $fourNodes for a 4-round plan")
    // two triangles converge within 2 synchronous rounds to their
    // smallest ids; the truncated 20-round run must land there too
    val converged = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    val got = deep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == converged, got.toString)
    val plain = Graph.labelPropagation(g, "src", "dst", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == converged, plain.toString)
  }

  test("Rounds.staticSide: hash-partitioned on the key under AQE; the AQE setting survives success and failure") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val e = sym((1L, 2L), (2L, 3L), (3L, 4L))
      val side = Rounds.staticSide(e, "src")
      // the partitioning the rounds' joins rely on to leave this side in place
      side.queryExecution.executedPlan.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.collect { case a: Attribute => a.name } == Seq("src"),
            h.toString)
        case p => fail(s"expected hashpartitioning(src), got $p")
      }
      assert(side.count() == 6)
      assert(spark.conf.get(key) == "true", "AQE setting not restored after success")
      intercept[Exception] {
        Rounds.staticSide(spark.range(4)
          .select(col("id").as("src"), assert_true(col("id") < 2).as("chk")), "src")
      }
      assert(spark.conf.get(key) == "true", "AQE setting not restored after a failure")
    } finally spark.conf.set(key, was)
  }

  test("hits: hubs and authorities separate on a directed bipartite graph") {
    // h1 points at 3 authorities, h2 at 1; a1 is cited by both hubs
    val g = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hits(g, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // max-normalization pins the best hub and best authority at 1.0
    assert(got(1L)._1 == 1.0, s"h1 is the best hub: $got")
    assert(got(10L)._2 == 1.0, s"a1 is the best authority: $got")
    assert(got(2L)._1 > 0.0 && got(2L)._1 < 1.0, got.toString)
    assert(got(11L)._2 > 0.0 && got(11L)._2 < got(10L)._2, got.toString)
    // pure sources have authority 0; pure sinks hub 0
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 0.0, got.toString)
    assert(got(10L)._1 == 0.0 && got(11L)._1 == 0.0, got.toString)
    // deterministic under repartitioning
    val again = Graph.hits(g.repartition(5), "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == again)
  }

  test("bfsDistances: path graph distances, hop cap truncates the frontier") {
    // line 0-1-2-3-4-5, seed at 0
    val line = sym((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val seeds = Seq(0L).toDF("id")
    val got = Graph.bfsDistances(line, "src", "dst", seeds, "id", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"nodes past the 3-hop cap must be absent: $got")
  }

  test("bfsDistances: multi-source takes the nearest seed; revisits never increase") {
    val line = sym((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val seeds = Seq(0L, 4L).toDF("id")
    val got = Graph.bfsDistances(line, "src", "dst", seeds, "id", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L), got.toString)
  }

  test("triangleStats: triangle + pendant edge, direction/duplicate tolerant") {
    // triangle 1-2-3 plus pendant 3-4; fed with both directions and a dup
    val edges = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .unionAll(Seq((2L, 1L)).toDF("src", "dst"))
    val r = Graph.triangleStats(edges, "src", "dst").head()
    // degs: 1→2, 2→2, 3→3, 4→1; wedges = 1+1+3+0 = 5; clustering = 3/5
    assert(r.getLong(0) == 4L, s"n_nodes ${r.getLong(0)}")
    assert(r.getLong(1) == 4L, s"n_edges ${r.getLong(1)}")
    assert(r.getLong(2) == 5L, s"n_wedges ${r.getLong(2)}")
    assert(r.getLong(3) == 1L, s"n_triangles ${r.getLong(3)}")
    assert(r.getDouble(4) == 0.6, s"clustering ${r.getDouble(4)}")
  }

  test("triangleStats: K4 has 4 triangles; triangle-free bipartite has 0") {
    val k4 = sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val rk4 = Graph.triangleStats(k4, "src", "dst").head()
    assert(rk4.getLong(3) == 4L, rk4.toString)
    assert(rk4.getDouble(4) == 1.0, rk4.toString)
    val bip = sym((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
    val rb = Graph.triangleStats(bip, "src", "dst").head()
    assert(rb.getLong(3) == 0L, rb.toString)
  }

  test("kCore: pendant chain peels away, the dense core survives with in-core degrees") {
    // K4 core (1,2,3,4) with a pendant path 4-5-6: k=3 peel removes 6,
    // then 5; node 4's degree drops back to 3 (in-core only)
    val edges = sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val got = Graph.kCore(edges, "src", "dst", k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // k above the max core → empty
    assert(Graph.kCore(edges, "src", "dst", k = 4, rounds = 3).count() == 0)
  }

  test("kCore: cascade — each round's deletions can drop the next node under k") {
    // path 1-2-3-4-5: k=2 peels endpoints each round until nothing is left
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(Graph.kCore(path, "src", "dst", k = 2, rounds = 1).count() == 3)
    assert(Graph.kCore(path, "src", "dst", k = 2, rounds = 2).count() == 0)
  }

  test("pageRank: matches a hand-rolled reference iteration on a random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.tabulate(30)(_ =>
      (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = sym(pairs: _*)
    val es = pairs ++ pairs.map(p => (p._2, p._1))
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var ranks = es.map(_._1).distinct.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      val contrib = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => ranks(s) / outdeg(s) }.sum
      }
      ranks = contrib.map { case (id, c) =>
        id -> BigDecimal(0.15 + 0.85 * c)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = Graph.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == ranks.keySet)
    got.foreach { case (id, r) =>
      assert(math.abs(r - ranks(id)) < 1e-8, s"node $id: $r vs ${ranks(id)}")
    }
  }

  test("localClustering: triangle corners credited, lcc hand-checked") {
    // K3 {1,2,3} + pendant 4 on node 1 + isolated edge 5-6
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = Graph.localClustering(e, "a", "b")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // node 1: deg 3, 1 triangle, lcc = 2*1/(3*2) = 1/3
    assert(got(1L) == ((3L, 1L, Some(math.rint(1.0 / 3 * 1e6) / 1e6))))
    // nodes 2, 3: deg 2, 1 triangle, lcc = 1
    assert(got(2L) == ((2L, 1L, Some(1.0))) && got(3L) == got(2L))
    // pendant and isolated-edge nodes: deg 1 -> null lcc, zero triangles
    assert(got(4L) == ((1L, 0L, None)) && got(5L) == ((1L, 0L, None)))
    // sanity: per-node triangle credits sum to 3x the global count
    val stats = Graph.triangleStats(e, "a", "b").collect().head
    assert(got.values.map(_._2).sum == 3 * stats.getLong(3))
  }

  test("adamicAdar: rare shared neighbors outweigh hubs; cap prunes; hand-checked") {
    // suppliers 1,2 share customers 10 (deg 2) and 11 (deg 3);
    // suppliers 1,3 share only customer 11; customer 12 is a deg-4 hub
    val e = Seq(
      (1L, 10L), (2L, 10L),
      (1L, 11L), (2L, 11L), (3L, 11L),
      (1L, 12L), (2L, 12L), (3L, 12L), (4L, 12L)
    ).toDF("s", "c")
    def rd(x: Double) = math.rint(x * 1e6) / 1e6
    val got = Graph.adamicAdar(e, "s", "c", maxDegree = 10, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // (1,2): common {10, 11, 12} -> 1/ln2 + 1/ln3 + 1/ln4
    assert(got((1L, 2L)) ==
      ((3L, rd(1 / math.log(2) + 1 / math.log(3) + 1 / math.log(4)))),
      got.toString)
    // (1,3): {11, 12}; (3,4): {12} only
    assert(got((1L, 3L)) == ((2L, rd(1 / math.log(3) + 1 / math.log(4)))))
    assert(got((3L, 4L)) == ((1L, rd(1 / math.log(4)))))
    // cap 3 drops hub 12 from every score and count
    val capped = Graph.adamicAdar(e, "s", "c", maxDegree = 3, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(capped((1L, 2L)) ==
      ((2L, rd(1 / math.log(2) + 1 / math.log(3)))), capped.toString)
    assert(!capped.contains((3L, 4L)), capped.toString)
  }

  test("personalizedPageRank: mass concentrates near seeds; unreachable = absent") {
    // two disconnected stars: 1-{2,3} and 10-{11,12}; seed only node 1
    val g = sym((1L, 2L), (1L, 3L), (10L, 11L), (10L, 12L))
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.personalizedPageRank(g, "src", "dst", seeds, "id",
        iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the other component never receives mass — absent or exactly 0
    assert(!Set(10L, 11L, 12L).exists(n => got.getOrElse(n, 0.0) != 0.0),
      got.toString)
    // seed holds the base restart mass plus returned walk mass
    assert(got(1L) > 0.15 && got(2L) > 0.0 && got(2L) < got(1L), got.toString)
    // hand-rolled 1-iteration check: r1(2) = 0.85 * (r0(1)/outdeg(1)) = 0.85/2
    val one = Graph.personalizedPageRank(g, "src", "dst", seeds, "id",
        iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one(2L) == 0.425 && one(3L) == 0.425, one.toString)
    assert(one(1L) == 0.15, one.toString) // no in-mass yet, only restart
  }
}
