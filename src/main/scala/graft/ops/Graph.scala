package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms expressed as DataFrame joins — the family
  * [[Dedup.connectedComponentsStar]] opened, here the weighted-propagation
  * side (PageRank). Reference analogue: the reference tool has no graph
  * surface; this serves the corpus-curation journeys (rank documents by
  * how central they are in the near-dup/link graph before choosing
  * canonical copies or mixing weights).
  *
  * Scale shape: the edge list is the only big relation. Per iteration:
  * one equi-join of the (id, rank) table onto edges by src (both sides
  * hash-partitioned on the same key, so consecutive iterations reuse the
  * edge partitioning), then one hash-aggregate by dst whose shuffle
  * carries (dst, partial contribution) — map-side combine means the edge
  * stream itself never crosses the wire twice. The fixed-round operators
  * take that pre-partitioned static side and their round loop from
  * [[Rounds]]. Ranks are rounded to 9 decimals each iteration
  * (the DuckDB oracles mirror it): it keeps the float fold
  * deterministic across engines/partitionings (divergence from summation
  * order is ~1e-15 relative, squashed every round) — and bounds nothing
  * else; the iteration count is fixed, not convergence-tested, exactly
  * like production PageRank over web-scale graphs.
  */
object Graph {

  private val Damping = 0.85
  private val Digits = 9

  /** PageRank over a directed edge list (`srcCol`, `dstCol`), damping
    * 0.85. Every node must appear as a source (feed symmetric edges for
    * undirected graphs — the natural form for similarity graphs);
    * dangling-node mass redistribution is deliberately out of scope.
    * Returns (id, rank). */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // static per-source fan-out, computed once and joined every round
    val outdeg = e.groupBy("src")
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val withDeg = Rounds.staticSide(e.join(outdeg, "src"), "src")
    val ranks = withDeg.select(col("src").as("id")).distinct()
      .withColumn("rank", lit(1.0))
    Rounds.run(ranks, iterations) { ranks =>
      withDeg
        .join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(round(lit(1.0 - Damping) +
          lit(Damping) * sum(col("rank") / col("outdeg")), Digits).as("r"))
        .select(col("dst").as("id"), col("r").as("rank"))
    }
  }

  /** Personalized PageRank: random walks RESTART AT THE SEED SET instead
    * of everywhere — `r = (1−d)·1_S + d·A·r` — so rank mass measures
    * proximity to the seeds, not global centrality. THE seed-expansion
    * primitive: grow a labeled whitelist/blocklist of sources through the
    * link graph, rank candidates for audit by closeness to known-good or
    * known-bad nodes. Seeds arrive as a DataFrame (they are data — a
    * labeled table — not plan-time literals). Nodes the walk never
    * reaches carry rank 0 and are absent from the output.
    *
    * Same scale/determinism contract as [[pageRank]] (degree-annotated
    * static side, per-round rounding); the per-round extra over pageRank
    * is one full-outer join against the seed base table, which shuffles
    * only (id, rank)-sized rows. */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outdeg = e.groupBy("src")
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val withDeg = Rounds.staticSide(e.join(outdeg, "src"), "src")
    val seedBase = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("base", lit(1.0 - Damping))
      .localCheckpoint(false)
    val ranks = seedBase.select(col("id"), lit(1.0).as("rank"))
    Rounds.run(ranks, iterations) { ranks =>
      val contrib = withDeg
        .join(ranks, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("outdeg")).as("c"))
        .select(col("dst").as("id"), col("c"))
      contrib.join(seedBase, Seq("id"), "full")
        .select(col("id"),
          round(coalesce(col("base"), lit(0.0)) +
            lit(Damping) * coalesce(col("c"), lit(0.0)), Digits).as("rank"))
    }
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list — PageRank's
    * dual-score sibling: a good hub points at good authorities and a
    * good authority is pointed at by good hubs. Each iteration is the
    * textbook mutual update with MAX-normalization (the max is exact —
    * no float summation enters the normalizer — so scores land in [0,1]
    * deterministically), 9dp-rounded like [[pageRank]] so the
    * per-node float sums stay engine-identical. Fixed `iterations`, the
    * production posture. Returns (id, hub, authority) — a pure source
    * has authority 0, a pure sink hub 0.
    *
    * Scale shape: TWO static sides (the edge list by dst for the hub
    * step, by src for the authority step; the second is re-partitioned
    * from the first's checkpoint, so the edge list is derived once) —
    * each round's joins then
    * shuffle only the (id, score) tables, and the score aggregates are
    * map-side combined. The normalizing max is a 1-row broadcast
    * re-entry (the TF-IDF corpus-stats pattern), never a driver collect.
    * Every round's raw score table is localCheckpointed BEFORE
    * normalization: the max subquery and the normalized output both
    * re-enter that table, so an un-materialized subtree would be
    * recomputed twice per normalization — 2^(2·iterations) recompute of
    * the whole history (measured 31 s → 2.5 s at sf0.01). Unlike
    * [[pageRank]] (one linear lineage, truncated every 8th round),
    * per-half-step truncation here is load-bearing, so HITS keeps its
    * own two-frame loop. */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val eByDst = Rounds.staticSide(e, "dst")
    // from the checkpoint, so the caller's edge frame is evaluated once
    val eBySrc = Rounds.staticSide(eByDst, "src")
    var auth = eByDst.select(col("dst").as("id")).distinct()
      .withColumn("a", lit(1.0))
    var hub: DataFrame = null
    def normalized(raw0: DataFrame, idc: String, vc: String): DataFrame = {
      // materialize once: both the max subquery and the normalized join
      // re-enter this table (see scaladoc — skipping this is exponential)
      val raw = raw0.localCheckpoint(false)
      val mx = raw.agg(max(col(vc)).as("_mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(idc).as("id"),
          round(col(vc) / col("_mx"), Digits).as(vc))
    }
    for (_ <- 1 to iterations) {
      hub = normalized(
        eByDst.join(auth, col("dst") === col("id"))
          .groupBy("src").agg(sum(col("a")).as("h")), "src", "h")
      auth = normalized(
        eBySrc.join(hub, col("src") === col("id"))
          .groupBy("dst").agg(sum(col("h")).as("a")), "dst", "a")
    }
    hub.join(auth, Seq("id"), "full")
      .select(col("id"),
        coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority"))
  }

  /** Adamic–Adar link-prediction scores over a bipartite incidence list
    * (`leftCol`, `rightCol`): for every LEFT pair sharing ≥ `minCommon`
    * right-neighbors, `AA = Σ_z 1/ln(deg z)` over the shared neighbors z
    * (deg = distinct left nodes of z) plus the raw common count — rare
    * shared neighbors weigh more than ubiquitous ones, THE classic
    * collaborative-filtering / who-to-link feature (Adamic & Adar 2003).
    * A shared neighbor implies deg ≥ 2, so ln(deg) is never 0.
    *
    * Scale shape: the pair space comes from the per-neighbor self-join,
    * which explodes as Σ deg² — `maxDegree` caps it (the [[Dedup
    * .jaccardPairs]] df-cap contract): neighbors above the cap are
    * near-universal hubs carrying ~0 AA weight each (1/ln(deg) → small)
    * and are dropped from scores AND counts; the worst reducer is then
    * bounded by cap². */
  def adamicAdar(
      edges: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDegree: Int = 100,
      minCommon: Int = 2): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    require(minCommon >= 1, "minCommon must be >= 1")
    val e = edges.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .distinct().localCheckpoint()
    val deg = e.groupBy("r").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDegree)
    val kept = e.join(deg, "r")
    kept.as("x").join(kept.as("y"),
        col("x.r") === col("y.r") && col("x.l") < col("y.l"))
      .groupBy(col("x.l").as("id_a"), col("y.l").as("id_b"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("x.deg"))), 6).as("aa"))
      .filter(col("common") >= minCommon)
  }

  /** Synchronous label propagation (community detection): every node
    * adopts the label with the highest neighbor count each round, ties
    * broken by the SMALLER label — the deterministic tie-break is what
    * makes a fixed-iteration run engine-reproducible (textbook LPA
    * breaks ties randomly and is therefore untestable). Labels start as
    * the node ids; `iterations` is fixed, as in [[pageRank]].
    *
    * Scale shape: same skeleton as [[pageRank]] — edges materialized once
    * pre-partitioned on src; per round, one (dst, label) hash-aggregate
    * with map-side combine, then the winning label per dst via a
    * `max_by(label, (n, −label))` hash-aggregate — a sort-free argmax
    * with one (n, label) pair of state per node, replacing a rank window
    * that sorted every node's neighbor-label list. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val edgeP = Rounds.staticSide(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), "src")
    val labels = edgeP.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    Rounds.run(labels, iterations) { labels =>
      edgeP
        .join(labels, col("src") === col("id"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("n"))
        // argmax by (count DESC, label ASC): lexicographic struct max on
        // (n, -label) — a sort-free hash-aggregate whose state is one
        // (n, label) pair per node, where the rank-window formulation it
        // replaces sorted every node's neighbor-label list
        .groupBy(col("dst"))
        .agg(max_by(col("label"),
          struct(col("n"), (-col("label")).as("nl"))).as("label"))
        .select(col("dst").as("id"), col("label"))
    }
  }

  /** Multi-source BFS: unit-weight shortest hop count from any seed,
    * capped at `maxHops` rounds (nodes farther than the cap are absent
    * from the output — the fixed-frontier form production link-graphs
    * use, since diameter-length runs are unbounded). Returns (id, dist).
    *
    * Scale shape: the [[pageRank]] skeleton — edges materialized ONCE
    * pre-partitioned on src, each round joins only the (id, dist) frontier
    * against them and min-merges into the running distance table; the
    * shuffle carries (id, dist) pairs with map-side combine. Distances
    * only ever decrease, so the merge is a plain min hash-aggregate.
    * Unlike pageRank's rebuild-from-join rounds, the merge references the
    * running table TWICE per round (union + join) — without a per-round
    * lazy checkpoint the logical plan doubles every hop (2^rounds source
    * scans), so the distance table is truncated each round. */
  def bfsDistances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      idCol: String,
      maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val edgeP = Rounds.staticSide(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), "src")
    val dist = seeds.select(col(idCol).as("id")).distinct()
      .withColumn("dist", lit(0L))
    Rounds.run(dist, maxHops, rereads = true) { dist =>
      val expanded = edgeP.join(dist, col("src") === col("id"))
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist.unionByName(expanded)
        .groupBy("id").agg(min(col("dist")).as("dist"))
    }
  }

  /** Each undirected edge once, as (a, b) with a < b: either input
    * direction, self-loops and duplicates tolerated. */
  private def undirected(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** The triangle enumeration [[triangleStats]] and [[localClustering]]
    * share, by DEGREE-ORDERED orientation (Ortmann & Brandes / the classic
    * compact-forward trick): each edge points from its lower-(degree, id)
    * endpoint to the higher, so wedge expansion fans out from the
    * LOW-degree side — a star node of degree d contributes 0 wedges as a
    * center instead of d², which is the difference between surviving a
    * power-law graph at 100 TB and a quadratic blowup on the hottest key.
    * Each triangle is generated exactly once, at its rank-minimal wedge
    * (the Suri–Vassilvitskii bound), and closed by one semi-join back
    * against the oriented edges. Returns the undirected edges (a, b), the
    * node degrees (n, deg) and one (lo, h1, h2) row per triangle. */
  private def triangles(
      edges: DataFrame,
      aCol: String,
      bCol: String): (DataFrame, DataFrame, DataFrame) = {
    // und and orient are each read three or more times below
    val und = undirected(edges, aCol, bCol).localCheckpoint()
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val orient = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"),
      when(aFirst, col("db")).otherwise(col("da")).as("dhi"))
      .localCheckpoint()
    val e1 = orient.select(col("lo"), col("hi").as("h1"), col("dhi").as("dh1"))
    val e2 = orient.select(col("lo"), col("hi").as("h2"), col("dhi").as("dh2"))
    // the closing edge between h1 and h2 is oriented (h1 → h2): the wedge
    // condition already ordered them by the orientation rank
    val closed = e1.join(e2, Seq("lo")).filter(
        col("dh1") < col("dh2") ||
          (col("dh1") === col("dh2") && col("h1") < col("h2")))
      .join(orient.select(col("lo").as("h1"), col("hi").as("h2")),
        Seq("h1", "h2"), "left_semi")
    (und, deg, closed)
  }

  /** One-row triangle scorecard over an undirected edge list (either
    * direction, self-loops and duplicates tolerated): node/edge/wedge
    * counts, exact triangle count (the degree-oriented enumeration of
    * [[triangles]]), and the global clustering coefficient
    * 3·triangles / wedges. */
  def triangleStats(
      edges: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val (und, deg, closed) = triangles(edges, aCol, bCol)
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum((col("deg") * (col("deg") - 1) / 2).cast("long")).as("n_wedges"))
    val edgeStats = und.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round((lit(3.0) * col("n_triangles")) / col("n_wedges"), 6)
          .as("global_clustering"))
  }

  /** Per-node local clustering coefficient — [[triangleStats]]' global
    * ratio, resolved to each node: `lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`
    * with T(v) = triangles through v. THE tight-community / bot-ring
    * node feature (a spam clique's members sit near 1.0; organic hubs
    * near 0). Returns every node with (deg, n_tri, lcc); deg < 2 nodes
    * have no defined coefficient → null lcc, zero-triangle nodes keep
    * their row with lcc = 0.
    *
    * Scale shape: identical to [[triangleStats]] — the degree-oriented
    * wedge join closed by the same left-semi join against the oriented
    * edges; each triangle then credits its THREE corners via one 3-way
    * explode, and a node-keyed hash-aggregate counts them. */
  def localClustering(
      edges: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val (_, deg, closed) = triangles(edges, aCol, bCol)
    val triPerNode = closed
      .select(explode(array(col("lo"), col("h1"), col("h2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6)).as("lcc"))
  }

  /** k-core peel: repeatedly delete nodes of degree < `k` (with their
    * edges) for `rounds` fixed iterations, then report the surviving
    * nodes with their in-subgraph degree. After enough rounds this is
    * the k-core (the maximal subgraph of min-degree ≥ k) — the standard
    * dense-community / spam-farm extraction; fixed rounds keep the run
    * engine-reproducible and bounded, like the rest of the iterative
    * family (a converged peel is reached when a round deletes nothing).
    *
    * Scale shape: per round ONE degree hash-aggregate (map-side combined)
    * and two semi-joins of the edge list against the surviving-node set —
    * all keyed on node id; the edge list shrinks monotonically. The edge
    * table is referenced three times per round, so it is lazily
    * checkpointed between rounds (same lineage-doubling hazard as
    * [[bfsDistances]]). */
  def kCore(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      rounds: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val und = undirected(edges, aCol, bCol)
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    Rounds.run(sym, rounds, rereads = true) { sym =>
      val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      sym
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
    }.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
