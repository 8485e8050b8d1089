package graft.ops

import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Differential check against Spark's own GraphX `staticPageRank` — an
  * independent implementation of the same fixed-iteration update
  * (rank = 0.15 + 0.85 · Σ in(rank/outdeg), init 1.0). Agreement within
  * float tolerance validates the DataFrame formulation end to end. */
class GraphXParitySpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches GraphX staticPageRank on a random symmetric graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(60)(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (pairs ++ pairs.map(p => (p._2, p._1))).distinct

    val ours = Graph.pageRank(sym.toDF("src", "dst"), "src", "dst",
        iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val xg = XGraph.fromEdges(
      spark.sparkContext.parallelize(sym.map { case (a, b) => Edge(a, b, 1) }),
      defaultValue = 1.0)
    val theirs = xg.staticPageRank(numIter = 5, resetProb = 0.15)
      .vertices.collect().toMap

    assert(ours.keySet == theirs.keySet.map(_.toLong))
    ours.foreach { case (id, r) =>
      assert(math.abs(r - theirs(id)) < 1e-6,
        s"node $id: ours $r vs graphx ${theirs(id)}")
    }
  }

  test("bfsDistances matches GraphX ShortestPaths on a random symmetric graph") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.tabulate(80)(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val seeds = Seq(0L, 7L, 13L)

    // hop cap larger than any diameter here → full distances
    val ours = Graph.bfsDistances(sym.toDF("src", "dst"), "src", "dst",
        seeds.toDF("id"), "id", maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val xg = XGraph.fromEdges(
      spark.sparkContext.parallelize(sym.map { case (a, b) => Edge(a, b, 1) }),
      defaultValue = 1.0)
    val theirs = org.apache.spark.graphx.lib.ShortestPaths
      .run(xg, seeds.filter(s => sym.exists(e => e._1 == s || e._2 == s)))
      .vertices.collect().toMap
      .map { case (id, m) => id -> m.values.reduceOption(math.min) }
      .collect { case (id, Some(d)) => id.toLong -> d.toLong }

    // GraphX reports every vertex (unreachable = no map entry, dropped
    // above); ours reports only seeds-reachable nodes — same key set
    assert(ours == theirs, s"ours $ours vs graphx $theirs")
  }

  test("triangleStats matches GraphX TriangleCount's total on a random graph") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.tabulate(120)(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2).distinct

    val ours = Graph.triangleStats(pairs.toDF("a", "b"), "a", "b")
      .head().getLong(3)

    // GraphX triangleCount counts per vertex; each triangle is counted at
    // all 3 corners → total = sum / 3. Requires canonical src < dst edges
    val canon = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val xg = XGraph.fromEdges(
      spark.sparkContext.parallelize(canon.map { case (a, b) => Edge(a, b, 1) }),
      defaultValue = 1.0)
    val theirs = xg.triangleCount().vertices.map(_._2.toLong).sum() / 3
    assert(ours == theirs, s"ours $ours vs graphx $theirs")
  }

  test("localClustering per-node triangle counts match GraphX TriangleCount") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.tabulate(120)(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct

    val ours = Graph.localClustering(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val xg = XGraph.fromEdges(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Edge(a, b, 1) }),
      defaultValue = 1.0)
    val theirs = xg.triangleCount().vertices.collect().toMap
    val theirDeg = xg.degrees.collect().toMap

    assert(ours.keySet == theirs.keySet.map(_.toLong), "node sets differ")
    ours.foreach { case (id, (deg, tri)) =>
      assert(tri == theirs(id).toLong,
        s"node $id triangles: ours $tri vs graphx ${theirs(id)}")
      assert(deg == theirDeg(id).toLong,
        s"node $id degree: ours $deg vs graphx ${theirDeg(id)}")
    }
  }

  test("connectedComponents matches GraphX on a random sparse graph (min-id labels both sides)") {
    // sparse enough to leave several components; both implementations
    // label every member with the component's MINIMUM vertex id
    val rnd = new scala.util.Random(31)
    val pairs = Seq.tabulate(35)(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct

    val ours = MinLabelComponents.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val xg = XGraph.fromEdges(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Edge(a, b, 1) }),
      defaultValue = 1.0)
    val theirs = xg.connectedComponents().vertices.collect().toMap
      .map { case (id, cc) => id.toLong -> cc.toLong }

    assert(ours == theirs,
      s"diff: ${(ours.toSet diff theirs.toSet) ++ (theirs.toSet diff ours.toSet)}")
    assert(ours.values.toSet.size > 1, "fixture should have several components")
  }
}
