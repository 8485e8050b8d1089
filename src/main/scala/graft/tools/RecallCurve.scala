package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the recall@k curve of the cell-blocked binary serving paths
  * ([[graft.ops.Similarity.topKHammingCells]] symmetric XOR vs
  * [[graft.ops.Similarity.topKAsymCells]] asymmetric ±qᵢ) against the
  * exact-cosine brute ground truth, per nProbe — the measurement behind
  * the README recall tables (re-run it after retraining the pinned
  * quantizer or changing the candidate budget).
  *
  *   sbt "runMain graft.tools.RecallCurve /root/testdata/sf0.01"
  *   sbt "runMain graft.tools.RecallCurve /root/testdata/sf0.01 clustered"
  *
  * The first form runs the near-uniform driver `embeddings` table
  * against the PINNED 16-cell quantizer (the q322/q329 serving rows).
  * The `clustered` form is the round-10 fixture the round-9 verdict
  * asked for: a PLANTED-cluster corpus (16 Gaussian clusters, three
  * spreads, seeded and fully deterministic) with a quantizer
  * Lloyd-trained on each corpus — measuring how the same serving paths
  * behave when cells genuinely carry signal, instead of asserting it.
  *
  * Deterministic end to end: pinned/trained centroids, integer/6dp
  * scoring, id tie-breaks, seeded fixture — every table reproduces
  * bit-identically per corpus.
  */
object RecallCurve {

  /** Planted-cluster corpus: `nClusters` centers ~ N(0,1)^dim, each
    * point = its cluster center + `spread`·N(0,1) noise, round-robin
    * cluster assignment by id. Seeded java.util.Random → identical
    * across runs and JVMs. */
  def clusteredCorpus(
      spark: SparkSession,
      n: Int,
      dim: Int,
      nClusters: Int,
      spread: Double,
      seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      val v = Array.tabulate(dim)(j =>
        (c(j) + spread * rnd.nextGaussian()).toFloat)
      (i.toLong, v)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** The recall@5 table for one corpus: symmetric / asymmetric /
    * exact-cosine-ceiling per nProbe, plus the full-scan reference. */
  def table(
      spark: SparkSession,
      e: DataFrame,
      cents: Array[Array[Double]],
      label: String): Unit = {
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val k = 5
    def hits(df: DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "cid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = hits(graft.ops.Similarity.topKBrute(queries, corpus, k))
    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).count(t).toDouble / t.size
      }
      math.rint(per.sum / per.size * 1000) / 1000
    }
    println(s"── $label ──")
    println(f"recall@$k vs exact cosine (candK=30, 16-cell quantizer)")
    println("nProbe  sym-hamming  asym  RESID-1bit  RESID-int8  cell-ceiling(exact-cos)")
    Seq(4, 6, 8).foreach { np =>
      val sym = recall(hits(graft.ops.Similarity.topKHammingCells(
        queries, corpus, cents, dim = 64, candK = 30, k = k, nProbe = np)))
      val asym = recall(hits(graft.ops.Similarity.topKAsymCells(
        queries, corpus, cents, dim = 64, candK = 30, k = k, nProbe = np)))
      val resid = recall(hits(graft.ops.Similarity.topKResidualCells(
        queries, corpus, cents, dim = 64, candK = 30, k = k, nProbe = np)))
      val r8 = recall(hits(graft.ops.Similarity.topKInt8ResidualCells(
        queries, corpus, cents, dim = 64, candK = 30, k = k, nProbe = np)))
      // ceiling: exact cosine over EVERY candidate in the probed cells —
      // what any candidate scorer could at best achieve at this nProbe
      val ceil = recall(hits(graft.ops.Similarity.topKIvfCentroids(
        queries, corpus, cents, k = k, nProbe = np)))
      println(f"$np%6d  $sym%11.3f  $asym%4.3f  $resid%10.3f  $r8%10.3f  $ceil%23.3f")
    }
    // the candidate-budget knob: candK trades rerank rows for recall
    val r8w = recall(hits(graft.ops.Similarity.topKInt8ResidualCells(
      queries, corpus, cents, dim = 64, candK = 100, k = k, nProbe = 4)))
    println(f"RESID-int8 at candK=100, nProbe=4: $r8w%.3f")
    val brute = recall(hits(graft.ops.Similarity.topKBinaryRerank(
      queries, corpus, dim = 64, candK = 30, k = k)))
    println(f"full-scan hamming rerank (q277 posture): $brute%.3f")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val clustered = args.contains("clustered")
    val spark = graft.GraftSession.fromEnv()
    if (clustered) {
      // spread 0.25 ≈ tight topical clusters, 0.5 ≈ overlapping topics,
      // 1.0 ≈ clusters as wide as the center spread (≈ uniform limit)
      for (spread <- Seq(0.25, 0.5, 1.0)) {
        val e = clusteredCorpus(spark, n = 3000, dim = 64,
          nClusters = 16, spread = spread, seed = 20261017L)
          .localCheckpoint()
        val corpus = e.select(col("vec_id").as("cid"),
          col("embedding").as("cvec"))
        val cents = graft.ops.Similarity.trainIvfLloyd(corpus, nCells = 16)
        table(spark, e, cents, f"planted 16 clusters, spread $spread%.2f " +
          "(quantizer Lloyd-trained on this corpus)")
      }
    } else {
      val e = graft.ops.Sources.table(spark, sfDir, "embeddings")
      table(spark, e, graft.fixtures.PinnedIndex.ivfCentroidsV1,
        s"driver embeddings at $sfDir (near-uniform, pinned quantizer)")
    }
    spark.stop()
  }
}
