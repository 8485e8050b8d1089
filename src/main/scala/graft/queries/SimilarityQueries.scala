package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Common._

/** Vector similarity search: brute force, IVF, LSH, PQ, binary and
  * residual cell serving, recall curves and embedding diagnostics. */
private[graft] object SimilarityQueries {

  def all: Seq[Query] = Seq(
    // ───── Similarity: brute-force cosine top-k ─────
    Query("q17_sim_topk", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKBrute(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5)
        .orderBy("qid", "rnk")
    },
      oracle = s"WITH ${Oracles.embCte}, " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0) " +
        s", s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
        "FROM q, e WHERE vec_id <> qid), " +
        "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
        "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),

    // ───── Similarity: IVF-style cell-probed top-k ─────
    Query("q18_sim_topk_ivf", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKIvf(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
              col("label").as("cell")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
            col("label").as("cell")),
          k = 5)
        .orderBy("qid", "rnk")
    },
      oracle = s"WITH ${Oracles.embCte}, " +
        "q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id % 100 = 0) " +
        s", s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
        "FROM q JOIN e ON e.label = q.cell AND e.vec_id <> q.qid), " +
        "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
        "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),

    // ───── Similarity: random-hyperplane LSH-bucketed top-k ─────
    Query("q26_sim_topk_lsh", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKLsh(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, nBits = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors Similarity.lshBucket: hyperplane components are the same
      // deterministic doubles (shortest round-trip repr -> identical bits).
      oracle = {
        val nBits = 4; val dim = 64
        val cellSql = (0 until nBits).map { j =>
          val plane = graft.ops.Similarity.planeComponents(j, dim)
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $plane::DOUBLE[]) > 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"WITH ${Oracles.embCte}, " +
          s"b AS (SELECT vec_id, v, $cellSql AS cell FROM e), " +
          "q AS (SELECT vec_id AS qid, v AS qv, cell FROM b WHERE vec_id % 100 = 0), " +
          s"s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "b.v")}, 6) AS cos " +
          "FROM q JOIN b ON b.cell = q.cell AND b.vec_id <> q.qid), " +
          "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
          "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
      }),

    // ───── Similarity: multi-probe LSH top-k (recall/cost knob) ─────
    Query("q37_sim_topk_multiprobe", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKLshMultiProbe(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, nBits = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors Similarity.topKLshMultiProbe: query probes its own cell plus
      // every cell at Hamming distance 1.
      oracle = {
        val nBits = 4; val dim = 64
        val cellSql = (0 until nBits).map { j =>
          val plane = graft.ops.Similarity.planeComponents(j, dim)
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $plane::DOUBLE[]) > 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        val probeList = ("c0" +: (0 until nBits).map(j => s"xor(c0, ${1L << j})"))
          .mkString("[", ", ", "]")
        s"WITH ${Oracles.embCte}, " +
          s"b AS (SELECT vec_id, v, $cellSql AS cell FROM e), " +
          s"q0 AS (SELECT vec_id AS qid, v AS qv, cell AS c0 FROM b WHERE vec_id % 100 = 0), " +
          s"q AS (SELECT qid, qv, unnest($probeList) AS cell FROM q0), " +
          s"s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "b.v")}, 6) AS cos " +
          "FROM q JOIN b ON b.cell = q.cell AND b.vec_id <> q.qid), " +
          "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
          "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
      }),

    // ───── Similarity: IVF top-k over a deterministic sampled codebook
    // (multi-cell probe; full SQL oracle — the Lloyd-TRAINED index is
    // served by q220 over the pinned fixture) ─────
    Query("q39_sim_topk_ivf_sampled", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKIvfSampled(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, nCells = 16, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors Similarity.topKIvfSampled at nCells=16, nProbe=4: centroids
      // are the first 16 corpus vectors by id (`ORDER BY vec_id LIMIT 16` ≡
      // the Spark side's bounded ordered collect); assignment/probing rank
      // by −2·v·c + ‖c‖² with a cell-ascending tie-break — exactly the
      // struct sort inside Similarity.probeCells. ‖c‖² is a DuckDB
      // list_dot_product here and a Scala `map(sq).sum` literal on the Spark
      // side: both are the same sequential IEEE fold over the same doubles.
      oracle = {
        val nCells = 16; val nProbe = 4
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, " +
          "list_dot_product(v, v) AS cn2 " +
          s"FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nCells)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
          s"q AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
          s"s AS (SELECT qid, cid, round(${Oracles.cosSql("qv", "cv")}, 6) AS cos " +
          "FROM q JOIN corp USING (cell) WHERE cid <> qid), " +
          "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
          "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
      }),

    // ───── Similarity: product-quantized ADC top-k + exact re-rank over
    // hash-seeded codebooks (full SQL oracle — the Lloyd-TRAINED books
    // are served by q221 over the pinned fixture) ─────
    Query("q55_sim_topk_pq", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKPqSeeded(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, m = 8, ksub = 16, candMult = 8)
        .orderBy("qid", "rnk")
    },
      // Mirrors Similarity.topKPqSeeded at dim=64, m=8, ksub=16, candMult=8,
      // k=5. The hash-seeded codebooks are embedded as the SAME doubles the
      // Spark side builds (shortest round-trip repr → identical bits), so
      // encoding (argmin with first-match tie-break ≡ the struct sort in
      // pqAssign), the ADC sum (explicit left-associated chain ≡
      // `reduce(_+_)`), the candMult·k cut, and the exact re-rank all decide
      // identically in both engines.
      oracle = Oracles.simTopKPqBooks(graft.ops.Similarity.pqSeededBooks(8, 16, 64))),

    // ───── int8 scalar quantization of the embedding store: per-vector
    // (min, scale) + code checksum + reconstruction MSE ─────
    Query("q76_embed_quantize", { (s, dir) =>
      Similarity.quantizeInt8(tb(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    },
      // identical arithmetic step-for-step (two divisions, floor, fused
      // square); codes via per-element lambda, mse via index zip
      oracle = "WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx, " +
        "(list_max(v) - list_min(v)) / 255.0 AS sc FROM v), " +
        "c AS (SELECT vec_id, v, mn, mx, sc, list_transform(v, x -> " +
        "CASE WHEN sc = 0 THEN 0 ELSE least(255, floor((x - mn) / sc)::BIGINT) END) AS codes FROM m) " +
        "SELECT vec_id, mn, mx, list_sum(codes)::BIGINT AS code_sum, " +
        "round(list_sum(list_transform(range(len(v)), i -> " +
        "(v[i+1] - (mn + codes[i+1] * sc)) * (v[i+1] - (mn + codes[i+1] * sc)))) / len(v), 6) AS mse " +
        "FROM c ORDER BY vec_id"),

    // ───── per-label embedding centroids (class prototypes): explode to
    // (label, pos), map-side-combined avg — vectors never shuffle ─────
    Query("q81_label_centroids", { (s, dir) =>
      Similarity.labelCentroids(tb(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos")
    },
      oracle = "WITH v AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "e AS (SELECT label, unnest(range(0, len(v))) AS pos, v FROM v), " +
        "x AS (SELECT label, pos, v[pos+1] AS val FROM e) " +
        "SELECT label, pos::INT AS pos, round(avg(val), 6) AS mean, " +
        "count(*)::BIGINT AS n FROM x GROUP BY 1, 2 ORDER BY 1, 2"),

    // ───── ANN recall report: IVF(sampled codebook, nProbe=4) top-5 vs
    // brute-force ground truth per query — the index-quality pre-flight
    // before trusting approximate search at scale. The brute side is the
    // deliberate verify scan (same as q17); production measures recall on
    // a query SAMPLE exactly like this ─────
    Query("q114_ann_recall", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val gt = Similarity.topKBrute(q, c, k = 5)
        .groupBy("qid").agg(collect_set(col("cid")).as("gt"))
      val got = Similarity
        .topKIvfSampled(q, c, k = 5, nCells = 16, nProbe = 4)
        .groupBy("qid").agg(collect_set(col("cid")).as("got"))
      val hits = size(array_intersect(col("gt"),
        coalesce(col("got"), array().cast("array<long>"))))
      gt.join(got, Seq("qid"), "left")
        .select(col("qid"), hits.cast("long").as("n_hit"),
          round(hits / 5.0, 6).as("recall"))
        .orderBy("qid")
    },
      // Mirrors q114: brute-force top-5 (ground truth) vs the sampled-IVF
      // top-5 (same derivations as q17's oracle / q39's oracle),
      // reduced to per-query hit count and recall@5.
      oracle = {
        val nCells = 16; val nProbe = 4
        s"WITH ${Oracles.embCte}, " +
          "q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
          s"bs AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
          "FROM q0, e WHERE vec_id <> qid), " +
          "br AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM bs), " +
          "bt AS (SELECT qid, list(cid) AS gt FROM br WHERE rnk <= 5 GROUP BY 1), " +
          s"cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv, " +
          "list_dot_product(v, v) AS cn2 " +
          s"FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nCells)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
          s"qp AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
          s"as0 AS (SELECT qid, cid, round(${Oracles.cosSql("qv", "cv")}, 6) AS cos " +
          "FROM qp JOIN corp USING (cell) WHERE cid <> qid), " +
          "ar AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM as0), " +
          "at2 AS (SELECT qid, list(cid) AS got FROM ar WHERE rnk <= 5 GROUP BY 1) " +
          "SELECT bt.qid, coalesce(len(list_intersect(bt.gt, at2.got)), 0)::BIGINT AS n_hit, " +
          "round(coalesce(len(list_intersect(bt.gt, at2.got)), 0) / 5.0, 6) AS recall " +
          "FROM bt LEFT JOIN at2 USING(qid) ORDER BY bt.qid"
      }),

    // ───── Similarity: IVF top-k served from the PINNED Lloyd-trained
    // index artifact (fixtures.PinnedIndex — trained offline by the
    // deterministic sampled-Lloyd trainer, shipped as literals the way
    // real ANN systems version their indexes; both engines embed the
    // same centroid doubles) ─────
    Query("q220_ivf_pinned", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKIvfCentroids(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors Similarity.topKIvfCentroids over the PINNED Lloyd-trained
      // index (`graft.fixtures.PinnedIndex.ivfCentroidsV1`, q220): the 16
      // centroids and their ‖c‖² enter as literal VALUES rows — the exact
      // doubles the Spark plan embeds (shortest round-trip repr) — so
      // assignment, probing, and the tie-breaks decide identically.
      oracle = {
        val nProbe = 4
        val cents = graft.fixtures.PinnedIndex.ivfCentroidsV1
        val rows = cents.zipWithIndex.map { case (c, i) =>
          val lits = c.mkString("[", ", ", "]")
          val cn2 = c.map(x => x * x).sum
          s"($i, $lits::DOUBLE[], $cn2)"
        }.mkString(", ")
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES $rows) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
          s"q AS (SELECT vec_id AS qid, v AS qv, cell FROM scored WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
          s"s AS (SELECT qid, cid, round(${Oracles.cosSql("qv", "cv")}, 6) AS cos " +
          "FROM q JOIN corp USING (cell) WHERE cid <> qid), " +
          "r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s) " +
          "SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
      }),

    // ───── Similarity: PQ/ADC top-k + exact re-rank served from the
    // PINNED Lloyd-trained codebooks (q55's serving path, trained index
    // instead of hash-seeded) ─────
    Query("q221_pq_pinned", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKPqWithBooks(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.pqBooksV1, k = 5, candMult = 8)
        .orderBy("qid", "rnk")
    },
      // The same chain over the PINNED Lloyd-trained codebooks
      // (`graft.fixtures.PinnedIndex.pqBooksV1`, q221).
      oracle = Oracles.simTopKPqBooks(graft.fixtures.PinnedIndex.pqBooksV1)),

    // ───── hard-negative mining: for each LSH near-dup (anchor,
    // positive) pair (q217's positives), the same-cell corpus vector
    // most cosine-similar to the anchor that is neither pair member —
    // the second-epoch contrastive negatives; cell-bounded candidates,
    // max_by fold, no rank window ─────
    Query("q227_hard_negatives", { (s, dir) =>
      val docs = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      val pos = Dedup.minhashPairs(docs, "doc_id",
          Dedup.shingles(col("toks"), 3))
        .filter(col("est_jac") >= 0.5)
        .select(col("id_a").as("anchor"), col("id_b").as("positive"))
      val e = tb(s, dir, "embeddings").select(col("vec_id").as("cid"),
        col("embedding").as("cvec"), col("label").cast("long").as("cell"))
      Similarity.hardNegatives(pos, e).orderBy("anchor", "positive")
    },
      // Mirrors Similarity.hardNegatives over q14's LSH positives (q227):
      // per (anchor, positive) pair, the same-cell corpus vector with the
      // highest anchor-cosine that is neither member of the pair; ties to
      // the lower candidate id.
      oracle = s"WITH ${Oracles.minhashCandCte}, " +
        s"pos AS (SELECT id_a AS anchor, id_b AS positive FROM cand " +
        s"WHERE ${Oracles.estJac} >= 0.5), " +
        s"${Oracles.embCte}, " +
        "a AS (SELECT pos.anchor, pos.positive, e.v AS av, e.label " +
        "FROM pos JOIN e ON e.vec_id = pos.anchor), " +
        s"sc AS (SELECT anchor, positive, c.vec_id AS cid, " +
        s"round(${Oracles.cosSql("av", "c.v")}, 6) AS cos " +
        "FROM a JOIN e c ON c.label = a.label " +
        "AND c.vec_id <> a.anchor AND c.vec_id <> a.positive), " +
        "r AS (SELECT anchor, positive, cid, cos, row_number() OVER " +
        "(PARTITION BY anchor, positive ORDER BY cos DESC, cid) AS rn FROM sc) " +
        "SELECT anchor, positive, cid AS negative, cos AS neg_cos " +
        "FROM r WHERE rn = 1 ORDER BY anchor, positive"),

    // ───── IVF tuning curve: mean recall@5 vs nProbe over the pinned
    // index (the ANN sibling of q218's dedup threshold sweep) ─────
    Query("q236_probe_curve", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.probeRecallCurve(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, k = 5,
          probes = Seq(1, 2, 4, 8))
        .orderBy("n_probe")
    },
      // Mirrors Similarity.probeRecallCurve over the pinned IVF index
      // (q236): the q220 assignment chain, brute top-k ground truth (the
      // q17 chain), candidates per probe level via `rn <= n_probe`, hit
      // counts against the ground-truth set, spine left join so empty
      // levels average 0.
      oracle = {
        val probes: Seq[Int] = Seq(1, 2, 4, 8)
        val k: Int = 5
        val spine = probes.mkString("[", ", ", "]")
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, v AS cv, cell FROM scored WHERE rn = 1), " +
          "q AS (SELECT vec_id AS qid, v AS qv, cell, rn FROM scored WHERE vec_id % 100 = 0), " +
          "q0 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
          s"s0 AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
          "FROM q0, e WHERE vec_id <> qid), " +
          "g AS (SELECT qid, cid FROM (SELECT qid, cid, " +
          "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s0) " +
          s"WHERE rnk <= $k), " +
          s"lv AS (SELECT unnest($spine) AS n_probe), " +
          s"cand AS (SELECT lv.n_probe, q.qid, corp.cid, " +
          s"round(${Oracles.cosSql("q.qv", "corp.cv")}, 6) AS cos " +
          "FROM lv JOIN q ON q.rn <= lv.n_probe " +
          "JOIN corp ON corp.cell = q.cell WHERE corp.cid <> q.qid), " +
          "r AS (SELECT n_probe, qid, cid FROM (SELECT n_probe, qid, cid, " +
          "row_number() OVER (PARTITION BY n_probe, qid ORDER BY cos DESC, cid) AS rnk " +
          s"FROM cand) WHERE rnk <= $k), " +
          "h AS (SELECT r.n_probe, r.qid, count(*) AS hits FROM r " +
          "JOIN g ON r.qid = g.qid AND r.cid = g.cid GROUP BY 1, 2), " +
          "sp AS (SELECT n_probe, qid FROM lv CROSS JOIN (SELECT DISTINCT qid FROM q0)) " +
          "SELECT sp.n_probe, count(*)::BIGINT AS n_queries, " +
          s"round(avg(coalesce(hits, 0)::DOUBLE / $k), 6) AS mean_recall " +
          "FROM sp LEFT JOIN h ON sp.n_probe = h.n_probe AND sp.qid = h.qid " +
          "GROUP BY sp.n_probe ORDER BY sp.n_probe"
      }),

    // ───── Per-dimension embedding PSI drift: the ANN-serving monitor
    // (new encoder / shifted corpus moves coordinate distributions long
    // before recall degrades); vec_id-parity split as ref vs cur ─────
    Query("q244_embedding_drift", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.embeddingDrift(
          e.filter(col("vec_id") % 2 === 0).select(col("embedding")),
          e.filter(col("vec_id") % 2 === 1).select(col("embedding")),
          "embedding", nBins = 10)
        .orderBy("pos")
    },
      // Mirrors Similarity.embeddingDrift over the vec_id-parity split
      // (q244): per-dimension reference bounds, 10 clamped fixed-width
      // bins, +0.5-smoothed shares, Σ(p−q)·ln(p/q) per dimension — the
      // q178 PSI chain partitioned by coordinate.
      oracle = {
        val nBins: Int = 10
        val half = "0.5::DOUBLE"
        s"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "r0 AS (SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x " +
          "FROM e WHERE vec_id % 2 = 0), " +
          "c0 AS (SELECT generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x " +
          "FROM e WHERE vec_id % 2 = 1), " +
          "b AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM r0 GROUP BY 1), " +
          s"rb AS (SELECT r0.pos, CASE WHEN hi = lo THEN 0 ELSE least(${nBins - 1}, " +
          s"greatest(0, floor((x - lo) / ((hi - lo) / $nBins))::INT)) END AS bin " +
          "FROM r0 JOIN b ON r0.pos = b.pos), " +
          s"cb AS (SELECT c0.pos, CASE WHEN hi = lo THEN 0 ELSE least(${nBins - 1}, " +
          s"greatest(0, floor((x - lo) / ((hi - lo) / $nBins))::INT)) END AS bin " +
          "FROM c0 JOIN b ON c0.pos = b.pos), " +
          "rc AS (SELECT pos, bin, count(*)::BIGINT AS n_ref FROM rb GROUP BY 1, 2), " +
          "cc2 AS (SELECT pos, bin, count(*)::BIGINT AS n_cur FROM cb GROUP BY 1, 2), " +
          s"spine AS (SELECT b.pos, t.i::INT AS bin FROM b CROSS JOIN range($nBins) t(i)), " +
          "k AS (SELECT spine.pos, spine.bin, coalesce(rc.n_ref, 0) AS n_ref, " +
          "coalesce(cc2.n_cur, 0) AS n_cur FROM spine " +
          "LEFT JOIN rc ON spine.pos = rc.pos AND spine.bin = rc.bin " +
          "LEFT JOIN cc2 ON spine.pos = cc2.pos AND spine.bin = cc2.bin), " +
          s"s AS (SELECT pos, bin, (n_ref + $half) / " +
          s"(sum(n_ref) OVER (PARTITION BY pos) + $half * $nBins) AS p, " +
          s"(n_cur + $half) / (sum(n_cur) OVER (PARTITION BY pos) + $half * $nBins) AS q " +
          "FROM k), " +
          "g AS (SELECT pos, round((p - q) * ln(p / q), 6) AS contrib FROM s) " +
          "SELECT pos, round(sum(contrib), 6) AS psi, " +
          "round(sum(contrib), 6) > 0.2::DOUBLE AS drifted " +
          "FROM g GROUP BY pos ORDER BY pos"
      }),

    // ───── PCA top component: two distributed moment passes (shuffles
    // carry dim/dim² partials, never vectors), driver power iteration on
    // the 64×64 covariance (pqTrain bounded-model posture), projection
    // served as a broadcast-literal codegen'd VecDot — the embedding
    // decorrelation/anisotropy monitor ─────
    Query("q257_pca_project", { (s, dir) =>
      Similarity.pcaProject(tb(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, iters = 30)
        .orderBy("vec_id")
    },
      // Mirrors Similarity.pcaProject (q257): 9dp-rounded mean and raw
      // second moments, covariance as their difference (9dp), `iters`
      // power-iteration rounds carried as a LIST through a recursive CTE
      // (components 9dp per step — the Bradley–Terry/Holt recurrence
      // pattern), then per-vector projection v·x − v·μ at 6dp and the
      // constant λ₁/trace at 6dp.
      oracle = {
        val dim: Int = 64
        val iters: Int = 30
        val rng = s"range($dim)"
        "WITH RECURSIVE " +
          "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "a AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x " +
          "FROM e), " +
          "m AS (SELECT i, round(avg(x), 9) AS mu FROM a GROUP BY 1), " +
          "ml AS (SELECT list(mu ORDER BY i) AS mul FROM m), " +
          "r2 AS (SELECT p.i AS i, q.i AS j, round(avg(p.x * q.x), 9) AS m2 " +
          "FROM a p JOIN a q USING (vec_id) GROUP BY 1, 2), " +
          "cm AS (SELECT r2.i, r2.j, round(m2 - mi.mu * mj.mu, 9) AS c " +
          "FROM r2 JOIN m mi ON mi.i = r2.i JOIN m mj ON mj.i = r2.j), " +
          "cll AS (SELECT list(c ORDER BY i, j) AS cv FROM cm), " +
          "it(iter, vv) AS (" +
          s"SELECT 0, list_transform($rng, x -> " +
          s"round(1.0::DOUBLE / sqrt($dim::DOUBLE), 9)) " +
          "UNION ALL " +
          "SELECT iter + 1, list_transform(w, x -> round(x / nrm, 9)) " +
          "FROM (SELECT iter, w, sqrt(list_sum(list_transform(w, y -> y * y))) " +
          s"AS nrm FROM (SELECT iter, list_transform($rng, i -> " +
          s"list_sum(list_transform($rng, j -> cv[i*$dim+j+1] * vv[j+1]))) AS w " +
          s"FROM it, cll WHERE iter < $iters))), " +
          s"fin AS (SELECT vv FROM it WHERE iter = $iters), " +
          s"lam AS (SELECT list_sum(list_transform($rng, i -> vv[i+1] * " +
          s"list_sum(list_transform($rng, j -> cv[i*$dim+j+1] * vv[j+1])))) AS l, " +
          s"list_sum(list_transform($rng, i -> cv[i*$dim+i+1])) AS tr, " +
          s"list_sum(list_transform($rng, k -> mul[k+1] * vv[k+1])) AS mdv " +
          "FROM fin, cll, ml) " +
          s"SELECT e.vec_id, round(list_sum(list_transform($rng, k -> " +
          "e.v[k+1] * vv[k+1])) - mdv, 6) AS pc1, " +
          "round(l / tr, 6) AS var_explained " +
          "FROM e, fin, lam ORDER BY e.vec_id"
      }),

    // ───── 1-bit binary-embedding ANN tier: sign-pack to 2×32-bit words
    // (pure projection), brute Hamming top-k via codegen'd
    // bit_count(xor) — the 32×-compression memory tier below q76 int8
    // and q55 PQ; 8 bytes/vector scanned instead of 256 ─────
    Query("q262_sim_topk_binary", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKHamming(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          dim = 64, k = 10)
        .orderBy("qid", "rnk")
    },
      // sign-pack each half into a BIGINT word, XOR + popcount, rank
      oracle = "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "b AS (SELECT vec_id, " +
        "list_sum(list_transform(range(32), i -> " +
        "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
        "list_sum(list_transform(range(32), i -> " +
        "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
        "FROM e), " +
        "q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM b " +
        "WHERE vec_id % 100 = 0), " +
        "s AS (SELECT qid, b.vec_id AS cid, " +
        "(bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)))::INT AS hamming " +
        "FROM b CROSS JOIN q WHERE b.vec_id <> qid), " +
        "r AS (SELECT qid, cid, hamming, row_number() OVER " +
        "(PARTITION BY qid ORDER BY hamming, cid) AS rnk FROM s) " +
        "SELECT qid, rnk::INT AS rnk, cid, hamming FROM r WHERE rnk <= 10 " +
        "ORDER BY qid, rnk"),

    // ───── Binary-tier recall report: Hamming top-5 scored against the
    // exact-cosine top-5 (the q114 recall harness pointed at the 1-bit
    // tier) — the measurement that decides whether the 32× compression
    // is admissible as a first-pass filter ─────
    Query("q263_binary_recall", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val gt = Similarity.topKBrute(q, c, k = 5)
        .groupBy("qid").agg(collect_set(col("cid")).as("gt"))
      val got = Similarity.topKHamming(q, c, dim = 64, k = 5)
        .groupBy("qid").agg(collect_set(col("cid")).as("got"))
      val hits = size(array_intersect(col("gt"),
        coalesce(col("got"), array().cast("array<long>"))))
      gt.join(got, Seq("qid"), "left")
        .select(col("qid"), hits.cast("long").as("n_hit"),
          round(hits / 5.0, 6).as("recall"))
        .orderBy("qid")
    },
      // Mirrors q263: exact-cosine top-k ∩ sign-bit Hamming top-k per
      // query (the q114 recall harness pointed at the 1-bit tier).
      oracle = {
        val k: Int = 5
        s"WITH ${Oracles.embCte}, " +
          "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
          s"s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) " +
          "AS cos FROM q, e WHERE vec_id <> qid), " +
          "r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
          "ORDER BY cos DESC, cid) AS rnk FROM s), " +
          s"gt AS (SELECT qid, cid FROM r WHERE rnk <= $k), " +
          "bp AS (SELECT vec_id, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
          "FROM e), " +
          "qb AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM bp " +
          "WHERE vec_id % 100 = 0), " +
          "sb AS (SELECT qid, bp.vec_id AS cid, " +
          "bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) AS hd " +
          "FROM bp CROSS JOIN qb WHERE bp.vec_id <> qid), " +
          "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
          "ORDER BY hd, cid) AS rnk FROM sb), " +
          s"got AS (SELECT qid, cid FROM rb WHERE rnk <= $k) " +
          "SELECT g.qid, count(o.cid)::BIGINT AS n_hit, " +
          s"round(count(o.cid) / $k.0::DOUBLE, 6) AS recall " +
          "FROM gt g LEFT JOIN got o ON o.qid = g.qid AND o.cid = g.cid " +
          "GROUP BY 1 ORDER BY g.qid"
      }),

    // ───── Two-tier ANN serving: 1-bit Hamming top-30 candidates, exact
    // cosine rerank to top-5 — the production binary-index composition
    // (floats touched only for candK·|queries| rows) ─────
    Query("q277_binary_rerank", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKBinaryRerank(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          dim = 64, candK = 30, k = 5)
        .orderBy("qid", "rnk")
    },
      // Mirrors q277: sign-bit Hamming top-candK candidates, exact-cosine
      // rerank to top-k (ties: hamming→cid on tier 1, cos desc→cid on
      // tier 2).
      oracle = {
        val candK: Int = 30
        val k: Int = 5
        s"WITH ${Oracles.embCte}, " +
          "bp AS (SELECT vec_id, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
          "FROM e), " +
          "qb AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM bp " +
          "WHERE vec_id % 100 = 0), " +
          "sb AS (SELECT qid, bp.vec_id AS cid, " +
          "bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) AS hd " +
          "FROM bp CROSS JOIN qb WHERE bp.vec_id <> qid), " +
          "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
          "ORDER BY hd, cid) AS rnk FROM sb), " +
          s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
          "sc AS (SELECT cand.qid, cand.cid, " +
          s"round(${Oracles.cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
          "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
          "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
          "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
          s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
          "ORDER BY qid, rnk"
      }),

    // ───── Matryoshka truncation-recall curve: exact top-5 on 8/16/32-
    // dim PREFIXES vs the full-64 top-5 — the serving-width picker for
    // MRL encoders (one brute arm per width; an eval harness, run on
    // query samples) ─────
    Query("q267_matryoshka_recall", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.matryoshkaRecall(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dims = Seq(8, 16, 32))
        .orderBy("dim", "qid")
    },
      // Mirrors q267: per prefix width, exact truncated-cosine top-k ∩ the
      // full-dimension top-k.
      oracle = {
        val k: Int = 5
        val dims: Seq[Int] = Seq(8, 16, 32)
        val gtArm =
          s"s AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) " +
            "AS cos FROM q, e WHERE vec_id <> qid), " +
            "r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
            "ORDER BY cos DESC, cid) AS rnk FROM s), " +
            s"gt AS (SELECT qid, cid FROM r WHERE rnk <= $k)"
        val arms = dims.map { d =>
          s"s$d AS (SELECT qid, vec_id AS cid, " +
            s"round(${Oracles.cosSql(s"qv[1:$d]", s"v[1:$d]")}, 6) AS cos " +
            "FROM q, e WHERE vec_id <> qid), " +
            s"r$d AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
            s"ORDER BY cos DESC, cid) AS rnk FROM s$d), " +
            s"g$d AS (SELECT $d AS dim, qid, cid FROM r$d WHERE rnk <= $k)"
        }.mkString(", ")
        val unionGot = dims.map(d => s"SELECT * FROM g$d").mkString(" UNION ALL ")
        s"WITH ${Oracles.embCte}, " +
          "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0), " +
          s"$gtArm, $arms, got AS ($unionGot) " +
          "SELECT got.dim::INT AS dim, g.qid, count(o.cid)::BIGINT AS n_hit, " +
          s"round(count(o.cid) / $k.0::DOUBLE, 6) AS recall " +
          "FROM gt g CROSS JOIN (SELECT DISTINCT dim FROM got) got " +
          "LEFT JOIN got o ON o.qid = g.qid AND o.cid = g.cid " +
          "AND o.dim = got.dim " +
          "GROUP BY 1, 2 ORDER BY dim, g.qid"
      }),

    // ───── Margin-based bitext mining (Artetxe & Schwenk 2019): two
    // disjoint id-sliced "languages" of the embeddings table; per-source
    // best cross match scored by cos / (½·(avg-4-NN fwd + bwd)) with a
    // mutual-best flag — cosines integer-scaled so the k-NN averages are
    // exact; the hub-robust parallel-pair miner ─────
    Query("q290_bitext_mine", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.bitextMine(
          e.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("sid"), col("embedding").as("svec")),
          e.filter(col("vec_id") % 50 === 25)
            .select(col("vec_id").as("did"), col("embedding").as("dvec")),
          k = 4, minMargin = 1.0)
        .orderBy("sid")
    },
      // q290: Similarity.bitextMine mirror — integer-scaled cosines, exact
      // k-NN sums, one double division at the end.
      oracle = {
        val k: Int = 4
        val minMargin: Double = 1.0
        val margin = "round((2 * ci * sfn * sbn)::DOUBLE / " +
          "(sfa * sbn + sba * sfn), 6)"
        s"WITH ${Oracles.embCte}, " +
          "s AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id % 50 = 0), " +
          "d AS (SELECT vec_id AS did, v AS dv FROM e WHERE vec_id % 50 = 25), " +
          s"p AS (SELECT sid, did, round(round(${Oracles.cosSql("sv", "dv")}, 6) " +
          "* 1000000)::BIGINT AS ci FROM s CROSS JOIN d), " +
          "r AS (SELECT sid, did, ci, row_number() OVER (PARTITION BY sid " +
          "ORDER BY ci DESC, did) AS rf, row_number() OVER (PARTITION BY did " +
          "ORDER BY ci DESC, sid) AS rb FROM p), " +
          s"fs AS (SELECT sid, sum(ci)::BIGINT AS sfa, count(*)::BIGINT AS sfn " +
          s"FROM r WHERE rf <= $k GROUP BY 1), " +
          s"bs AS (SELECT did, sum(ci)::BIGINT AS sba, count(*)::BIGINT AS sbn " +
          s"FROM r WHERE rb <= $k GROUP BY 1), " +
          "m AS (SELECT r.sid, r.did, r.ci, r.rb, fs.sfa, fs.sfn, bs.sba, " +
          "bs.sbn FROM r JOIN fs USING (sid) JOIN bs USING (did) " +
          "WHERE r.rf = 1 AND fs.sfa * bs.sbn + bs.sba * fs.sfn > 0) " +
          "SELECT sid, did, round(ci::DOUBLE / 1000000.0::DOUBLE, 6) AS cos, " +
          s"$margin AS margin, (rb = 1)::INT AS mutual FROM m " +
          s"WHERE $margin >= $minMargin::DOUBLE ORDER BY sid"
      }),

    // ───── Embedding-space benchmark decontamination: best cosine vs a
    // broadcast benchmark slice per corpus vector, sort-free struct-max
    // argmax — the semantic complement of q59/q146 lexical gates ─────
    Query("q302_embed_decontam", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.embeddingDecontam(
          e.filter(col("vec_id") % 97 =!= 0)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          e.filter(col("vec_id") % 97 === 0)
            .select(col("vec_id").as("bid"), col("embedding").as("bvec")),
          tau = 0.98)
        .orderBy("cid")
    },
      // q302: Similarity.embeddingDecontam mirror — best-cosine-vs-benchmark
      // per corpus vector, argmax tie-broken to the lowest benchmark id.
      oracle = {
        val tau: Double = 0.98
        s"WITH ${Oracles.embCte}, " +
          "b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 97 = 0), " +
          "c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 97 <> 0), " +
          s"s AS (SELECT cid, bid, round(${Oracles.cosSql("cv", "bv")}, 6) AS cos FROM c, b), " +
          "r AS (SELECT cid, bid, cos, row_number() OVER " +
          "(PARTITION BY cid ORDER BY cos DESC, bid) AS rn FROM s) " +
          "SELECT cid, bid AS bench_id, cos AS max_cos, " +
          s"(cos >= $tau)::INT AS contaminated FROM r WHERE rn = 1 ORDER BY cid"
      }),

    // ───── Rank-biased overlap between the brute and IVF top-10
    // rankings per query: pinned (1−p)·p^(d−1)/d weights, fixed-order
    // weighted sum over a conditional-max pivot — the top-weighted ANN
    // config comparison beside q114's recall ─────
    Query("q314_rbo", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("cell"))
      val brute = Similarity.topKBrute(q.select("qid", "qvec"),
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        k = 10)
      val ivf = Similarity.topKIvf(q,
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("label").as("cell")),
        k = 10)
      Models.rbo(brute.select("qid", "cid", "rnk"),
          ivf.select("qid", "cid", "rnk"), k = 10, p = 0.9)
        .orderBy("qid")
    },
      // q314: Models.rbo mirror over the brute vs IVF top-10 lists — the
      // same pinned (1−p)·p^(d−1)/d weights in the same fixed-order sum.
      oracle = {
        val k = 10
        val p = 0.9
        val wts = (1 to k).map(d => d -> ((1 - p) * math.pow(p, d - 1) / d))
        val xCols = (1 to k).map(d =>
          s"coalesce(max(CASE WHEN d = $d THEN x END), 0) AS x$d").mkString(", ")
        val rboExpr = wts.map { case (d, w) => s"$w::DOUBLE * cx$d" }
          .mkString(" + ")
        val cxCols = (1 to k).map(d => s"coalesce(x$d, 0) AS cx$d").mkString(", ")
        s"WITH ${Oracles.embCte}, " +
          "q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e " +
          "WHERE vec_id % 100 = 0), " +
          s"sa AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
          "FROM q, e WHERE vec_id <> qid), " +
          "la AS (SELECT qid, cid, rnk FROM (SELECT qid, cid, row_number() OVER " +
          "(PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sa) " +
          s"WHERE rnk <= $k), " +
          s"sb AS (SELECT qid, vec_id AS cid, round(${Oracles.cosSql("qv", "v")}, 6) AS cos " +
          "FROM q JOIN e ON e.label = q.cell AND e.vec_id <> q.qid), " +
          "lb AS (SELECT qid, cid, rnk FROM (SELECT qid, cid, row_number() OVER " +
          "(PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sb) " +
          s"WHERE rnk <= $k), " +
          "j AS (SELECT a.qid, greatest(a.rnk, b.rnk) AS mx " +
          s"FROM la a JOIN lb b USING (qid, cid) WHERE greatest(a.rnk, b.rnk) <= $k), " +
          s"xd AS (SELECT qid, unnest(range(mx, ${k + 1})) AS d FROM j), " +
          "xc AS (SELECT qid, d, count(*)::BIGINT AS x FROM xd GROUP BY 1, 2), " +
          s"piv AS (SELECT qid, $xCols FROM xc GROUP BY 1), " +
          "base AS (SELECT DISTINCT qid FROM la), " +
          s"f AS (SELECT base.qid, $cxCols FROM base LEFT JOIN piv USING (qid)) " +
          s"SELECT qid, round(cx$k::DOUBLE / $k, 6) AS overlap_k, " +
          s"round($rboExpr, 6) AS rbo FROM f ORDER BY qid"
      }),

    // ───── k-center greedy coreset (Gonzalez 1985 / Sener 2018): the
    // maximally-diverse k-subset, one narrow map + 1-row struct-max per
    // round, bounded driver collects (the index-trainer posture); dist
    // column = the coverage-radius curve ─────
    Query("q317_kcenter", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.kCenterGreedy(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 8)
        .orderBy("rank")
    },
      // q317: Similarity.kCenterGreedy mirror — the k−1 greedy rounds
      // unrolled as chained CTEs, each with the argmax as an
      // ORDER BY d DESC, cid LIMIT 1 scalar and the same per-round
      // least/round(…, 6) update.
      oracle = {
        val k: Int = 8
        val steps = (2 to k).map { i =>
          val prev = if (i == 2) "d1" else s"d${i - 1}"
          s"s$i AS (SELECT cid AS id, d FROM $prev ORDER BY d DESC, cid LIMIT 1), " +
            (if (i < k)
              s"d$i AS (SELECT cid, cv, least(d, round(1.0::DOUBLE - " +
                s"list_dot_product(cv, (SELECT cv FROM nrm WHERE cid = " +
                s"(SELECT id FROM s$i))), 6)) AS d FROM $prev), "
            else "")
        }.mkString
        val rows = (s"SELECT 1 AS rank, (SELECT id FROM s1) AS cid, " +
          "2.0::DOUBLE AS dist") +:
          (2 to k).map(i =>
            s"SELECT $i, (SELECT id FROM s$i), (SELECT d FROM s$i)")
        s"WITH ${Oracles.embCte}, " +
          "nrm AS (SELECT vec_id AS cid, [x / sqrt(list_dot_product(v, v)) " +
          "for x in v] AS cv FROM e), " +
          "s1 AS (SELECT min(cid) AS id FROM nrm), " +
          "d1 AS (SELECT cid, cv, least(2.0::DOUBLE, round(1.0::DOUBLE - " +
          "list_dot_product(cv, (SELECT cv FROM nrm WHERE cid = " +
          "(SELECT id FROM s1))), 6)) AS d FROM nrm), " +
          steps +
          s"sel AS (${rows.mkString(" UNION ALL ")}) " +
          "SELECT rank, cid, dist FROM sel ORDER BY rank"
      }),

    // ───── PQ reconstruction-distortion per subspace against the q221
    // pinned codebooks: nearest-entry error (−0.0 guarded) + code
    // utilization — the index-quality dashboard beside q221 serving and
    // q114 recall ─────
    Query("q318_pq_distortion", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.pqDistortion(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.pqBooksV1)
        .orderBy("s")
    },
      // q318: Similarity.pqDistortion mirror over the pinned q221 books —
      // same literal entries, same −0.0 guard, same tie rule for codes.
      oracle = {
        val books = graft.fixtures.PinnedIndex.pqBooksV1
        val m = books.length
        val dsub = books.head.head.length
        val ksub = books.head.length
        def sub(s: Int) = s"cv[${s * dsub + 1}:${(s + 1) * dsub}]"
        def scoresSql(s: Int): String = books(s).map { c =>
          val lits = c.mkString("[", ", ", "]")
          val cn2 = c.map(x => x * x).sum
          s"list_dot_product(${sub(s)}, $lits) * -2.0 + $cn2"
        }.mkString("[", ", ", "]")
        val structs = (0 until m).map { s =>
          s"{'s': $s, 'err': round(list_dot_product(${sub(s)}, ${sub(s)}) + " +
            s"list_min(${scoresSql(s)}), 6) + 0.0, " +
            s"'code': list_position(${scoresSql(s)}, list_min(${scoresSql(s)})) - 1}"
        }.mkString("[", ", ", "]")
        s"WITH ${Oracles.embCte}, " +
          "nrm AS (SELECT vec_id AS cid, [x / sqrt(list_dot_product(v, v)) " +
          "for x in v] AS cv FROM e), " +
          s"u AS (SELECT unnest($structs) AS x FROM nrm), " +
          "g AS (SELECT x['s'] AS s, x['err'] AS err, x['code'] AS code FROM u) " +
          "SELECT s, count(*)::BIGINT AS n_vectors, " +
          "round(sum(err) / count(*), 6) AS mse, " +
          "count(DISTINCT code)::BIGINT AS codes_used, " +
          s"round(count(DISTINCT code)::DOUBLE / $ksub.0::DOUBLE, 6) AS code_util " +
          "FROM g GROUP BY s ORDER BY s"
      }),

    // ───── CELL-BLOCKED binary ANN serving: pinned coarse cells (q220's
    // assignment chain) × 1-bit Hamming within probed cells × exact
    // rerank — the q262/q277 Hamming tier made corpus-scan-free; the
    // serving path reads each 8-byte corpus word once, never
    // queries × corpus ─────
    Query("q322_binary_cell_serve", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKHammingCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors q322: pinned-cell assignment (the q220 scored/rn chain) +
      // sign-bit Hamming WITHIN probed cells + exact-cosine rerank —
      // candidates exist only where a query probe and a corpus assignment
      // share a cell.
      oracle = {
        val candK: Int = 30
        val k: Int = 5
        val nProbe: Int = 4
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, cell FROM scored WHERE rn = 1), " +
          "qc AS (SELECT vec_id AS qid, cell FROM scored " +
          s"WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
          "bp AS (SELECT vec_id, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w0, " +
          "list_sum(list_transform(range(32), i -> " +
          "CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS w1 " +
          "FROM e), " +
          "sb AS (SELECT qc.qid, corp.cid, " +
          "bit_count(xor(qb.w0, cb.w0)) + bit_count(xor(qb.w1, cb.w1)) AS hd " +
          "FROM qc JOIN corp USING (cell) " +
          "JOIN bp qb ON qb.vec_id = qc.qid JOIN bp cb ON cb.vec_id = corp.cid " +
          "WHERE corp.cid <> qc.qid), " +
          "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
          "ORDER BY hd, cid) AS rnk FROM sb), " +
          s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
          "sc AS (SELECT cand.qid, cand.cid, " +
          s"round(${Oracles.cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
          "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
          "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
          "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
          s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
          "ORDER BY qid, rnk"
      }),

    // ───── ASYMMETRIC cell-blocked binary serving: q322's plan with
    // the query kept un-quantized — candidates score Σ qᵢ·sign(cᵢ) in
    // exact integer micro-units (order-independent, oracle-replayable),
    // weighting sign agreement by query magnitude; buys ~0.1-0.2
    // recall@5 over symmetric XOR at equal nProbe for one extra
    // codegen'd conditional sum per candidate row ─────
    Query("q329_asym_cell_serve", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKAsymCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors q329: the q322 pinned-cell chain with ASYMMETRIC candidate
      // scoring — the query stays un-quantized (exact integer micro-units,
      // `round(qᵢ·10⁶)::BIGINT`, so the sum is order-independent across
      // engines) and candidates contribute ±qᵢ by their sign bit; rerank
      // unchanged.
      oracle = {
        val candK: Int = 30
        val k: Int = 5
        val nProbe: Int = 4
        s"WITH ${Oracles.embCte}, " +
          s"cent AS (SELECT * FROM (VALUES ${Oracles.pinnedCentRows}) t(cell, cv, cn2)), " +
          "scored AS (SELECT e.vec_id, e.v, cent.cell, " +
          "row_number() OVER (PARTITION BY e.vec_id " +
          "ORDER BY list_dot_product(e.v, cent.cv) * -2.0 + cent.cn2, cent.cell) AS rn " +
          "FROM e CROSS JOIN cent), " +
          "corp AS (SELECT vec_id AS cid, cell FROM scored WHERE rn = 1), " +
          "qc AS (SELECT vec_id AS qid, cell FROM scored " +
          s"WHERE vec_id % 100 = 0 AND rn <= $nProbe), " +
          "sb AS (SELECT qc.qid, corp.cid, " +
          "list_sum(list_transform(range(64), i -> " +
          "CASE WHEN cv.v[i+1] > 0 THEN round(qv.v[i+1] * 1000000)::BIGINT " +
          "ELSE -(round(qv.v[i+1] * 1000000)::BIGINT) END))::BIGINT AS asym " +
          "FROM qc JOIN corp USING (cell) " +
          "JOIN e qv ON qv.vec_id = qc.qid JOIN e cv ON cv.vec_id = corp.cid " +
          "WHERE corp.cid <> qc.qid), " +
          "rb AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid " +
          "ORDER BY asym DESC, cid) AS rnk FROM sb), " +
          s"cand AS (SELECT qid, cid FROM rb WHERE rnk <= $candK), " +
          "sc AS (SELECT cand.qid, cand.cid, " +
          s"round(${Oracles.cosSql("q.v", "c.v")}, 6) AS cos FROM cand " +
          "JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid), " +
          "rr AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid " +
          "ORDER BY cos DESC, cid) AS rnk FROM sc) " +
          s"SELECT qid, rnk::INT AS rnk, cid, cos FROM rr WHERE rnk <= $k " +
          "ORDER BY qid, rnk"
      }),

    // ───── RESIDUAL 1-bit cell serving: q322/q329's tier re-centered
    // per cell (IVF-PQ / BQ-with-norm) — corpus rows store residual
    // sign words + the mean-|residual| scale, candidates rank by the
    // exact integer ADC decomposition score = Σ QᵢCᵢ + β·Σ(±Qᵢ) ≈
    // 10¹²·(q·v), comparable ACROSS probed cells (the bare residual
    // dot measured recall ≈ 0 — far cells flood the heap). On the
    // planted-cluster fixture this beats raw-sign asym at tight
    // spreads where raw signs collapse (RecallCurve table in README);
    // kernels: ResidualSignPack / ResidualScale / CentroidDot +
    // AsymSignDot, all plan-reference-object + exact-integer ─────
    Query("q341_residual_cell_serve", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKResidualCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors q341: residual 1-bit serving — β = (Σ|Rᵢ|)/64 integer
      // division, score = A + β·Σ(±Qᵢ) by the residual sign.
      oracle = {
        val candK: Int = 30
        val k: Int = 5
        val nProbe: Int = 4
        s"WITH ${Oracles.residualBase(nProbe)}, " +
          "cb AS (SELECT cid, cell, r, " +
          "(list_sum(list_transform(r, x -> abs(x)))::BIGINT // 64) AS beta " +
          "FROM cr), " +
          "sb AS (SELECT qm.qid, cb.cid, qm.a + cb.beta * " +
          "list_sum(list_transform(range(64), i -> " +
          "CASE WHEN cb.r[i+1] > 0 THEN qm.q[i+1] ELSE -qm.q[i+1] END))::BIGINT " +
          "AS score FROM qm JOIN cb ON cb.cell = qm.cell " +
          "WHERE cb.cid <> qm.qid), " +
          Oracles.rerankTail(candK, k)
      }),

    // ───── INT8 residual cell serving: the quality tier when 1
    // bit/dim saturates — codes round(Rᵢ·127/s) packed 8 bytes/long,
    // score = 127·Σ QᵢCᵢ + s·Σ Qᵢ·codeᵢ, still exact-integer and
    // 4× under float32. Measured on the planted-cluster fixture:
    // 0.447/0.727/0.933 recall@5 at candK=30 vs the 1-bit tier's
    // 0.387/0.580/0.747; candK=100 reaches 0.840/0.980/1.000 ─────
    Query("q342_int8_cell_serve", { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKInt8ResidualCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },
      // Mirrors q342: int8 residual serving — s = max|Rᵢ|, codes =
      // round(Rᵢ·127/s) (0 when s = 0), score = 127·A + s·Σ Qᵢ·codeᵢ.
      oracle = {
        val candK: Int = 30
        val k: Int = 5
        val nProbe: Int = 4
        s"WITH ${Oracles.residualBase(nProbe)}, " +
          "cb AS (SELECT cid, cell, " +
          "list_max(list_transform(r, x -> abs(x)))::BIGINT AS s8, " +
          "r FROM cr), " +
          "cd AS (SELECT cid, cell, s8, list_transform(r, x -> " +
          "CASE WHEN s8 = 0 THEN 0::BIGINT " +
          "ELSE round(x * 127.0 / s8)::BIGINT END) AS code FROM cb), " +
          "sb AS (SELECT qm.qid, cd.cid, qm.a * 127 + cd.s8 * " +
          "list_sum(list_transform(range(64), i -> " +
          "qm.q[i+1] * cd.code[i+1]))::BIGINT AS score " +
          "FROM qm JOIN cd ON cd.cell = qm.cell WHERE cd.cid <> qm.qid), " +
          Oracles.rerankTail(candK, k)
      })
  )
}
