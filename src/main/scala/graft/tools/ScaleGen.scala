package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-trend dataset builder: replicates an existing sf directory `k`
  * times with key shifts so the result behaves like a genuinely larger
  * corpus, not k stacked copies.
  *
  *  - every entity key shifts by `replica · 10M`, consistently across fact
  *    and dimension references (orders.o_custkey moves with
  *    customer.c_custkey, lineitem's l_partkey/l_suppkey with part and
  *    supplier), so joins keep TPC-H-like fan-outs;
  *  - region/nation stay fixed (dimension tables that do not grow with
  *    scale factor — exactly TPC-H's rule);
  *  - document TEXT is made replica-disjoint (every `\w+` token gets a
  *    replica suffix, token/shingle COUNTS unchanged) — otherwise each doc
  *    would have k exact copies and every near-dup/pair query would
  *    measure a pathological duplicate corpus instead of a bigger one:
  *    shingle document frequencies would triple and pair-join work would
  *    grow 9×, i.e. a different workload, not a scaled one;
  *  - events keep their timestamps (same window grid, k× density) and
  *    shift user/event ids (k× users, same per-user session shape).
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [k]
  * (one-time; bench runs then point SPARK_GRAFT_SF_DIR at <outDir>)
  */
object ScaleGen {

  private val Shift = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.fromEnv()

    def replicate(name: String, shiftCols: Seq[String],
        transform: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      // replicas must not collide: every shifted key space is
      // [i·Shift, (i+1)·Shift) — refuse sources that overflow it (e.g.
      // running ScaleGen on its own output)
      val maxCols = shiftCols.map(c => max(col(c).cast("long")))
      val maxKey = base.agg(
        if (maxCols.size == 1) maxCols.head else greatest(maxCols: _*)).head.getLong(0)
      require(maxKey < Shift,
        s"$name: max(${shiftCols.mkString(",")}) = $maxKey >= shift $Shift — " +
          "replica key ranges would overlap")
      val parts = (0 until k).map { i =>
        val shifted = shiftCols.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Shift)))
        transform(shifted, i)
      }
      parts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"scaled $name x$k")
    }

    // fixed dims — do not grow with sf
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    // entity NAMES need the document-text treatment: exact clones of
    // every c_name per replica would multiply fuzzy-linkage true pairs
    // k² (a duplicate corpus, not a bigger one — measured 5.8× time for
    // 3× rows, all of it real pair growth). A replica-unique 3-letter
    // suffix puts replicas ≥ 3 edits apart (outside any maxDist ≤ 2
    // linkage) while keeping every INTRA-replica edit distance exactly
    // as in the source — per-capita near-dup density is preserved, so
    // true pairs scale linearly, like a real 3× customer base.
    replicate("customer", Seq("c_custkey"), (d, i) =>
      if (i == 0) d
      else d.withColumn("c_name",
        concat(col("c_name"), lit(('a' + i).toChar.toString * 3))))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    // vectors need the same disjointness treatment as text: exact clones
    // would put k-1 cosine-1.0 duplicates of every vector in each block
    // and pair work would grow k², a duplicate corpus rather than a
    // bigger one. Two measures: (a) labels shift per replica, so block /
    // cell structure grows with the corpus (new data brings new clusters)
    // and cross-replica pairing is structurally impossible; (b) a
    // replica-specific deterministic SIGN-FLIP pattern per component
    // keeps every norm and every INTRA-replica cosine bit-identical
    // (s_j² = 1) while scattering replicas to unrelated directions.
    replicate("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d
        .withColumn("label", col("label") + lit(i * 100000))
        .withColumn("embedding",
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => when(pmod(hash(lit(i), j), lit(2)) === 0, x).otherwise(-x))))
    replicate("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", regexp_replace(col("text"), "(\\w+)", s"$$1z$i"))
        .withColumn("n_chars", length(col("text"))))
    spark.stop()
  }
}
