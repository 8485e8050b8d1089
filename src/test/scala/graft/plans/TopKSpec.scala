package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Sources, TopK}

class TopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Runs `body` with the session's rank-filter rewrite excluded. The
    * rank-window references below are exactly the shape that rule turns
    * into TopKPerKeyExec, so without this they would compare the operator
    * with itself. */
  private def stockOptimizer[T](body: => T): T = {
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, RewriteRankFilterToTopK.ruleName)
    try body finally spark.conf.unset(excluded)
  }

  /** `df` planned as a real window, not as the operator under test. */
  private def assertWindowed(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case w: WindowExec => w }.nonEmpty &&
        collect(plan) { case t: TopKPerKeyExec => t }.isEmpty,
      s"the reference must run as a rank window:\n$plan")
  }

  test("TopK.perKey == rank-window formulation on real data (total order)") {
    val o = Sources.table(spark, dir, "orders")
    val custom = TopK.perKey(o,
        keys = Seq("o_custkey"),
        order = Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowed = stockOptimizer {
      val ref = o.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3)
        .select("o_custkey", "o_orderkey")
      assertWindowed(ref)
      ref.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(custom == windowed)
    assert(custom.nonEmpty)
  }

  test("TopK.perKey plans as exchange + bounded heap — NO sort anywhere") {
    val o = Sources.table(spark, dir, "orders")
    val df = TopK.perKey(o, Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    val plan = finalPlan(df)
    assert(plan.collect { case e: TopKPerKeyExec => e }.nonEmpty,
      s"expected TopKPerKeyExec in:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      s"the whole point is removing the sort:\n$plan")
    // it still pays the one clustering exchange the window version needs
    assert(plan.collect { case s: ShuffleExchangeExec => s }.size == 1,
      s"expected exactly the clustering exchange:\n$plan")
  }

  test("TopK.perKey: groups smaller than k pass through whole; k=1 is per-key argmax") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0),
      ("b", 4L, 5.0)
    ).toDF("k", "id", "v")
    val top2 = TopK.perKey(df, Seq("k"), Seq("v" -> false, "id" -> true), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top2 == Set(("a", 2L), ("a", 3L), ("b", 4L)))
    val top1 = TopK.perKey(df, Seq("k"), Seq("v" -> false, "id" -> true), 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top1 == Set(("a", 2L), ("b", 4L)))
  }

  test("TopK.perKey: ties beyond k cut by the tie-breaker, exactly k survive") {
    val df = Seq(
      ("a", 1L, 7.0), ("a", 2L, 7.0), ("a", 3L, 7.0)
    ).toDF("k", "id", "v")
    val got = TopK.perKey(df, Seq("k"), Seq("v" -> false, "id" -> true), 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L, 2L)) // lowest ids win the tie
  }

  test("TopK.perKey: external-sort spill fallback returns identical results") {
    // force the fallback with a tiny in-memory row budget: ~1500 retained
    // rows (500 keys × k=3) against a 16-row threshold means every
    // partition overflows into sorted spill runs + streaming merge
    spark.conf.set("spark.graft.topKPerKey.maxRowsInMemory", "16")
    try {
      val o = Sources.table(spark, dir, "orders")
      val custom = TopK.perKey(o,
          keys = Seq("o_custkey"),
          order = Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select("o_custkey", "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val windowed = stockOptimizer {
        val ref = o.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= 3)
          .select("o_custkey", "o_orderkey")
        assertWindowed(ref)
        ref.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(custom == windowed)
      assert(custom.size > 100) // big enough that the spill path really ran
    } finally spark.conf.unset("spark.graft.topKPerKey.maxRowsInMemory")
  }

  test("TopK.perKey spill fallback at realistic size: >1M retained rows, >=3 spill runs per partition") {
    // near-distinct keys — the pathological shape the fallback exists for:
    // output ≈ input, so the heap pass would retain every row. 2.4M rows
    // over 1.2M keys with k=2 retain ~2.4M rows; a 250k in-memory budget
    // on 2 shuffle partitions means each partition cuts
    // ~1.2M/250k ≈ 5 sorted spill runs (>= 3) and stream-merges them.
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.graft.topKPerKey.maxRowsInMemory", "250000")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    // capture the per-partition overflow marker so the test PROVES the
    // spill path ran (and on how many partitions) instead of assuming it
    val errBuf = new java.io.ByteArrayOutputStream()
    val errWas = System.err
    try {
      val n = 2400000L
      val base = spark.range(0, n).select(
        (col("id") % 1200000L).as("k"),
        col("id"),
        ((col("id") * 2654435761L) % 1000003L).cast("double").as("v"))
      def checksumOf(df: DataFrame): DataFrame = df.agg(count(lit(1)),
        sum(xxhash64(col("k"), col("id")).cast("decimal(38,0)")))
      def checksum(agg: DataFrame): (Long, java.math.BigDecimal) = {
        val r = agg.head()
        (r.getLong(0), r.getDecimal(1))
      }
      System.setErr(new java.io.PrintStream(errBuf, true))
      val custom = TopK.perKey(base, Seq("k"), Seq("v" -> false, "id" -> true), 2)
      val customSum = checksum(checksumOf(custom))
      System.setErr(errWas)
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
      val windowSum = stockOptimizer {
        val ref = checksumOf(base.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= 2).drop("_rn"))
        assertWindowed(ref)
        checksum(ref)
      }
      // order-independent checksum equality: same rows survive either way
      assert(customSum == windowSum, s"$customSum vs $windowSum")
      assert(customSum._1 > 1000000L,
        s"retained output must exceed 1M rows to exercise the bound: $customSum")
      val spillMsgs = errBuf.toString.linesIterator
        .count(_.contains("falling back to external sort-based top-k"))
      assert(spillMsgs == 2,
        s"both partitions must overflow into the spill path, saw $spillMsgs:\n$errBuf")
    } finally {
      System.setErr(errWas)
      spark.conf.unset("spark.graft.topKPerKey.maxRowsInMemory")
      spark.conf.set("spark.sql.shuffle.partitions", partsWas)
    }
  }

  test("TopK.perKey spill fallback: mid-stream overflow with multi-chunk merge") {
    // threshold 8 but 40 keys × k=2 = 80 survivors, plus enough rows that
    // several spill runs are written and merged per partition
    spark.conf.set("spark.graft.topKPerKey.maxRowsInMemory", "8")
    try {
      val rows = for (i <- 0 until 4000) yield (i % 40, i.toLong, (i * 37 % 101).toDouble)
      val df = rows.toDF("k", "id", "v").repartition(2)
      val custom = TopK.perKey(df, Seq("k"), Seq("v" -> false, "id" -> true), 2)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
      val windowed = stockOptimizer {
        val ref = df.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= 2)
          .select("k", "id")
        assertWindowed(ref)
        ref.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      }
      assert(custom == windowed)
      assert(custom.size == 80)
    } finally spark.conf.unset("spark.graft.topKPerKey.maxRowsInMemory")
  }
}
