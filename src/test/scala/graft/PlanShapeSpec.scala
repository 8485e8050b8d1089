package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical-plan regression tests: the scale story (broadcast joins where
  * a side is small, bounded shuffle counts, pushdown reaching the parquet
  * scan) is asserted, not hoped for. If a refactor re-plans a broadcast
  * join as a sort-merge join or adds a shuffle, these fail.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // runs the query through a noop write, then returns THIS Dataset's
  // physical plan: the write is a separate QueryExecution, so an adaptive
  // plan comes back as planned, before execution (no query stages, no
  // runtime re-planning). Locks on what ran use `ran` + `deepCollect`.
  private def executed(df: DataFrame): SparkPlan = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  // the plan that ran: collected through THIS QueryExecution, so an
  // adaptive plan finalizes with its query stages and runtime re-planning
  private def ran(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++ p.subqueries.flatMap(collectAll(_)(pf))

  test("flagship: lookup join broadcasts; exactly one pre-sort shuffle (the A2 agg)") {
    val plan = executed(pipelines.TimesheetPipeline.flagship(spark, dir))
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected a broadcast hash join in:\n$plan")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    // one shuffle for groupBy(data, surname), one for the final orderBy
    // (range partitioning) — nothing else
    assert(shuffles.size <= 2, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("filter + projection push down to the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = ops.Sources.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity,40"),
      scan.metadata("PushedFilters"))
    assert(scan.schema.fieldNames.toSet == Set("l_orderkey", "l_quantity"),
      s"column pruning failed: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("noPushdown: a wrapped filter stays above the exchange; a bare one is pushed below") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.functions.col
    // the q239/q336/q340 shape: a filter on a column derived after a
    // balancing exchange
    def plan(pred: Column => Column): SparkPlan = executed(spark.range(0, 1000)
      .repartition(4, col("id"))
      .select(col("id"), (col("id") * 7 % 13).as("x"))
      .filter(pred(col("x") > 3)))
    def filtersBelowExchange(p: SparkPlan): Seq[FilterExec] =
      collectAll(p) { case s: ShuffleExchangeExec => s }
        .flatMap(_.collect { case f: FilterExec => f })
    // control: without the barrier Spark pushes the filter down, with
    // the projection substituted in
    val bare = plan(identity)
    assert(filtersBelowExchange(bare).nonEmpty,
      s"the bare filter is no longer pushed down; the control is stale:\n$bare")
    val held = plan(ops.Sources.noPushdown)
    assert(filtersBelowExchange(held).isEmpty,
      s"the wrapped predicate was pushed below the exchange:\n$held")
    assert(collectAll(held) { case f: FilterExec => f }.size == 1,
      s"expected the one filter above the exchange:\n$held")
  }

  test("lenient week parse: q01/q11/q25 run one LenientDate, and every codegen stage compiles") {
    import scala.jdk.CollectionConverters._
    import scala.util.Try
    import org.apache.spark.sql.catalyst.expressions.{Expression, GetTimestamp, ParseToDate, RLike}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, QueryExecution, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // the nodes one codegen stage fuses (its inputs are other stages)
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(fused)
    })
    // q11 returns a read-back of its partitioned write: the parse runs
    // in the write, whose plan only a listener sees
    def writePlan(q: String): SparkPlan = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          seen.add(qe.executedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      def write: Option[SparkPlan] = seen.asScala.find(p =>
        deepCollect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
      spark.listenerManager.register(listener)
      try {
        SparkEntry.queries(q)(spark, dir)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (write.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        write.getOrElse(fail(s"$q: no write execution was reported"))
      } finally spark.listenerManager.unregister(listener)
    }
    def ranQ(q: String): SparkPlan = ran(SparkEntry.queries(q)(spark, dir))
    val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
    val plans = Seq(
      "q01_e1_flagship" -> ranQ("q01_e1_flagship"),
      "q11_part_write" -> writePlan("q11_part_write"),
      "q25_e2_pipeline" -> ranQ("q25_e2_pipeline"))
    for ((q, plan) <- plans) {
      val all = deepCollect(plan) { case n => n }
      // codegen first: a Column parse cascade copied into a pushed-down
      // filter outgrows the 64 KB method limit, and Spark then runs the
      // whole stage interpreted with only a WARN
      val stages = all.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$q: no codegen stage:\n$plan")
      for (w <- stages) {
        val size = Try(CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
          .recover { case e => fail(s"$q: codegen stage ${w.codegenStageId} does not compile: $e") }
          .get
        assert(size <= limit,
          s"$q: codegen stage ${w.codegenStageId} has a $size-byte method")
      }
      val exprs: Seq[Expression] = all.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.exists(_.isInstanceOf[expressions.LenientDate]),
        s"$q: no lenient_date in:\n$plan")
      val cascade = exprs.filter {
        case _: RLike | _: GetTimestamp | _: ParseToDate => true
        case _ => false
      }
      assert(cascade.isEmpty, s"$q: regex/parse cascade left in the plan: " +
        cascade.map(_.prettyName).distinct.mkString(", "))
      val weekFilterStaged = stages.exists(w => fused(w.child).exists {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[expressions.LenientDate])
        case _ => false
      })
      assert(weekFilterStaged, s"$q: the week filter runs outside whole-stage codegen:\n$plan")
    }
  }

  test("similarity top-k: query side broadcasts (corpus never shuffles for the join)") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
    val df = ops.Similarity.topKIvf(
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("cell")),
      e.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("label").as("cell")),
      5)
    val plan = executed(df)
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected broadcast join in:\n$plan")
  }

  test("decontaminate: bench n-gram set broadcasts; corpus text never shuffles by gram") {
    import org.apache.spark.sql.functions.col
    val docs = ops.Sources.table(spark, dir, "documents")
    val df = ops.Dedup.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", 4)
    val plan = executed(df)
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    // the gram-probe join AND the flagged-id anti join both broadcast
    assert(bhj.size >= 2, s"expected 2 broadcast joins in:\n$plan")
    assert(bhj.exists(_.joinType.sql == "LEFT ANTI"),
      s"expected a broadcast anti join in:\n$plan")
  }

  test("lm score: vocab, LM, and context tables all broadcast to the corpus side") {
    val df = ops.TextAnalysis.bigramLmScore(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text", 20)
    val plan = executed(df)
    // lm + ctx probes against the stored per-doc type counts: ≥2
    // broadcasts in the FINAL plan (the vocab unk-map probes broadcast
    // too, but execute inside the perDoc checkpoint job since r11's
    // single-corpus-pass restructure, so they are not visible here)
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"expected ≥2 broadcast joins in:\n$plan")
  }

  test("point-in-time join: dim broadcasts, validity check stays a residual (no theta join)") {
    import org.apache.spark.sql.functions._
    val cust = ops.Sources.table(spark, dir, "customer")
    val dim = cust.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("attr"),
      to_date(lit("1992-01-01")).as("vf"), lit(null).cast("date").as("vt"))
    val facts = ops.Sources.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("odate"))
    val plan = executed(
      ops.Temporal.pointInTimeJoin(facts, dim, "o_custkey", "k", "odate", "vf", "vt"))
    // must plan as a hash join on the key equality — a nested-loop theta
    // join here would be quadratic at scale
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected broadcast hash join in:\n$plan")
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"nested-loop join planned:\n$plan")
  }

  test("lookup: mapping broadcasts under Spark's size threshold, not with it off") {
    import org.apache.spark.sql.functions.col
    val facts = ops.Sources.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val mapping = ops.Sources.table(spark, dir, "nation")
      .select(col("n_name"), col("n_regionkey").cast("string"))
    val smallPlan = executed(
      ops.Lookup.mapWithDefault(facts, "c_mktsegment", mapping))
    assert(collectAll(smallPlan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"small mapping must broadcast:\n$smallPlan")
    // with the threshold off no side qualifies: the join carries no hint
    // of its own, so nothing forces a broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigPlan = executed(
        ops.Lookup.mapWithDefault(facts, "c_mktsegment", mapping))
      assert(collectAll(bigPlan) { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"mapping must not broadcast with the threshold off:\n$bigPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pii scrub: one codegen'd projection over the scan — no shuffle, no join") {
    import org.apache.spark.sql.functions.col
    val df = ops.TextAnalysis.piiScrub(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text")
    val plan = executed(df)
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"pii scrub must not shuffle:\n$plan")
    // the *(N) prefix marks whole-stage-codegen'd operators
    assert(plan.toString.contains("*(1) Project"),
      s"pii scrub fell out of codegen:\n$plan")
  }

  test("sampled IVF: query side broadcasts; centroid scoring adds no join or shuffle") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
    val df = ops.Similarity.topKIvfSampled(
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      k = 5, nCells = 8, nProbe = 2)
    val plan = executed(df)
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected broadcast join in:\n$plan")
    // centroids are plan-time literals: the ONLY join is the cell
    // equi-join (assignment/probing never join the centroid table)
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"expected exactly 1 join, got ${joins.size}:\n$plan")
  }

  test("chunking: one Generate over the scan — no shuffle, no join") {
    val df = ops.TextAnalysis.chunkDocs(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text", 64, 16)
    val plan = executed(df)
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"chunking must not shuffle:\n$plan")
    val gens = collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 1, s"expected exactly 1 Generate, got ${gens.size}:\n$plan")
  }

  test("merge-update: no driver-side collect — single equi-join plan") {
    import org.apache.spark.sql.functions.col
    val target = ops.Sources.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("commessa"),
        col("o_totalprice").as("ore"))
    val updates = ops.Aggregates.setJoinSum(
      ops.Sources.table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_returnflag").as("commessa"), col("l_quantity").as("ore")),
      Seq("o_orderkey"), "commessa", "ore")
    val merged = ops.MergeUpdate.updateOnly(target, updates, Seq("o_orderkey"),
      Map("commessa" -> "commessa", "ore" -> "ore"))
    // row-preservation invariant: left join on unique keys
    assert(merged.count() == target.count())
  }

  test("segment dedup: one Generate; shuffles = seg window + doc agg only") {
    val df = ops.Dedup.segmentDedup(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text", 10)
    val plan = executed(df)
    val gens = collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 1, s"expected exactly 1 Generate, got ${gens.size}:\n$plan")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    // window partitioned by segment + reassembly agg by doc id — the two
    // shuffles a 100 TB C4 pass genuinely pays, and no more
    assert(shuffles.size <= 2, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("int8 quantization: pure projection — no shuffle, no join, no Generate") {
    val df = ops.Similarity.quantizeInt8(
      ops.Sources.table(spark, dir, "embeddings"), "vec_id", "embedding")
    val plan = executed(df)
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"quantization must not shuffle:\n$plan")
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"quantization must not join:\n$plan")
  }

  test("runtime bloom filter from a selective build side prunes the probe scan") {
    import org.apache.spark.sql.functions.col
    // thresholds dropped so the tiny test tables qualify; at warehouse
    // scale the defaults (10MB creation side / 10GB probe scan) gate this
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // force a shuffle join: broadcast joins don't need the bloom filter
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = ops.Sources.table(spark, dir, "orders")
        .filter(col("o_totalprice") > 500000) // selective build side
      val l = ops.Sources.table(spark, dir, "lineitem")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val plan = executed(joined)
      assert(plan.toString.contains("bloom_filter") ||
        plan.toString.contains("BloomFilter"),
        s"expected a runtime bloom filter on the probe side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered from footer stats") {
    import org.apache.spark.sql.functions.{col, count, max, min}
    // aggregate pushdown is a DataSource-V2 capability: route parquet
    // through V2 (empty V1 list) and enable the pushdown, scoped
    val saved = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val df = spark.read.parquet(s"$dir/orders.parquet")
        .agg(min(col("o_totalprice")), max(col("o_totalprice")), count(col("*")))
      val plan = executed(df)
      assert(plan.toString.contains("PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]"),
        s"expected the aggregate pushed to the parquet footer:\n$plan")
      // and the values still match a full scan
      val pushed = df.head()
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      val scanned = spark.read.parquet(s"$dir/orders.parquet")
        .agg(min(col("o_totalprice")), max(col("o_totalprice")), count(col("*"))).head()
      assert(pushed == scanned)
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      spark.conf.set("spark.sql.sources.useV1SourceList", saved)
    }
  }

  test("partitioned write: a partition-key filter prunes directories at the scan") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("g_prune_").toString
    ops.Sources.table(spark, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val read = spark.read.parquet(out).filter(col("lang") === "en")
      .select("doc_id", "lang")
    val scans = executed(read).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val meta = scans.head.metadata
    assert(meta("PartitionFilters").contains("lang"),
      s"expected the lang filter as a PartitionFilter: $meta")
    // the scan's surviving files are exactly the lang=en directory's
    val files = scans.head.selectedPartitions.toPartitionArray
    assert(files.nonEmpty &&
      files.forall(_.filePath.toString.contains("lang=en")),
      "scan still reads non-en partition directories")
    val full = ops.Sources.table(spark, dir, "documents")
      .filter(col("lang") === "en").count()
    assert(read.count() == full)
  }

  test("label centroids: one partial-agg shuffle carrying (label, pos) partials") {
    val df = ops.Similarity.labelCentroids(
      ops.Sources.table(spark, dir, "embeddings"), "label", "embedding")
    val plan = executed(df)
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"expected exactly 1 shuffle:\n$plan")
    // map-side combine: a partial aggregate must sit below the exchange
    val aggs = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final hash aggregates:\n$plan")
  }

  // AQE's skew-join split is the runtime complement to Skew.saltedJoin
  // (q34): for shuffle JOINS, AQE detects an oversized reduce partition
  // and splits it into parallel sub-reads at runtime, so no manual
  // salting is needed. Static salting remains necessary where AQE cannot
  // reach: holistic AGGREGATIONS (collect_set & co. — Skew.setJoinSumSalted)
  // whose hot-key buffer still concentrates on one reducer, and
  // pre-partitioned/bucketed layouts that bypass the exchange.
  // collect through AQE boundaries (QueryStageExec and a nested
  // AdaptiveSparkPlanExec are leaves whose executed subtrees hang off
  // .plan / .executedPlan, invisible to plain collect)
  private def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++ p.collect {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.flatMap(deepCollect(_)(pf))

  test("AQE skew-join: a hot key's reduce partition is split at runtime") {
    import org.apache.spark.sql.functions.{col, concat, lit, sha2, when}
    val set = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // key 0 owns ~30k rows; keys 1-19 are tiny. The pad must be
      // INCOMPRESSIBLE (per-row sha2, not a constant) — skew detection
      // reads lz4-compressed map-output sizes, and a repeated literal
      // deflates below any threshold
      val pad = concat((0 until 4).map(i =>
        sha2(concat(col("id").cast("string"), lit(s"_$i")), 256)): _*)
      val big = spark.range(0, 31000)
        .select(when(col("id") < 30000, 0L).otherwise(col("id") % 19 + 1).as("k"),
          pad.as("pad"))
      val small = spark.range(0, 20).select(col("id").as("k"),
        (col("id") * 10).as("w"))
      // keep pad in the OUTPUT — project it away and column pruning
      // strips it from the shuffle, deflating the skew below threshold
      val joined = big.join(small, "k")
      val out = joined.select("k", "w", "pad")
      // run through the SAME QueryExecution (collect, not a noop write,
      // which plans a clone) so the AdaptiveSparkPlanExec we inspect holds
      // the FINAL re-planned tree, not the initial one
      assert(out.collect().length === 31000) // correctness unaffected by the split
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val smj = deepCollect(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$plan")
      assert(smj.exists(_.isSkewJoin),
        s"expected AQE to mark the join skew-handled:\n$plan")
      // the skew read must actually fan the hot partition out: more
      // partitions after the AQE shuffle read than the static shuffle had
      val reads = deepCollect(plan) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.exists(_.partitionSpecs.size >
        spark.conf.get("spark.sql.shuffle.partitions").toInt),
        s"expected skew-split sub-partitions in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("CdcChunks: single codegen'd projection — no shuffle, no Generate") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    val df = ops.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), Bridge.column(expressions.CdcChunks(
        Bridge.expression(ops.TextAnalysis.words(col("text"))), 4, 16))
        .as("chunks"))
    val plan = executed(df)
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"chunk projection must not shuffle:\n$plan")
    assert(collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, s"chunking is a projection, not an explode:\n$plan")
    assert(plan.toString.contains("*(1) Project"),
      s"CdcChunks fell out of codegen:\n$plan")
  }

  test("tpch q13: the outer join survives into one join + double agg, no nested loop") {
    val plan = executed(SparkEntry.queries("q109_tpch_q13")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"no BNLJ allowed:\n$plan")
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1 && joins.head.joinType.toString == "LeftOuter",
      s"expected exactly one LeftOuter join:\n$plan")
    // custkey agg + c_count agg + final range sort — nothing else
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("event transitions: events scanned ONCE; normalization windows the count table") {
    val plan = executed(SparkEntry.queries("q116_event_transitions")(spark, dir))
    // the scale property: the event stream is read and lead-windowed once —
    // a groupBy+join normalization would re-plan the scan per branch
    val scans = collectAll(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"events must scan once, got ${scans.size}:\n$plan")
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"normalization must not join:\n$plan")
    // lead window (events by user_id) + sum window (≤ |types|² count rows)
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected lead + normalize windows:\n$plan")
    // user_id exchange + pair-count agg + from_type exchange + final sort
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 4, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("tpch q8: the 8-way join runs as broadcast joins on the fact — no nested loop") {
    val plan = executed(SparkEntry.queries("q121_tpch_q8")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no BNLJ/cartesian allowed:\n$plan")
    // at sf0.001 every dim (part slice, orders, customer, nations,
    // supplier) is stats-broadcastable: the lineitem side must never
    // shuffle for a join — its only exchange is the final year aggregate
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 5, s"expected >=5 broadcast joins, got ${bhj.size}:\n$plan")
    val smj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"fact-side sort-merge join at this scale:\n$plan")
  }

  test("tpch q21 shape: double EXISTS folds to one fact scan + pair agg + order window") {
    val plan = executed(SparkEntry.queries("q128_tpch_q21")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"no BNLJ allowed:\n$plan")
    // the scale property: lineitem is scanned ONCE — the naive EXISTS /
    // NOT-EXISTS formulation scans it three times, and a groupBy +
    // join-back twice (column pruning defeats exchange reuse)
    val factScans = collectAll(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => s
    }
    assert(factScans.size == 1, s"lineitem must scan once, got ${factScans.size}:\n$plan")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, s"expected the per-order stats window:\n$plan")
    // pair exchange + order window exchange + final s_name agg — bounded
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("tpch q2 shape: per-part min joins back as an equi join, dims broadcast") {
    val plan = executed(SparkEntry.queries("q130_tpch_q2")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no BNLJ/cartesian allowed:\n$plan")
    // the (partkey, min_cost) join-back is an equi join on both columns —
    // a non-equi formulation would degrade to a nested loop at scale
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(j =>
      j.isInstanceOf[BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      s"all joins must be hash/merge equi joins:\n$plan")
  }

  test("pagerank: iteration body reads the checkpointed edges — no fact re-scan") {
    val plan = ran(SparkEntry.queries("q133_pagerank")(spark, dir))
    // the scale property: the orders⋈lineitem edge derivation ran ONCE
    // (inside the eager checkpoint); the 5-iteration body must contain
    // zero parquet scans and only the per-round rank exchanges
    val fileScans = deepCollect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(fileScans.isEmpty, s"iterations must not re-scan parquet:\n$plan")
    val rddScans = deepCollect(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty, s"expected the checkpointed edge scan:\n$plan")
    // one dst-aggregate exchange per iteration (5) + nothing else: the
    // preserved hashpartitioning(src) means the edge side never moves
    val shuffles = deepCollect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 5, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("attribution: time-range join keeps its user equi key — no nested loop") {
    val plan = executed(SparkEntry.queries("q137_attribution")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no BNLJ/cartesian allowed:\n$plan")
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(j =>
      j.isInstanceOf[BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      s"the range condition must ride the user equi join as a residual:\n$plan")
  }

  test("tpch q20 shape: nested INs stay semi joins end to end") {
    val plan = executed(SparkEntry.queries("q132_tpch_q20")(spark, dir))
    val semi = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType.toString == "LeftSemi" => j
    }
    // part-name IN + excess-supplier IN: both must plan as semi joins
    assert(semi.size >= 2, s"expected two semi joins, got ${semi.size}:\n$plan")
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"no BNLJ allowed:\n$plan")
  }

  test("bloom decontam: the position set broadcasts — corpus text never shuffles for the probe") {
    val plan = executed(SparkEntry.queries("q146_bloom_decontam")(spark, dir))
    // the probe join must be a broadcast hash join (position set ≤ m rows);
    // corpus-side exchanges may only carry (doc_id, ...) aggregate partials
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the broadcast position probe:\n$plan")
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"no BNLJ allowed:\n$plan")
  }

  test("bfs: iteration body reads the checkpointed edges once — no re-scan per round") {
    val plan = ran(SparkEntry.queries("q147_bfs_distances")(spark, dir))
    val fileScans = deepCollect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // one parquet scan is allowed: the SEED selection (supplier table);
    // the edge derivation (orders⋈lineitem) must live inside the eager
    // checkpoint, not re-derive per round
    assert(fileScans.size <= 1, s"iterations must not re-scan the fact tables:\n$plan")
    val rddScans = deepCollect(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty, s"expected the checkpointed edge scan:\n$plan")
  }

  test("inverted index: df gate aggregates before postings collect — two exchanges, no sort-collect of the corpus") {
    val plan = executed(SparkEntry.queries("q150_inverted_index")(spark, dir))
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    // term-df partial agg + posting collect + the final orderBy range
    // exchange; anything more means the df gate re-shuffled the postings
    assert(shuffles.size <= 3, s"unexpected shuffles (${shuffles.size}):\n$plan")
  }

  test("fuzzy link: pairs ride the block equi join — edit distance is a residual, no nested loop") {
    val plan = executed(SparkEntry.queries("q157_fuzzy_link")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no BNLJ/cartesian allowed:\n$plan")
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, s"expected the block equi join:\n$plan")
  }

  test("prefix filter: candidate + verify stages are equi joins — no nested loop; the prefix prunes") {
    import org.apache.spark.sql.functions._
    val d = ops.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), ops.TextAnalysis.words(col("text")).as("toks"))
    val pairs = ops.Dedup.prefixFilterPairs(d, "doc_id",
      ops.Dedup.shingles(col("toks"), 3), 0.8)
    val plan = executed(pairs)
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no BNLJ/cartesian allowed:\n$plan")
    // the pruning is real, not aspirational: the candidate join sees only
    // each doc's prefix shingles, a strict subset of the full explode the
    // all-pairs formulation shuffles
    val sets = d.select(col("doc_id"),
      array_distinct(ops.Dedup.shingles(col("toks"), 3)).as("ss"))
    val full = sets.select(explode(col("ss"))).count()
    val theta = 0.8 - 1e-6
    val prefix = sets
      .select(explode(slice(col("ss"), lit(1),
        (size(col("ss")) - ceil(size(col("ss")) * theta - lit(1e-9)) + 1)
          .cast("int"))))
      .count()
    assert(prefix < full / 3,
      s"prefix explode ($prefix) should be well under the full explode ($full)")
  }

  test("logreg score: one broadcast 1-row re-entry, zero shuffles — a map-only pass") {
    import org.apache.spark.sql.functions._
    val f = ops.Sources.table(spark, dir, "documents").select(
      col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      ops.TextAnalysis.punctRatio(col("text")).as("x1"))
    val w = ops.Models.logregFit(f, "y", Seq("x1"), iters = 1)
    val plan = executed(ops.Models.logregScore(f, w, Seq("x1")))
    // the 1-row weight frame re-enters as a broadcast nested-loop (the
    // TF-IDF corpus-stats pattern — scale-safe because the build side is
    // exactly one row); the scored side itself never shuffles
    assert(collectAll(plan) {
      case s: ShuffleExchangeExec => s
    }.forall(_.outputPartitioning.numPartitions == 1),
      s"only the weight agg's single-partition exchange is allowed:\n$plan")
  }

  test("kmv: bottom-k runs on the custom TopKPerKey operator, not a sort+window") {
    val df = ops.Sketches.kmvDistinct(
      ops.Sources.table(spark, dir, "events"), "event_type",
      org.apache.spark.sql.functions.col("user_id"))
    val plan = executed(df)
    val topk = collectAll(plan) { case t: plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, s"expected TopKPerKeyExec:\n$plan")
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no rank window expected:\n$plan")
  }

  test("copurchase: pairs ride the basket equi join; the only BNLJ is the 1-row total") {
    val plan = executed(SparkEntry.queries("q165_copurchase_lift")(spark, dir))
    val bnlj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    // the broadcast basket-total re-entry is a 1-row cross join — the
    // TF-IDF corpus-stats pattern; nothing else may nested-loop
    assert(bnlj.size <= 1, s"only the 1-row total cross join allowed:\n$plan")
    assert(collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian allowed:\n$plan")
  }

  test("cusum: both window layers share one sort — single exchange per key partitioning") {
    import org.apache.spark.sql.functions._
    val daily = ops.Sources.table(spark, dir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("v"))
    val plan = executed(ops.Temporal.cusumChangePoints(
      daily, "event_type", "day", "v"))
    // rn window + running-sum layer + running-extremum layer all
    // partition by the key and order by day: ONE key exchange feeds
    // every window (plus the daily agg's own exchange and the baseline
    // branch) — a re-sort per layer would show up as extra exchanges
    val keyShuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning.numPartitions > 1)
    assert(keyShuffles.size <= 3,
      s"window layers must reuse the key partitioning (got ${keyShuffles.size}):\n$plan")
    val sorts = collectAll(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.size <= 3, s"each extra window layer must not re-sort:\n$plan")
  }

  test("mutual information / chi-square: ONE data-scale pass — windows touch only the cell table") {
    val plan = executed(SparkEntry.queries("q180_mutual_info")(spark, dir))
    val scans = collectAll(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the corpus is scanned exactly once; margins/totals are windows
    // over the ≤|A|·|B|-row aggregate, not re-aggregations of the data
    assert(scans.size == 1, s"expected one documents scan:\n$plan")
  }

  test("welch t-test: one conditional-moment aggregate — no join, no window") {
    val plan = executed(SparkEntry.queries("q176_ab_test")(spark, dir))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"no join expected:\n$plan")
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window expected:\n$plan")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    // the global moment agg folds to a single-partition exchange of six
    // doubles — nothing else moves
    assert(shuffles.forall(_.outputPartitioning.numPartitions == 1),
      s"only the 1-partition moment exchange allowed:\n$plan")
  }

  test("rank-filter rewrite: the naive window idiom plans into TopKPerKeyExec; rank consumers don't") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.{Window => W}
    // the suite's session loads GraftExtensions: its optimizer rule
    // rewrites the idiom and its strategy plans the heap operator
    val w = W.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val naive = ops.Sources.table(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val plan = executed(naive)
    assert(collectAll(plan) { case t: plans.TopKPerKeyExec => t }.nonEmpty,
      s"naive rank idiom should plan into TopKPerKeyExec:\n$plan")
    assert(collectAll(plan) {
      case we: org.apache.spark.sql.execution.window.WindowExec => we
    }.isEmpty, s"the rank window should be gone:\n$plan")
    // identical rows to the explicit API path
    val viaApi = ops.TopK.perKey(ops.Sources.table(spark, dir, "orders"),
        Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    assert(naive.exceptAll(viaApi).isEmpty && viaApi.exceptAll(naive).isEmpty)

    // a query that KEEPS the rank column must not rewrite
    val keepsRank = ops.Sources.table(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val kept = executed(keepsRank)
    assert(collectAll(kept) { case t: plans.TopKPerKeyExec => t }.isEmpty,
      s"rank consumer must keep the window:\n$kept")
  }

  test("TopKPerKeyExec under AQE: the induced exchange still coalesces at runtime") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    // the clustering exchange EnsureRequirements inserts for
    // requiredChildDistribution must stay eligible for AQE's partition
    // coalescing — a custom operator that pinned the partition count
    // would force 200 tiny reducers on every small stage at scale.
    // (AQE skew-SPLITTING is join-scoped by design — OptimizeSkewedJoin
    // rewrites SortMergeJoin/ShuffledHashJoin only — so coalescing is
    // the applicable AQE interaction for this operator.)
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions")
    val thrWas = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    try {
      val tiny = spark.range(0, 1000)
        .select((col("id") % 10).as("k"), col("id"),
          (col("id") % 97).cast("double").as("v"))
      val df = ops.TopK.perKey(tiny, Seq("k"), Seq("v" -> false, "id" -> true), 2)
      // execute THIS QueryExecution (collect, not a side write) so the
      // adaptive plan finalizes with its runtime shuffle reads in place
      assert(df.collect().length == 20)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // a finalized adaptive plan nests operators inside QueryStageExec
      // leaves — descend into the stages' plans too
      def deep[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
        p.collect(pf) ++ p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s
        }.flatMap(s => deep(s.plan)(pf))
      val topk = deep(plan) { case t: plans.TopKPerKeyExec => t }
      assert(topk.nonEmpty, s"expected TopKPerKeyExec:\n$plan")
      val reads = deep(plan) { case r: AQEShuffleReadExec => r }
      assert(reads.nonEmpty,
        s"AQE must insert a coalesced shuffle read under the operator:\n$plan")
      assert(reads.forall(_.partitionSpecs.size < 64),
        s"1000 tiny rows must coalesce below the configured 64 partitions:\n$plan")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", partsWas)
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", thrWas)
    }
  }

  test("rank-filter rewrite: rank consumed through a correlated SUBQUERY keeps the window") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ops.Sources.table(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .createOrReplaceTempView("ranked_subq")
    // the top-level projection drops rn, but the correlated subquery
    // consumes it (b.rn = a.rn) — the rewrite must not fire on either
    // expansion of the view, or the join keys lose their source
    val sql = "SELECT o_custkey, o_orderkey FROM ranked_subq a " +
      "WHERE o_totalprice > (SELECT avg(o_totalprice) " +
      "FROM ranked_subq b WHERE b.rn = a.rn)"
    // the expected rows come from the stock optimizer: the session's
    // GraftExtensions rule excluded for this one collect
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, plans.RewriteRankFilterToTopK.ruleName)
    val expected = try spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    finally spark.conf.unset(excluded)
    try {
      val q = spark.sql(sql)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected && got.nonEmpty,
        "subquery rank consumption must not change results")
      val plan = executed(q)
      assert(collectAll(plan) { case t: plans.TopKPerKeyExec => t }.isEmpty,
        s"rank consumed via subquery correlation — the window must stay:\n$plan")
    } finally {
      spark.catalog.dropTempView("ranked_subq")
    }
  }

  test("dictionary tag: the lexicon broadcasts — corpus tokens never shuffle for the join") {
    val df = ops.TextAnalysis.dictionaryTag(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text",
      Map("perf" -> Seq("slow", "fast"), "exec" -> Seq("join", "scan")))
    val plan = executed(df)
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected the lexicon to broadcast in:\n$plan")
    // explode → broadcast probe → the count-distinct pair of hash-agg
    // exchanges ((doc,cat,term) dedup then (doc,cat)) — both carry only
    // MATCHED lexicon partials, never raw corpus tokens
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"unexpected shuffles (${shuffles.size}):\n$plan")
    assert(shuffles.forall(_.outputPartitioning.toString.contains("category")),
      s"every exchange must be post-probe (carry category):\n$plan")
  }

  test("feature hash: one shuffle total — explode and bucket-hash stay map-side") {
    val df = ops.TextAnalysis.featureHash(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text", 64)
    val plan = executed(df)
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"expected <= 1 shuffle:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.isEmpty &&
      !plan.toString.contains("SortMergeJoin"),
      s"the hashing trick must need no join at all:\n$plan")
  }

  test("target encode: category windows sort-merge-free; prior is a broadcast 1-row re-entry") {
    import org.apache.spark.sql.functions.{col, when}
    val o = ops.Sources.table(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderpriority").as("cat"),
      when(col("o_totalprice") > 100000, 1.0).otherwise(0.0).as("y"))
    val plan = executed(ops.Models.targetEncode(o, "cat", "y"))
    // one DATA-SCALE shuffle (the category hash partition); the prior's
    // SinglePartition exchange moves one partial-agg row per partition
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
      .filterNot(_.outputPartitioning.toString.contains("SinglePartition"))
    assert(shuffles.size <= 1, s"expected <= 1 data shuffle:\n$plan")
    assert(!plan.toString.contains("rangepartitioning"),
      s"no global sort expected:\n$plan")
    assert(!plan.toString.contains("SortMergeJoin"),
      s"prior must broadcast:\n$plan")
  }

  test("dsir: both bucket distributions broadcast — scoring is map-side over the feature frame") {
    import org.apache.spark.sql.functions.col
    val df = ops.TextAnalysis.importanceResample(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text",
      col("lang") === "en", nBuckets = 32, k = 50)
    val plan = executed(df)
    // p_t and p_r enter as broadcast hash joins on bucket; nothing
    // sort-merges (the corpus-side frame is never re-partitioned to score)
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"expected both distributions to broadcast:\n$plan")
    assert(!plan.toString.contains("SortMergeJoin"), s"no SMJ expected:\n$plan")
  }

  test("contrastive: negative draw is two broadcast rep joins, pairs come banded") {
    val df = ops.TextAnalysis.contrastiveTriplets(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text",
      minEstJac = 0.5, nBuckets = 16)
    val plan = executed(df)
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    // band-bucket candidate join + two rep-table joins, all hash equi —
    // the only acceptable non-equi anywhere is none at all
    assert(bhj.size >= 2, s"expected broadcast rep joins:\n$plan")
    assert(!plan.toString.contains("NestedLoop") &&
      !plan.toString.contains("CartesianProduct"),
      s"no nested-loop/cartesian expected:\n$plan")
  }

  test("rougeN: pure equi-join + hash-agg pipeline — no nested loop, no window, no sort") {
    import org.apache.spark.sql.functions.col
    val d = ops.Sources.table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.withColumnRenamed("text", "ref")
      .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("cand")),
        Seq("doc_id"))
    val plan = executed(ops.TextAnalysis.rougeN(pairs, "doc_id", "ref", "cand", 2))
    val s = plan.toString
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s"no non-equi join expected:\n$plan")
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window expected:\n$plan")
  }

  test("hardNegatives: cell-bounded equi joins + max_by fold — no rank window, no nested loop") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("label").cast("long").as("cell"))
    val pairs = e.filter(col("cid") % 50 === 0)
      .select(col("cid").as("anchor"), (col("cid") + 1).as("positive"))
    val plan = executed(ops.Similarity.hardNegatives(pairs, e))
    val s = plan.toString
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s"no non-equi join expected:\n$plan")
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"top-1 must be the max_by hash-agg, not a rank window:\n$plan")
  }

  test("vocabCoverage: rank window bounded by TakeOrderedAndProject, never the full vocabulary") {
    val df = ops.TextAnalysis.vocabCoverage(
      ops.Sources.table(spark, dir, "documents"), "text", Seq(10, 100, 1000))
    val plan = executed(df)
    val topk = collectAll(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty,
      s"expected a TakeOrderedAndProject truncation before the window:\n$plan")
    // every window must sit DOWNSTREAM of the top-max(ks) truncation —
    // an unpartitioned window whose subtree lacks the limit is the
    // single-reducer full-vocabulary sort this test exists to forbid
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the bounded rank window:\n$plan")
    windows.foreach { w =>
      assert(w.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s"window input is not limit-bounded:\n$w")
    }
  }

  test("semDedup: centroid assignment is a projection; pairs ride the cell equi join — no nested loop") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val plan = executed(ops.Dedup.semDedup(e,
      graft.fixtures.PinnedIndex.ivfCentroidsV1, 0.4))
    val s = plan.toString
    // k centroid dot products are plan literals inside a Project — a
    // NestedLoop/Cartesian here would mean the quantizer became a join
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s"no non-equi join expected:\n$plan")
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no rank window expected:\n$plan")
  }

  test("rankingMetrics: the ideal-DCG window is TopK-bounded, never the full qrels table") {
    import org.apache.spark.sql.functions.col
    val docs = ops.Sources.table(spark, dir, "documents")
    val ranked = docs.select((col("doc_id") % 3).as("q"), col("doc_id").as("id"),
      (col("n_chars") % 97).cast("double").as("score")).limit(60)
    val rels = docs.select((col("doc_id") % 3).as("q"), col("doc_id").as("id"),
      (col("n_chars") % 5).as("rel"))
    val plan = executed(ops.TextAnalysis.rankingMetrics(
      ranked, rels, "q", "id", "score", "rel", 10))
    // the qrels cut must be the sort-free heap...
    val topk = collectAll(plan) { case t: plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, s"expected TopKPerKeyExec on the ideal side:\n$plan")
    // ...and the ideal re-rank window must sit DOWNSTREAM of it — a
    // window over raw qrels is an unbounded per-query sort at web scale
    val idealWindows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.collect { case t: plans.TopKPerKeyExec => t }.nonEmpty => w
    }
    assert(idealWindows.nonEmpty,
      s"ideal window not bounded by the TopK heap:\n$plan")
  }

  test("kneser-ney: vocab, LM, context, and both continuation tables all broadcast") {
    val df = ops.TextAnalysis.knBigramScore(
      ops.Sources.table(spark, dir, "documents"), "doc_id", "text", 20)
    val plan = executed(df)
    // lm, ctx, n1f, n1b probes against the stored per-doc type counts:
    // ≥4 broadcasts in the FINAL plan (the vocab unk-map probes
    // broadcast too, but execute inside the perDoc checkpoint job since
    // r11's single-corpus-pass restructure); the type-total is the
    // 1-row re-entry
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.size >= 4,
      s"expected ≥4 broadcast joins in:\n$plan")
  }

  test("naiveBayes: model probes broadcast — the token stream never joins by content") {
    import org.apache.spark.sql.functions._
    val docs = ops.Sources.table(spark, dir, "documents")
    val model = ops.Models.naiveBayesFit(docs, "text",
      when(col("lang") === "en", 1).otherwise(0), vocabSize = 64)
    val plan = executed(ops.Models.naiveBayesScore(docs, model, "doc_id", "text"))
    // the model probe must broadcast; the only sort-merge join allowed
    // is the per-doc join-back on idCol — never a token-keyed one
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected a broadcast model probe in:\n$plan")
    val tokenSmj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "token")) => j
    }
    assert(tokenSmj.isEmpty, s"token-keyed sort-merge join leaked in:\n$plan")
  }

  test("naiveBayesServe: pure projection — zero joins, zero extra shuffles") {
    import org.apache.spark.sql.functions._
    val docs = ops.Sources.table(spark, dir, "documents")
    val model = ops.Models.naiveBayesFit(docs, "text",
      when(col("lang") === "en", 1).otherwise(0), vocabSize = 64)
    val plan = executed(ops.Models.naiveBayesServe(docs, model, "text")
      .select("doc_id", "log_odds", "pred"))
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"serve path must be map-only:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"serve path must not join:\n$plan")
  }

  test("kAnonymityAudit: one shuffle (the cohort hash-agg), no join") {
    import org.apache.spark.sql.functions._
    val ev = ops.Sources.table(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
    val plan = executed(ops.Privacy.kAnonymityAudit(
      ev, Seq("event_type", "day"), col("user_id"), k = 30, l = 10))
    // count(distinct sensitive) expands to the two-phase distinct
    // aggregate: (quasi, sensitive) exchange + (quasi) exchange — 2 max
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.size <= 2,
      s"cohort audit must be a bounded aggregate chain:\n$plan")
  }

  test("html extraction: map-only — no shuffle, no generate blowup") {
    import org.apache.spark.sql.functions._
    val docs = ops.Sources.table(spark, dir, "documents")
      .withColumn("h", concat(lit("<p>"), col("text"), lit("</p>")))
    val plan = executed(docs.select(col("doc_id"),
      ops.Html.visibleText(col("h")).as("t"),
      ops.Html.linkDensity(col("h")).as("d")))
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"html extraction must be map-only:\n$plan")
    assert(collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, s"html extraction must not explode rows:\n$plan")
  }

  test("truncationLoss: the explode runs on the narrow count stream, not text") {
    import org.apache.spark.sql.functions._
    val docs = ops.Sources.table(spark, dir, "documents")
    val plan = executed(ops.TextAnalysis.truncationLoss(
      docs, "text", col("source"), Seq(16, 64, 256)))
    val gens = collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty)
    // the generator's input must already be the narrow (group, count)
    // stream — the text column must not survive into the explode
    gens.foreach { g =>
      val names = g.child.output.map(_.name).toSet
      assert(names == Set("grp", "_n"),
        s"text leaked into the explode: ${g.child.output}:\n$plan")
    }
    // one (group, context) hash-agg shuffle + nothing else
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.size <= 1,
      s"expected a single aggregation shuffle:\n$plan")
  }

  test("bleu: MAP-ONLY — the gram kernel leaves no aggregate, generate, or extra shuffle") {
    import org.apache.spark.sql.functions.col
    val d = ops.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val pairs = d.withColumnRenamed("text", "ref")
      .join(d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("cand")), Seq("doc_id"))
    val plan = executed(
      ops.TextAnalysis.bleu(pairs, "doc_id", "ref", "cand"))
    // the (id, n, gram) formulation carried two hash-aggregates and a
    // clip join; the GramClipOverlap kernel must leave NONE of them —
    // the only join is the pair self-join (broadcast), no Generate,
    // no aggregate, no shuffle at all (AQE elides the broadcast one)
    assert(collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
      s"gram explode reappeared:\n$plan")
    assert(collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.isEmpty, s"gram aggregate reappeared:\n$plan")
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"bleu must be map-only after the pair join:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.size == 1,
      s"expected only the pair self-join:\n$plan")
  }

  test("binary cell serving: Hamming tier joins BY CELL, candidates heap-bounded") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
    val plan = executed(ops.Similarity.topKHammingCells(
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      graft.fixtures.PinnedIndex.ivfCentroidsV1,
      dim = 64, candK = 30, k = 5, nProbe = 4))
    // every join must be a broadcast EQUI join (cell tier + the two
    // rerank probes) — a nested-loop anywhere means the corpus is
    // being scanned per query again
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"nested loop in the serving path:\n$plan")
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 3, s"expected cell + 2 rerank broadcast joins:\n$plan")
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("cell"))),
      s"the Hamming tier must equi-join by cell:\n$plan")
    // the candK selection must be a BOUNDED per-group selection: the
    // custom heap GraftExtensions plans (this suite's session, like
    // Bench's) or, in a session without the extensions, Spark's own
    // WindowGroupLimit rank pushdown — never an unbounded full-partition
    // window
    val bounded = collectAll(plan) {
      case t: graft.plans.TopKPerKeyExec => t: Any
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w: Any
    }
    assert(bounded.size >= 2, // candK tier + final k tier
      s"a rank filter lost its bounded-selection pushdown:\n$plan")
  }

  test("residual cell serving (1-bit + int8): cell equi-joins, no nested loop, bounded selections") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
    for (f <- Seq(
        ops.Similarity.topKResidualCells _,
        ops.Similarity.topKInt8ResidualCells _)) {
      val plan = executed(f(
        e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        graft.fixtures.PinnedIndex.ivfCentroidsV1,
        64, 30, 5, 4))
      assert(collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"nested loop in the residual serving path:\n$plan")
      val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
      assert(bhj.size == 3, s"expected cell + 2 rerank broadcast joins:\n$plan")
      assert(bhj.exists(_.leftKeys.exists(_.toString.contains("cell"))),
        s"the residual tier must equi-join by cell:\n$plan")
      val bounded = collectAll(plan) {
        case t: graft.plans.TopKPerKeyExec => t: Any
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w: Any
      }
      assert(bounded.size >= 2,
        s"a rank filter lost its bounded-selection pushdown:\n$plan")
    }
  }

  test("rougeL: MAP-ONLY — the LCS kernel leaves no generate, aggregate, or extra shuffle") {
    import org.apache.spark.sql.functions.{col, substring}
    val d = ops.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 160).as("text"))
    val pairs = d.withColumnRenamed("text", "ref")
      .join(d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("cand")), Seq("doc_id"))
    val plan = executed(
      ops.TextAnalysis.rougeL(pairs, "doc_id", "ref", "cand"))
    // same contract as bleu: the quadratic DP runs INSIDE the row —
    // nothing may explode, aggregate, or shuffle after the pair join
    assert(collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
      s"token explode appeared:\n$plan")
    assert(collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.isEmpty, s"aggregate appeared:\n$plan")
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"rougeL must be map-only after the pair join:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.size == 1,
      s"expected only the pair self-join:\n$plan")
  }

  test("asym cell serving: same bounded shape as the Hamming tier — cell equi-join, heap-bounded") {
    import org.apache.spark.sql.functions.col
    val e = ops.Sources.table(spark, dir, "embeddings")
    val plan = executed(ops.Similarity.topKAsymCells(
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      graft.fixtures.PinnedIndex.ivfCentroidsV1,
      dim = 64, candK = 30, k = 5, nProbe = 4))
    assert(collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"nested loop in the serving path:\n$plan")
    val bhj = collectAll(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 3, s"expected cell + 2 rerank broadcast joins:\n$plan")
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("cell"))),
      s"the asym tier must equi-join by cell:\n$plan")
    val bounded = collectAll(plan) {
      case t: graft.plans.TopKPerKeyExec => t: Any
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w: Any
    }
    assert(bounded.size >= 2,
      s"a rank filter lost its bounded-selection pushdown:\n$plan")
  }

  test("epochShuffle: MAP-ONLY — position assignment adds no shuffle, no join") {
    import org.apache.spark.sql.functions.col
    val d = ops.Sources.table(spark, dir, "documents").select(col("doc_id"))
    val plan = executed(ops.Sampling.epochShuffle(d, "doc_id", 42L, Seq(0, 1, 2)))
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"epoch shuffle must not shuffle:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"epoch shuffle must not join:\n$plan")
  }

  test("dpoPairs: ONE partial+final aggregate — no window, one shuffle of per-group structs") {
    import org.apache.spark.sql.functions._
    val r = ops.Sources.table(spark, dir, "documents").select(
      shiftright(col("doc_id"), 3).as("prompt_id"),
      col("doc_id").as("rid"), length(col("text")).as("s"))
    val plan = executed(ops.Models.dpoPairs(r, "prompt_id", "rid", "s", 40.0))
    assert(collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"dpoPairs must not use a window:\n$plan")
    // struct min/max buffers force SortAggregate (per-partition sorts,
    // spillable) — the claim that matters is the partial/final split:
    // the exchange carries two structs per prompt, never the completions
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"expected the one agg shuffle:\n$plan")
    val aggs = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final aggregate pair:\n$plan")
    assert(aggs.exists(_.aggregateExpressions.exists(_.toString.contains("partial_max"))),
      s"map-side partial max lost:\n$plan")
  }

  test("merkle leaves: ONE hash-agg shuffle with map-side partials, no join") {
    import org.apache.spark.sql.functions.col
    val o = ops.Sources.table(spark, dir, "orders")
    val plan = executed(ops.Profile.merkleLeaves(o,
      Seq("o_orderkey", "o_custkey", "o_orderpriority"),
      col("o_orderkey"), levels = 12))
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"expected exactly the leaf-agg shuffle:\n$plan")
    val aggs = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final hash aggregate:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.isEmpty)
  }

  test("laplacianSharpness: per-partition decode — no shuffle anywhere") {
    val imgs = ops.Multimodal.pgmMixedTable(spark, dir)
    val plan = executed(ops.Multimodal.laplacianSharpness(imgs, 35000.0))
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"decode+kernel must stay map-only:\n$plan")
  }

  test("blocklistScreen: map-only — one bounded Generate, no join, no shuffle") {
    val d = ops.Sources.table(spark, dir, "documents")
    val plan = executed(ops.TextAnalysis.blocklistScreen(
      d, "doc_id", "text", Seq("the", "at", "ation")))
    assert(collectAll(plan) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"the screen must not shuffle:\n$plan")
    assert(collectAll(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"the screen must not join:\n$plan")
    val gens = collectAll(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 1, s"expected the one posexplode Generate:\n$plan")
  }
}
