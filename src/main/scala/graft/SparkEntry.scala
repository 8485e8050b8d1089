package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.LenientDate
import graft.fixtures.TimesheetFixture
import graft.ops._
import graft.pipelines.{CurationPipeline, TimesheetPipeline}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql`. Every query
  * ends in a deterministic ORDER BY so the comparison is stable regardless
  * of partitioning.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TimesheetPipeline.flagship(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** Balanced scan for CPU-heavy pipelines (regex/hash/vector math per
    * row): spreads a single-row-group local file across cores. Plain
    * aggregate scans stay on t() — an extra shuffle there is pure loss. */
  private def tb(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name, balance = true)

  /** The trained quality classifier's scored corpus (q163's pipeline) —
    * shared by the model-governance rows (q177 calibration, q179 AUC):
    * engineered features checkpointed once, 3-step logreg fit, scored
    * frame with (doc_id, y, prob, pred). */
  private def scoredDocsQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.words(col("text"))
    val xs = Seq("x1", "x2", "x3")
    // feature frame feeds 3 gradient passes + the score pass:
    // materialize the regex work once
    val f = tb(s, dir, "documents").select(
        col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        TextAnalysis.hitRatio(toks, TextAnalysis.stopwords.toMap.apply("en"))
          .as("x1"),
        TextAnalysis.punctRatio(col("text")).as("x2"),
        least(size(toks).cast("double") / 100.0, lit(1.0)).as("x3"))
      .localCheckpoint()
    Models.logregScore(f, Models.logregFit(f, "y", xs), xs)
  }

  /** Fixed per-JVM scratch dir for queries that write intermediate files
    * (round trips, schema-evolution generations, stream-source links).
    * One path per `name`, reused on every invocation — a bench loop that
    * runs a query dozens of times overwrites the same directory instead of
    * leaking a fresh temp dir per run — and removed recursively on JVM
    * exit. */
  private val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p
  }

  private def scratch(name: String): String = {
    val d = scratchRoot.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───── E1 flagship: scan → unpivot → cleanse → join → agg ─────
    "q01_e1_flagship" -> ((s, dir) => TimesheetPipeline.flagship(s, dir)),

    // ───── S2: heterogeneous multi-sheet union with column defaulting ─────
    "q02_union_sheets" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val sheetF = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority").as("commessa"),
          col("o_totalprice").as("val"))
      val sheetO = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice").as("val")) // no commessa
      val sheetP = o.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_orderpriority").as("commessa")) // no val
      Sources.unionSheets(
          Seq("F" -> sheetF, "O" -> sheetO, "P" -> sheetP), defaultCol = "commessa")
        .orderBy("o_orderkey")
    },

    // ───── P1/P2/P4/P5: scalar cleansing layer ─────
    "q03_cleanse_scalars" -> { (s, dir) =>
      TimesheetFixture.wide(s, dir).select(
          col("rid"),
          Cleansing.weekStart(col("weekrange")).as("week_start"),
          Cleansing.surname(col("autore")).as("surname"),
          Cleansing.cleanHours(col("h_giovedi")).as("ore_gio"))
        .orderBy("rid")
    },

    // ───── R1: weekday unpivot ─────
    "q04_unpivot" -> { (s, dir) =>
      Reshape.meltWeek(TimesheetFixture.wide(s, dir),
          idCols = Seq("rid", "sheet", "weekrange", "autore", "commessa"))
        .filter(col("ore_raw").isNotNull)
        .select("rid", "giorno", "doff", "ore_raw")
        .orderBy("rid", "doff")
    },

    // ───── J1/P3: broadcast lookup join with fall-through default ─────
    "q05_lookup_join" -> { (s, dir) =>
      import s.implicits._
      val m = Seq(("BUILDING", "B2B"), ("AUTOMOBILE", "AUTO"))
        .toDF("seg_raw", "seg_mapped")
      Lookup.mapWithDefault(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment").as("segment")),
          "segment", m)
        .orderBy("c_custkey")
    },

    // ───── A1: 3-key sum aggregate ─────
    "q06_agg_sum3" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("data"),
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .groupBy("data", "l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("data", "l_returnflag", "l_linestatus")
    },

    // ───── A2: distinct-set string-join + sum aggregate ─────
    "q07_agg_setjoin" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        col("l_shipdate").cast("date").as("data"),
        col("l_returnflag").as("surname"),
        col("l_linestatus").as("commessa"),
        col("l_quantity").as("ore"))
      Aggregates.setJoinSum(li, Seq("data", "surname"), "commessa", "ore")
        .orderBy("data", "surname")
    },

    // ───── S5/J2: update-only keyed merge ─────
    "q08_merge_update" -> { (s, dir) =>
      val target = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderpriority").as("commessa"),
        col("o_totalprice").as("ore"))
      val updates = Aggregates.setJoinSum(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("o_orderkey"),
          col("l_returnflag").as("commessa"),
          col("l_quantity").as("ore")),
        Seq("o_orderkey"), "commessa", "ore")
      MergeUpdate.updateOnly(target, updates, Seq("o_orderkey"),
          Map("commessa" -> "commessa", "ore" -> "ore"))
        .orderBy("o_orderkey")
    },

    // ───── SCD2: history-keeping dimension merge (S5's insert-capable dual) ─────
    "q56_scd2_merge" -> { (s, dir) =>
      val dim = t(s, dir, "customer").select(
        col("c_custkey").as("k"), col("c_mktsegment").as("attr"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      // every 3rd key updates (half changed, half identical); some brand-new keys
      val c = t(s, dir, "customer")
      val updates = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 2 === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG-"), col("c_mktsegment"))).as("attr"))
        .union(c.filter(col("c_custkey") % 500 === 0)
          .select((col("c_custkey") + 10000000L).as("k"), lit("NEWSEG").as("attr")))
      MergeUpdate.scd2(dim, updates, Seq("k"), "attr", "valid_from", "valid_to",
          lit(java.sql.Date.valueOf("2024-06-01")))
        .orderBy("k", "valid_from")
    },

    // ───── Window functions: ranked top-N per group ─────
    "q09_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // ───── Tumbling time-window aggregate (batch form of the streaming op) ─────
    "q10_window_tumbling" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // ───── S4: partitioned write + read-back round trip ─────
    "q11_part_write" -> { (s, dir) =>
      val out = scratch("s4_part_write")
      Sinks.writePartitioned(
        TimesheetPipeline.flagshipUnordered(s, dir), "surname", out)
      s.read.parquet(out)
        .groupBy("surname")
        .agg(count(lit(1)).as("n_rows"), sum("ore").as("sum_ore"))
        .orderBy("surname")
    },

    // ───── S1 containers: CSV and JSON-lines round trips ─────
    // write a typed extract to the container format, read it back
    // schema-first, aggregate — proves the non-parquet sources preserve
    // types/nulls end to end (oracle = same aggregate off the original)
    "q53_csv_roundtrip" -> { (s, dir) =>
      val out = scratch("csv_roundtrip")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").option("header", true).csv(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
      Sources.csvTable(s, out, schema)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("c_mktsegment")
    },

    // ───── S1 (XML container): Spark 4's native XML source — the
    // schema-first scan posture of q53/q54 extended to the last
    // first-class semi-structured container; storage round trip is
    // content-identity, so the oracle is the plain parquet aggregate ─────
    "q139_xml_roundtrip" -> { (s, dir) =>
      val out = scratch("xml_roundtrip")
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write.mode("overwrite").option("rootTag", "parts")
        .option("rowTag", "part").xml(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      s.read.schema(schema).option("rowTag", "part").xml(out)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("sum_price"))
        .orderBy("p_brand")
    },

    "q54_json_roundtrip" -> { (s, dir) =>
      val out = scratch("json_roundtrip")
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").json(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE")
      Sources.jsonTable(s, out, schema)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("sum_bal"))
        .orderBy("s_nationkey")
    },

    "q62_orc_roundtrip" -> { (s, dir) =>
      val out = scratch("orc_roundtrip")
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .write.mode("overwrite").orc(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      Sources.orcTable(s, out, schema)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("sum_price"))
        .orderBy("p_brand")
    },

    // ───── Dedup: exact (normalized bag-of-words content key) ─────
    "q12_dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(tb(s, dir, "documents"), "doc_id",
          md5(concat_ws(" ",
            array_sort(array_distinct(TextAnalysis.words(col("text")))))))
        .orderBy("keeper_id")
    },

    // ───── Dedup: exact n-gram Jaccard near-dup pairs ─────
    "q13_dedup_jaccard" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.jaccardPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8)
        .orderBy("id_a", "id_b")
    },

    // ───── Dedup: MinHash + LSH banded candidates ─────
    "q14_dedup_minhash" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.minhashPairs(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .orderBy("id_a", "id_b")
    },

    // ───── Dedup: SimHash + banded Hamming pairs ─────
    "q15_dedup_simhash" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6)
        .orderBy("id_a", "id_b")
    },

    // ───── Dedup: embedding-cosine near-dup (label-blocked) ─────
    "q16_dedup_embedding" -> { (s, dir) =>
      Dedup.embeddingPairs(tb(s, dir, "embeddings"),
          "vec_id", "embedding", "label", 0.4)
        .orderBy("id_a", "id_b")
    },

    // ───── Similarity: brute-force cosine top-k ─────
    "q17_sim_topk" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKBrute(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5)
        .orderBy("qid", "rnk")
    },

    // ───── Similarity: IVF-style cell-probed top-k ─────
    "q18_sim_topk_ivf" -> { (s, dir) =>
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

    // ───── Text: stopword language-ID ─────
    // langIdText: whole-text regexp_count passes (codegen'd) instead of
    // HOF filters over a token array (interpreted, re-evaluated per score
    // branch) — same values, ~40x less per-doc work at corpus scale
    "q19_text_langid" -> { (s, dir) =>
      tb(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.langIdText(col("text")).as("lang_pred"),
          round(TextAnalysis.hitRatioText(col("text"),
            TextAnalysis.stopwords.toMap.apply("en")), 6).as("s_en"))
        .orderBy("doc_id")
    },

    // ───── Text: quality scoring ─────
    "q20_text_quality" -> { (s, dir) =>
      tb(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.wordCount(col("text")).as("n_words"),
          round(TextAnalysis.avgWordLenText(col("text")), 6).as("avg_wlen"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.hitRatioText(col("text"),
            TextAnalysis.stopwords.toMap.apply("en")), 6).as("stop_ratio"),
          round(TextAnalysis.qualityScoreText(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    },

    // ───── Text: token counting per source ─────
    "q21_text_tokens" -> { (s, dir) =>
      tb(s, dir, "documents").select(
          col("source"),
          TextAnalysis.wsTokenCount(col("text")).as("ws"),
          size(TextAnalysis.bpeTokens(col("text"))).as("bpe"),
          length(col("text")).as("chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("sum_ws"),
          sum("bpe").as("sum_bpe"), sum("chars").as("sum_chars"))
        .orderBy("source")
    },

    // ───── Text: document fingerprinting ─────
    "q22_text_fingerprint" -> { (s, dir) =>
      tb(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.contentFingerprint(col("text")).as("fp_content"),
          Hashing.polyFingerprint(TextAnalysis.words(col("text"))).as("fp_poly"))
        .orderBy("doc_id")
    },

    // ───── Multimodal: REAL mixed-modality decode — ids route to genuine
    // PGM / WAV / Y4M containers, parsed byte-level through one
    // mapPartitions boundary, then per-kind corpus statistics. (The
    // compressed-codec decodeStub survives only as the documented
    // JPEG/H.264 stand-in inside Multimodal, not as a driver row.) ─────
    "q23_multimodal" -> { (s, dir) =>
      Multimodal.realMediaFeatures(s, dir)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum("n_bytes").as("sum_bytes"),
          sum("units").as("sum_units"),
          sum("val_sum").as("sum_val"))
        .orderBy("kind")
    },

    // ───── Session windows over events (batch form of the streaming op) ─────
    "q24_session_window" -> { (s, dir) =>
      graft.streaming.StreamingOps.sessionize(t(s, dir, "events"))
        .orderBy("user_id", "session_start")
    },

    // ───── Typed-group sessionizer: flatMapGroups twin of q24 ─────
    "q52_sessionize_typed" -> { (s, dir) =>
      graft.streaming.StreamingOps.sessionizeTyped(t(s, dir, "events"))
        .orderBy("user_id", "session_start")
    },

    // ───── E2/E3: the v1/v2 pipeline (case-preserved surname, A1 agg) ─────
    "q25_e2_pipeline" -> ((s, dir) => TimesheetPipeline.pipelineV1(s, dir)),

    // ───── Similarity: random-hyperplane LSH-bucketed top-k ─────
    "q26_sim_topk_lsh" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKLsh(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, nBits = 4)
        .orderBy("qid", "rnk")
    },

    // ───── Semi/anti joins: customers with/without open orders ─────
    "q27_join_semi_anti" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val semi = c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_open").as("status"))
      val anti = c.join(open, c("c_custkey") === open("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_open").as("status"))
      semi.unionByName(anti).orderBy("c_custkey")
    },

    // ───── Rollup: subtotals + grand total over (returnflag, linestatus) ─────
    "q28_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ───── CUBE: all grouping-set combinations + grouping_id ─────
    "q49_cube" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ───── Histogram: fixed-width numeric binning ─────
    "q50_histogram" -> { (s, dir) =>
      t(s, dir, "orders")
        .select((floor(col("o_totalprice") / 25000) * 25000).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // ───── Global top-N: ORDER BY + LIMIT (TakeOrderedAndProject) ─────
    "q29_topn_global" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },

    // ───── Distinct-count aggregates (exact; approx_count_distinct in spec) ─────
    "q30_distinct_count" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct("l_partkey").as("n_part"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ───── Semi-structured: JSON extraction from the events props column ─────
    "q31_json_extract" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")
    },

    // ───── Statistical aggregates: exact percentiles + stddev ─────
    "q32_stats" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(stddev_samp(col("value")), 6).as("sd"))
        .orderBy("event_type")
    },

    // ───── Bucketed storage: write bucketed tables, join shuffle-free ─────
    "q33_bucketed_join" -> { (s, dir) =>
      for (tbl <- Seq("g33_orders", "g33_lineitem")) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
        if (loc.exists()) { loc.listFiles().foreach(_.delete()); loc.delete() }
      }
      Sinks.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_orderkey", 8, "g33_orders")
      Sinks.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_quantity")),
        "o_orderkey", 8, "g33_lineitem")
      s.table("g33_orders").join(s.table("g33_lineitem"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("sum_qty"),
          max("o_totalprice").as("price"))
        .orderBy("o_orderkey")
    },

    // ───── Skew: salted join, row-identical to the plain join ─────
    "q34_salted_join" -> { (s, dir) =>
      import s.implicits._
      val dim = Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
        .toDF("l_returnflag", "label")
      Skew.saltedJoin(
          t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          dim, Seq("l_returnflag"), buckets = 8)
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("label")
    },

    // ───── Analytic window functions: lag/lead, running + moving aggregates ─────
    "q35_window_analytics" -> { (s, dir) =>
      val byCust = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val movingW = byCust.rowsBetween(-2, 0)
      t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("prev_price", lag("o_totalprice", 1).over(byCust))
        .withColumn("next_key", lead("o_orderkey", 1).over(byCust))
        .withColumn("run_total",
          round(sum("o_totalprice").over(byCust.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .withColumn("mov_avg3", round(avg("o_totalprice").over(movingW), 6))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },

    // ───── Similarity: multi-probe LSH top-k (recall/cost knob) ─────
    "q37_sim_topk_multiprobe" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKLshMultiProbe(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, nBits = 4)
        .orderBy("qid", "rnk")
    },

    // ───── Similarity: IVF top-k over a deterministic sampled codebook
    // (multi-cell probe; full SQL oracle — the Lloyd-TRAINED index is
    // served by q220 over the pinned fixture) ─────
    "q39_sim_topk_ivf_sampled" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKIvfSampled(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, nCells = 16, nProbe = 4)
        .orderBy("qid", "rnk")
    },

    // ───── Similarity: product-quantized ADC top-k + exact re-rank over
    // hash-seeded codebooks (full SQL oracle — the Lloyd-TRAINED books
    // are served by q221 over the pinned fixture) ─────
    "q55_sim_topk_pq" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKPqSeeded(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dim = 64, m = 8, ksub = 16, candMult = 8)
        .orderBy("qid", "rnk")
    },

    // ───── Multimodal: binary frame sampling (expression-only slicing) ─────
    // frame content checked as a string: payloads are UTF-8 text bytes in
    // the synthetic media table, so the byte slices round-trip losslessly
    // and the DuckDB oracle can reproduce them with char substrings
    "q40_frame_sample" -> { (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaTable(s, dir).toDF().filter(col("kind") === "video"),
          n = 4, frameBytes = 32)
        .select(col("id"), col("frame_no"),
          length(col("frame")).as("frame_len"),
          col("frame").cast("string").as("frame_str"))
        .orderBy("id", "frame_no")
    },

    // ───── Multimodal: batch resize (stride-sampling stub, sizes oracle-checked) ─────
    "q51_resize" -> { (s, dir) =>
      Multimodal.resize(Multimodal.mediaTable(s, dir), maxBytes = 512)
        .toDF()
        .select(col("id"), col("kind"),
          col("nBytesIn").cast("long").as("n_in"),
          col("nBytesOut").cast("long").as("n_out"),
          // ASCII corpus: the stride-sampled bytes round-trip as chars,
          // so the oracle verifies the resized CONTENT, not just sizes
          col("payload").cast("string").as("out_str"))
        .orderBy("id")
    },

    // ───── As-of join: clicks pick up the latest prior purchase value ─────
    "q41_asof_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("click_val"))
      // pre-aggregate (user, ts) so equal-timestamp right rows are
      // deterministic — the as-of contract (see asofJoinBackward scaladoc)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purch_val"))
      Temporal.asofJoinBackward(clicks, purchases,
          keys = Seq("user_id"), lTime = "ts", rTime = "ts",
          payload = Seq("purch_val"))
        .select("event_id", "user_id", "click_val", "purch_val")
        .orderBy("event_id")
    },

    // ───── Binned interval join: clicks inside 2h post-purchase windows ─────
    "q42_range_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      val pairs = Temporal.rangeJoinBinned(clicks, windows,
        keys = Seq("user_id"), pTime = "ts",
        startCol = "w_start", endCol = "w_end", binSeconds = 3600)
      clicks.join(pairs.groupBy("event_id").agg(count(lit(1)).as("n_cover")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_cover"), lit(0L)).as("n_cover"))
        .orderBy("event_id")
    },

    // ───── Pivot: the dual of R1 — long records back to weekday columns ─────
    // explicit value list: pivot without one collects distinct values to
    // the driver first (an extra job, unbounded at scale)
    "q44_pivot" -> { (s, dir) =>
      Reshape.meltWeek(TimesheetFixture.wide(s, dir), idCols = Seq("rid"))
        .withColumn("ore", Cleansing.cleanHours(col("ore_raw")))
        .filter(Cleansing.keepHours(col("ore_raw"), col("ore")))
        .groupBy("rid")
        .pivot("giorno", Reshape.weekdays.map(_._2))
        .agg(round(sum("ore"), 6))
        .orderBy("rid")
    },

    // ───── Sliding time windows (batch form; each event lands in 2 windows) ─────
    "q46_window_sliding" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // ───── Sequence packing: docs → fixed-size context bins per source ─────
    "q47_seq_pack" -> { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packBins(d, "source", "doc_id", "n_tok", ctxTokens = 2048)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
        .orderBy("source", "bin")
    },

    // ───── TF-IDF top-k retrieval for a fixed query ─────
    "q48_tfidf" -> { (s, dir) =>
      TextAnalysis.tfidfTopK(tb(s, dir, "documents"), "text", "doc_id",
        terms = Seq("spark", "query", "join"), k = 10)
    },

    // ───── Profiling: one-pass per-column stats ─────
    "q45_profile" -> { (s, dir) =>
      Profile.numericProfile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy("col_name")
    },

    // ───── Dedup: near-dup pairs → duplicate clusters (connected components) ─────
    "q43_dedup_clusters" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.clusters(
          Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
          "id_a", "id_b")
        .orderBy("rep")
    },

    // ───── Exact-quota per-source sampling (data mixing) ─────
    "q65_quota_sample" -> { (s, dir) =>
      TextAnalysis.quotaSample(tb(s, dir, "documents"), "doc_id", "source",
          defaultQuota = 10, overrides = Map("src0" -> 25, "src1" -> 0))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ───── Point-in-time join: facts pick up the SCD2 version valid at the fact date ─────
    "q64_pit_join" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val dim0 = cust.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("attr"),
        to_date(lit("1992-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val upd = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          concat(lit("SEG-"), col("c_mktsegment")).as("attr"))
      val dim = MergeUpdate.scd2(dim0, upd, Seq("k"), "attr",
        "valid_from", "valid_to", to_date(lit("1995-06-01")))
      val facts = t(s, dir, "orders").select(col("o_custkey"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("odate"))
      Temporal.pointInTimeJoin(facts, dim, "o_custkey", "k",
          "odate", "valid_from", "valid_to")
        .groupBy("attr")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("attr")
    },

    // ───── Canonical selection: best-quality member per near-dup cluster ─────
    "q63_canonical" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b")
      val quality = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScoreText(col("text")), 6).as("keeper_q"))
      Dedup.canonicalPerCluster(labels, quality, "doc_id", "keeper_q")
        .orderBy("rep")
    },

    // ───── Deterministic split + stratified sampling (reproducible corpus ops) ─────
    "q38_split_sample" -> { (s, dir) =>
      val rates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 0.25)
      tb(s, dir, "documents")
        .withColumn("split",
          TextAnalysis.splitAssign(col("doc_id"), trainPct = 80, valPct = 10))
        .filter(TextAnalysis.stratifiedKeep(col("doc_id"), col("lang"), rates))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("split", "lang")
    },

    // ───── Set operations: INTERSECT / EXCEPT ─────
    "q36_set_ops" -> { (s, dir) =>
      val mar = t(s, dir, "orders").filter(month(col("o_orderdate").cast("date")) === 3)
        .select("o_custkey")
      val apr = t(s, dir, "orders").filter(month(col("o_orderdate").cast("date")) === 4)
        .select("o_custkey")
      val both = mar.intersect(apr).withColumn("which", lit("both"))
      val marOnly = mar.except(apr).withColumn("which", lit("march_only"))
      both.unionByName(marOnly).orderBy("which", "o_custkey")
    },

    // ───── Vocabulary construction: top-V tokens with contiguous ids ─────
    "q57_vocab" -> { (s, dir) =>
      TextAnalysis.buildVocab(tb(s, dir, "documents"), "text", size = 500)
        .orderBy("token_id")
    },

    // ───── Z-order layout: Morton key + per-bucket skipping bounds ─────
    // The bucket stats ARE the data-skipping story: each z-bucket (→ file
    // after Layout.zOrdered) spans a narrow range in BOTH columns.
    "q58_zorder" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          Layout.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .groupBy(shiftright(col("z"), 16).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("p_min"), max("l_partkey").as("p_max"),
          min("l_suppkey").as("s_min"), max("l_suppkey").as("s_max"))
        .orderBy("zbucket")
    },

    // ───── Decontamination: corpus minus benchmark 4-gram overlap ─────
    "q59_decontam" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ───── Bigram-LM perplexity scoring (self-trained, vocab-capped) ─────
    "q61_lm_score" -> { (s, dir) =>
      TextAnalysis.bigramLmScore(tb(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id")
    },

    // ───── Repetition filters: Gopher-style corpus-quality signals ─────
    // keep rule thresholds the 6dp-rounded stats (oracle decides identically)
    "q60_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionStats(tb(s, dir, "documents"), "doc_id", "text")
        .withColumn("keep",
          (col("top_unigram_frac") <= 0.1 && col("top_bigram_frac") <= 0.05 &&
            col("distinct_ratio") >= 0.35).cast("int"))
        .orderBy("doc_id")
    },

    // ───── Structured Streaming end-to-end: file source → session windows
    // → memory sink. AvailableNow drains the source then stops; complete
    // mode emits every session regardless of the final watermark (append
    // would strand in-watermark sessions in state when the source ends).
    // Same oracle as q24 — the batch/stream parity the Structured
    // Streaming contract promises, made a driver-visible row. ─────
    "q66_stream_sessionize" -> { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.sessionize(eventsStream(s, dir)),
        "g66_sessions", "complete")
        .orderBy("user_id", "session_start")
    },

    // ───── Structured Streaming: tumbling hourly aggregate end-to-end —
    // the q10 batch window as a true stream, same oracle ─────
    "q67_stream_tumbling" -> { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.hourlyByType(eventsStream(s, dir))
          .withColumn("sum_value", round(col("sum_value"), 2)),
        "g67_hourly", "complete")
        .orderBy("win_start", "event_type")
    },

    // ───── Structured Streaming: exact dedup with bounded state — the
    // same events stream twice (every id arrives as a duplicate), the
    // dedup operator keeps exactly one; oracle = the plain events table ─────
    "q68_stream_dedup" -> { (s, dir) =>
      val doubled = eventsStream(s, dir).unionByName(eventsStream(s, dir))
      drainToTable(s,
        graft.streaming.StreamingOps.streamingDedup(doubled, Seq("event_id")),
        "g68_dedup", "append")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    },

    // ───── PII scrubbing: emails/IPs/phone-runs → typed placeholders.
    // The synthetic corpus is digit-free, so deterministic PII derived
    // from doc_id is appended first (mirrored verbatim in the oracle);
    // the scrubbed text is checked by 60-bit fingerprint ─────
    "q69_pii_scrub" -> { (s, dir) =>
      val dirty = tb(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" tel "), (lit(5550000000L) + col("doc_id")).cast("string"))
          .as("text"))
      TextAnalysis.piiScrub(dirty, "doc_id", "text")
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_num").cast("long").as("n_num"),
          Hashing.hash60(col("scrubbed")).as("fp_scrubbed"),
          length(col("scrubbed")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ───── Token chunking with overlap: context-window preparation ─────
    "q70_chunk_docs" -> { (s, dir) =>
      TextAnalysis.chunkDocs(tb(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_no")
    },

    // ───── The composite near-dup REMOVAL pipeline a corpus user runs:
    // MinHash+LSH candidates → thresholded edges → connected components →
    // keep each component's min-id member (q14 + q43's machinery end to
    // end, on the minhash edge family) ─────
    "q71_dedup_pipeline" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      val edges = Dedup.minhashPairs(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .filter(col("est_jac") >= 0.75) // exact multiple of 1/16: decides identically in SQL
      val dupes = Dedup.connectedComponentsStar(edges, "id_a", "id_b")
        .filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"))
      docs.join(dupes, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ───── C4-style corpus-wide EXACT SEGMENT dedup: fixed 10-word
    // segments, first occurrence (smallest (id, seg_idx)) survives, docs
    // re-assembled from surviving segments — catches partial copies and
    // page boilerplate that whole-document dedup misses ─────
    "q72_segment_dedup" -> { (s, dir) =>
      Dedup.segmentDedup(tb(s, dir, "documents"), "doc_id", "text",
          segWords = 10)
        .orderBy("doc_id")
    },

    // ───── frequent-segment (boilerplate) removal: segments in > 2
    // distinct docs deleted from EVERY doc (no survivor — nav-bar strings
    // are noise in all their hosts) ─────
    "q73_boilerplate" -> { (s, dir) =>
      Dedup.dropFrequentSegments(tb(s, dir, "documents"), "doc_id", "text",
          segWords = 10, maxDocFreq = 2)
        .orderBy("doc_id")
    },

    // ───── Unicode NFC normalization (native codegen'd expression; DuckDB
    // nfc_normalize = the same canonical composition). The ASCII corpus is
    // decorated with combining acutes (a → a+U+0301) first — mirrored
    // verbatim in the oracle — so normalization genuinely recomposes ─────
    "q74_nfc_normalize" -> { (s, dir) =>
      val decorated = tb(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("t")) // a + combining acute (decomposed)
      decorated.select(col("doc_id"),
          length(col("t")).cast("long").as("len_raw"),
          length(TextAnalysis.nfcNormalize(col("t"))).cast("long").as("len_nfc"),
          Hashing.hash60(TextAnalysis.nfcNormalize(col("t"))).as("fp_nfc"))
        .orderBy("doc_id")
    },

    // ───── classic upsert MERGE (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    // INSERT): updates bump every 7th customer's balance + segment and
    // insert a shifted-key row for every 13th — matched rows take the
    // batch verbatim, new keys append ─────
    "q75_upsert_merge" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val target = c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val updates = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("UPSERTED").as("u_seg"),
          round(col("c_acctbal") + 100, 2).as("u_bal"))
        .unionByName(c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("NEWSEG").as("u_seg"), lit(0.0).as("u_bal")))
      MergeUpdate.upsert(target, updates, Seq("c_custkey"),
          Map("c_mktsegment" -> "u_seg", "c_acctbal" -> "u_bal"))
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
        .orderBy("c_custkey")
    },

    // ───── int8 scalar quantization of the embedding store: per-vector
    // (min, scale) + code checksum + reconstruction MSE ─────
    "q76_embed_quantize" -> { (s, dir) =>
      Similarity.quantizeInt8(tb(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    },

    // ───── event-time RANGE frame: per-customer trailing 7-day order
    // total (RANGE BETWEEN INTERVAL, the frame type q35's ROWS frames
    // don't cover; peers at the same date aggregate together) ─────
    "q77_window_range" -> { (s, dir) =>
      // orderdate is a midnight-aligned timestamp; day numbers make the
      // RANGE frame's interval arithmetic exact in both engines
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_date(to_date(col("o_orderdate"))))
        .rangeBetween(-6, 0) // 6 preceding days + current = 7-day window
      t(s, dir, "orders")
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("sum7", round(sum("o_totalprice").over(w), 2))
        .withColumn("n7", count(lit(1)).over(w))
        .drop("o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ───── explicit GROUPING SETS (the general form of q28's ROLLUP /
    // q49's CUBE): two single-column sets + the pair, no grand total ─────
    "q78_grouping_sets" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g78_li")
      s.sql(
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "count(*) AS n, grouping_id(l_returnflag, l_linestatus) AS gid " +
          "FROM g78_li " +
          "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
          "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST")
    },

    // ───── Structured Streaming: sliding 1h/30m windows end-to-end —
    // the q46 batch query as a true stream, same oracle ─────
    "q79_stream_sliding" -> { (s, dir) =>
      drainToTable(s,
        graft.streaming.StreamingOps.slidingByType(eventsStream(s, dir)),
        "g79_sliding", "complete")
        .orderBy("win_start", "event_type")
    },

    // ───── Structured Streaming: mapGroupsWithState running per-user
    // totals end-to-end (update mode; the monotone event count picks each
    // user's LAST emitted state if the source split into several batches) ─────
    "q80_stream_running_total" -> { (s, dir) =>
      import s.implicits._
      val typed = eventsStream(s, dir)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"))
        .as[graft.streaming.StreamingOps.UserEvent]
      val drained = drainToTable(s,
        graft.streaming.StreamingOps.runningUserTotals(typed).toDF(),
        "g80_totals", "update")
      val last = Window.partitionBy("user_id").orderBy(col("n").desc)
      drained.withColumn("_r", row_number().over(last))
        .filter(col("_r") === 1)
        .select(col("user_id"), col("n"), round(col("total"), 2).as("total"))
        .orderBy("user_id")
    },

    // ───── per-label embedding centroids (class prototypes): explode to
    // (label, pos), map-side-combined avg — vectors never shuffle ─────
    "q81_label_centroids" -> { (s, dir) =>
      Similarity.labelCentroids(tb(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos")
    },

    // ───── the composite CURATION pipeline a corpus user runs: LM-score
    // every doc (q61's model) → band by score terciles (cuts computed
    // once, broadcast back) → exact per-band quotas, downsampling the
    // worst band 5× (q65's sampler). Deterministic end to end ─────
    "q82_quality_mix" -> { (s, dir) =>
      // the scored frame feeds TWO consumers (the percentile cuts and the
      // banding join) — materialize the narrow (doc_id, avg_nll) result
      // once instead of running the whole LM pipeline twice (r10; the
      // scoredDocsQuality posture)
      val scored = TextAnalysis.bigramLmScore(tb(s, dir, "documents"),
        "doc_id", "text", vocabSize = 20)
        .localCheckpoint()
      val cuts = scored.agg(
        round(expr("percentile(avg_nll, 0.3333)"), 6).as("c1"),
        round(expr("percentile(avg_nll, 0.6667)"), 6).as("c2"))
      val banded = scored.crossJoin(broadcast(cuts))
        .withColumn("band",
          when(col("avg_nll") <= col("c1"), "good")
            .when(col("avg_nll") <= col("c2"), "mid")
            .otherwise("bad"))
        .select("doc_id", "band")
      TextAnalysis.quotaSample(banded, "doc_id", "band", 100, Map("bad" -> 20))
        .orderBy("doc_id")
    },

    // ───── pack-and-assemble: q47's bin assignment MATERIALIZED into
    // training contexts (docs joined in id order with an <eod> separator
    // — the text a trainer's data loader actually reads) ─────
    "q83_pack_assemble" -> { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        col("text"), TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packBins(d, "source", "doc_id", "n_tok", ctxTokens = 2048)
        .groupBy("source", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("sum_tokens"),
          concat_ws(" <eod> ", transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            _.getField("text"))).as("packed"))
        .orderBy("source", "bin")
    },

    // ───── stream-static join: the streaming events enrich against a
    // static dimension (type → weight) mid-stream, then window-aggregate
    // — the standard streaming enrichment shape ─────
    "q84_stream_static_join" -> { (s, dir) =>
      import s.implicits._
      // integral weights: a fractional weight times the 2-decimal values
      // lands sums on exact .005 halves, where decimal HALF_UP (Spark)
      // and binary rounding (DuckDB) disagree
      val weights = Seq(("click", 1.0), ("purchase", 5.0), ("signup", 3.0),
        ("view", 2.0), ("error", 0.0)).toDF("event_type", "weight")
      // LEFT join + weight-0 fallback: event types outside the dimension
      // keep their counts at weight 0 instead of vanishing — the oracle's
      // ELSE 0.0 derivation agrees even if the generator adds a type
      val enriched = eventsStream(s, dir)
        .join(weights, Seq("event_type"), "left") // stream-static left join
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value") * coalesce(col("weight"), lit(0.0))), 2)
            .as("weighted"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("weighted"))
      drainToTable(s, enriched, "g84_enriched", "complete")
        .orderBy("win_start", "event_type")
    },

    // ───── stream-stream interval join: clicks match purchases by the
    // same user within the following hour — watermarks on BOTH sides plus
    // the time-range condition bound the join state ─────
    "q85_stream_stream_join" -> { (s, dir) =>
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("p_user_id") === col("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      drainToTable(s,
        joined.select("click_id", "purchase_id", "user_id"),
        "g85_pairs", "append")
        .orderBy("click_id", "purchase_id")
    },

    // ───── correlated scalar subquery (Catalyst decorrelates to a
    // left-outer aggregate join — no per-row re-execution) ─────
    "q86_correlated_scalar" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("g86_c")
      t(s, dir, "orders").createOrReplaceTempView("g86_o")
      s.sql(
        "SELECT c_custkey, c_mktsegment, " +
          "(SELECT round(max(o_totalprice), 2) FROM g86_o o " +
          "WHERE o.o_custkey = c.c_custkey) AS max_price " +
          "FROM g86_c c ORDER BY c_custkey")
    },

    // ───── schema evolution on the lake: two parquet generations with
    // different columns, one mergeSchema read — the columnar-native form
    // of S2's heterogeneous-sheet union (absent columns surface as nulls) ─────
    "q87_schema_evolution" -> { (s, dir) =>
      val tmp = scratch("g87_schema_evolution")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen1")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmp/gen1", s"$tmp/gen2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // ───── incremental dedup — the daily-ingest shape: an incoming batch
    // (every 5th doc) dedups against the existing store by q12's
    // normalized-bag content key (anti-join on the digest — the store's
    // documents never move) and then within itself (min-id window). What
    // survives is what an append-only corpus actually ingests ─────
    "q88_incremental_dedup" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val key = md5(concat_ws(" ",
        array_sort(array_distinct(TextAnalysis.words(col("text"))))))
      val store = docs.filter(col("doc_id") % 5 =!= 0)
        .select(key.as("ck")).distinct()
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"), key.as("ck"))
      val w = Window.partitionBy("ck").orderBy("doc_id")
      batch.join(store, Seq("ck"), "left_anti")
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ───── custom whole-operator plan: sort-free top-k per key. The
    // TopKPerKeyNode logical plan (strategy-injected via
    // SparkSessionExtensions) replaces exchange→SORT→window→filter with
    // exchange→bounded-heap — O(n log k), memory keys·k, nothing to
    // spill. Oracle = the rank-window formulation it is proven equal to ─────
    "q89_topk_per_key" -> { (s, dir) =>
      TopK.perKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ───── REAL image decode through the mapPartitions boundary: encode
    // genuine binary PGM (Netpbm P5) images, parse them back byte-level
    // (header tokens + raw pixels), emit dimension/pixel features. The
    // oracle recomputes features from the deterministic pixel formula —
    // the Spark side actually round-trips the bytes ─────
    "q90_pgm_decode" -> { (s, dir) =>
      Multimodal.pgmFeatures(Multimodal.pgmTable(s, dir))
        .orderBy("doc_id")
    },

    // ───── real image resize: decode → nearest-neighbor ½× → re-encode →
    // decode again; features of the RESIZED image ─────
    "q91_pgm_resize" -> { (s, dir) =>
      import s.implicits._
      val resized = Multimodal.pgmTable(s, dir).mapPartitions(_.map(img =>
        Multimodal.PgmImage(img.id, Multimodal.resizePgmHalf(img.payload))))
      Multimodal.pgmFeatures(resized)
        .orderBy("doc_id")
    },

    // ───── sessionized funnel: gaps-and-islands sessionization (the
    // lag+cumsum formulation — q24/q52/q66 cover session_window and typed
    // state) + per-session conversion attribution (first purchase after
    // first click). Inactivity split strictly > 30min, matching q24 ─────
    "q92_session_funnel" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("_prev", lag("ts", 1).over(w))
        .withColumn("_ns",
          when(col("_prev").isNull ||
            col("ts") > col("_prev") + expr("INTERVAL 30 MINUTES"), 1)
            .otherwise(0))
        .withColumn("_sid", sum("_ns").over(run))
        .groupBy("user_id", "_sid")
        .agg(
          min("ts").as("session_start"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          coalesce(
            min(when(col("event_type") === "purchase", col("ts"))) >
              min(when(col("event_type") === "click", col("ts"))),
            lit(false)).as("converted"))
        .drop("_sid")
        .orderBy("user_id", "session_start")
    },

    // ───── REAL audio decode: RIFF/WAVE 16-bit PCM chunk-walked for
    // real (fmt + data), features from the parsed samples ─────
    "q93_wav_decode" -> { (s, dir) =>
      Multimodal.wavFeatures(s, dir).orderBy("doc_id")
    },

    // ───── REAL video decode: YUV4MPEG2 header + FRAME-delimited C420
    // planes parsed for real, per-clip luma statistics ─────
    "q94_y4m_decode" -> { (s, dir) =>
      Multimodal.y4mFeatures(s, dir).orderBy("doc_id")
    },

    // ───── the multimodal dedup journey: decode features through the
    // batch boundary, then exact-dup groups on the (de-normalized,
    // integer) feature fingerprint — perceptual dedup's exact baseline.
    // The L1 normalization inverts exactly: round(f·n) recovers the
    // integer bin count, so the key is engine-stable ─────
    "q95_image_dedup" -> { (s, dir) =>
      val feats = Multimodal.extractFeatures(Multimodal.mediaTable(s, dir)).toDF()
      val intHist = transform(col("features"), f =>
        round(f.cast("double") * col("nBytes"), 0).cast("long"))
      Dedup.exactGroups(feats, "id",
          md5(concat_ws(",", transform(intHist, _.cast("string")))))
        .orderBy("keeper_id")
    },

    // ───── the classic TPC-H trio on the driver tables (dates shifted to
    // the generated 1995-2001 range): the recognizable OLAP shapes.
    // Q1 — full-scan multi-aggregate with derived measures ─────
    "q96_tpch_q1" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ───── Q6 — the selective filter-aggregate (predicate pushdown path) ─────
    "q97_tpch_q6" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },

    // ───── Q3 — 3-way join + agg + top-10 (shippriority column absent
    // from the generated orders; otherwise the standard shape) ─────
    "q98_tpch_q3" -> { (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < lit("1998-03-15").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .filter(col("l_shipdate") > lit("1998-03-15").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
        .limit(10)
    },

    // ───── the df-capped Jaccard near-dup posture (q13's production
    // sibling): shingles above document frequency 3 are corpus
    // boilerplate with ~0 discrimination; dropping them bounds the worst
    // pair-join reducer by cap² while q13 stays the labeled exact path ─────
    "q99_dedup_jaccard_capped" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.jaccardPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8,
          maxShingleDf = Some(3))
        .orderBy("id_a", "id_b")
    },

    // ───── TPC-H join-depth trio: Q5/Q9/Q18 shapes exercise 5-6-way
    // join ordering + the semi-join-through-agg pattern that Q1/Q6/Q3
    // (q96-q98, 1-3 tables) don't reach.
    // Q5 — local-supplier revenue: 6-way join, region filter pushed to a
    // 5-row dim chain that broadcasts; customer and supplier must share a
    // nation (the extra non-key equi-condition) ─────
    "q100_tpch_q5" -> { (s, dir) =>
      val asiaNations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ───── Q9 shape — product-line profit by nation and year (no
    // partsupp table in the driver schema, so supply cost is the part's
    // retail price; the 5-way join + derived-column agg is the point) ─────
    "q101_tpch_q9" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").contains("red")),
          col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity")).as("amount"))
        .groupBy("nation", "o_year")
        .agg(round(sum("amount"), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // ───── Q18 shape — large-volume customers: the semi-join-through-agg
    // (orders restricted to those whose lineitems aggregate past a
    // threshold) feeding a 3-way join + re-aggregation ─────
    "q102_tpch_q18" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_sq"))
        .filter(col("_sq") > 300)
        .select("l_orderkey")
      val bigOrders = t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },

    // ───── data-quality expectation gate (deequ-shaped): declarative
    // constraints in ONE aggregate pass, one report row per check; the
    // o_custkey range check fails by design so the report demonstrably
    // carries violations, not just green rows ─────
    "q105_quality_checks" -> { (s, dir) =>
      Profile.qualityChecks(t(s, dir, "orders"),
          minRows = 1000,
          uniqueKeys = Seq("o_orderkey"),
          notNullCols = Seq("o_custkey", "o_totalprice"),
          ranges = Map(
            "o_custkey" -> (0.0, 1000.0),      // violated: custkeys exceed 1000
            "o_totalprice" -> (0.0, 1000000.0)))
        .orderBy("chk")
    },

    // ───── temperature-based domain mixing (T5-style α-sampling):
    // per-source quotas ∝ count^0.5 over a 300-doc budget — low-resource
    // sources up-weighted relative to their natural share; integer
    // weight/quota arithmetic keeps both engines bit-identical ─────
    "q104_temperature_mix" -> { (s, dir) =>
      TextAnalysis.temperatureMix(tb(s, dir, "documents"), "doc_id", "source",
          budget = 300, alpha = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ───── token-budget sampling: per source, the longest hash-rank
    // prefix of documents whose running TOKEN total fits an 800-token
    // budget — pretraining mixtures are specified in tokens, not docs;
    // integer running sums keep both engines bit-identical ─────
    "q106_token_budget_sample" -> { (s, dir) =>
      TextAnalysis.tokenBudgetSample(tb(s, dir, "documents"), "doc_id",
          "source", "text", tokenBudget = 800L)
        .select("doc_id", "source", "n_tok")
        .orderBy("doc_id")
    },

    // ───── exact substring-span dedup coverage (Lee et al. window form):
    // per doc, the fraction of 8-token windows whose rolling hash occurs
    // in ≥2 distinct docs. RollingHash = codegen'd O(n) Rabin–Karp; only
    // docs with ≥1 window (≥8 tokens) appear, so dup_frac never divides
    // by zero; docs with no duplicated span report 0.0 ─────
    "q107_span_dedup_coverage" -> { (s, dir) =>
      Dedup.spanDedupCoverage(tb(s, dir, "documents"), "doc_id", "text",
          width = 8, minDf = 2)
        .orderBy("doc_id")
    },

    // ───── exact substring-span dedup REMOVAL — the output side of Lee
    // et al. 2022 that q107 only measures: every token position covered
    // by a duplicated 8-token window is dropped from ALL occurrences
    // (aggressive C4-style variant) and the survivors reassembled into
    // the token-space text downstream tokenizers consume ─────
    "q108_span_dedup_remove" -> { (s, dir) =>
      Dedup.spanDedupRemove(tb(s, dir, "documents"), "doc_id", "text",
          width = 8, minDf = 2)
        .orderBy("doc_id")
    },

    // ───── TPC-H Q13 shape — customer order-count distribution: the
    // left-outer join (customers with zero orders MUST survive) into a
    // double aggregation; the classic skew probe (c_count=0 bucket) ─────
    "q109_tpch_q13" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(!col("o_orderpriority").startsWith("4-"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // ───── content-defined chunking dedup stats (LBFS/restic-style CDC):
    // rolling-hash boundaries make a shared run chunk identically at ANY
    // offset — the offset-invariance fixed-width q107 spans lack.
    // CdcChunks = codegen'd O(n) single pass; only 8-byte chunk hashes
    // (≈ n/16 per doc) ever explode ─────
    "q110_cdc_chunks" -> { (s, dir) =>
      Dedup.cdcChunkStats(tb(s, dir, "documents"), "doc_id", "text",
          width = 4, modulus = 16, minDf = 2)
        .orderBy("doc_id")
    },

    // ───── sequential conversion funnel over the event stream: per user,
    // earliest view, earliest click AFTER that view, earliest purchase
    // AFTER that click — each stage is a conditional min that reuses the
    // user_id partitioning; events reduce 67:1 before any join ─────
    "q111_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"), col("t_purchase").isNotNull.as("converted"))
        .orderBy("user_id")
    },

    // ───── BM25 ranking (Lucene-default k1/b saturating form) — q48
    // TF-IDF's production sibling; avgdl is an exact integer-valued sum,
    // so the float stats are bit-identical across engines ─────
    "q112_bm25" -> { (s, dir) =>
      TextAnalysis.bm25TopK(tb(s, dir, "documents"), "text", "doc_id",
        terms = Seq("spark", "query", "join"), k = 10)
    },

    // ───── MinHash estimator calibration: est-Jaccard vs EXACT Jaccard
    // + absolute error for every LSH candidate pair — the "is k=16
    // enough?" report you run before trusting thresholded dedup; exact
    // side bounded by the candidate doc set via semi-join ─────
    "q113_minhash_calibration" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.minhashCalibration(d, "doc_id", Dedup.shingles(col("toks"), 3))
        .orderBy("id_a", "id_b")
    },

    // ───── ANN recall report: IVF(sampled codebook, nProbe=4) top-5 vs
    // brute-force ground truth per query — the index-quality pre-flight
    // before trusting approximate search at scale. The brute side is the
    // deliberate verify scan (same as q17); production measures recall on
    // a query SAMPLE exactly like this ─────
    "q114_ann_recall" -> { (s, dir) =>
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

    // ───── event-transition matrix (first-order Markov counts): per user,
    // consecutive event pairs by time via ONE lead() window over the
    // user_id partitioning, then a (from, to) count — the user-journey
    // fingerprint; transition probability normalizes per from-state with
    // an exact integer-count division ─────
    "q116_event_transitions" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val counts = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      // normalize via a window over the COUNT table (≤ |types|² rows) —
      // a groupBy+join here would re-plan the event scan + lead window
      // twice (counts feeds both branches)
      counts
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / sum(col("n"))
            .over(Window.partitionBy("from_type")), 6).as("p"))
        .orderBy("from_type", "to_type")
    },

    // ───── cross-source near-dup overlap matrix: MinHash candidate pairs
    // at est ≥ 0.5, attributed to their (source, source) cell — the
    // corpus-mixing diagnostic that tells you WHICH feeds duplicate each
    // other before you weight them; source pair normalized by least/
    // greatest so the matrix is upper-triangular ─────
    "q117_source_overlap" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      val pairs = Dedup
        .minhashPairs(toks, "doc_id", Dedup.shingles(col("toks"), 3))
        .filter(col("est_jac") >= 0.5)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },

    // ───── TPC-H Q4 shape — order-priority checking: LEFT SEMI join with
    // a NON-EQUI residual (l_shipdate > o_orderdate) — the EXISTS
    // subquery shape; the semi stops probing an order at its first late
    // lineitem ─────
    "q119_tpch_q4" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-04-01").cast("date"))
      o.join(t(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ───── per-source corpus scorecard: doc count, mean token/char
    // length, language entropy — the feed-quality report behind mixing
    // weights; entropy folds per-lang counts in sorted order so the float
    // result is deterministic (no cross-partition double-sum ordering) ─────
    "q118_source_scorecard" -> { (s, dir) =>
      Profile.sourceScorecard(tb(s, dir, "documents"),
          "source", "lang", "text", "n_chars")
        .orderBy("source")
    },

    // ───── TPC-H Q16 shape — supplier diversity per part group: anti-join
    // blacklist (negative-balance suppliers stand in for the complaints
    // filter) feeding a count-DISTINCT aggregate over a selective dim
    // filter ─────
    "q115_tpch_q16" -> { (s, dir) =>
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      t(s, dir, "lineitem")
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(t(s, dir, "part").filter(col("p_size").isin(1, 5, 9, 13)),
          col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },

    // ───── streaming MERGE into a keyed serving store (foreachBatch
    // upsert — the production stream-ingest shape). The source is split
    // into 4 files streamed one per micro-batch so the store really is
    // built by repeated merges; the merge is batching-independent by
    // construction, and the oracle is the plain batch aggregate ─────
    "q103_stream_merge_store" -> { (s, dir) =>
      graft.streaming.StreamingOps
        .streamingMergeStore(eventsStreamSplit(s, dir, 4))
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"),
          col("last_ts"), col("last_type"))
        .orderBy("user_id")
    },

    // ───── TPC-H Q7 — volume shipping between a nation pair, by year.
    // Both nation dims pre-filtered to the pair and broadcast; the
    // pair-direction disambiguation is a residual `supp =!= cust` after
    // the two BHJs (equivalent to the spec's OR once each side is
    // restricted to the two nations) ─────
    "q120_tpch_q7" -> { (s, dir) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1998-01-01").cast("date"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ───── TPC-H Q8 — national market share inside a region/product
    // slice: the deepest join in the suite (lineitem→part→orders→
    // customer→nation→region + supplier→nation), with all dims broadcast
    // so the fact table shuffles only for the final year aggregate ─────
    "q121_tpch_q8" -> { (s, dir) =>
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("an_key"))
      val suppNation = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("an_key"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
          col("nation"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("nation") === "NATION_3", col("volume")).otherwise(0.0)) /
            sum(col("volume")), 6).as("mkt_share"))
        .orderBy("o_year")
    },

    // ───── TPC-H Q10 — returned-item reporting: top 20 customers by
    // revenue lost to returns in a quarter; the agg keys carry the
    // customer attributes so no second join is needed after the
    // aggregate ─────
    "q122_tpch_q10" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate") < lit("1996-04-01").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        // per-row cent quantization BEFORE the sum: each product is the
        // same binary double in any engine, integer cent sums are exact
        // in any order — the rounded per-customer sum can otherwise land
        // on a half-cent whose HALF_UP (Spark, decimal-string) and
        // binary (DuckDB) roundings disagree
        .agg(round(sum(round(
            col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100,
          2).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ───── TPC-H Q12 shape — shipping-mode priority audit (no
    // l_shipmode/commitdate in the driver schema: "slow" is shipdate
    // more than 30 days past the order date): per-linestatus counts of
    // critical vs non-critical order priorities among slow shipments ─────
    "q123_tpch_q12" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // ───── TPC-H Q14 — promo revenue share for one ship-month: the
    // conditional-over-total ratio computed in ONE aggregate over the
    // BHJ'd part type ─────
    "q124_tpch_q14" -> { (s, dir) =>
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("date") &&
          col("l_shipdate") < lit("1996-10-01").cast("date"))
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", vol).otherwise(0.0)) / sum(vol),
          6).as("promo_revenue"))
    },

    // ───── TPC-H Q15 — top supplier: quarterly revenue per supplier,
    // equality against the 1-row max (broadcast — the "view + scalar
    // subquery" of the spec). Revenue is 2dp-rounded BEFORE the max so
    // the equality compares identical values in any engine ─────
    "q125_tpch_q15" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("_max_rev"))
      rev.join(broadcast(top), col("total_revenue") === col("_max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },

    // ───── TPC-H Q17 shape — small-quantity-order revenue: per-part
    // 20%-of-average quantity threshold (correlated agg subquery) joined
    // back against the same brand slice; the threshold is 6dp-rounded so
    // the boundary predicate is engine-stable ─────
    "q126_tpch_q17" -> { (s, dir) =>
      val brandParts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val rel = t(s, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val thr = rel.groupBy(col("p_partkey").as("t_partkey"))
        .agg(round(avg(col("l_quantity")) * 0.2, 6).as("qty_thr"))
      rel.join(broadcast(thr), col("p_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_thr"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },

    // ───── TPC-H Q19 — disjunctive brand/size/quantity predicates: one
    // equi-join on partkey with the three-arm OR as a residual filter
    // (Catalyst keeps the BHJ; no cross product) ─────
    "q127_tpch_q19" -> { (s, dir) =>
      val arm = (brand: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#12", 5, 1, 11) || arm("Brand#23", 10, 10, 20) ||
          arm("Brand#20", 15, 20, 30))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    },

    // ───── TPC-H Q21 shape — suppliers who kept orders waiting ("late" =
    // shipped >60 days after the order date; no receipt/commit dates in
    // the driver schema). The double EXISTS/NOT-EXISTS is ONE per-order
    // aggregate (distinct suppliers, distinct LATE suppliers) joined back:
    // a late row qualifies iff the order is multi-supplier and this is
    // the only late supplier ─────
    "q128_tpch_q21" -> { (s, dir) =>
      // ONE lineitem scan + ONE wide shuffle on (order, supplier); the
      // double EXISTS/NOT-EXISTS becomes a per-pair aggregate (late flag
      // + late-row count) and a per-order WINDOW over those pairs — no
      // Expand-based distinct rewrite, no join-back, no second fact
      // scan; the window partition is bounded by suppliers-per-order
      val perSupp = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("supp_late"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late_rows"))
      val w = Window.partitionBy("l_orderkey")
      perSupp
        // both window aggs in ONE select → a single Window node (an
        // intermediate projection would block CollapseWindow)
        .select(col("*"), count(lit(1)).over(w).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).over(w).as("n_late"))
        .filter(col("supp_late") && col("n_supp") > 1 && col("n_late") === 1)
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum(col("n_late_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // ───── TPC-H Q22 shape — rich inactive customers: global
    // positive-balance average (1-row broadcast threshold) + anti-join
    // against orders, grouped by market segment (the driver schema's
    // stand-in for the phone country code) ─────
    "q129_tpch_q22" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(round(avg(col("c_acctbal")), 6).as("bal_thr"))
      cust.join(broadcast(thr)).filter(col("c_acctbal") > col("bal_thr"))
        // "inactive" = no orders in the trailing years of the generated
        // range (every driver customer has SOME lifetime order)
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy("segment")
    },

    // ───── TPC-H Q2 shape — min-cost supplier per part (no partsupp
    // table: the observed per-(part, supplier) mean unit price from
    // lineitem stands in for ps_supplycost). The correlated MIN subquery
    // is a per-part aggregate joined back on (part, cost); unit costs are
    // 2dp-rounded BEFORE the min so the equality is engine-stable ─────
    "q130_tpch_q2" -> { (s, dir) =>
      val cost = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_size") === 15).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(round(avg(col("l_extendedprice") / col("l_quantity")), 2)
          .as("unit_cost"))
      val minCost = cost.groupBy(col("p_partkey").as("m_partkey"))
        .agg(min(col("unit_cost")).as("min_cost"))
      val euroSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region")
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
      cost.join(minCost, col("p_partkey") === col("m_partkey") &&
          col("unit_cost") === col("min_cost"))
        .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
          "unit_cost")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // ───── TPC-H Q11 shape — important stock: per-part inventory value
    // (lineitem revenue of one nation's suppliers stands in for
    // supplycost×availqty), kept where the part's share exceeds a fixed
    // fraction of the 1-row global total (broadcast scalar — the spec's
    // HAVING > SELECT sum(...)*fraction) ─────
    "q131_tpch_q11" -> { (s, dir) =>
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = t(s, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice")), 2).as("part_value"))
      val thr = value.agg(round(sum(col("part_value")) * 0.001, 6)
        .as("value_thr"))
      value.join(broadcast(thr)).filter(col("part_value") > col("value_thr"))
        .select("l_partkey", "part_value")
        .orderBy(col("part_value").desc, col("l_partkey"))
    },

    // ───── TPC-H Q20 shape — suppliers with excess shipments: the
    // double-nested IN: parts named like '%red%' → per-(supplier, part)
    // 1996 volume vs half the part's total 1996 volume → suppliers with
    // any excess pair, restricted to one nation. Semi-join chain end to
    // end; the half-total threshold is a per-part aggregate broadcast
    // back (6dp-rounded, engine-stable) ─────
    "q132_tpch_q20" -> { (s, dir) =>
      val li96 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("red")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val perSupp = li96.groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("supp_qty"))
      val half = li96.groupBy(col("l_partkey").as("h_partkey"))
        .agg(round(sum(col("l_quantity")) * 0.5, 6).as("half_qty"))
      val excess = perSupp
        .join(half, col("l_partkey") === col("h_partkey"))
        .filter(col("supp_qty") > col("half_qty"))
        .select("l_suppkey")
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    },

    // ───── PageRank over the bipartite customer↔supplier trade graph
    // (who-buys-from-whom, symmetric): 5 fixed iterations of
    // Graph.pageRank — the weighted-propagation sibling of the CC
    // iteration; per-iteration 9dp rounding keeps the float fold
    // engine-identical so the full iterative computation hash-matches ─────
    "q133_pagerank" -> { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("id").as("node_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node_id"))
        .limit(100)
    },

    // ───── leakage-safe train/val/test split: every doc is assigned by
    // the hash of its near-dup cluster REPRESENTATIVE (own id when
    // unclustered), so near-duplicates can never straddle the split —
    // the eval-contamination failure a per-doc hash split invites. The
    // leak audit recomputes the invariant from the assignment ─────
    "q134_cluster_safe_split" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b")
      // `assigned` feeds the leak check AND the final per-split aggregate
      // — materialize the narrow (doc_id, grp, split) frame once instead
      // of re-running the CC read-off join per consumer (r10)
      val assigned = docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .withColumn("grp", coalesce(col("rep"), col("doc_id")))
        .withColumn("split", TextAnalysis.splitAssign(col("grp")))
        .select("doc_id", "grp", "split")
        .localCheckpoint()
      val leaks = assigned.groupBy("grp")
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("leaked"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"))
        .crossJoin(broadcast(leaks))
        .select("split", "n_docs", "n_groups", "leaked")
        .orderBy("split")
    },

    // ───── weighted sampling without replacement (Efraimidis–Spirakis):
    // per-language top-k by ln(u)/w with the RNG replaced by the id hash
    // — longer documents (weight = n_chars) win proportionally more
    // often, and the draw reproduces on any engine/partitioning; ranking
    // via the sort-free TopKPerKey operator ─────
    "q135_weighted_sample" -> { (s, dir) =>
      TextAnalysis.weightedSample(
          tb(s, dir, "documents"), "doc_id", "lang", "n_chars", k = 20)
        .select(col("lang"), col("doc_id"), col("es_key"))
        .orderBy("lang", "doc_id")
    },

    // ───── deterministic HyperLogLog: per-type distinct user-days,
    // estimate vs exact — the mergeable-sketch path approx_count_distinct
    // can't oracle (its register encoding is engine-private); hash-derived
    // registers + a bucket-ordered finalization fold make this one
    // bit-reproducible on any engine ─────
    "q136_hll_distinct" -> { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("val",
        concat_ws(":", col("user_id"), date_format(col("ts"), "yyyy-MM-dd")))
      val est = Sketches.hllDistinct(ev, "event_type", col("val"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("val")).as("n_exact"))
      exact.join(est, Seq("event_type"))
        .withColumn("rel_err",
          round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 6))
        .orderBy("event_type")
    },

    // ───── multi-touch attribution: purchases credit the clicks of the
    // prior 7 days (same user) under first-touch / last-touch / linear
    // models — user-equi join with a time-range residual (never a BNLJ),
    // per-purchase windows bounded by clicks-per-user-week ─────
    "q137_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"),
          concat(lit("c"),
            get_json_object(col("props"), "$.k").cast("long") % 5)
            .as("campaign"))
      val w = Window.partitionBy("p_id")
      purchases.join(clicks,
          col("user_id") === col("c_user") && col("c_ts") <= col("p_ts") &&
            col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
        .select(col("p_id"), col("value"), col("campaign"),
          row_number().over(w.orderBy(col("c_ts"), col("c_id"))).as("rn_f"),
          row_number().over(w.orderBy(col("c_ts").desc, col("c_id").desc))
            .as("rn_l"),
          count(lit(1)).over(w).as("n_clicks"))
        .groupBy("campaign")
        .agg(sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("n_first"),
          round(sum(when(col("rn_f") === 1, col("value")).otherwise(0.0)), 2)
            .as("first_touch_value"),
          round(sum(when(col("rn_l") === 1, col("value")).otherwise(0.0)), 2)
            .as("last_touch_value"),
          round(sum(col("value") / col("n_clicks")), 2).as("linear_value"))
        .orderBy("campaign")
    },

    // ───── label-propagation communities over the trade graph: the
    // third member of the iterative-graph family (CC = reachability,
    // PageRank = centrality, LPA = community structure); deterministic
    // min-label tie-break makes the fixed-iteration run reproducible ─────
    // ───── Hilbert vs Morton layout quality: fifth codegen'd expression
    // (HilbertIndex — per-bit frame rotation carries state no when-chain
    // expresses without exponential blowup). Buckets are UNALIGNED
    // curve-range cuts (half-bucket offset), the shape real file splits
    // take: aligned power-of-4 blocks are identical squares for both
    // curves, but at unaligned cuts Morton's seam jumps splice far-apart
    // rectangles into one file while Hilbert's runs stay connected —
    // measured here as ~2× smaller avg x-extent per bucket ─────
    "q161_hilbert_layout" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") % 2048).as("x"),
          (col("l_orderkey") % 2048).as("y"))
      def stats(name: String, idx: org.apache.spark.sql.Column): DataFrame =
        li.withColumn("b", shiftright(idx + 32768L, 16))
          .groupBy("b")
          .agg((max("x") - min("x")).as("xe"), (max("y") - min("y")).as("ye"))
          .agg(count(lit(1)).as("n_buckets"),
            round(avg("xe"), 6).as("avg_x_extent"),
            round(avg("ye"), 6).as("avg_y_extent"),
            max("xe").as("max_x_extent"), max("ye").as("max_y_extent"))
          .select(lit(name).as("curve"), col("n_buckets"),
            col("avg_x_extent"), col("avg_y_extent"),
            col("max_x_extent"), col("max_y_extent"))
      stats("hilbert", Layout.hilbertValue(col("x"), col("y"), bits = 11))
        .unionByName(stats("morton", Layout.zValue(col("x"), col("y"), bits = 11)))
        .orderBy("curve")
    },

    // ───── prefix-filtered similarity join (AllPairs/PPJoin): the THIRD
    // Jaccard posture beside exact-uncapped (q13) and df-capped (q99) —
    // same pairs as q13, exactly (shared oracle), but only each doc's
    // (1−θ)·|x|+1 RAREST shingles enter the candidate join, so the worst
    // reducer is bounded by rare-shingle df without changing the measure
    // the way q99's cap does ─────
    "q162_dedup_prefix_filter" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.prefixFilterPairs(d, "doc_id", Dedup.shingles(col("toks"), 3), 0.8)
        .orderBy("id_a", "id_b")
    },

    // ───── trained quality classifier: logistic regression fit on the
    // corpus by 3 lazily-unrolled full-batch GD steps (each step = one
    // map-side-combinable average + a 1-row broadcast re-entry; no
    // driver collect), then every doc scored — the model-based corpus
    // filter slot (fastText-classifier shape) beside the heuristic q20.
    // Label: lang='en'; features: en-stopword ratio, punct ratio,
    // saturating length ─────
    "q163_logreg_quality" -> { (s, dir) =>
      scoredDocsQuality(s, dir)
        .select(col("doc_id"), col("y"), col("prob"), col("pred"))
        .orderBy("doc_id")
    },

    // ───── per-key OLS trend: slope/intercept/corr of event value over
    // time per event type — drift detection as one hash-aggregate whose
    // shuffle carries (key, moments) only. x is re-based to days since
    // the window start: centering keeps var_pop cancellation-free at
    // 100 TB row counts ─────
    "q164_trend" -> { (s, dir) =>
      val x = (col("ts").cast("double") - lit(1704067200.0)) / lit(86400.0)
      Models.linearTrend(t(s, dir, "events"), Seq("event_type"),
          x, col("value"))
        .orderBy("event_type")
    },

    // ───── additive MERGE (incremental view maintenance): a per-customer
    // sales store materialized from pre-cutoff history, the post-cutoff
    // batch merged in as partial-aggregate ADDs — nightly-incremental ≡
    // full-recompute for distributive aggregates, without rescanning
    // history ─────
    "q159_additive_merge" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val cut = lit("1999-01-01").cast("timestamp")
      def agg(df: DataFrame) = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
      val store = agg(orders.filter(col("o_orderdate") < cut))
      val delta = agg(orders.filter(col("o_orderdate") >= cut))
      MergeUpdate.mergeAdditive(store, delta, Seq("o_custkey"),
          Map("n_orders" -> "n_orders", "sum_price" -> "sum_price"))
        .orderBy("o_custkey")
    },

    // ───── referential-integrity audit: orphan counts for every foreign
    // key in the star schema — four anti-joins, each a bounded (fk, key)
    // shuffle; the pre-flight a 100 TB join pipeline runs before trusting
    // inner joins not to silently drop rows ─────
    "q160_fk_audit" -> { (s, dir) =>
      def audit(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val c = child.select(col(key).as("k"))
        val orphans = c.join(parent.select(col(pkey).as("k")), Seq("k"),
          "left_anti")
        c.agg(count(lit(1)).as("n_rows"),
            count_distinct(col("k")).as("n_keys"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_rows"),
            count_distinct(col("k")).as("n_orphan_keys")))
          .select(lit(name).as("fk"), col("n_rows"), col("n_keys"),
            col("n_orphan_rows"), col("n_orphan_keys"))
      }
      val li = t(s, dir, "lineitem")
      audit("lineitem.orderkey", li, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("lineitem.partkey", li, "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(audit("lineitem.suppkey", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(audit("orders.custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy("fk")
    },

    // ───── histogram quantile sketch: 1024 equal-width bins between the
    // global min/max, quantiles interpolated off the cumulative counts —
    // the fourth mergeable sketch (HLL, CMS, KMV, histogram), oracle-able
    // where percentile_approx's state is engine-private; reported beside
    // the exact interpolated percentile with abs_err ─────
    "q156_histogram_quantiles" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ps = Seq(0.5, 0.9, 0.99)
      val est = Sketches.histogramQuantiles(li, col("l_extendedprice"), ps)
      val exact = li
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")
          .as("exs"))
        .select(posexplode(col("exs")).as(Seq("i", "ex")))
        .select(element_at(lit(ps.toArray), col("i") + 1).as("p"),
          round(col("ex"), 6).as("exact"))
      est.join(exact, "p")
        .withColumn("abs_err", round(abs(col("hq_est") - col("exact")), 6))
        .orderBy("p")
    },

    // ───── blocked fuzzy record linkage: customer pairs within a nation
    // block whose names are ≤2 edits apart — entity resolution's near-dup
    // shape: the pair space is the block equi-join, the edit distance a
    // codegen'd residual, never n² over the table ─────
    "q157_fuzzy_link" -> { (s, dir) =>
      // symmetric-delete candidate generation: content-keyed variant
      // join scales linearly where the fixed-25-nation block join's
      // Σ block² residual went quadratic (measured 7.3x for 3x rows);
      // Dedup.fuzzyPairs stays as the spec-proven exact twin
      Dedup.fuzzyPairsSymDel(tb(s, dir, "customer"), "c_custkey", "c_name",
          "c_nationkey", maxDist = 2)
        .orderBy("id_a", "id_b")
    },

    // ───── distribution window functions: ntile / percent_rank /
    // cume_dist over per-segment balance order — completes the window
    // surface (ranking + analytic + frame + distribution) ─────
    "q158_window_distribution" -> { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy("c_custkey")
    },

    // ───── trailing z-score anomaly detection: each daily point scored
    // against its own trailing-7 window (leave-current-out, so a spike
    // can't dilute its own baseline); ONE bounded-frame window per key —
    // never a history self-join ─────
    "q154_anomaly_zscore" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      Temporal.anomalyZScores(daily, "user_id", "day", "v")
        .orderBy("user_id", "day")
    },

    // ───── k-core peel over the part co-purchase graph: 3 delete-rounds
    // of degree-<4 nodes — dense-community extraction, the fifth member
    // of the iterative-graph family ─────
    "q155_kcore" -> { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.kCore(pairs, "a", "b", k = 4, rounds = 3)
        .orderBy("node")
    },

    // ───── MERGE with change-data-feed output: the upsert's changes as
    // a Delta/Debezium-shaped feed — insert rows, update pre/post image
    // pairs, and NOTHING for no-op updates (replay-safe); one full-outer
    // join prices the feed at the cost of the merge itself ─────
    "q152_cdc_merge" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val target = orders.filter(col("o_orderkey") % 5 =!= 0)
      val noop = col("o_orderkey") % 4 === 0
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          when(noop, col("o_totalprice"))
            .otherwise(col("o_totalprice") + 1000.0).as("new_price"),
          when(noop, col("o_orderstatus")).otherwise(lit("U")).as("new_status"))
      MergeUpdate.upsertWithCdf(target, updates, Seq("o_orderkey"),
          Map("o_totalprice" -> "new_price", "o_orderstatus" -> "new_status"))
        .orderBy("o_orderkey", "_change_type")
    },

    // ───── STREAMING count-min sketch: like q141's HLL, the counter
    // grid is a plain streaming aggregate (sums merge across
    // micro-batches; complete-mode state IS the running sketch); the
    // batch probe estimates the same top-20 keys off the drained grid ─────
    "q153_stream_cms" -> { (s, dir) =>
      val counters = Sketches.cmsCounters(eventsStream(s, dir), col("user_id"))
      val drained = drainToTable(s, counters, "g153_cms", "complete")
      val top = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
      Sketches.cmsEstimate(drained, top, "user_id")
        .withColumn("overest", col("cms_est") - col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },

    // ───── time-series resample: daily per-user activity with calendar
    // gaps restored (per-key spine, never the global range) and values
    // forward-filled by ONE running window per key ─────
    "q149_gapfill_ffill" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      Temporal.gapFillDaily(daily, "user_id", "day", "v")
        .orderBy("user_id", "day")
    },

    // ───── inverted index over word 3-grams: df-bounded postings — the
    // [minDf, maxDf] gate runs BEFORE collection, so no posting list can
    // exceed maxDf entries (stop-term lists are the classic OOM) ─────
    "q150_inverted_index" -> { (s, dir) =>
      TextAnalysis.invertedIndex(tb(s, dir, "documents"), "doc_id", "text",
          n = 3, minDf = 3, maxDf = 7)
        .orderBy("term")
    },

    // ───── exact phrase search: positional-index intersection — each
    // term contributes its (doc, aligned-position) postings and k−1
    // equi-joins close the phrase; occurrence counts per matching doc ─────
    "q151_phrase_search" -> { (s, dir) =>
      TextAnalysis.phraseSearch(tb(s, dir, "documents"), "doc_id", "text",
          Seq("filter", "value", "small", "value"))
        .orderBy("doc_id")
    },

    // ───── multi-source BFS over the bipartite trade graph: hop
    // distance from the seed suppliers, frontier capped at 3 rounds —
    // fourth member of the iterative-graph family (reachability =
    // CC, centrality = PR, structure = LPA, distance = BFS) ─────
    "q147_bfs_distances" -> { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") % 10 === 0)
        .select((col("s_suppkey") + 1000000L).as("id"))
      Graph.bfsDistances(edges, "src", "dst", seeds, "id", maxHops = 3)
        .orderBy("id")
    },

    // ───── triangle scorecard over the part co-purchase graph (parts
    // co-ordered ≥2 times): degree-ordered orientation keeps wedge
    // fan-out off the hot keys — the power-law survival trick ─────
    "q148_triangles" -> { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.triangleStats(pairs, "a", "b")
    },

    // ───── Bloom-filter decontamination pre-flight: the eval set folded
    // to an m-bit filter whose broadcast is bounded at m rows no matter
    // how large the eval suite grows (the exact q59 path broadcasts every
    // gram string); flagged docs are a one-sided SUPERSET of the exact
    // hits — is_fp labels any filter collisions against the exact check ─────
    "q146_bloom_decontam" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      // ONE tokenize+shingle Generate for all four consumers (r11): the
      // bloom and exact arms each need corpus AND bench grams — explode
      // the whole table once into a narrow (doc_id, gram) frame,
      // materialize it, and split corpus/bench by id afterwards (the
      // %-filter commutes with the per-doc explode)
      val grams = Dedup.docGrams(docs, "doc_id", "text", n = 4)
        .localCheckpoint()
      val corpusG = grams.filter(col("doc_id") % 20 =!= 0)
      val benchG = grams.filter(col("doc_id") % 20 === 0)
      val bloom = Dedup.bloomContaminationFromGrams(corpusG, benchG, "doc_id")
      val exact = Dedup.contaminationFromGrams(corpusG, benchG, "doc_id")
        .select(col("doc_id"), lit(true).as("hit"))
      bloom.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_flagged"),
          col("hit").isNull.as("is_fp"))
        .orderBy("doc_id")
    },

    // ───── count-min sketch heavy-hitter report: depth×width counter
    // grid (a ≤256-row hash-aggregate regardless of stream size, the
    // mergeable-sketch shape again), probed for the exact top-20 keys —
    // the one-sided estimator's overestimate is visible because width 64
    // < 150 distinct users forces collisions ─────
    "q144_cms_heavy_hitters" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val counters = Sketches.cmsCounters(ev, col("user_id"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
      Sketches.cmsEstimate(counters, top, "user_id")
        .withColumn("overest", col("cms_est") - col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },

    // ───── KMV (k-minimum-values) distinct sketch per event type plus
    // the merged '__all__' sketch — bottom-k per group runs on the
    // sort-free TopKPerKey operator (ascending = min-k, state k rows per
    // group); estimates land within ~1/√k of exact, reported as rel_err ─────
    "q145_kmv_distinct" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"),
        concat_ws(":", col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd")).as("val"))
      val tagged = ev.unionByName(
        ev.select(lit("__all__").as("event_type"), col("val")))
      val sk = Sketches.kmvDistinct(tagged, "event_type", col("val"))
      val exact = tagged.groupBy("event_type")
        .agg(count_distinct(col("val")).as("exact_distinct"))
      sk.join(exact, "event_type")
        .withColumn("rel_err", round(
          abs(col("kmv_est") - col("exact_distinct")) /
            col("exact_distinct"), 6))
        .orderBy("event_type")
    },

    "q143_label_propagation" -> { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      Graph.labelPropagation(edges, "src", "dst", iterations = 4)
        .groupBy("label")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("label")
    },

    // ───── the full corpus-construction journey as ONE plan: near-dup
    // clusters → best-quality canonical per cluster (unclustered docs
    // survive as their own keepers) → quality floor → leakage-safe train
    // split by cluster-rep hash → per-source token budget → scorecard.
    // Six operators composing into a single Catalyst plan is the point:
    // no intermediate materialization, every stage's pushdown/broadcast
    // decisions made globally ─────
    "q142_corpus_pipeline" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      // labels and quality each feed TWO consumers below (keeper
      // selection + the unclustered anti-join / the kept re-join):
      // materialize the narrow (id, rep) and (doc_id, q) frames once
      // instead of re-running the CC label read-off and the quality
      // regex scan per consumer (r10)
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b").localCheckpoint()
      val quality = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScoreText(col("text")), 6).as("q"))
        .localCheckpoint()
      val keepers = Dedup.canonicalPerCluster(labels, quality, "doc_id", "q")
        .select(col("keeper_id").as("doc_id"), col("rep"))
      val unclustered = docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left_anti")
        .withColumn("rep", col("doc_id"))
      val kept = keepers.unionByName(unclustered)
        .join(docs.select("doc_id", "source", "text"), "doc_id")
        .join(quality, "doc_id")
        .filter(col("q") >= 0.2)
        .filter(TextAnalysis.splitAssign(col("rep")) === "train")
      TextAnalysis.tokenBudgetSample(kept, "doc_id", "source", "text", 4096L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .orderBy("source")
    },

    // ───── STREAMING HyperLogLog: the sketch's (group, bucket)→max(rho)
    // half runs unchanged as a streaming aggregate (max is monotone, so
    // complete-mode state IS the running sketch); the batch finalizer
    // folds the drained registers — mergeable-sketch streaming without a
    // custom stateful operator, and the estimate matches the batch path
    // bit for bit ─────
    "q141_stream_hll" -> { (s, dir) =>
      val ev = eventsStream(s, dir).withColumn("val",
        concat_ws(":", col("user_id"), date_format(col("ts"), "yyyy-MM-dd")))
      val regs = Sketches.registers(ev, "event_type", col("val"))
      Sketches.finalizeRegisters(
          drainToTable(s, regs, "g141_regs", "complete"), "event_type")
        .orderBy("event_type")
    },

    // ───── join-key skew pre-flight (`Profile.skewProfile`): per-key
    // count distribution + skew factor + named heavy hitters for three
    // representative keys — what an operator reads before choosing a
    // salting factor or trusting AQE's skew split ─────
    "q140_skew_profile" -> { (s, dir) =>
      Profile.skewProfile(t(s, dir, "events"), "user_id")
        .unionByName(Profile.skewProfile(t(s, dir, "lineitem"), "l_orderkey"))
        .unionByName(Profile.skewProfile(t(s, dir, "documents"), "source"))
        .orderBy("key_col")
    },

    // ───── retention cohorts: users bucketed by first-activity week,
    // per-(cohort, week-offset) active-user counts + retention vs the
    // cohort's week-0 size — two hash-aggregates and one bounded window ─────
    "q138_retention" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      val firstWk = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      val joined = ev.distinct().join(firstWk, "user_id")
        .select(col("cohort"),
          floor(datediff(col("wk"), col("cohort")) / 7).as("week_offset"))
      val w0 = Window.partitionBy("cohort")
      joined.groupBy("cohort", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0, col("n_users"))).over(w0))
        .withColumn("retention",
          round(col("n_users") * lit(1.0) / col("cohort_size"), 6))
        .select("cohort", "week_offset", "n_users", "retention")
        .orderBy("cohort", "week_offset")
    },

    // ───── market-basket association: part pairs co-occurring in ≥2
    // orders with support/confidence/lift — the pair space is a
    // self-equi-join on the order key (never n² over parts), mega-baskets
    // dropped by the size cap BEFORE pairing ─────
    "q165_copurchase_lift" -> { (s, dir) =>
      Association.copurchaseStats(t(s, dir, "lineitem"), "l_orderkey",
          "l_partkey", minPairCount = 2, maxBasketSize = Some(12))
        .orderBy("item_a", "item_b")
    },

    // ───── sweep-line interval concurrency: each event opens a
    // (300 + ⌊value⌋)-second interval; peak simultaneous open intervals
    // per type and the earliest instant it is reached — 2 delta rows per
    // interval + one running-sum window, never a self-theta-join ─────
    "q166_interval_concurrency" -> { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("event_type"), col("ts"),
          expr("ts + make_interval(0, 0, 0, 0, 0, 0, 300 + floor(value))")
            .as("te"))
      Temporal.maxConcurrency(iv, "event_type", "ts", "te")
        .orderBy("event_type")
    },

    // ───── windowed EWMA: hourly mean value per type smoothed with
    // α=0.3 over the trailing 12 hours — one bounded-frame window plus a
    // single fold over the collected frame, no history self-join ─────
    "q167_ewma" -> { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(col("value")).as("v"))
      Temporal.ewma(hourly, "event_type", "hr", "v", alpha = 0.3,
          lookback = 12)
        .select(col("event_type"), col("hr"), round(col("v"), 6).as("v"),
          col("ewma"))
        .orderBy("event_type", "hr")
    },

    // ───── χ² independence test: is document language independent of
    // source? One hash-agg collapses the corpus to the contingency table;
    // margins/totals are windows over that ≤|A|·|B|-row frame ─────
    "q168_chisq" -> { (s, dir) =>
      Models.chiSquareIndependence(t(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")
    },

    // ───── weight-of-evidence / information value: account balance
    // binned equal-width ×10 against the has-any-order label — the
    // feature-screening transform of a training pipeline; smoothing keeps
    // empty bin sides finite on both engines ─────
    "q169_woe_iv" -> { (s, dir) =>
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
        .distinct().withColumn("_has", lit(true))
      val f = t(s, dir, "customer").join(buyers, Seq("c_custkey"), "left")
        .withColumn("label", coalesce(col("_has"), lit(false)))
      Models.woeIv(f, "c_acctbal", "label", nBins = 10)
        .orderBy("bin")
    },

    // ───── daily OHLC bars: first/last value in (ts, event_id) order —
    // the unique tie column makes open/close deterministic — plus
    // min/max/count, one window + one hash-agg per (type, day) ─────
    "q170_ohlc" -> { (s, dir) =>
      Temporal.ohlcDaily(t(s, dir, "events"), "event_type", "ts", "value",
          tieCol = "event_id")
        .orderBy("event_type", "day")
    },

    // ───── rolling correlation: click-vs-view hourly mean value, Pearson
    // r over the trailing 24 hours once ≥12 aligned pairs exist — the
    // raw-event collapse parallelizes; the unpartitioned window runs over
    // the calendar-bounded hourly grain only ─────
    "q171_rolling_corr" -> { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      Temporal.rollingCorr(hourly, "hr", "x", "y", lookback = 24,
          minPeriods = 12)
        .select(col("hr"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"), col("n_pairs"), col("roll_corr"))
        .orderBy("hr")
    },

    // ───── Kaplan–Meier survival: user churn over first→last activity
    // span, right-censored at the corpus horizon (active within the last
    // 7 days = still alive, "survived ≥ t" not "churned at t") — one
    // hash-agg to the duration grid, suffix-sum at-risk window, running
    // exp-sum-ln product ─────
    "q172_survival" -> { (s, dir) =>
      // subject = (user, event_type) activity stream — the per-user span
      // collapses to 3 distinct durations (everyone is active all month);
      // the per-stream grain spreads the curve over ~19 steps
      val u = t(s, dir, "events").groupBy("user_id", "event_type")
        .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
      val horizon = u.agg(max(col("l")).as("m"))
      val subjects = u.crossJoin(broadcast(horizon))
        .select(datediff(col("l"), col("f")).as("dur"),
          (col("l") < date_sub(col("m"), 7)).as("churned"))
      Models.kaplanMeier(subjects, "dur", "churned")
        .orderBy("t")
    },

    // ───── cross-correlation lag scan: does click value lead view value?
    // Pearson r at every hourly lag in [−6, +6] — the broadcast lag
    // dimension × ONE shifted-instant equi-join, one moment agg per lag ─────
    "q173_lag_corr" -> { (s, dir) =>
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      Temporal.crossCorrLags(hourly, "hr", "x", "y", maxLag = 6,
          stepSeconds = 3600L)
        .orderBy("lag")
    },

    // ───── Benford first-digit audit: leading significant digit of
    // extended price vs log10(1+1/d) — digit from the STRING rendering
    // (float log10 of exact powers of ten misbuckets whole decades);
    // one codegen'd regexp projection + one ≤9-row agg ─────
    "q174_benford" -> { (s, dir) =>
      Profile.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")
    },

    // ───── robust outliers via modified z-score (Iglewicz–Hoaglin):
    // |0.6745·(v−median)/MAD| ≥ 3.5 per event type — median-based, so a
    // heavy tail can't dilute its own baseline the way μ/σ lets it;
    // exact-median formulation (oracle-checkable); swap in the histogram
    // sketch at 100 TB ─────
    "q175_mad_outliers" -> { (s, dir) =>
      Temporal.madOutliers(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("mz"))
        .orderBy("event_id")
    },

    // ───── Welch two-sample t-test: deterministic hash-split A/B arms
    // over event value — ONE conditional-moment hash-agg, six doubles
    // cross the wire at any scale ─────
    "q176_ab_test" -> { (s, dir) =>
      val arm = pmod(Hashing.hash60(col("user_id").cast("string")), lit(2L))
        .cast("int").as("arm")
      Models.welchTTest(t(s, dir, "events").select(arm, col("value")),
        "arm", "value")
    },

    // ───── calibration report for the trained quality classifier:
    // SCORE-QUANTILE deciles (the 3-step model's probs span ~0.03 —
    // fixed [0,1] bins would collapse to one row), per-bin mean prob vs
    // observed positive rate + global Brier — pos_rate tracking
    // mean_prob is what "trust the score as a probability" means ─────
    "q177_calibration" -> { (s, dir) =>
      Models.calibrationByQuantile(scoredDocsQuality(s, dir), "prob", "y",
          nBins = 10)
        .orderBy("bin")
    },

    // ───── PSI feature drift: event value distribution, first half of
    // the month (reference) vs second half (current) — equal-width bins
    // over the REFERENCE range, out-of-range current values clamp into
    // the edge bins, smoothed shares keep empty bins finite ─────
    "q178_psi_drift" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Models.psiDrift(ev.filter(col("ts") < cut),
          ev.filter(col("ts") >= cut), "value", nBins = 10)
        .orderBy("bin")
    },

    // ───── ROC AUC via Mann–Whitney midranks over the DISTINCT-SCORE
    // grid (6dp-rounded probs bound the grid at ~10⁶ rows at any corpus
    // size) — no threshold sweep, ties count ½ ─────
    "q179_auc" -> { (s, dir) =>
      Models.aucRank(scoredDocsQuality(s, dir), "prob", "y")
    },

    // ───── mutual information lang ↔ source: χ²'s information-theoretic
    // sibling — per-cell PMI + corpus MI/entropies/NMI, all windows over
    // the one-hash-agg contingency table ─────
    "q180_mutual_info" -> { (s, dir) =>
      Models.mutualInformation(t(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")
    },

    // ───── Jensen–Shannon divergence of each source's language mix from
    // the corpus-wide mix — which feeds deviate before they're weighted;
    // margin-grid so never-emitted languages still carry their mass ─────
    "q181_jsd_sources" -> { (s, dir) =>
      Models.jsdByGroup(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")
    },

    // ───── RFM segmentation: recency/frequency/monetary quintile scores
    // off strict comparisons against 6dp-rounded percentile cuts (the
    // calibration tie rule), recency inverted ─────
    "q182_rfm" -> { (s, dir) =>
      Models.rfmSegments(t(s, dir, "orders"), "o_custkey", "o_orderdate",
          "o_totalprice")
        .orderBy("o_custkey")
    },

    // ───── STREAMING PSI: the second half of the month streams in, bin
    // counts accumulate as a complete-mode aggregate (reference bounds
    // baked in as literals from a bounded 2-double batch agg), drift
    // priced against the static reference with q178's exact math ─────
    "q183_stream_psi" -> { (s, dir) =>
      val cut = lit("2024-01-16").cast("timestamp")
      val ref = t(s, dir, "events")
        .filter(col("ts") < cut && col("value").isNotNull)
        .select(col("value").cast("double").as("v"))
      val row = ref.agg(min(col("v")), max(col("v"))).head()
      val (lo, hi) = (row.getDouble(0), row.getDouble(1))
      def binOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        if (hi == lo) lit(0)
        else least(lit(9), greatest(lit(0),
          floor((c - lit(lo)) / lit((hi - lo) / 10)).cast("int")))
      val curStream = eventsStream(s, dir)
        .filter(col("ts") >= cut && col("value").isNotNull)
        .groupBy(binOf(col("value").cast("double")).as("bin"))
        .agg(count(lit(1)).as("n_cur"))
      val cur = drainToTable(s, curStream, "g183_cur", "complete")
      val refCounts = ref.groupBy(binOf(col("v")).as("bin"))
        .agg(count(lit(1)).as("n_ref"))
      val spine = s.range(10).select(col("id").cast("int").as("bin"))
      val counts = spine
        .join(refCounts, Seq("bin"), "left")
        .join(cur, Seq("bin"), "left")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      Models.psiFromCounts(counts, nBins = 10)
        .orderBy("bin")
    },

    // ───── CUSUM change-point detection: daily mean value per type vs
    // its first-week baseline — the recursive max-reset statistic
    // re-expressed as running-sum minus running-extremum (two window
    // layers, no recursion); catches sustained small shifts a per-point
    // z-score never flags ─────
    "q184_cusum" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("v"))
      Temporal.cusumChangePoints(daily, "event_type", "day", "v",
          baselineN = 7, slack = 0.5, threshold = 4.0)
        .select(col("event_type"), col("day"), round(col("v"), 6).as("v"),
          col("zscore"), col("s_pos"), col("s_neg"), col("change_flag"))
        .orderBy("event_type", "day")
    },

    // ───── seasonal-naive backtest: the baseline a forecaster must
    // beat — weekly-seasonal vs yesterday's-value forecasts scored on
    // the SAME evaluation rows, MAE each + improvement ratio ─────
    "q185_backtest" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("v"))
      Temporal.seasonalNaiveBacktest(daily, "event_type", "day", "v",
          season = 7)
        .orderBy("event_type")
    },

    // ───── Zipf-law fit: ln(freq) over ln(rank) OLS across the top-500
    // vocabulary — q57's vocab composed straight into q164's trend op;
    // a natural corpus follows slope ≈ −1 ─────
    "q186_zipf" -> { (s, dir) =>
      val vocab = TextAnalysis.buildVocab(tb(s, dir, "documents"), "text",
        size = 500)
      Models.linearTrend(vocab, Seq.empty,
        log(col("token_id") + lit(1.0)), log(col("freq")))
    },

    // ───── KMV set algebra: distinct-user union/intersection estimates
    // between every event-type pair FROM THE SKETCHES ALONE (merged
    // bottom-k = the union's sketch; both-membership fraction = Jaccard)
    // beside the exact verify join — the mergeable-sketch payoff ─────
    "q187_kmv_setops" -> { (s, dir) =>
      Sketches.kmvSetOps(t(s, dir, "events"), "event_type", col("user_id"),
          k = 64)
        .orderBy("group_a", "group_b")
    },

    // ───── profile drift: the data-contract diff between the month's
    // halves — null-rate delta, distinct ratio, min/max/avg drift per
    // column; one aggregate pass per side ─────
    "q188_profile_diff" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Profile.profileDiff(ev.filter(col("ts") < cut),
          ev.filter(col("ts") >= cut), Seq("value", "user_id"))
        .orderBy("col_name")
    },

    // ───── end-to-end entity resolution: fuzzy name links (q157's
    // blocked edit-distance pairs) → connected components → one row per
    // resolved entity — linkage, clustering, and canonicalization as
    // plain operator composition ─────
    // pairs via symmetric-delete blocking (content-keyed, linear scale)
    // rather than the fixed-25-block quadratic path — same result set,
    // measured ~3x time for 3x rows where nation blocking gave 7.3x
    "q189_entity_resolution" -> { (s, dir) =>
      val pairs = Dedup.fuzzyPairsSymDel(tb(s, dir, "customer"), "c_custkey",
        "c_name", "c_nationkey", maxDist = 2)
      Dedup.clusters(pairs, "id_a", "id_b")
        .orderBy("rep")
    },

    // ───── row-level snapshot reconciliation: two derived orders
    // snapshots (dropped rows, inserted rows, price/status edits)
    // full-outer joined on the key → added/removed/changed/unchanged per
    // row with the differing columns named — q188's column-grain profile
    // diff at row grain ─────
    "q190_table_diff" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val ref = o.filter(col("o_orderkey") % 5 =!= 0)
      val cur = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      MergeUpdate.tableDiff(ref, cur, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },

    // ───── two-sample KS drift test between the month's halves — the
    // nonparametric sibling of q178's PSI: sup-CDF gap on the exact
    // distinct-value grid, α=0.05 critical value, reject decision ─────
    "q191_ks_drift" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Models.ksTest(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "value")
    },

    // ───── first-order Markov transitions over per-user event
    // sequences: P(next | current) per event-type pair — one key shuffle
    // for the lead window, normalization on the ≤|types|² grid ─────
    "q192_markov_transitions" -> { (s, dir) =>
      Temporal.transitionMatrix(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },

    // ───── fingerprint screen in front of q190's row diff: per-group
    // (count, XOR-of-row-hash) on both snapshots, 8 bytes per group
    // compared instead of any row — floats ride as decimal(18,2) per the
    // documented recipe (float→string rendering is engine-specific) ─────
    "q193_fingerprint_screen" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val ref = o
        .withColumn("price_d", col("o_totalprice").cast("decimal(18,2)"))
      // edits touch ONLY status-'O' rows: the screen must flag O and
      // clear F/P with equal (count, fingerprint) — 8 bytes per group
      // decide which groups need q190's row-level diff
      val cur = o
        .withColumn("price_d",
          when(col("o_orderstatus") === "O" && col("o_orderkey") % 3 === 0,
            col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).cast("decimal(18,2)"))
      val cols = Seq("o_orderkey", "o_custkey", "price_d", "o_orderpriority")
      val fr = Profile.tableFingerprint(ref, cols, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_rows").as("n_ref"),
          col("fingerprint").as("fp_ref"))
      val fc = Profile.tableFingerprint(cur, cols, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_rows").as("n_cur"),
          col("fingerprint").as("fp_cur"))
      fr.join(fc, Seq("o_orderstatus"), "full")
        .withColumn("equal", coalesce(
          col("n_ref") === col("n_cur") && col("fp_ref") === col("fp_cur"),
          lit(false)))
        .orderBy("o_orderstatus")
    },

    // ───── referentially-coherent 10% sample: customer and orders each
    // filter on the SAME custkey hash predicate — no join needed for
    // integrity; the left join here just reports the per-segment yield ─────
    "q194_coherent_sample" -> { (s, dir) =>
      val c = Sampling.consistentSample(t(s, dir, "customer"), "c_custkey", 10)
      val o = Sampling.consistentSample(t(s, dir, "orders"), "o_custkey", 10)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count_distinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_mktsegment")
    },

    // ───── the NAIVE top-k-per-key window idiom, left for the optimizer:
    // RewriteRankFilterToTopK (injectOptimizerRule) plans this into the
    // sort-free bounded-heap TopKPerKeyExec — q89 is the same physical
    // operator reached through the explicit API; this row proves the
    // automatic path end-to-end (PlanShapeSpec locks the plan shape) ─────
    "q195_auto_topk" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .drop("rn")
        .select("user_id", "event_id", "value")
        .orderBy("user_id", "event_id")
    },

    // ───── FIXED-bin calibration report (q177's quantile sibling): a
    // hash-uniform score genuinely spans [0,1), so the fixed deciles all
    // populate — the report shape model registries expect when scores
    // really are probabilities; same per-bin mean-prob / pos-rate /
    // global Brier columns ─────
    "q196_calibration_fixed" -> { (s, dir) =>
      val scored = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(
          (pmod(Hashing.hash60(col("event_id").cast("string")), lit(1000000L))
            .cast("double") / 1000000d).as("prob"),
          when(col("value") > 0, 1.0).otherwise(0.0).as("y"))
      Models.calibrationReport(scored, "prob", "y", nBins = 10)
        .orderBy("bin")
    },

    // ───── HITS hubs/authorities over the DIRECTED customer→supplier
    // trade graph — PageRank's dual-score sibling (q133 ranks the
    // symmetrized graph; HITS separates "buys broadly" from "supplies
    // broadly"); 4 max-normalized iterations, 9dp-rounded per round ─────
    "q197_hits" -> { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      Graph.hits(rel, "src", "dst", iterations = 4)
        .select(col("id").as("node_id"),
          round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node_id")
    },

    // ───── reciprocal-rank fusion of two retrievers over the same
    // query: lexical TF-IDF ⊕ BM25 top-20 lists fused at kConst=60 —
    // the standard hybrid-retrieval combiner; both ranks exposed ─────
    "q198_rrf_fusion" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val terms = Seq("spark", "query", "join")
      TextAnalysis.rrfFuse(
          TextAnalysis.tfidfTopK(docs, "text", "doc_id", terms, k = 20),
          TextAnalysis.bm25TopK(docs, "text", "doc_id", terms, k = 20),
          "doc_id", "score", kConst = 60, topK = 15)
        .orderBy(col("rrf").desc, col("doc_id"))
    },

    // ───── confusion matrix of the heuristic langid vs the declared
    // lang column — the labeler audit before trusting it to route data;
    // cell grid + margin shares + global accuracy, all windows over the
    // ≤|langs|² grid ─────
    "q199_confusion" -> { (s, dir) =>
      Models.confusionMatrix(
          tb(s, dir, "documents").select(
            col("lang").as("actual"),
            TextAnalysis.langIdText(col("text")).as("predicted")),
          "actual", "predicted")
        .orderBy("actual", "predicted")
    },

    // ───── per-document keyphrases: top-3 TF-IDF terms per doc with a
    // stop-term df gate, ranked on the sort-free TopKPerKey heap
    // operator — tfidfTopK's transpose (terms per document). Gate at 0.9
    // here: the synthetic corpus has a ~31-term vocabulary with median
    // df 388/500, so the real-corpus default 0.5 would gate everything ─────
    "q200_keyphrases" -> { (s, dir) =>
      TextAnalysis.keyphrases(tb(s, dir, "documents"), "doc_id", "text",
          k = 3, maxDfFrac = 0.9)
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },

    // ───── dictionary tagging (blocklist / topic lexicon): per-doc hits
    // against a 3-category lexicon over the corpus vocabulary — the
    // brand-safety / topic-router primitive; broadcast term join, corpus
    // never shuffles ─────
    "q201_dictionary_tag" -> { (s, dir) =>
      TextAnalysis.dictionaryTag(tb(s, dir, "documents"), "doc_id", "text",
          Map(
            "perf" -> Seq("slow", "fast", "big", "small"),
            "exec" -> Seq("join", "scan", "filter", "sort", "merge", "agg"),
            "storage" -> Seq("table", "column", "row", "batch")))
        .orderBy("doc_id", "category")
    },

    // ───── feature hashing (the hashing trick): 64-bucket bag-of-words
    // with no vocabulary pass — bucket = md5-hash(token) mod 64, sparse
    // (doc, bucket, cnt) rows; the vectorizer that needs no global state ─────
    "q202_feature_hash" -> { (s, dir) =>
      TextAnalysis.featureHash(tb(s, dir, "documents"), "doc_id", "text",
          nBuckets = 64)
        .orderBy("doc_id", "bucket")
    },

    // ───── leave-one-out target encoding with m=10 smoothing: encode
    // order priority against the high-value flag excluding each row's own
    // label — the leakage-safe categorical encoder; binary y keeps every
    // partial sum an exact integer ─────
    "q203_target_encode" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        when(col("o_totalprice") > 100000, 1.0).otherwise(0.0).as("y"))
      Models.targetEncode(o, "cat", "y", m = 10.0)
        .select(col("o_orderkey"), col("cat"), col("y"), col("enc"))
        .orderBy("o_orderkey")
    },

    // ───── size-balanced shard assignment: stratify-then-hash — 8 size
    // strata (1-row broadcast min/max), content-hash spread across 8
    // shards within each stratum; deterministic, no global sort, no
    // sequential bin-packing state ─────
    "q204_shard_balance" -> { (s, dir) =>
      TextAnalysis.balancedShards(tb(s, dir, "documents"), "doc_id",
          "n_chars", k = 8, strata = 8)
        .select(col("doc_id"), col("stratum"), col("shard"))
        .orderBy("doc_id")
    },

    // ───── personalized PageRank: restarts pinned to nation-1 customers
    // — rank measures proximity to the seed cohort through the symmetric
    // trade graph, not global centrality (q133's complement) ─────
    "q205_ppr" -> { (s, dir) =>
      val rel = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
        .distinct()
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 1).select(col("c_custkey").as("id"))
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "id",
          iterations = 5)
        .select(col("id").as("node_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node_id"))
        .limit(100)
    },

    // ───── classical multiplicative seasonal decomposition of the daily
    // event-value series: 7-day centered trend, normalized day-of-week
    // index, residual — the series is the bounded grain (types × 30 days) ─────
    "q206_seasonal" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 6).as("v"))
      Temporal.seasonalDecompose(daily, "event_type", "day", "v")
        .select(col("event_type"), col("day"), col("dow"), col("v"),
          col("trend"), col("seasonal"), col("deseason"), col("resid"))
        .orderBy("event_type", "day")
    },

    // ───── directed n-gram containment (Broder's asymmetric measure):
    // catches a short doc quoted near-wholesale inside a long one, which
    // Jaccard's union denominator hides; same df-cap posture as q99 ─────
    "q207_containment" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.containmentPairs(d, "doc_id", Dedup.shingles(col("toks"), 3),
          minContainment = 0.9, maxShingleDf = Some(3))
        .orderBy("src_id", "dst_id")
    },

    // ───── time-constrained ordered funnel (ClickHouse windowFunnel,
    // EXISTS semantics): view→click→purchase chains inside 2 h of the
    // chain's FIRST event, every step-1 event a candidate start — the
    // min-first-occurrence funnel (q111) misses late-starting chains ─────
    "q208_window_funnel" -> { (s, dir) =>
      Temporal.windowFunnel(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          expr("INTERVAL 2 HOURS"))
        .orderBy("step")
    },

    // ───── Holt linear smoothing of the daily event-value series:
    // level+trend state folded sequentially per key (9dp per step), a
    // 7-day-ahead forecast and the in-sample one-step MAE — the
    // forecaster rung between EWMA (q167, trendless) and the seasonal
    // decomposition (q206) ─────
    "q209_holt" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 6).as("v"))
      Temporal.holtLinear(daily, "event_type", "day", "v",
          alpha = 0.5, beta = 0.3, horizon = 7)
        .orderBy("event_type")
    },

    // ───── per-document character entropy: the gibberish/template-spam
    // detector — flat char distributions (mash) score high, repeated-run
    // spam scores low, natural language sits in a per-script band ─────
    "q210_char_entropy" -> { (s, dir) =>
      TextAnalysis.charEntropy(tb(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ───── q175's 100 TB posture, realized: the same Iglewicz–Hoaglin
    // flags with the exact per-group percentile (buffers every group
    // value) swapped for two mergeable fixed-width histogram-median
    // passes — per-key state is 256 counters, not the data ─────
    "q211_mad_approx" -> { (s, dir) =>
      Temporal.madOutliersApprox(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", bins = 256)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("mz"))
        .orderBy("event_id")
    },

    // ───── DSIR importance resampling: pick the 200 corpus docs that
    // look most like the English slice under hashed-unigram bag models —
    // broadcast 64-row distributions, map-side log-weights, Gumbel-top-k
    // draw keyed by md5 (no RNG state, fully deterministic) ─────
    "q212_dsir" -> { (s, dir) =>
      TextAnalysis.importanceResample(tb(s, dir, "documents"), "doc_id",
          "text", col("lang") === "en", nBuckets = 64, k = 200)
        .orderBy(col("key").desc, col("doc_id"))
    },

    // ───── Adamic–Adar link prediction over the supplier side of the
    // trade graph: supplier pairs sharing low-degree customers, scored
    // Σ 1/ln(deg) — rare shared customers weigh more; degree cap 15
    // prunes the dense-hub customers that carry ~0 signal ─────
    "q213_adamic_adar" -> { (s, dir) =>
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      Graph.adamicAdar(e, "supp", "cust", maxDegree = 15, minCommon = 2)
        .orderBy("id_a", "id_b")
    },

    // ───── per-node local clustering coefficient on q148's part
    // co-purchase graph: 2T(v)/(deg(deg−1)) — tight-community / bot-ring
    // node feature; triangles credit all three corners via one explode
    // over the degree-oriented closed wedges ─────
    "q214_local_clustering" -> { (s, dir) =>
      val pr = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val pairs = pr.as("x").join(pr.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.localClustering(pairs, "a", "b")
        .orderBy("node_id")
    },

    // ───── winsorize-then-standardize the event values per type: clip to
    // the [p05, p95] histogram-quantile band (mergeable 256-counter state,
    // never a per-group sort), then z-score the clipped values — the
    // robust feature-scaling preprocessor ─────
    "q215_winsorize" -> { (s, dir) =>
      Temporal.winsorizedStandardize(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", pLo = 0.05, pHi = 0.95, bins = 256)
        .select(col("event_id"), col("event_type"), col("value"),
          col("clipped"), col("z"))
        .orderBy("event_id")
    },

    // ───── vocabulary coverage curve: token-mass coverage of the top-k
    // types at four vocab budgets — the tokenizer-budget sizing signal
    // (the curve's slope is the marginal value of the next budget step);
    // the corpus collapses to the vocab before any window runs ─────
    "q216_vocab_coverage" -> { (s, dir) =>
      TextAnalysis.vocabCoverage(tb(s, dir, "documents"), "text",
          Seq(5, 10, 20, 1000))
        .orderBy("k")
    },

    // ───── contrastive triplet mining for embedding training: LSH
    // near-dup positives (est-Jaccard ≥ 0.5) + deterministic md5
    // bucket-representative negatives with next-bucket fallback — easy
    // negatives, the standard first epoch; zero RNG state ─────
    "q217_contrastive" -> { (s, dir) =>
      TextAnalysis.contrastiveTriplets(tb(s, dir, "documents"), "doc_id",
          "text", minEstJac = 0.5, nBuckets = 64)
        .orderBy("anchor", "positive")
    },

    // ───── dedup threshold sweep: pair count + affected-doc count at
    // five est-Jaccard cutoffs from ONE LSH candidate pass — the curve
    // you read before committing a corpus-wide dedup threshold;
    // thresholds are exact 1/16 multiples so cutoff compares are exact ─────
    "q218_threshold_sweep" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
      Dedup.thresholdSweep(d, "doc_id", Dedup.shingles(col("toks"), 3),
          Seq(0.5, 0.625, 0.75, 0.875, 1.0))
        .orderBy("threshold")
    },

    // ───── batched reciprocal-rank fusion: a three-query hybrid
    // retrieval workload (TF-IDF ⊕ BM25 top-20 arms per query) fused in
    // ONE plan — per-query rank windows, (query, doc) full join, the
    // sort-free TopKPerKey heap truncation; the production multi-query
    // shape of q198 ─────
    "q219_rrf_batched" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val arms = rrfQueries.map { case (qid, ts) =>
        (TextAnalysis.tfidfTopK(docs, "text", "doc_id", ts, k = 20)
           .withColumn("query_id", lit(qid)),
         TextAnalysis.bm25TopK(docs, "text", "doc_id", ts, k = 20)
           .withColumn("query_id", lit(qid)))
      }
      TextAnalysis.rrfFuseBatched(
          arms.map(_._1).reduce(_ unionByName _),
          arms.map(_._2).reduce(_ unionByName _),
          "query_id", "doc_id", "score", kConst = 60, topK = 15)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    },

    // ───── Similarity: IVF top-k served from the PINNED Lloyd-trained
    // index artifact (fixtures.PinnedIndex — trained offline by the
    // deterministic sampled-Lloyd trainer, shipped as literals the way
    // real ANN systems version their indexes; both engines embed the
    // same centroid doubles) ─────
    "q220_ivf_pinned" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKIvfCentroids(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },

    // ───── Similarity: PQ/ADC top-k + exact re-rank served from the
    // PINNED Lloyd-trained codebooks (q55's serving path, trained index
    // instead of hash-seeded) ─────
    "q221_pq_pinned" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKPqWithBooks(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.pqBooksV1, k = 5, candMult = 8)
        .orderBy("qid", "rnk")
    },

    // ───── S1, REAL Excel container: typed extract → .xlsx workbook
    // (pure-JDK zip+XML codec, Xlsx.scala) → read back through the
    // binaryFile-scan parser → strict re-cast. Dates round-trip through
    // Excel serials + date styles; the oracle is the same extract off
    // the original parquet — container round trip is content identity ─────
    "q222_xlsx_roundtrip" -> { (s, dir) =>
      val out = scratch("xlsx_roundtrip")
      Xlsx.writeSheet(
        t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("o_orderpriority")),
        s"$out/orders.xlsx")
      Xlsx.readSheet(s, s"$out/orders.xlsx", Some("Sheet1"))
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    },

    // ───── S2/S4, Excel container: the reference's one-sheet-per-key
    // workbook (v1:91-100) written for real — per-segment sheets in ONE
    // workbook, key column dropped per sheet, read back via the
    // all-sheets scan with the sheet name as lineage ─────
    "q223_xlsx_sheets" -> { (s, dir) =>
      val out = scratch("xlsx_sheets")
      Xlsx.writeSheets(
        t(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
        "c_mktsegment", s"$out/segments.xlsx")
      Xlsx.readSheet(s, s"$out/segments.xlsx", sheet = None)
        .groupBy(col("_sheet").as("segment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("double")), 2).as("sum_bal"))
        .orderBy("segment")
    },

    // ───── S5 END TO END through the REAL container, IN PLACE — the
    // reference's final script (timesheet_transform.py:98-138) exactly:
    // write a per-surname target workbook, read it back, and PATCH ONLY
    // the matched rows' commessa/ore cells through the style-preserving
    // patch-through writer (Xlsx.patchSheets — every untouched zip part
    // and cell span stays byte-verbatim; update matched, never insert),
    // then read the patched workbook AGAIN. The oracle is the pure-SQL
    // merge on the source table ─────
    "q224_xlsx_merge" -> { (s, dir) =>
      val out = scratch("xlsx_merge")
      val orders = t(s, dir, "orders")
      val target = orders
        .groupBy(col("o_orderpriority").as("surname"),
          col("o_orderdate").as("data"))
        .agg(min(col("o_orderstatus")).as("commessa"),
          round(sum(col("o_totalprice")), 2).as("ore"))
      Xlsx.writeSheets(target.select(col("surname"), col("data"),
        col("commessa"), col("ore")), "surname", s"$out/target.xlsx")
      val updates = orders.filter(col("o_orderkey") % 3 === 0)
        .groupBy(lower(col("o_orderpriority")).as("_k"),
          col("o_orderdate").as("data"))
        .agg(concat_ws("; ", sort_array(collect_set(col("o_orderstatus"))))
            .as("u_commessa"),
          round(sum(col("o_totalprice")), 2).as("u_ore"))
      val back = Xlsx.readSheet(s, s"$out/target.xlsx", sheet = None)
      // matched (sheet, row) → new cell values: the reference's
      // case-insensitive surname + day-granularity date match
      val patch = back
        .select(col("_sheet"), col("_row"), lower(col("_sheet")).as("bk"),
          col("data").cast("date").as("bdata"))
        .join(updates.select(col("_k").as("uk"), col("data").as("udata"),
          col("u_commessa"), col("u_ore")),
          col("bk") === col("uk") && col("bdata") === col("udata"))
        .select(col("_sheet"), col("_row"),
          col("u_commessa").as("commessa"), col("u_ore").as("ore"))
      Xlsx.patchSheets(s, s"$out/target.xlsx", s"$out/updated.xlsx",
        patch, Seq("commessa", "ore"))
      Xlsx.readSheet(s, s"$out/updated.xlsx", sheet = None)
        .select(col("_sheet").as("surname"),
          col("data").cast("date").as("data"),
          col("commessa"), col("ore").cast("double").as("ore"))
        .orderBy("surname", "data")
    },

    // ───── P2 lenient-date cascade, oracle-proven over EVERY branch:
    // each order date renders into one of ten dirty shapes (slash /
    // dash / ISO / dotted / compact / short + full month names /
    // ordinal-suffix days / two-digit years) and parses back through
    // Cleansing.parseDateLenient. The oracle is the IDENTITY — the
    // cascade must invert every rendering exactly, including the POSIX
    // two-digit-year pivot (TPC-H's 199x dates exercise the 19xx arm) ─────
    "q225_date_cascade" -> { (s, dir) =>
      val d0 = col("o_orderdate").cast("date")
      val day = dayofmonth(d0)
      val suf = when(pmod(day, lit(100)).isin(11, 12, 13), lit("th"))
        .when(pmod(day, lit(10)) === 1, lit("st"))
        .when(pmod(day, lit(10)) === 2, lit("nd"))
        .when(pmod(day, lit(10)) === 3, lit("rd"))
        .otherwise(lit("th"))
      val shape = pmod(col("o_orderkey"), lit(17))
      val m = month(d0)
      val yr = year(d0).cast("string")
      // deterministic synthetic time-of-day for the datetime shapes —
      // the parse must TRUNCATE it away (timesheet_transform.py:122-125)
      val hh = pmod(col("o_orderkey"), lit(24)).cast("string")
      val mm = lpad(pmod(col("o_orderkey") * 7, lit(60)).cast("string"),
        2, "0")
      val ss = lpad(pmod(col("o_orderkey") * 13, lit(60)).cast("string"),
        2, "0")
      val rendered = when(shape === 0, date_format(d0, "d/M/yyyy"))
        .when(shape === 1, date_format(d0, "d-M-yyyy"))
        .when(shape === 2, date_format(d0, "yyyy-MM-dd"))
        .when(shape === 3, date_format(d0, "d.M.yyyy"))
        .when(shape === 4, date_format(d0, "yyyyMMdd"))
        .when(shape === 5, date_format(d0, "d MMM yyyy"))
        .when(shape === 6, date_format(d0, "MMMM d, yyyy"))
        .when(shape === 7, date_format(d0, "d MMMM yyyy"))
        .when(shape === 8, concat(day.cast("string"), suf, lit(" "),
          date_format(d0, "MMMM yyyy")))
        .when(shape === 9, date_format(d0, "d/M/yy"))
        // locale month names (the reference is an Italian tool): Italian
        // full + abbreviated, French accented, German "5. März 2025"
        // day-dot convention, Spanish "de" connective
        .when(shape === 10, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsIt), m), lit(" "), yr))
        .when(shape === 11, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsItAbbr), m), lit(" "), yr))
        .when(shape === 12, concat(day.cast("string"), lit(" "),
          element_at(typedlit(LenientDate.monthsFr), m), lit(" "), yr))
        .when(shape === 13, concat(day.cast("string"), lit(". "),
          initcap(element_at(typedlit(LenientDate.monthsDe), m)), lit(" "), yr))
        .when(shape === 14, concat(day.cast("string"), lit(" de "),
          element_at(typedlit(LenientDate.monthsEs), m), lit(" de "), yr))
        // datetime strings: the reference's target-cell pd.to_datetime
        // accepts these and .date() truncates — the cascade must too
        .when(shape === 15, concat(date_format(d0, "d/M/yyyy"), lit(" "),
          hh, lit(":"), mm))
        .otherwise(concat(date_format(d0, "yyyy-MM-dd"),
          when(col("o_orderkey") % 2 === 0, lit("T")).otherwise(lit(" ")),
          hh, lit(":"), mm, lit(":"), ss))
      // balanced scan (r11): the 17-shape render + full lenient-parse
      // cascade is the heaviest per-row expression in the suite, and the
      // single-row-group orders file made it run on ONE core (measured
      // 7.2 s at c32 AND c8 — parallelism-blind). tb() spreads it.
      tb(s, dir, "orders")
        .select(col("o_orderkey").as("k"), shape.as("shape"),
          Cleansing.parseDateLenient(rendered).as("parsed"))
        .orderBy("k")
    },

    // ───── ROUGE-2 generation-eval: clipped bigram overlap P/R/F per
    // (reference, candidate) pair — candidate = the NEXT doc's text, a
    // deterministic mismatched-pair fixture that exercises zero-overlap
    // and partial-overlap arms; two hash-aggs + one (id, gram) equi-join,
    // no windows ─────
    "q226_rouge" -> { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.rougeN(pairs, "doc_id", "ref", "cand", n = 2)
        .orderBy("doc_id")
    },

    // ───── hard-negative mining: for each LSH near-dup (anchor,
    // positive) pair (q217's positives), the same-cell corpus vector
    // most cosine-similar to the anchor that is neither pair member —
    // the second-epoch contrastive negatives; cell-bounded candidates,
    // max_by fold, no rank window ─────
    "q227_hard_negatives" -> { (s, dir) =>
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

    // ───── BPE merge-table training: 8 rounds of count-pairs → merge
    // the winner, over the word-frequency table (the ONLY corpus-scale
    // pass is the initial word count) — the trainable tokenizer
    // artifact, fully hash-oracled via the paren-symbol replace chain ─────
    "q228_bpe_train" -> { (s, dir) =>
      // driver-side merge loop at a REALISTIC merge count: one
      // distributed word-count job, then 64 O(vocab) loop rounds
      // (bpeTrain's O(merges)-Spark-jobs twin, spec-proven identical)
      TextAnalysis.bpeTrainDriver(tb(s, dir, "documents"), "text", merges = 64)
        .orderBy("step")
    },

    // ───── BPE segmentation with a PINNED merge table (the trained
    // artifact as plan literals — the PinnedIndex posture): per-doc
    // token counts over the merged symbol vocabulary ─────
    "q229_bpe_segment" -> { (s, dir) =>
      TextAnalysis.bpeSegment(tb(s, dir, "documents"), "doc_id", "text",
          pinnedBpeMerges)
        .orderBy("doc_id", "token")
    },

    // ───── SemDeDup (Abbas 2023): semantic dedup through the PINNED
    // learned coarse quantizer — nearest-centroid cells bound the pair
    // space, keep-lowest-id per similarity star; every row's decision
    // is emitted (auditable) ─────
    "q230_semdedup" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Dedup.semDedup(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, minCosine = 0.4)
        .orderBy("cid")
    },

    // ───── Retrieval-quality evaluation: NDCG@10 + MRR of the BM25 arm
    // over the shared rrfQueries workload, graded relevance = number of
    // query terms whole-word-present in the doc (build → fuse → EVALUATE
    // completes the retrieval family) ─────
    "q231_ranking_eval" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val ranked = rrfQueries.map { case (qid, ts) =>
        TextAnalysis.bm25TopK(docs, "text", "doc_id", ts, k = 20)
          .withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _)
      // graded relevance = total whole-word occurrences of the query's
      // terms (uncapped — saturated grades make every top-10 ideal and
      // NDCG degenerates to 1.0 on this term-dense corpus). The per-query
      // corpus scans here SYNTHESIZE qrels for the fixture workload;
      // production qrels are a bounded human-label table the op consumes
      // directly.
      val rels = rrfQueries.map { case (qid, ts) =>
        docs.select(lit(qid).as("query_id"), col("doc_id"),
          ts.map(t =>
            regexp_count(lower(col("text")), lit("\\b" + t + "\\b")))
            .reduce(_ + _).as("rel"))
      }.reduce(_ unionByName _)
      TextAnalysis.rankingMetrics(ranked, rels,
          "query_id", "doc_id", "score", "rel", k = 10)
        .orderBy("query_id")
    },

    // ───── Interpolated Kneser–Ney bigram perplexity (q61's add-1
    // scorer upgraded to the LM the CCNet-style filters actually ship;
    // same broadcast-model scale shape) ─────
    "q232_kneser_ney" -> { (s, dir) =>
      TextAnalysis.knBigramScore(tb(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id")
    },

    // ───── Gopher rule battery (Rae 2021 A1.1): per-rule boolean flags
    // + conjunction, one codegen'd projection. minStopHits calibrated to
    // 1 on this synthetic vocabulary (only "the" from the published
    // required list occurs; the published default is 2) ─────
    "q233_gopher_rules" -> { (s, dir) =>
      TextAnalysis.gopherRules(tb(s, dir, "documents"), "doc_id", "text",
          minStopHits = 1)
        .orderBy("doc_id")
    },

    // ───── End-to-end curation funnel (the LLM-side E1 flagship):
    // language gate → quality gate → exact dedup → LSH near-dedup, with
    // per-source first-drop attribution and surviving token mass ─────
    "q234_curation_funnel" -> { (s, dir) =>
      CurationPipeline.curate(tb(s, dir, "documents"),
          minQuality = 0.25, minJac = 0.5)
        .orderBy("source")
    },

    // ───── Tokenizer fertility report: tokens/word + chars/token per
    // declared language under the PINNED merge table — how tokenizer
    // bias across languages is measured ─────
    "q235_bpe_fertility" -> { (s, dir) =>
      TextAnalysis.bpeFertility(tb(s, dir, "documents"), "doc_id", "text",
          "lang", pinnedBpeMerges)
        .orderBy("lang")
    },

    // ───── IVF tuning curve: mean recall@5 vs nProbe over the pinned
    // index (the ANN sibling of q218's dedup threshold sweep) ─────
    "q236_probe_curve" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.probeRecallCurve(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, k = 5,
          probes = Seq(1, 2, 4, 8))
        .orderBy("n_probe")
    },

    // ───── Packing-efficiency sweep: fill rate vs context length over
    // {256, 512, 1024, 2048} — the capacity-planning report before
    // committing a context length (q83's packer, q218's sweep posture) ─────
    "q237_pack_sweep" -> { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.wordCount(col("text")).as("n_tok"))
      TextAnalysis.packSweep(d, "source", "doc_id", "n_tok",
          Seq(256, 512, 1024, 2048))
        .orderBy("ctx_tokens")
    },

    // ───── Zipf rank–frequency fit over the top-1000 vocabulary: the
    // corpus-health number (template-heavy corpora flatten the slope) ─────
    "q238_zipf_fit" -> { (s, dir) =>
      TextAnalysis.zipfFit(tb(s, dir, "documents"), "text", vocabSize = 1000)
    },

    // ───── Structured Streaming: the Gopher gate at INGEST time — the
    // q233 rule battery as a stateless streaming filter over the
    // documents file stream (corpus filtering before anything lands);
    // append mode, same oracle arithmetic as the batch row ─────
    "q239_stream_quality_gate" -> { (s, dir) =>
      drainToTable(s,
        TextAnalysis.gopherRules(docsStreamBalanced(s, dir), "doc_id", "text",
            minStopHits = 1)
          // a bare filter(pass) is pushed below the balancing exchange
          // with the whole rule chain substituted in: the regex battery
          // ran twice, once on the stream's single input partition
          .filter(Sources.noPushdown(col("pass"))),
        "g239_gate", "append")
        .orderBy("doc_id")
    },

    // ───── SURGICAL benchmark decontamination: remove only the
    // benchmark-overlapping spans (q59 drops whole docs; this keeps the
    // rest of the document) — RollingHash probe against the broadcast
    // benchmark span set, q108's removal/reassembly tail ─────
    "q240_surgical_decontam" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.decontaminateSpans(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", width = 8)
        .orderBy("doc_id")
    },

    // ───── N-gram novelty vs a reference corpus: the memorization lens
    // inverted — fraction of each doc's distinct 3-grams absent from the
    // reference (broadcast gram set, the q59 split) ─────
    "q241_novelty" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      Dedup.noveltyScore(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // ───── Wilson-score pass-rate intervals per source over the Gopher
    // gate: which sources meet the quality bar with CONFIDENCE (a 3/3
    // source is not safer than a 940/1000 one) ─────
    "q242_wilson_pass_rate" -> { (s, dir) =>
      val flags = TextAnalysis.gopherRules(tb(s, dir, "documents"),
        "source", "text", minStopHits = 1)
      Models.wilsonPassRate(flags, "source", "pass", z = 1.96)
        .orderBy("source")
    },

    // ───── Duplicate-aware sampling weights ("soft dedup"): every
    // near-dup cluster member kept at weight 1/cluster-size — the
    // down-weighting alternative to dropping (q43's clusters) ─────
    "q243_dedup_weights" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.words(col("text")).as("toks"))
      // labels feeds dedupWeights' size aggregate AND its member join —
      // materialize the narrow (id, rep) frame once (r10)
      val labels = Dedup.connectedComponentsStar(
        Dedup.simhashPairs(d, "doc_id", col("toks"), maxDist = 6),
        "id_a", "id_b").localCheckpoint()
      Dedup.dedupWeights(docs.select("doc_id"), labels, "doc_id")
        .orderBy("doc_id")
    },

    // ───── Per-dimension embedding PSI drift: the ANN-serving monitor
    // (new encoder / shifted corpus moves coordinate distributions long
    // before recall degrades); vec_id-parity split as ref vs cur ─────
    "q244_embedding_drift" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.embeddingDrift(
          e.filter(col("vec_id") % 2 === 0).select(col("embedding")),
          e.filter(col("vec_id") % 2 === 1).select(col("embedding")),
          "embedding", nBins = 10)
        .orderBy("pos")
    },

    // ───── REAL compressed image codec: per-doc synthetic PNGs round-trip
    // the JDK's zlib+defilter ImageIO codec inside the mapPartitions
    // decode boundary; the oracle recomputes every feature from the
    // deterministic pixel formula (the q90 PGM pattern — byte size is
    // encoder-dependent and deliberately absent) ─────
    "q245_png_decode" -> { (s, dir) =>
      Multimodal.pngFeatures(s, dir).orderBy("doc_id")
    },

    // ───── Cluster-balanced sampling: pinned-centroid cells × exact
    // hash-rank quotas (ClusterClip/DoReMi shape; semDedup's sampling
    // dual) — every vector flagged kept/dropped, ≤ perCell kept per cell ─────
    "q246_cluster_sample" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Sampling.clusterBalancedSample(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1, perCell = 20)
        .orderBy("cid")
    },

    // ───── PNG resize through the REAL codec both ways: decode →
    // half-scale → RE-ENCODE (filter+deflate on executor-derived pixels)
    // → decode again; oracle recomputes from the sampled-pixel formula
    // (the q91 pattern) ─────
    "q247_png_resize" -> { (s, dir) =>
      Multimodal.pngResizeFeatures(s, dir).orderBy("doc_id")
    },

    // ───── Funnel → topic balance composition: the q234 curation funnel
    // continued one stage — kept docs join embeddings 1:1 on id,
    // pinned-cell assignment, exact per-cell quotas; output is the
    // per-(source, cell) mixture sheet ─────
    "q248_curation_balanced" -> { (s, dir) =>
      CurationPipeline.curateBalanced(
          tb(s, dir, "documents"), tb(s, dir, "embeddings"),
          minQuality = 0.25, minJac = 0.5,
          graft.fixtures.PinnedIndex.ivfCentroidsV1, perCell = 10)
        .orderBy("source", "cell")
    },

    // ───── REAL image perceptual dedup: repeated images (seed = doc_id
    // mod 50 — the web-scrape re-post shape) decode through the PGM
    // parser, aHash 8×8 mean-threshold bits, exact grouping on the
    // bitstring ─────
    "q249_image_ahash_dedup" -> { (s, dir) =>
      Dedup.exactGroups(Multimodal.imageHashes(s, dir), "doc_id", col("ahash"))
        .orderBy("keeper_id")
    },

    // ───── STREAMING media ingest decode: the q23 mixed-modality decode
    // running per micro-batch on a STREAMING id column (stateless
    // mapPartitions — no state store); the drained stream is
    // row-identical to the batch projection ─────
    "q250_stream_media_decode" -> { (s, dir) =>
      import s.implicits._
      drainToTable(s,
        Multimodal.mediaFeaturesOf(
          docsStream(s, dir).select(col("doc_id")).as[Long]),
        "g250_media", "append")
        .orderBy("doc_id")
    },

    // ───── xlsx as a CORPUS format, end to end: one workbook per source
    // written fully in PARALLEL (one shuffle by key), then the
    // multi-workbook glob scan — binaryFile distributes the FILES, each
    // executor parses its own workbooks' bytes — with the key recovered
    // from file lineage. The 100 TB xlsx story (per-file parallelism)
    // as an oracle-proven row, not just a spec ─────
    "q251_xlsx_corpus" -> { (s, dir) =>
      val out = scratch("xlsx_corpus")
      Xlsx.writeWorkbooks(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        "source", out)
      Xlsx.readSheet(s, s"$out/*.xlsx")
        .select(regexp_extract(col("_file"), "([^/]+)\\.xlsx$", 1).as("source"),
          col("doc_id").cast("bigint").as("doc_id"),
          col("n_chars").cast("bigint").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },

    // ───── Active-learning uncertainty sampling: the labeling-budget
    // selector over the q163 trained quality classifier — the 100 docs
    // whose scores sit closest to the 0.5 decision boundary, via
    // TakeOrderedAndProject (distributed top-k; the rank window runs
    // over ONLY the selected 100 rows — the vocabCoverage posture) ─────
    "q252_uncertainty_sample" -> { (s, dir) =>
      val sc = scoredDocsQuality(s, dir)
        .select(col("doc_id"), col("prob"),
          abs(col("prob") - 0.5).as("_u"))
      sc.orderBy(col("_u"), col("doc_id")).limit(100)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("_u"), col("doc_id"))))
        .select(col("doc_id"), col("prob"), col("rnk"))
        .orderBy("rnk")
    },

    // ───── Multinomial Naive Bayes quality classifier: the GENERATIVE
    // twin of q163's logreg on the same task (is-English), fit on the
    // corpus itself — vocab-capped Laplace token likelihoods broadcast
    // as one ≤512-row model, scored in a single tokenize pass ─────
    "q253_naive_bayes" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(docs, "text", y, vocabSize = 512)
      Models.naiveBayesScore(docs.withColumn("y", y), model, "doc_id", "text")
        .select(col("doc_id"), col("y").cast("int").as("y"),
          col("log_odds"), col("pred"))
        .orderBy("doc_id")
    },

    // ───── k-anonymity / l-diversity release audit: one hash-agg over
    // (event_type, day) cohorts, sensitive = user_id — the structured-
    // channel privacy gate next to q69's free-text PII scrub ─────
    "q254_k_anonymity" -> { (s, dir) =>
      Privacy.kAnonymityAudit(
          t(s, dir, "events").withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), col("user_id"), k = 30, l = 10)
        .orderBy("event_type", "day")
    },

    // ───── HTML → text extraction: the web-scrape ingest stage — drop
    // script/style payloads, strip tags, decode entities, measure the
    // link-density boilerplate signal. Page markup is synthesized
    // deterministically from the documents row in BOTH engines (the
    // q225 identity-oracle posture); every column is a codegen'd
    // regex projection, map-only at 100 TB ─────
    "q255_html_extract" -> { (s, dir) =>
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; "), upper(col("source")),
        lit("</title><style>p { color: red; }</style></head><body>" +
          "<script>var x = 1 < 2;</script><h1>"),
        col("source"), lit("</h1><p>"), col("text"),
        lit("</p><a href=\"/s/"), col("source"), lit("\">"),
        col("source"), lit(" home</a>"),
        when(col("doc_id") % 3 === 0,
          lit("<a href=\"/more\">read &gt; more</a>")).otherwise(lit("")),
        lit("</body></html>"))
      tb(s, dir, "documents").select(col("doc_id"), html.as("_h"))
        .select(col("doc_id"),
          Html.title(col("_h")).as("title"),
          Html.visibleText(col("_h")).as("text_clean"),
          Html.tagCount(col("_h")).cast("bigint").as("n_tags"),
          size(Html.anchorTexts(col("_h"))).cast("bigint").as("n_links"),
          Html.linkDensity(col("_h")).as("link_density"))
        .orderBy("doc_id")
    },

    // ───── Bradley–Terry preference aggregation (the RLHF leaderboard
    // op): deterministic synthetic matches — each doc vs its successor
    // from a different source, longer doc wins (tie → lower source) —
    // aggregated to a ≤sources² win matrix in ONE distributed hash-agg,
    // then 20 MM rounds driver-side (the bpeTrainDriver bounded-model
    // posture), 9dp-rounded per step in both engines ─────
    "q256_bradley_terry" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val a = d.select(col("doc_id").as("_k"), col("source").as("sa"),
        col("n_chars").as("ca"))
      val b = d.select((col("doc_id") - 1).as("_k"), col("source").as("sb"),
        col("n_chars").as("cb"))
      val pairs = a.join(b, Seq("_k")).filter(col("sa") =!= col("sb"))
        .select(
          when(col("ca") > col("cb"), col("sa"))
            .when(col("cb") > col("ca"), col("sb"))
            .when(col("sa") < col("sb"), col("sa"))
            .otherwise(col("sb")).as("winner"),
          when(col("ca") > col("cb"), col("sb"))
            .when(col("cb") > col("ca"), col("sa"))
            .when(col("sa") < col("sb"), col("sb"))
            .otherwise(col("sa")).as("loser"))
      Models.bradleyTerry(pairs, "winner", "loser", iters = 20)
        .orderBy("item")
    },

    // ───── PCA top component: two distributed moment passes (shuffles
    // carry dim/dim² partials, never vectors), driver power iteration on
    // the 64×64 covariance (pqTrain bounded-model posture), projection
    // served as a broadcast-literal codegen'd VecDot — the embedding
    // decorrelation/anisotropy monitor ─────
    "q257_pca_project" -> { (s, dir) =>
      Similarity.pcaProject(tb(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, iters = 30)
        .orderBy("vec_id")
    },

    // ───── STREAMING NB classifier gate: q253's model trained batch-side,
    // collected into a literal token→llr map, served as a PURE PROJECTION
    // on the document stream (no join, no state store) — the trained-
    // model twin of q239's rule gate; drained stream ≡ batch scores ─────
    "q258_stream_nb_gate" -> { (s, dir) =>
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(
        t(s, dir, "documents"), "text", y, vocabSize = 512)
      drainToTable(s,
        Models.naiveBayesServe(docsStream(s, dir), model, "text")
          .filter(col("pred") === 1)
          .select("doc_id", "log_odds", "pred"),
        "g258_nb_gate", "append")
        .orderBy("doc_id")
    },

    // ───── IPF / raking mixture solver: per-(source, lang) token masses
    // reweighted to hit BOTH uniform marginals — one distributed hash-agg
    // builds the grid, 20 alternating scaling rounds run driver-side on
    // the 20×4 cell table (bounded-model posture); output is the per-cell
    // resampling rate downstream samplers apply ─────
    "q259_ipf_mixture" -> { (s, dir) =>
      Sampling.ipfMixture(tb(s, dir, "documents"), "source", "lang",
          size(TextAnalysis.words(col("text"))), iters = 20)
        .orderBy("source", "lang")
    },

    // ───── Truncation-loss curve: tokens thrown away by a hard per-doc
    // context cap, per (source, context length) — one tokenize pass to a
    // narrow (group, count) stream, then the |contexts|-way explode and
    // a single hash-agg ─────
    "q260_truncation_loss" -> { (s, dir) =>
      TextAnalysis.truncationLoss(tb(s, dir, "documents"), "text",
          col("source"), Seq(16, 64, 256))
        .orderBy("grp", "context_len")
    },

    // ───── REAL audio resample round trip: decode → decimate → re-encode
    // a real RIFF container from executor-derived samples → decode again
    // (the q247 re-encode posture for sound); oracle recomputes every
    // feature from the deterministic sample formula ─────
    "q261_wav_resample" -> { (s, dir) =>
      Multimodal.wavResampleFeatures(s, dir).orderBy("doc_id")
    },

    // ───── 1-bit binary-embedding ANN tier: sign-pack to 2×32-bit words
    // (pure projection), brute Hamming top-k via codegen'd
    // bit_count(xor) — the 32×-compression memory tier below q76 int8
    // and q55 PQ; 8 bytes/vector scanned instead of 256 ─────
    "q262_sim_topk_binary" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKHamming(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          dim = 64, k = 10)
        .orderBy("qid", "rnk")
    },

    // ───── Binary-tier recall report: Hamming top-5 scored against the
    // exact-cosine top-5 (the q114 recall harness pointed at the 1-bit
    // tier) — the measurement that decides whether the 32× compression
    // is admissible as a first-pass filter ─────
    "q263_binary_recall" -> { (s, dir) =>
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

    // ───── Yearless free-form dates (dateutil's last leniency shape:
    // "Wed, March 5", "March 5th", "5 March", "5/3") — the fill year is
    // an EXPLICIT parameter, not the run date; identity oracle over a
    // single-year slice, the q225 posture ─────
    "q265_date_yearless" -> { (s, dir) =>
      val d0 = col("o_orderdate").cast("date")
      val day = dayofmonth(d0)
      val suf = when(pmod(day, lit(100)).isin(11, 12, 13), lit("th"))
        .when(pmod(day, lit(10)) === 1, lit("st"))
        .when(pmod(day, lit(10)) === 2, lit("nd"))
        .when(pmod(day, lit(10)) === 3, lit("rd"))
        .otherwise(lit("th"))
      val shape = pmod(col("o_orderkey"), lit(6))
      val rendered = when(shape === 0, date_format(d0, "EEEE, MMMM d"))
        .when(shape === 1, date_format(d0, "EEE, MMM d"))
        .when(shape === 2, date_format(d0, "MMMM d"))
        .when(shape === 3, date_format(d0, "d MMMM"))
        .when(shape === 4, date_format(d0, "d/M"))
        .otherwise(concat(date_format(d0, "MMMM "), day.cast("string"), suf))
      // balanced scan (r11): same single-core cascade fix as q225
      tb(s, dir, "orders")
        .filter(year(d0) === 1995)
        .select(col("o_orderkey").as("k"), shape.as("shape"),
          Cleansing.parseDateLenientYearless(rendered, defaultYear = 1995)
            .as("parsed"))
        .orderBy("k")
    },

    // ───── Code-switching detector: 10-token segments language-ID'd
    // individually, per-doc vote distribution (top language + share +
    // entropy) — the multilingual triage a per-doc langid misses; the
    // explode carries language LABELS, never text ─────
    "q278_code_switch" -> { (s, dir) =>
      TextAnalysis.codeSwitchScore(tb(s, dir, "documents"),
          "doc_id", "text", segTokens = 10)
        .orderBy("doc_id")
    },

    // ───── Two-tier ANN serving: 1-bit Hamming top-30 candidates, exact
    // cosine rerank to top-5 — the production binary-index composition
    // (floats touched only for candK·|queries| rows) ─────
    "q277_binary_rerank" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKBinaryRerank(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          dim = 64, candK = 30, k = 5)
        .orderBy("qid", "rnk")
    },

    // ───── Homoglyph-fold dedup: every 4th doc gets a Cyrillic-lookalike
    // twin (the spam dedup-evasion shape); confusable folding before the
    // q12 content key reunites each pair — exact dedup sees through the
    // disguise. Folding is one codegen'd translate ─────
    "q276_homoglyph_dedup" -> { (s, dir) =>
      val docs = tb(s, dir, "documents").select("doc_id", "text")
      val twins = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "aeopcxy", "аеорсху").as("text"))
      val corpus = docs.unionByName(twins)
      val key = md5(concat_ws(" ",
        array_sort(array_distinct(
          TextAnalysis.words(Cleansing.confusableFold(col("text")))))))
      Dedup.exactGroups(corpus, "doc_id", key)
        .orderBy("keeper_id")
    },

    // ───── Per-source PII density scorecard: q69's scrubber aggregated
    // to the release-review grid (docs with hits, hits by kind, hits per
    // 1k source chars) — the structured report beside q254's k-anonymity
    // audit; same deterministic dirty-text synthesis as q69 ─────
    "q275_pii_report" -> { (s, dir) =>
      val dirty = tb(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com via 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"), lit(" tel "),
          (col("doc_id") + 5550000000L).cast("string")).as("t"))
      val hits = col("n_email") + col("n_ip") + col("n_num")
      TextAnalysis.piiScrub(dirty, "doc_id", "t")
        .join(dirty.select(col("doc_id"), col("source"),
          length(col("t")).as("_n0")), Seq("doc_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(hits > 0, 1L).otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email").cast("long")).as("emails"),
          sum(col("n_ip").cast("long")).as("ips"),
          sum(col("n_num").cast("long")).as("nums"),
          round(sum(hits.cast("double")) * 1000.0 /
            sum(col("_n0").cast("double")), 6).as("hits_per_1k_chars"))
        .orderBy("source")
    },

    // ───── Sorted-neighborhood near-dup pairs (Hernández–Stolfo): the
    // THIRD blocking family beside banding (q14/q15) and content keys
    // (q12) — sort once by normalized key, compare only the 3 successors
    // via lead(); candidates = n·window, no pair join; window
    // partitioned by first sorted token (distributed SNM) ─────
    "q274_sorted_neighborhood" -> { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(tb(s, dir, "documents"), "doc_id",
          TextAnalysis.words(col("text")), window = 3, minJaccard = 0.3)
        .orderBy("id_a", "id_b")
    },

    // ───── Mixture executor: q259's fitted rates applied as per-doc
    // repeat factors (floor + deterministic-hash fractional epoch — the
    // DoReMi allocation; rates > 1 upsample by duplication). Broadcast
    // rate table, one hash projection over the corpus ─────
    "q273_apply_mixture" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val rates = Sampling.ipfMixture(docs, "source", "lang",
          size(TextAnalysis.words(col("text"))), iters = 20)
        .select("source", "lang", "rate")
      Sampling.applyMixtureRates(
          docs.select("doc_id", "source", "lang"), rates,
          Seq("source", "lang"), "doc_id")
        .select("doc_id", "source", "lang", "rate", "n_copies")
        .orderBy("doc_id")
    },

    // ───── Chat-history assembly: each user's event stream rendered as
    // one dialog, keeping only the LATEST 8 turns (the context-window
    // drop-from-the-front shape); turn order total-order deterministic,
    // struct-sorted inside the aggregate ─────
    "q272_chat_assemble" -> { (s, dir) =>
      TextAnalysis.assembleDialogs(t(s, dir, "events"),
          "user_id", "ts", "event_id",
          role = col("event_type"), content = col("props"), maxTurns = 8)
        .orderBy("user_id")
    },

    // ───── Quality-threshold sweep: docs/tokens surviving each
    // candidate quality cutoff (the "choose the bar" curve beside q218's
    // dedup sweep and q260's context curve); one quality pass to a
    // narrow (score, count) stream, then the explode + hash-agg ─────
    "q271_quality_sweep" -> { (s, dir) =>
      TextAnalysis.qualityThresholdSweep(tb(s, dir, "documents"), "text",
          Seq(0.2, 0.35, 0.5))
        .orderBy("threshold")
    },

    // ───── Web link graph end to end: synthesized pages → href
    // extraction (Html.hrefs) → distinct domain edges → pageRank over
    // the 20-domain graph — raw-scrape graph analytics as ONE
    // declarative plan (the q133 engine on q255's extraction) ─────
    "q270_link_graph" -> { (s, dir) =>
      val t1 = concat(lit("src"), pmod(col("doc_id") + 1, lit(20)).cast("string"))
      val t2 = concat(lit("src"), pmod(col("doc_id") + 5, lit(20)).cast("string"))
      val html = concat(
        lit("<html><body><a href=\"/s/"), col("source"),
        lit("\">self</a><a href=\"/s/"), t1, lit("\">next</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href=\"/s/"), t2, lit("\">also</a>")))
          .otherwise(lit("")),
        lit("</body></html>"))
      val edges = t(s, dir, "documents")
        .select(col("source").as("src"), html.as("_h"))
        .select(col("src"), explode(Html.hrefs(col("_h"))).as("_href"))
        .select(col("src"),
          regexp_extract(col("_href"), "^/s/(.*)$", 1).as("dst"))
        .filter(col("dst") =!= col("src") && col("dst") =!= "")
        .distinct()
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("id").as("domain"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("domain"))
    },

    // ───── Per-key temporal train/test split: each user's latest 20% of
    // events become test (train-on-past eval hygiene; q134's hash split
    // is the exchangeable-corpus twin); ONE window shuffle, every row
    // flagged ─────
    "q268_temporal_split" -> { (s, dir) =>
      Sampling.temporalSplit(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_id", testFrac = 0.2)
        .groupBy("user_id", "split")
        .agg(count(lit(1)).as("n"), min("ts").as("min_ts"),
          max("ts").as("max_ts"))
        .orderBy("user_id", "split")
    },

    // ───── Mislabel mining (the cleanlab shape): docs where the q253
    // trained classifier CONFIDENTLY disagrees with the stored label —
    // the label-noise review queue; model chain + one filter ─────
    "q269_label_disagreement" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val y = when(col("lang") === "en", 1).otherwise(0)
      val model = Models.naiveBayesFit(docs, "text", y, vocabSize = 512)
      Models.naiveBayesScore(docs.withColumn("y", y), model, "doc_id", "text")
        .filter(col("pred") =!= col("y") && abs(col("log_odds")) >= 1.0)
        .select(col("doc_id"), col("y").cast("int").as("y"),
          col("log_odds"), col("pred"))
        .orderBy("doc_id")
    },

    // ───── Matryoshka truncation-recall curve: exact top-5 on 8/16/32-
    // dim PREFIXES vs the full-64 top-5 — the serving-width picker for
    // MRL encoders (one brute arm per width; an eval harness, run on
    // query samples) ─────
    "q267_matryoshka_recall" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.matryoshkaRecall(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 5, dims = Seq(8, 16, 32))
        .orderBy("dim", "qid")
    },

    // ───── Forward as-of join (the "next purchase after the click"
    // direction — q41's mirror): union + ONE descending running window
    // per key, no join, no range explosion ─────
    "q266_asof_forward" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("click_val"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purch_val"))
      Temporal.asofJoinForward(clicks, purchases,
          keys = Seq("user_id"), lTime = "ts", rTime = "ts",
          payload = Seq("purch_val"))
        .select("event_id", "user_id", "click_val", "purch_val")
        .orderBy("event_id")
    },

    // ───── STREAMING privacy monitor: the q254 k-anonymity audit run as
    // an ingest-time gate — per-(cohort, sensitive) counts accumulate in
    // complete mode (streaming supports no COUNT DISTINCT; state is the
    // distinct (cohort, user) grid, exactly the two-phase distinct
    // aggregate's first phase), the drained store rolls up to cohorts
    // batch-side. Drained-stream audit ≡ the batch audit row for row ─────
    "q264_stream_k_anonymity" -> { (s, dir) =>
      val perUser = eventsStream(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy("event_type", "day", "user_id")
        .agg(count(lit(1)).as("_n"))
      // ENFORCED state bound: complete-mode state is the (cohort × user)
      // grid — fail loud if cohort cardinality breaks the documented
      // bound instead of growing state until the store OOMs
      val store = Privacy.requireBoundedCohorts(
        drainToTable(s, perUser, "g264_kanon", "complete"),
        Seq("event_type", "day"), maxCohorts = 100000L)
      store.groupBy("event_type", "day")
        .agg(sum("_n").as("group_size"),
          countDistinct(col("user_id")).as("l_distinct"))
        .withColumn("risk", round(lit(1.0) / col("group_size"), 6))
        .withColumn("violates_k", (col("group_size") < 30).cast("int"))
        .withColumn("violates_l", (col("l_distinct") < 10).cast("int"))
        .orderBy("event_type", "day")
    },

    // ───── URL canonicalization: eight deterministic dirty shapes per
    // doc (mixed case, www, tracking params, default ports, userinfo,
    // fragments, trailing dots/slashes, multi-label suffixes) normalized
    // to the exact-URL dedup key + registered domain — the web-corpus
    // ingest front door; pure per-row projection, no shuffle ─────
    "q279_url_canonical" -> { (s, dir) =>
      tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
        .select(col("doc_id"),
          ops.Url.canonicalize(col("raw")).as("canon"),
          ops.Url.registeredDomain(ops.Url.host(col("raw"))).as("domain"),
          ops.Url.nonDefaultPort(col("raw")).cast("long").as("port"))
        .filter(col("canon").isNotNull)
        .orderBy("doc_id")
    },

    // ───── Domain-diversity cap: ≤3 docs per registered domain by
    // deterministic hash-rank — the anti-template-mill curation step;
    // the rank filter is rewritten to the bounded-heap TopKPerKeyExec,
    // so a whale domain costs O(cap) memory, not a per-domain sort ─────
    "q280_domain_cap" -> { (s, dir) =>
      val withUrl = tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      ops.Url.domainCap(withUrl, "doc_id", "raw", cap = 3)
        .select(col("domain"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("canon"))
        .orderBy("domain", "rnk")
    },

    // ───── pass@k (Chen et al. 2021 eq. 1): docs as eval attempts — 60
    // problems, per-problem pass rate 20-79% via hash-uniform draws —
    // aggregated to the unbiased 1−C(n−c,k)/C(n,k) estimator at k=1/5/10;
    // one hash-agg, bounded k-term product per problem row ─────
    "q281_pass_at_k" -> { (s, dir) =>
      val attempts = t(s, dir, "documents").select(
        (col("doc_id") % 60).as("problem"),
        (Hashing.hash60(concat(col("doc_id").cast("string"),
          lit(":attempt"))) % 100 < lit(20) + col("doc_id") % 60).as("ok"))
      Models.passAtK(attempts, "problem", col("ok"), Seq(1, 5, 10))
        .orderBy("problem")
    },

    // ───── Shot-boundary detection on REAL decoded Y4M video: synthetic
    // clips with deterministic scene cuts (+97/byte jumps) over small
    // inter-frame motion (+1/byte); per-pair absolute luma diff, all
    // integer, decode + diff inside the partition boundary — the
    // shot-segmentation grid frame sampling (q40) should respect ─────
    "q282_shot_detect" -> { (s, dir) =>
      Multimodal.shotDetect(s, dir, threshold = 30)
        .select(col("doc_id"),
          col("frame").cast("long").as("frame"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("diff_sum"), col("is_cut"))
        .orderBy("doc_id", "frame")
    },

    // ───── t-closeness (Li et al. 2007): per-(event_type, weekday)
    // cohort, total-variation distance between the cohort's sensitive
    // distribution (user bucket) and the global one — the leak
    // l-diversity misses; (quasi, v) grid + broadcast global marginal ─────
    "q283_t_closeness" -> { (s, dir) =>
      val e = t(s, dir, "events").select(
        col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"),
        (col("user_id") % 5).as("ubkt"))
      Privacy.tCloseness(e, Seq("event_type", "dow"), col("ubkt"), t = 0.2)
        .orderBy("event_type", "dow")
    },

    // ───── Dialog structural validation: events as chat turns (view/
    // click/signup → user, rest → assistant; every 97th turn blanked to
    // exercise the empty rule) — starts-user / strict-alternation /
    // ends-assistant / no-empty / min-turns, violations counted per rule;
    // one shuffle on the dialog key ─────
    "q284_dialog_validate" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_id"),
        when(col("event_type").isin("view", "click", "signup"), "user")
          .otherwise("assistant").as("role"),
        when(col("event_id") % 97 === 0, lit("")).otherwise(col("props"))
          .as("turn_text"))
      TextAnalysis.dialogAudit(ev, "user_id", Seq("ts", "event_id"),
          col("role"), col("turn_text"), minTurns = 2)
        .orderBy("user_id")
    },

    // ───── Mojibake repair: deterministic double-encoding injection
    // (each doc gets one of the 12 signature sequences), then the pinned
    // ftfy-fast-path replace chain; severity = signature sites before
    // and after — per-row projection, no shuffle ─────
    "q285_mojibake_repair" -> { (s, dir) =>
      val snippets = Cleansing.mojibakeMap.map(_._1)
      val pick = element_at(
        array(snippets.map(lit): _*),
        (pmod(col("doc_id"), lit(snippets.size)) + 1).cast("int"))
      val dirty = concat(substring(col("text"), 1, 40),
        lit(" x"), pick, lit("y "), pick)
      tb(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          Cleansing.fixMojibake(col("dirty")).as("fixed"),
          regexp_count(col("dirty"), lit(Cleansing.mojibakeSignature))
            .cast("long").as("sig_before"),
          regexp_count(Cleansing.fixMojibake(col("dirty")),
            lit(Cleansing.mojibakeSignature)).cast("long").as("sig_after"))
        .orderBy("doc_id")
    },

    // ───── Pitch detection on REAL decoded audio: square-wave tones of
    // period 8-32 samples, integer autocorrelation argmax over lags
    // 2-40 — detected lag must equal the synthesized period; all-integer,
    // decode + scan inside the partition boundary ─────
    "q286_pitch_detect" -> { (s, dir) =>
      Multimodal.pitchDetect(s, dir, minLag = 2, maxLag = 40)
        .orderBy("doc_id")
    },

    // ───── Corpus concentration over registered domains: HHI, top-domain
    // share, Gini of per-domain page counts — the diversity headline of a
    // web-corpus datasheet; integer sums over the bounded domain
    // aggregate, divisions only at the end ─────
    "q287_domain_concentration" -> { (s, dir) =>
      val withUrl = tb(s, dir, "documents")
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      ops.Url.domainConcentration(withUrl, "raw")
        .orderBy("n_domains")
    },

    // ───── Detector evaluation against planted ground truth: every 4th
    // doc gets a one-token-appended twin, q14's MinHash runs on the
    // augmented corpus, and the report scores detected pairs vs planted —
    // the recall calibration to run BEFORE trusting a config at scale ─────
    "q288_dedup_eval" -> { (s, dir) =>
      Dedup.plantedTwinEval(tb(s, dir, "documents"), "doc_id", "text",
          plantEvery = 4, idOffset = 1000000L, threshold = 0.5)
        .orderBy("n_truth")
    },

    // ───── Avro container round trip: write one REAL Object Container
    // File per partition through the Avro core library, read back via
    // the binaryFile decode boundary, aggregate — the q62 ORC shape for
    // the interchange format Spark ships no datasource for here ─────
    "q289_avro_roundtrip" -> { (s, dir) =>
      val out = scratch("avro_roundtrip")
      ops.Avro.writeAvro(
        t(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"), out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
      ops.Avro.readAvro(s, s"$out/*.avro", schema)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // ───── Margin-based bitext mining (Artetxe & Schwenk 2019): two
    // disjoint id-sliced "languages" of the embeddings table; per-source
    // best cross match scored by cos / (½·(avg-4-NN fwd + bwd)) with a
    // mutual-best flag — cosines integer-scaled so the k-NN averages are
    // exact; the hub-robust parallel-pair miner ─────
    "q290_bitext_mine" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.bitextMine(
          e.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("sid"), col("embedding").as("svec")),
          e.filter(col("vec_id") % 50 === 25)
            .select(col("vec_id").as("did"), col("embedding").as("dvec")),
          k = 4, minMargin = 1.0)
        .orderBy("sid")
    },

    // ───── Markdown section splitter: structure-respecting chunking
    // (one row per ATX-heading section + a level-0 preamble) — lines
    // carry (doc_id, pos), never the whole doc; cumulative-heading
    // window + per-section aggregate share one doc_id shuffle ─────
    "q291_markdown_sections" -> { (s, dir) =>
      val t0 = col("text")
      val md = concat(
        when(col("doc_id") % 3 === 0, lit("intro before headings\n"))
          .otherwise(lit("")),
        lit("# Doc "), col("doc_id").cast("string"), lit("\n"),
        substring(t0, 1, 50), lit("\n## Part A\n"), substring(t0, 51, 50),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n### Deep\n"), substring(t0, 101, 50)))
          .otherwise(lit("")),
        lit("\n## Part B\n"), substring(t0, 151, 40))
      Html.markdownSections(
          tb(s, dir, "documents").select(col("doc_id"), md.as("md")),
          "doc_id", "md")
        .orderBy("doc_id", "sec")
    },

    // ───── robots.txt gate: per-host Allow/Disallow rules, longest
    // matching path prefix wins (ties prefer Allow) — host 0-6 fixtures
    // with an even-host extra Disallow; rule join shuffles on host,
    // longest-match is a rank-1 window over matched rules only ─────
    "q292_robots_filter" -> { (s, dir) =>
      val docs = tb(s, dir, "documents")
      val hostC = concat(lit("site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val pathC = when(col("doc_id") % 5 === 0,
          concat(lit("/private/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("/private/ok/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("/pub/"), (col("doc_id") % 9).cast("string")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("/tmp/x"), (col("doc_id") % 9).cast("string")))
        .otherwise(lit("/"))
      val urls = docs.select(col("doc_id"),
        concat(lit("http://"), hostC, pathC).as("url"))
      val robots = docs.filter(col("doc_id") < 7).select(
        concat(lit("site"), col("doc_id").cast("string"),
          lit(".example.com")).as("rhost"),
        concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /tmp/\nDisallow:\n# comment"),
          when(col("doc_id") % 2 === 0, lit("\nDisallow: /pub"))
            .otherwise(lit(""))).as("rtxt"))
      ops.Url.robotsFilter(urls, robots, "doc_id", "url", "rhost", "rtxt")
        .orderBy("doc_id")
    },

    // ───── Streaming URL ingest gate: canonicalize + registered domain
    // on the document stream, blocklist filter, complete-mode per-domain
    // counts — row-identical to the batch grid (the q264 parity shape) ─────
    "q293_stream_url_gate" -> { (s, dir) =>
      val stream = docsStreamBalanced(s, dir)
        .select(col("doc_id"), urlSynth(col("doc_id")).as("raw"))
      val gated = stream
        .select(col("doc_id"),
          ops.Url.canonicalize(col("raw")).as("canon"),
          ops.Url.registeredDomain(ops.Url.host(col("raw"))).as("domain"))
        .filter(col("canon").isNotNull && col("domain") =!= "example.com")
        .groupBy("domain").agg(count(lit(1)).as("n_pages"))
      drainToTable(s, gated, "g293_urlgate", "complete")
        .orderBy("domain")
    },

    // ───── Poisson bootstrap (Chamandy et al. 2012): per-source CI for
    // mean doc length — each row draws a deterministic hash-Poisson(1)
    // replication count per resample, so the distributed corpus never
    // needs its row count up front; integer metric → exact resample
    // sums, CI = exact order statistics over the B resample means ─────
    "q294_poisson_bootstrap" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("v"))
      Models.bootstrapCI(d, "source", "doc_id", "v", b = 40, alpha = 0.05)
        .orderBy("source")
    },

    // ───── Split-conformal calibration (Lei et al. 2018): per-lang
    // q̂ = ⌈(n_cal+1)·9/10⌉-th smallest |y−ŷ| on the hash-split
    // calibration half, coverage CHECKED on the test half — integer
    // nonconformity + rational coverage keep both engines rank-exact ─────
    "q295_conformal" -> { (s, dir) =>
      val y = length(col("text")).cast("long")
      val pred = floor((y * 92) / lit(100)).cast("long") +
        (Hashing.hash60(concat(col("doc_id").cast("string"), lit(":pe")))
          % 21 - 10)
      val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
        y.as("y"), pred.as("pred"))
      Models.splitConformal(d, "lang", "doc_id", "y", "pred",
          coverNum = 9, coverDen = 10)
        .orderBy("lang")
    },

    // ───── Energy-threshold VAD segmentation on REAL decoded audio:
    // alternating tone bursts / near-silence, maximal |s|>100 runs found
    // in the decoded sample stream inside the partition boundary — one
    // all-integer row per segment ─────
    "q296_vad_segments" -> { (s, dir) =>
      Multimodal.vadSegments(s, dir, threshold = 100)
        .select(col("doc_id"), col("seg").cast("long").as("seg"),
          col("start_i").cast("long").as("start_i"),
          col("end_i").cast("long").as("end_i"),
          col("len").cast("long").as("len"),
          col("peak").cast("long").as("peak"))
        .orderBy("doc_id", "seg")
    },

    // ───── Sentence-level BLEU-4 on consecutive-doc pairs (q226's rouge
    // pairing): clipped n-gram precision n=1..4 via ONE tagged
    // flatten-explode per side + (id,n,gram) hash-agg + equi-join clip,
    // brevity penalty, unsmoothed geometric mean — the MT/generation
    // quality metric beside q226 ROUGE and q231 NDCG ─────
    "q297_bleu" -> { (s, dir) =>
      val d = tb(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.bleu(pairs, "doc_id", "ref", "cand", maxN = 4)
        .orderBy("doc_id")
    },

    // ───── chrF (character n-gram F_2, n=1..3) on 240-char slices of the
    // same pairs — the tokenizer-free metric dual of q297; per-order
    // 6dp P/R macro-averaged then F_2 from the rounded averages ─────
    "q298_chrf" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 240).as("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.chrF(pairs, "doc_id", "ref", "cand", maxN = 3, beta = 2.0)
        .orderBy("doc_id")
    },

    // ───── Fleiss' kappa per source: 5-rater synthetic panel (60%
    // truth-biased labels), balanced items only, κ from 6dp-rounded
    // P̄/P_e — the multi-annotator agreement gate beside q269's pairwise
    // label disagreement ─────
    "q299_fleiss_kappa" -> { (s, dir) =>
      val r = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(sequence(lit(0), lit(4))).as("a"))
      def h(tag: String) = Hashing.hash60(concat(
        col("doc_id").cast("string"), lit(tag), col("a").cast("string")))
      val truth = concat(lit("c"), (col("doc_id") % 4).cast("string"))
      val noisy = concat(lit("c"), (h(":l") % 4).cast("string"))
      val lb = r.select(col("source"), col("doc_id"),
        when(h(":r") % 10 < 6, truth).otherwise(noisy).as("label"))
      Models.fleissKappa(lb, "source", "doc_id", "label", nRaters = 5)
        .orderBy("source")
    },

    // ───── Entropy l-diversity over (lang, source) cohorts: Shannon
    // entropy of a skewed synthetic sensitive attribute vs ln(l) — the
    // stronger-than-distinct-l release audit beside q254/q283 ─────
    "q300_entropy_ldiv" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
      // moduli COPRIME with the (lang, source) synthesis grid: doc_ids in
      // a cohort are congruent mod 20, so the old %10/%4 arms made every
      // cohort single-valued (entropy trivially 0 everywhere); %7 mixes —
      // 79/97 sf0.01 cohorts carry 2-4 sensitive values, skew preserved
      val sens = when(col("doc_id") % 7 < 4, lit("c0"))
        .otherwise(concat(lit("c"), (col("doc_id") % 7).cast("string")))
      Privacy.entropyLDiversity(d, Seq("lang", "source"), sens, l = 3)
        .orderBy("lang", "source")
    },

    // ───── ε-DP noisy count release over (lang, source): seeded
    // inverse-CDF Laplace(1/ε) noise from the group-key hash, clamped
    // integer release, raw counts never emitted — the reproducible
    // release channel completing the privacy family ─────
    "q301_dp_release" -> { (s, dir) =>
      // "dp" is the harness salt (the oracle must replay the draw); a
      // production release keeps its salt secret — see dpNoisyRelease
      Privacy.dpNoisyCount(tb(s, dir, "documents"), Seq("lang", "source"),
          epsilon = 1.0, salt = "dp")
        .orderBy("lang", "source")
    },

    // ───── Embedding-space benchmark decontamination: best cosine vs a
    // broadcast benchmark slice per corpus vector, sort-free struct-max
    // argmax — the semantic complement of q59/q146 lexical gates ─────
    "q302_embed_decontam" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.embeddingDecontam(
          e.filter(col("vec_id") % 97 =!= 0)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          e.filter(col("vec_id") % 97 === 0)
            .select(col("vec_id").as("bid"), col("embedding").as("bvec")),
          tau = 0.98)
        .orderBy("cid")
    },

    // ───── REAL GIF decode (LZW + palette resolve, javax.imageio):
    // encode → decode → pixel stats inside the partition boundary — the
    // second real compressed codec beside q245's PNG/DEFLATE ─────
    "q303_gif_decode" -> { (s, dir) =>
      Multimodal.gifFeatures(s, dir).orderBy("doc_id")
    },

    // ───── Flesch readability: word/sentence/syllable counts as pure
    // column regexes (no explode), reading-ease + FK grade — the
    // interpretable difficulty axis beside q20's quality score ─────
    "q304_readability" -> { (s, dir) =>
      TextAnalysis.readability(tb(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ───── Competence-based curriculum pacing (Platanios 2019) over the
    // q304 FK grades: binned difficulty CDF (bin table, not rows) × the
    // √-competence grid → admitted docs/tokens per training step ─────
    "q305_curriculum_pacing" -> { (s, dir) =>
      val r = TextAnalysis.readability(tb(s, dir, "documents"),
          "doc_id", "text")
        .filter(col("n_words") > 0)
      TextAnalysis.curriculumPacing(r, "doc_id", col("fk_grade"),
          col("n_words"), steps = 10, c0 = 0.1, binWidth = 0.5)
        .orderBy("step")
    },

    // ───── Unigram-LM (SentencePiece) Viterbi segmentation with the
    // pinned piecesV1 vocabulary: fully UNROLLED integer min-plus DP as
    // chained projections (no UDF, no explode) over the distinct-word
    // table — the serving half of the second subword family beside
    // q228/q229's BPE ─────
    "q306_unigram_viterbi" -> { (s, dir) =>
      val w = tb(s, dir, "documents")
        .select(explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_occ"))
      Unigram.segment(w).orderBy("word")
    },

    // ───── Streaming ε-DP count release: complete-mode per-(type, day)
    // count store + the q301 seeded-Laplace release at read time —
    // releases stay identical across micro-batch replays, row-identical
    // to the batch release over the same events ─────
    "q307_stream_dp_release" -> { (s, dir) =>
      val counts = eventsStream(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("_n"))
      val store = drainToTable(s, counts, "g307_dp", "complete")
      Privacy.dpNoisyRelease(store, Seq("event_type", "day"), "_n",
          epsilon = 1.0, salt = "dp")
        .orderBy("event_type", "day")
    },

    // ───── Luhn-validated PAN scan: 13-19 digit candidates gated by the
    // ISO 7812 checksum (pinned valid/perturbed synthesis), last-4
    // masking — the validation layer q69's pattern scrubber lacks ─────
    "q308_luhn_pan" -> { (s, dir) =>
      val pans = Privacy.pinnedPansV1
      val pick = pans.zipWithIndex.tail.foldLeft(
        when(col("doc_id") % pans.size === 0, lit(pans.head))) {
        case (acc, (p, i)) => acc.when(col("doc_id") % pans.size === i, lit(p))
      }
      val d = tb(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" card "), pick).as("dirty"))
      Privacy.luhnPanScan(d, "doc_id", "dirty").orderBy("doc_id")
    },

    // ───── Length-bucketed PADDED batch planning: power-of-two caps via
    // an integer when-chain (no float log2), plan-time docs-per-batch
    // constants → batch assignment is pure rank arithmetic; per-batch
    // padding efficiency — the padded-batch dual of q47/q83 packing ─────
    "q309_length_batching" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
      TextAnalysis.lengthBatching(d, "doc_id",
          size(TextAnalysis.words(col("text"))).cast("long"),
          maxTokensPerBatch = 2048, maxCap = 256)
        .orderBy("cap", "batch_id")
    },

    // ───── Composed MT eval report: the q297 BLEU + q298 chrF chains
    // joined per pair, per-lang means + EXACT rank median + pass rate —
    // one Catalyst plan composing the engine's own metrics (q234's
    // composition posture for the eval family) ─────
    "q310_mt_eval_report" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      // materialize the pair table ONCE: bleu traverses it three times
      // (ref grams, cand grams, lengths), chrF three more, and the lang
      // spine once — without the checkpoint each traversal re-runs the
      // documents self-join (the r7 16.5 s sf1 hot spot)
      val pairs = d.select(col("doc_id"), col("lang"),
          col("text").as("ref"))
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
        .localCheckpoint()
      val b = TextAnalysis.bleu(pairs, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("bleu"))
      val p240 = pairs.select(col("doc_id"),
        substring(col("ref"), 1, 240).as("ref"),
        substring(col("cand"), 1, 240).as("cand"))
      val c = TextAnalysis.chrF(p240, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("chrf"))
      // ROUGE-L on 160-char slices (the chrF slicing posture: the
      // metric is sentence-level; the per-pair DP is quadratic in
      // tokens, so the report bounds it the way chrF bounds char grams)
      val p160 = pairs.select(col("doc_id"),
        substring(col("ref"), 1, 160).as("ref"),
        substring(col("cand"), 1, 160).as("cand"))
      val rl = TextAnalysis.rougeL(p160, "doc_id", "ref", "cand")
        .select(col("doc_id"), col("rouge_l_f").as("rouge_l"))
      val scored = pairs.select(col("doc_id"), col("lang"))
        .join(b, "doc_id").join(c, "doc_id").join(rl, "doc_id")
      TextAnalysis.mtEvalReport(scored, "doc_id", passBar = 0.1)
        .orderBy("lang")
    },

    // ───── Krippendorff's alpha per source: VARIABLE 3-5 rater panel
    // (the unbalance Fleiss q299 cannot take), exact integer 12/(m−1)
    // scaling so no float accumulates anywhere before the final
    // division ─────
    "q311_krippendorff" -> { (s, dir) =>
      val r = tb(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(sequence(lit(0),
          (lit(2) + col("doc_id") % 3).cast("int"))).as("a"))
      def h(tag: String) = Hashing.hash60(concat(
        col("doc_id").cast("string"), lit(tag), col("a").cast("string")))
      val truth = concat(lit("c"), (col("doc_id") % 4).cast("string"))
      val noisy = concat(lit("c"), (h(":kl") % 4).cast("string"))
      val lb = r.select(col("source"), col("doc_id"),
        when(h(":kr") % 10 < 6, truth).otherwise(noisy).as("label"))
      Models.krippendorffAlpha(lb, "source", "doc_id", "label")
        .orderBy("source")
    },

    // ───── Goertzel single-frequency spectral energy on REAL decoded
    // audio: pinned 2·cos coefficients (no libm parity), 9dp-rounded
    // recurrence inside the codec boundary, WITH RECURSIVE oracle —
    // the engine's first true spectral feature ─────
    "q312_goertzel" -> { (s, dir) =>
      Multimodal.goertzelEnergy(s, dir).orderBy("doc_id")
    },

    // ───── Winnowing fingerprints (MOSS): RollingHash → WindowMin (the
    // sixth codegen'd expression, O(n) monotonic deque) → distinct
    // minima → df-capped bucket join; guaranteed detection of shared
    // runs ≥ k+w−1 tokens at 2/(w+1) fingerprint density ─────
    "q313_winnowing" -> { (s, dir) =>
      Dedup.winnowingPairs(tb(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, dfCap = 50, minShared = 3)
        .orderBy("id_a", "id_b")
    },

    // ───── Rank-biased overlap between the brute and IVF top-10
    // rankings per query: pinned (1−p)·p^(d−1)/d weights, fixed-order
    // weighted sum over a conditional-max pivot — the top-weighted ANN
    // config comparison beside q114's recall ─────
    "q314_rbo" -> { (s, dir) =>
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

    // ───── Benjamini–Hochberg FDR over a hypothesis family (seeded
    // p-values, 1-in-17 planted signals): rank-threshold arithmetic,
    // discoveries at or below k* — the many-metrics correction q176's
    // single test lacks ─────
    "q315_bh_fdr" -> { (s, dir) =>
      val u = (Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":pv"))) % 1000000000L).cast("double") / 1e9
      val p = round(u * when(col("doc_id") % 17 === 0, lit(0.001))
        .otherwise(lit(1.0)), 6)
      val d = tb(s, dir, "documents").select(col("doc_id"), p.as("p"))
      Models.bhFdr(d, "doc_id", "p", q = 0.05).orderBy("rank")
    },

    // ───── File-skipping effectiveness: the same table laid out four
    // ways (by the filter column, natural, random hash, z-order),
    // per-file min/max stats vs a pinned range predicate — WHY q58/q161
    // layouts exist, measured; no global sort (equal-width key buckets
    // from broadcast min/max) ─────
    "q316_skipping_eval" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 2048).as("v"),
          (col("l_orderkey") % 2048).as("y2"))
      Layout.skippingEval(li,
          Seq(
            "bycolumn" -> col("v"),
            "natural" -> col("l_orderkey"),
            "random" -> (Hashing.hash60(concat(
              col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))) % 1048576L),
            "zorder" -> Layout.zValue(col("v"), col("y2"), bits = 11)),
          value = col("v"), lo = 100L, hi = 199L, nFiles = 64)
        .orderBy("layout")
    },

    // ───── k-center greedy coreset (Gonzalez 1985 / Sener 2018): the
    // maximally-diverse k-subset, one narrow map + 1-row struct-max per
    // round, bounded driver collects (the index-trainer posture); dist
    // column = the coverage-radius curve ─────
    "q317_kcenter" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.kCenterGreedy(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          k = 8)
        .orderBy("rank")
    },

    // ───── PQ reconstruction-distortion per subspace against the q221
    // pinned codebooks: nearest-entry error (−0.0 guarded) + code
    // utilization — the index-quality dashboard beside q221 serving and
    // q114 recall ─────
    "q318_pq_distortion" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.pqDistortion(
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.pqBooksV1)
        .orderBy("s")
    },

    // ───── Temperature-scaling grid search (Guo 2017): σ(z/T) NLL over
    // a pinned grid, integer-synthesized labels (no libm in the truth
    // channel), smallest-T argmin tie-break ─────
    "q319_temp_scaling" -> { (s, dir) =>
      val zi = (Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":z"))) % 2001 - 1000)
      val hy = Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":y"))) % 1000000
      val d = tb(s, dir, "documents").select(col("doc_id"),
        (zi.cast("double") / 1000.0).as("z"),
        (hy < lit(500000) + lit(450) * zi).cast("int").as("y"))
      Models.temperatureScaling(d, "doc_id", "z", "y").orderBy("t")
    },

    // ───── Per-lang unigram tokenizer fertility: the q306 DP over the
    // distinct (lang, word) table, occurrence-weighted piece/cost sums —
    // q235's BPE fertility re-measured for the unigram family ─────
    "q320_unigram_fertility" -> { (s, dir) =>
      Unigram.fertility(tb(s, dir, "documents"), "lang", "text")
        .orderBy("lang")
    },

    // ───── GIF resize round trip THROUGH the real codec: decode → ½×
    // nearest-neighbor → RE-ENCODE (LZW) → decode; proves the
    // executor-side GIF encode path on derived pixels (q247's LZW
    // twin) ─────
    "q321_gif_resize" -> { (s, dir) =>
      Multimodal.gifResizeFeatures(s, dir).orderBy("doc_id")
    },

    // ───── CELL-BLOCKED binary ANN serving: pinned coarse cells (q220's
    // assignment chain) × 1-bit Hamming within probed cells × exact
    // rerank — the q262/q277 Hamming tier made corpus-scan-free; the
    // serving path reads each 8-byte corpus word once, never
    // queries × corpus ─────
    "q322_binary_cell_serve" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKHammingCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },

    // ───── REAL JPEG decode (DCT + Huffman, javax.imageio): encode at
    // q=1.0 over flat-8×8-block synthesis (DC-only DCT → bit-exact
    // round trip, empirically verified) → decode → pixel stats — the
    // third real compressed codec beside q245 PNG and q303 GIF ─────
    "q323_jpeg_decode" -> { (s, dir) =>
      Multimodal.jpegFeatures(s, dir).orderBy("doc_id")
    },

    // ───── GRPO group-relative advantage (Shao 2024): 8-completion
    // prompt groups, integer milli-rewards (exact Σr/Σr² in any
    // summation order — no stddev-algorithm divergence), population-std
    // advantage, zero-std groups (every 13th: constant verifier score)
    // → advantage 0, best-of-n flag — the RLVR batch-prep op beside
    // q281 pass@k and q252 uncertainty sampling ─────
    "q324_group_advantage" -> { (s, dir) =>
      val g = floor(col("doc_id") / 8).cast("long")
      val hr = Hashing.hash60(concat(col("doc_id").cast("string"),
        lit(":r"))) % 2001
      val reward = when(g % 13 === 0, lit(500L)).otherwise(hr)
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), g.as("prompt_id"), reward.as("r"))
      Models.groupAdvantage(d, "prompt_id", "doc_id", "r")
        .orderBy("prompt_id", "doc_id")
    },

    // ───── q-digest quantile sketch (Shrivastava 2004): prices
    // quantized by a FIXED power-of-two bin (exact float division) into
    // [0, 4096), exact leaf counts (the only data-scale pass), 12
    // level-synchronous compression rounds at tau = n/64, post-order
    // quantile read — the rank member completing the HLL/CMS/KMV
    // mergeable-sketch family, est-vs-exact per prob ─────
    "q325_qdigest" -> { (s, dir) =>
      val v = least(floor(col("l_extendedprice") / 32).cast("long"),
        lit(4095L))
      Sketches.qdigestQuantiles(
          t(s, dir, "lineitem").select(v.as("v")), col("v"),
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), levels = 12, k = 64)
        .orderBy("p")
    },

    // ───── STREAMING q-digest: complete-mode exact leaf-count store
    // over the quantized event values (the histogram IS the mergeable
    // state — counts add across micro-batches), digest compressed at
    // read time — row-identical to the batch digest over the same
    // events, the q153/q307 streaming-parity shape for the quantile
    // sketch ─────
    "q326_stream_qdigest" -> { (s, dir) =>
      val v = least(floor(col("value") * 8).cast("long"), lit(4095L))
      val counts = eventsStream(s, dir)
        .select(v.as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val store = drainToTable(s, counts, "g326_qdigest", "complete")
      Sketches.qdigestFromCounts(store,
          Seq(0.25, 0.5, 0.75, 0.95), levels = 12, k = 64)
        .orderBy("p")
    },

    // ───── ROUGE-L on 160-char slices of the q226 consecutive-doc
    // pairs: LCS-based P/R/F via the codegen'd row-local TokenLcs DP —
    // the most-reported summarization metric, map-only like its
    // GramClipOverlap siblings (no explode, no gram shuffle) ─────
    "q327_rouge_l" -> { (s, dir) =>
      val d = tb(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 160).as("text"))
      val pairs = d.withColumnRenamed("text", "ref")
        .join(d.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), Seq("doc_id"))
      TextAnalysis.rougeL(pairs, "doc_id", "ref", "cand")
        .orderBy("doc_id")
    },

    // ───── q-digest DIGEST-level merge: lineitem split 4 ways by
    // l_orderkey, each shard compressed into its OWN digest (shard
    // τ = n_s/k), merged by node-count addition + ONE re-compression at
    // the combined τ — the executor-ships-digests path; reported beside
    // the whole-corpus build so the parity (and any sharding drift) is
    // a released column, not a claim. ONE data-scale (shard, v)
    // hash-aggregate; shards, merge, whole build, and exact quantiles
    // all run driver-side on the ≤ 4·4096-row collected histogram ─────
    "q328_qdigest_merge" -> { (s, dir) =>
      Sketches.qdigestMergeReport(
          t(s, dir, "lineitem"),
          least(floor(col("l_extendedprice") / 32).cast("long"),
            lit(4095L)),
          col("l_orderkey") % 4,
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), levels = 12, k = 64)
        .orderBy("p")
    },

    // ───── ASYMMETRIC cell-blocked binary serving: q322's plan with
    // the query kept un-quantized — candidates score Σ qᵢ·sign(cᵢ) in
    // exact integer micro-units (order-independent, oracle-replayable),
    // weighting sign agreement by query magnitude; buys ~0.1-0.2
    // recall@5 over symmetric XOR at equal nProbe for one extra
    // codegen'd conditional sum per candidate row ─────
    "q329_asym_cell_serve" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKAsymCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },

    // ───── deterministic epoch shuffle: keyed 4-round Feistel bijection
    // on [0, 2³²) — each row's position in each epoch's training order
    // is a PURE function of (key, seed, epoch). Map-only assignment (no
    // rand(), no state, no shuffle); sort-by-pos is the consumer's
    // range partition; resume = filter pos > watermark ─────
    "q330_epoch_shuffle" -> { (s, dir) =>
      Sampling.epochShuffle(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = 42L, epochs = Seq(0, 1, 2))
        .orderBy("doc_id")
    },

    // ───── variance-of-Laplacian blur gate over REAL decoded bytes:
    // mixed-sharpness PGM corpus (docs ≡ 0 mod 3 carry flat 4-pixel
    // runs), per-partition decode + row-local 4-neighbor kernel, exact
    // integer moments, threshold measured to reject 0 sharp images and
    // pass 5/167 borderline blurred ones at sf0.01 ─────
    "q331_blur_gate" -> { (s, dir) =>
      Multimodal.laplacianSharpness(
          Multimodal.pgmMixedTable(s, dir), threshold = 35000.0)
        .orderBy("doc_id")
    },

    // ───── DPO preference-pair construction: 8 completions per prompt
    // (doc_id ⟫ 3), best-vs-worst by score with deterministic struct
    // tie-breaks, margin-gated; ONE map-side-combinable hash agg — the
    // shuffle carries two structs per prompt, not the completions ─────
    "q332_dpo_pairs" -> { (s, dir) =>
      val r = t(s, dir, "documents").select(
        shiftright(col("doc_id"), 3).as("prompt_id"),
        col("doc_id").as("rid"),
        length(col("text")).as("s"))
      Models.dpoPairs(r, "prompt_id", "rid", "s", minMargin = 40.0)
        .orderBy("prompt_id")
    },

    // ───── Merkle dataset digest: rows → 4096 leaf buckets, each an
    // additive lattice-style multiset hash (8×32-bit limb sums of the
    // 256-bit sha2 row hash) built in ONE map-side-combinable
    // hash-agg, md5-combined pairwise up to the root driver-side
    // (bounded by the sketch param, the q328 posture). Version diff
    // descends only differing subtrees: equal roots end a 100 TB
    // audit in one digest comparison. Threat model in the scaladoc:
    // corruption/version-drift detection with k-sum margin, NOT an
    // authenticated (keyed) structure ─────
    "q333_merkle_digest" -> { (s, dir) =>
      Profile.merkleTree(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderpriority"),
          col("o_orderkey"), levels = 12)
        .orderBy("level", "idx")
    },

    // ───── Fellegi–Sunter linkage weights via EM: the principled
    // scoring layer over q157/q189's candidate generation. ONE
    // data-scale hash-agg to ≤2³ pattern counts; 20 EM iterations
    // driver-side with 9dp-per-step rounding (Holt/IPF parity). Pairs:
    // each customer vs a field-perturbed directory copy of itself
    // (match) and of its successor (non-match) — one equi-join ─────
    "q334_fs_em" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val dirty = c.select(col("c_custkey").as("d_key"),
          when(col("c_custkey") % 4 === 0, substring(col("c_name"), 1, 12))
            .otherwise(col("c_name")).as("d_name"),
          when(col("c_custkey") % 7 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("d_nation"),
          when(col("c_custkey") % 5 === 0, lit("ALTERED"))
            .otherwise(col("c_mktsegment")).as("d_seg"))
        .withColumn("a_key", explode(array(col("d_key"), col("d_key") - 1)))
      val pairs = c.join(dirty, col("c_custkey") === col("a_key"))
        .select((col("c_name") === col("d_name")).cast("int").as("g1"),
          (col("c_nationkey") === col("d_nation")).cast("int").as("g2"),
          (col("c_mktsegment") === col("d_seg")).cast("int").as("g3"))
      Dedup.fellegiSunterEM(pairs, Seq("g1", "g2", "g3"), iters = 20)
        .orderBy("pattern")
    },

    // ───── STREAMING Merkle digest: the leaf-bucket aggregate IS the
    // complete-mode state (count and bit_xor both add across
    // micro-batches — the q326 leaf-store shape); the drained store
    // folds to the tree row-identical to q333's batch build over the
    // same events, so one oracle serves both ─────
    "q335_stream_merkle" -> { (s, dir) =>
      val leaves = Profile.merkleLeaves(eventsStream(s, dir),
        Seq("event_id", "user_id", "event_type"), col("event_id"),
        levels = 12)
      val store = drainToTable(s, leaves, "g335_merkle", "complete")
      Profile.merkleFromLeaves(store, levels = 12)
        .orderBy("level", "idx")
    },

    // ───── STREAMING LSH near-dup gate: a document is ONE row, so its
    // MinHash signature and band keys compute row-locally (no agg) and
    // the single stateful operator is the (band, key) → min-doc-id
    // store — per-bucket state, the same order as q68's exact-dedup
    // state (production adds TTL eviction). Drained store flags any
    // doc whose band bucket holds a LOWER id — batch-identical to a
    // bucket-min over q14's band join ─────
    "q336_stream_lsh_dedup" -> { (s, dir) =>
      // hs materialized in its OWN projection: the 16 permutation
      // lambdas reference it 16×, and CollapseProject keeps multiply-
      // referenced non-cheap aliases in their producing Project — the
      // md5-per-shingle work runs once per doc, not once per
      // permutation (first formulation measured 19 s at sf0.1; this
      // one ~2 s)
      def banded(df: DataFrame) = df
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
        // a bare size filter is pushed below the balancing exchange
        // with the tokenize chain substituted in (the q239 trap)
        .filter(Sources.noPushdown(size(col("toks")) >= 3))
        .select(col("doc_id"),
          Dedup.shingleHashes(Dedup.shingles(col("toks"), 3)).as("hs"))
        .select(col("doc_id"), Dedup.minhashFromHashes(col("hs")).as("sig"))
        .select(col("doc_id"), explode(Dedup.bandKeys(col("sig"))).as("bk"))
        .select(col("doc_id"), col("bk.b").as("b"), col("bk.key").as("bkey"))
      val store = drainToTable(s,
        banded(docsStreamBalanced(s, dir)).groupBy("b", "bkey")
          .agg(min("doc_id").as("min_id"), count(lit(1)).as("n")),
        "g336_lsh", "complete")
      banded(tb(s, dir, "documents"))
        .join(store, Seq("b", "bkey"))
        .groupBy("doc_id")
        .agg(sum(when(col("min_id") < col("doc_id"), 1L).otherwise(0L))
          .as("n_dup_bands"))
        .withColumn("is_dup", (col("n_dup_bands") > 0).cast("int"))
        .orderBy("doc_id")
    },

    // ───── INCREMENTAL Merkle maintenance: a CDC-style delta feed
    // corrects the q333 tree by SUBTRACTING each changed row's OLD
    // limbs and ADDING its NEW limbs into its leaf (addition is
    // invertible — updates, inserts and deletes all maintain; one
    // pass over the DELTA only, the base is never re-scanned) + a
    // driver re-fold. The feed exercises all three verbs: mod-11/13
    // updates, mod-17 deletes, and fresh inserted keys. The oracle is
    // a FULL REBUILD over the updated table: all 8191 node digests
    // must agree, which is exactly the incremental-maintenance law ─────
    "q337_merkle_update" -> { (s, dir) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
      val base = t(s, dir, "orders").select(cols.map(col): _*)
      val upd = col("o_orderkey") % 11 === 0 || col("o_orderkey") % 13 === 0
      val del = col("o_orderkey") % 17 === 0 && !upd
      val newRows = base.filter(upd)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("X-URGENT"))
            .otherwise(col("o_orderpriority")))
        .withColumn("o_custkey",
          when(col("o_orderkey") % 13 === 0, col("o_custkey") + 1)
            .otherwise(col("o_custkey")))
      val inserted = base.filter(col("o_orderkey") % 19 === 0)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_custkey"), lit("5-LOW").as("o_orderpriority"))
      val deltas = Profile.merkleLeafDeltas(
        deleted = base.filter(upd || del),
        inserted = newRows.unionByName(inserted),
        cols, col("o_orderkey"), levels = 12)
      Profile.merkleApplyDeltas(
          Profile.merkleLeaves(base, cols, col("o_orderkey"), levels = 12),
          deltas, levels = 12)
        .orderBy("level", "idx")
    },

    // ───── substring blocklist screen: all patterns matched in ONE
    // Aho–Corasick pass per document (overlapping, no token
    // boundaries); the pattern set nests ("at"/"ion" inside "ation",
    // "in" inside "ing") to exercise the dict-suffix output links ─────
    "q338_blocklist_screen" -> { (s, dir) =>
      TextAnalysis.blocklistScreen(tb(s, dir, "documents"), "doc_id",
          "text", Seq("ation", "at", "ion", "the", "data", "in", "ing"))
        .orderBy("doc_id", "pattern")
    },

    // ───── blocklist screen at PRODUCTION pattern scale: 10 000
    // patterns (every 4-gram over a 10-char alphabet), sharded into
    // three Aho–Corasick kernels (maxPerKernel=4096) whose sparse
    // globally-indexed hits concat into ONE Generate — per-doc work is
    // 3 automaton passes of O(|text| + matches), per-doc output only
    // the grams that occur. The oracle needs no 10k-pattern scan: the
    // pattern set is exactly the alphabet-restricted 4-gram language,
    // so a substring histogram + a regex filter replays it ─────
    "q339_blocklist_10k" -> { (s, dir) =>
      val alpha = "etaonis rh"
      val pats = (for (a <- alpha; b <- alpha; c <- alpha; d <- alpha)
        yield s"$a$b$c$d").toSeq
      TextAnalysis.blocklistScreen(tb(s, dir, "documents"), "doc_id",
          "text", pats, maxPerKernel = 4096)
        .groupBy("pattern")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          sum("n_hits").as("n_hits"))
        .orderBy("pattern")
    },

    // ───── BOUNDED-LATENESS streaming LSH gate: the state-bounded
    // counterpart to q336's global gate (round-9 verdict Next #5).
    // q336's (band, key) → min-id complete-mode store is inherently
    // corpus-scale — a GLOBAL near-dup gate must remember every bucket
    // ever seen (state math in the SURVEY row). When the product
    // contract is "dedup against the last H of ingest" (bounded
    // lateness), the store shrinks to rate × H: this row implements
    // that as a WATERMARKED stream-stream interval band self-join (the
    // q85 shape) — each side retains only rows within the watermark
    // horizon, evicted by Spark itself. Ingest time is synthesized
    // deterministically (doc_id minutes from a fixed epoch) so the
    // DuckDB oracle replays the horizon as an id-distance bound ─────
    "q340_stream_lsh_bounded" -> { (s, dir) =>
      def banded(df: DataFrame) = df
        .withColumn("ts",
          expr("timestamp'2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE"))
        .select(col("doc_id"), col("ts"),
          TextAnalysis.words(col("text")).as("toks"))
        .filter(Sources.noPushdown(size(col("toks")) >= 3))
        .select(col("doc_id"), col("ts"),
          Dedup.shingleHashes(Dedup.shingles(col("toks"), 3)).as("hs"))
        .select(col("doc_id"), col("ts"),
          Dedup.minhashFromHashes(col("hs")).as("sig"))
        .select(col("doc_id"), col("ts"),
          explode(Dedup.bandKeys(col("sig"))).as("bk"))
        .select(col("doc_id"), col("ts"),
          col("bk.b").as("b"), col("bk.key").as("bkey"))
      val l = banded(docsStreamBalanced(s, dir)).withWatermark("ts", "240 minutes")
        .select(col("doc_id").as("l_id"), col("ts").as("l_ts"),
          col("b"), col("bkey"))
      val r = banded(docsStreamBalanced(s, dir)).withWatermark("ts", "240 minutes")
        .select(col("doc_id").as("r_id"), col("ts").as("r_ts"),
          col("b").as("rb"), col("bkey").as("rbkey"))
      val matches = l.join(r,
        col("b") === col("rb") && col("bkey") === col("rbkey") &&
          col("r_id") < col("l_id") &&
          col("l_ts") <= col("r_ts") + expr("INTERVAL 120 MINUTES") &&
          col("l_ts") >= col("r_ts"))
        .select(col("l_id").as("doc_id"), col("r_id").as("src"))
      drainToTable(s, matches, "g340_lsh_bounded", "append")
        .groupBy("doc_id")
        .agg(count_distinct(col("src")).as("n_src"))
        .orderBy("doc_id")
    },

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
    "q341_residual_cell_serve" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKResidualCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    },

    // ───── INT8 residual cell serving: the quality tier when 1
    // bit/dim saturates — codes round(Rᵢ·127/s) packed 8 bytes/long,
    // score = 127·Σ QᵢCᵢ + s·Σ Qᵢ·codeᵢ, still exact-integer and
    // 4× under float32. Measured on the planted-cluster fixture:
    // 0.447/0.727/0.933 recall@5 at candK=30 vs the 1-bit tier's
    // 0.387/0.580/0.747; candK=100 reaches 0.840/0.980/1.000 ─────
    "q342_int8_cell_serve" -> { (s, dir) =>
      val e = tb(s, dir, "embeddings")
      Similarity.topKInt8ResidualCells(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          graft.fixtures.PinnedIndex.ivfCentroidsV1,
          dim = 64, candK = 30, k = 5, nProbe = 4)
        .orderBy("qid", "rnk")
    }
  )

  /** Deterministic dirty-URL synthesis for q279/q280 — mirrored
    * string-for-string in [[OraclesExt.urlRawCte]]; see that scaladoc for
    * the branch each of the eight shapes exercises. */
  private def urlSynth(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val k = (d % 50).cast("string")
    val m = d % 8
    when(m === 0, concat(lit("HTTP://WWW.Site"), k, lit(".Example.COM/a/b"),
        (d % 7).cast("string"), lit("/?utm_source=feed&b=2&a=1")))
      .when(m === 1, concat(lit("https://News.Site"), k,
        lit(".CO.UK:443/Index.html#frag")))
      .when(m === 2, concat(lit("http://user:pw@Site"), k,
        lit(".example.com:8080//x//?gclid=z12&q="), (d % 13).cast("string")))
      .when(m === 3, concat(lit("ftp://site"), k, lit(".example.com/file")))
      .when(m === 4, concat(lit("https://Site"), k, lit(".Example.com./")))
      .when(m === 5, concat(lit("http://site"), k,
        lit(".example.com:80/p?b=&fbclid=abc&z=9&y=8")))
      .when(m === 6, concat(lit("https://blog.Site"), k, lit(".com.au/posts/"),
        (d % 5).cast("string"), lit("/?utm_campaign=x&utm_medium=y")))
      .otherwise(lit("http://intranet:9999/dev?a=2#x"))
  }

  /** q229's pinned merge list — the first 8 merges [[q228_bpe_train]]
    * learns on the sf0.01 corpus, shipped as literals (both engines
    * embed them; correctness is corpus-independent, the PinnedIndex
    * contract). */
  private[graft] val pinnedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** q219's fixed retrieval workload — shared by the Spark row and its
    * DuckDB oracle so the two sides stay in lockstep. */
  private[graft] val rrfQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "query", "join"),
    2 -> Seq("stream", "window", "batch"),
    3 -> Seq("sort", "merge", "fast"))

  /** q178's PSI oracle, shared verbatim by q183 (the streaming current
    * side accumulates the same bin counts a batch scan produces —
    * complete-mode sums merge across micro-batches). */
  private val psiDriftOracle: String =
    "WITH r0 AS (SELECT value::DOUBLE AS v FROM events " +
      "WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'), " +
      "c0 AS (SELECT value::DOUBLE AS v FROM events " +
      "WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'), " +
      "b AS (SELECT min(v) AS lo, max(v) AS hi FROM r0), " +
      "rb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, greatest(0, " +
      "floor((v - lo) / ((hi - lo) / 10))))::INT END AS bin, " +
      "count(*)::BIGINT AS n_ref FROM r0 CROSS JOIN b GROUP BY 1), " +
      "cb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, greatest(0, " +
      "floor((v - lo) / ((hi - lo) / 10))))::INT END AS bin, " +
      "count(*)::BIGINT AS n_cur FROM c0 CROSS JOIN b GROUP BY 1), " +
      "s AS (SELECT unnest(range(10))::INT AS bin), " +
      "j AS (SELECT s.bin, coalesce(rb.n_ref, 0) AS n_ref, " +
      "coalesce(cb.n_cur, 0) AS n_cur FROM s " +
      "LEFT JOIN rb ON s.bin = rb.bin LEFT JOIN cb ON s.bin = cb.bin), " +
      "q AS (SELECT bin, n_ref, n_cur, " +
      "(n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 10) AS p, " +
      "(n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 10) AS q FROM j) " +
      "SELECT bin, n_ref, n_cur, round(p, 6) AS p_ref, " +
      "round(q, 6) AS p_cur, " +
      "round((p - q) * ln(p / q), 6) AS psi_contrib, " +
      "round(sum(round((p - q) * ln(p / q), 6)) OVER (), 6) AS psi " +
      "FROM q ORDER BY bin"

  /** A fresh finite stream over the events parquet. The file streaming
    * source lists a DIRECTORY, so the single parquet is exposed through a
    * temp dir (hard link — same fs, no copy); TIMESTAMP(NANOS)-as-long is
    * normalized exactly like Sources.table. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val target = java.nio.file.Paths.get(s"$dir/events.parquet")
    // multi-file datasets (e.g. the ScaleGen output) are already the
    // directory the file streaming source wants; a single driver-written
    // parquet FILE is exposed through a fixed per-(jvm, sf-dir) scratch
    // dir (hard link — same fs, no copy), reused across bench invocations
    // instead of leaking a temp dir per run
    val streamDir =
      if (java.nio.file.Files.isDirectory(target)) target
      else {
        // keyed by the sanitized FULL path — a hash key could collide
        // across data dirs and silently stream the wrong scale factor
        val d = java.nio.file.Paths.get(
          scratch("stream_events_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")))
        val link = d.resolve("events.parquet")
        if (!java.nio.file.Files.exists(link)) {
          try java.nio.file.Files.createLink(link, target)
          catch { case _: Exception => java.nio.file.Files.copy(target, link) }
        }
        d
      }
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val src = s.readStream.schema(schema).parquet(streamDir.toString)
    ops.Sources.normalizeTimestamps(
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        src.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else src)
  }

  /** The documents table as a file-source stream (the [[eventsStream]]
    * hard-link scratch posture; no timestamp column to normalize) —
    * ingest-time corpus filtering runs on this. */
  private def docsStream(s: SparkSession, dir: String): DataFrame = {
    val target = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val streamDir =
      if (java.nio.file.Files.isDirectory(target)) target
      else {
        val d = java.nio.file.Paths.get(
          scratch("stream_docs_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")))
        val link = d.resolve("documents.parquet")
        if (!java.nio.file.Files.exists(link)) {
          try java.nio.file.Files.createLink(link, target)
          catch { case _: Exception => java.nio.file.Files.copy(target, link) }
        }
        d
      }
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** [[docsStream]] spread across the session's cores: the single-file
    * (single-row-group) source gives every micro-batch ONE input
    * partition, so a CPU-heavy ingest gate (regex rules, MinHash
    * banding, URL canonicalization) runs single-threaded per batch —
    * measured 2.8 of q239's 3.7 s in one task (75%, NOT micro-batch
    * machinery). One deterministic hash exchange per batch spreads the
    * per-row work; explicit numPartitions (= defaultParallelism, the
    * deployment's core count) survives AQE. Production file streams
    * arrive pre-split (many files per trigger), where this repartition
    * is a per-batch no-op-sized shuffle of already-parallel data —
    * keyed on doc_id, never a payload reorder. */
  private def docsStreamBalanced(s: SparkSession, dir: String): DataFrame =
    docsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** The events stream chopped into `n` range-partitioned files streamed
    * ONE per micro-batch — forces a real multi-batch run for the
    * foreachBatch merge (a single-file AvailableNow source would drain in
    * one batch and never exercise the store merge loop). */
  private def eventsStreamSplit(s: SparkSession, dir: String, n: Int): DataFrame = {
    val split = java.nio.file.Paths.get(
      scratch("stream_split_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")))
    if (!java.nio.file.Files.exists(split.resolve("_SUCCESS"))) {
      s.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(n, col("event_id"))
        .write.mode("overwrite").parquet(split.toString)
    }
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(split.toString)
    ops.Sources.normalizeTimestamps(
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        src.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else src)
  }

  /** Drain a finite streaming frame into a fresh memory-sink table and
    * return it. AvailableNow processes everything then stops; `complete`
    * emits every window/session regardless of the final watermark (append
    * would strand in-watermark state when the source ends) — stateless
    * operators (dedup) use `append`. */
  private def drainToTable(
      s: SparkSession, out: DataFrame, view: String, mode: String): DataFrame = {
    s.catalog.dropTempView(view) // bench re-runs the query in one session
    // stateful operators allocate one state store per shuffle partition
    // per store kind (a stream-stream join keeps four) and checkpoint each
    // every microbatch — at driver-test scale that fixed cost dwarfs the
    // data, so the streaming queries run on few partitions. Results are
    // partitioning-independent (every one is oracle-checked); a real
    // deployment sizes this to its key cardinality instead.
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = out.writeStream.format("memory").queryName(view)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
    s.table(view)
  }

  /** Shared by q144 (batch) and q153 (streaming): the drained streaming
    * counter grid is bit-identical to the batch grid, so one oracle
    * serves both. Same permute constants as [[graft.ops.Hashing.permute]]. */
  private val cmsOracle: String =
    "WITH hp AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT " +
      "% 1000000007 AS h FROM events), " +
      "cells AS (SELECT i AS r, ((37*i+11)*h + (101*i+7)) % 1000000007 % 64 AS b " +
      "FROM hp, range(4) t(i)), " +
      "c AS (SELECT r, b, count(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2), " +
      "e AS (SELECT user_id, count(*)::BIGINT AS exact_cnt FROM events " +
      "GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 20), " +
      "probe AS (SELECT e.user_id, e.exact_cnt, i AS r, " +
      "((37*i+11)*(('0x' || substr(md5(e.user_id::VARCHAR), 1, 15))::BIGINT " +
      "% 1000000007) + (101*i+7)) % 1000000007 % 64 AS b " +
      "FROM e, range(4) t(i)) " +
      "SELECT p.user_id, p.exact_cnt, min(coalesce(c.cnt, 0))::BIGINT AS cms_est, " +
      "(min(coalesce(c.cnt, 0)) - p.exact_cnt)::BIGINT AS overest " +
      "FROM probe p LEFT JOIN c USING (r, b) GROUP BY 1, 2 " +
      "ORDER BY exact_cnt DESC, user_id"

  def oracleSql: Map[String, String] = Map(
    "q01_e1_flagship" -> Oracles.flagship,

    "q02_union_sheets" ->
      ("SELECT o_orderkey, o_orderpriority AS commessa, o_totalprice AS val, 'F' AS _sheet FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, 'O', o_totalprice, 'O' FROM orders WHERE o_orderstatus = 'O' " +
        "UNION ALL SELECT o_orderkey, o_orderpriority, NULL, 'P' FROM orders WHERE o_orderstatus = 'P' " +
        "ORDER BY o_orderkey"),

    "q03_cleanse_scalars" ->
      (s"WITH ${Oracles.wideCte} SELECT rid, " +
        s"${Oracles.dateLenientSql("trim(split_part(weekrange, ' al ', 1))")} AS week_start, " +
        "CASE WHEN trim(autore) = '' THEN 'unknown' ELSE lower(regexp_split_to_array(trim(autore), '\\s+')[-1]) END AS surname, " +
        "coalesce(try_cast(trim(replace(h_giovedi, chr(160), '')) AS DOUBLE), 0.0) AS ore_gio " +
        "FROM wide ORDER BY rid"),

    "q04_unpivot" ->
      (s"WITH ${Oracles.wideCte}, ${Oracles.meltCte} " +
        "SELECT rid, giorno, doff, ore_raw FROM melt WHERE ore_raw IS NOT NULL ORDER BY rid, doff"),

    "q05_lookup_join" ->
      ("WITH m(seg_raw, seg_mapped) AS (VALUES ('BUILDING', 'B2B'), ('AUTOMOBILE', 'AUTO')) " +
        "SELECT c_custkey, coalesce(m.seg_mapped, c.c_mktsegment) AS segment " +
        "FROM customer c LEFT JOIN m ON c.c_mktsegment = m.seg_raw ORDER BY c_custkey"),

    "q06_agg_sum3" ->
      ("SELECT CAST(l_shipdate AS DATE) AS data, l_returnflag, l_linestatus, " +
        "sum(l_quantity) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n " +
        "FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    "q07_agg_setjoin" ->
      ("SELECT CAST(l_shipdate AS DATE) AS data, l_returnflag AS surname, " +
        "string_agg(DISTINCT l_linestatus, '; ' ORDER BY l_linestatus) AS commessa, " +
        "sum(l_quantity) AS ore FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),

    "q08_merge_update" ->
      ("WITH u AS (SELECT l_orderkey, string_agg(DISTINCT l_returnflag, '; ' ORDER BY l_returnflag) AS c, " +
        "sum(l_quantity) AS s FROM lineitem GROUP BY 1) " +
        "SELECT o_orderkey, coalesce(u.c, o_orderpriority) AS commessa, coalesce(u.s, o_totalprice) AS ore " +
        "FROM orders o LEFT JOIN u ON o.o_orderkey = u.l_orderkey ORDER BY o_orderkey"),

    "q09_window_rank" ->
      ("SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    "q10_window_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    "q11_part_write" ->
      (s"${Oracles.recordsWith}, ${Oracles.mappingCte}, " +
        "joined AS (SELECT k.data, k.surname, coalesce(m.code_mapped, k.commessa) AS commessa, k.ore " +
        "FROM kept k LEFT JOIN mapping m ON k.commessa = m.code_raw), " +
        "agg AS (SELECT data, surname, string_agg(DISTINCT commessa, '; ' ORDER BY commessa) AS commessa, " +
        "sum(ore) AS ore FROM joined GROUP BY data, surname) " +
        "SELECT surname, count(*) AS n_rows, sum(ore) AS sum_ore FROM agg GROUP BY surname ORDER BY surname"),

    "q56_scd2_merge" ->
      ("WITH dim AS (SELECT c_custkey AS k, c_mktsegment AS attr, " +
        "DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to FROM customer), " +
        "upd AS (SELECT c_custkey AS k, CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment " +
        "ELSE 'SEG-' || c_mktsegment END AS attr FROM customer WHERE c_custkey % 3 = 0 " +
        "UNION ALL SELECT c_custkey + 10000000, 'NEWSEG' FROM customer WHERE c_custkey % 500 = 0), " +
        "j AS (SELECT coalesce(d.k, u.k) AS k, d.attr AS old_attr, u.attr AS new_attr, " +
        "d.valid_from FROM dim d FULL JOIN upd u ON d.k = u.k), " +
        "kept AS (SELECT k, old_attr AS attr, valid_from, " +
        "CASE WHEN new_attr IS NOT NULL AND new_attr <> old_attr THEN DATE '2024-06-01' END AS valid_to " +
        "FROM j WHERE old_attr IS NOT NULL), " +
        "opened AS (SELECT k, new_attr AS attr, DATE '2024-06-01' AS valid_from, " +
        "CAST(NULL AS DATE) AS valid_to FROM j " +
        "WHERE old_attr IS NULL OR (new_attr IS NOT NULL AND new_attr <> old_attr)) " +
        "SELECT * FROM kept UNION ALL SELECT * FROM opened ORDER BY k, valid_from"),

    "q57_vocab" ->
      ("WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token) " +
        "SELECT token, freq, (row_number() OVER (ORDER BY freq DESC, token) - 1)::INT AS token_id " +
        "FROM c ORDER BY token_id LIMIT 500"),

    "q58_zorder" -> {
      val z = (0 until 21).map(i =>
        s"(((l_partkey >> $i) & 1) << ${2 * i}) + (((l_suppkey >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"WITH z AS (SELECT l_partkey, l_suppkey, ($z) AS z FROM lineitem) " +
        "SELECT (z >> 16) AS zbucket, count(*) AS n, " +
        "min(l_partkey) AS p_min, max(l_partkey) AS p_max, " +
        "min(l_suppkey) AS s_min, max(l_suppkey) AS s_max " +
        "FROM z GROUP BY 1 ORDER BY zbucket"
    },

    // round trips change only the storage container, never the values
    "q53_csv_roundtrip" ->
      ("SELECT c_mktsegment, count(*)::BIGINT AS n, " +
        "round(sum(c_acctbal), 2) AS sum_bal FROM customer GROUP BY 1 ORDER BY 1"),
    "q54_json_roundtrip" ->
      ("SELECT s_nationkey, count(*)::BIGINT AS n, " +
        "round(sum(s_acctbal), 2) AS sum_bal FROM supplier GROUP BY 1 ORDER BY 1"),
    "q62_orc_roundtrip" ->
      ("SELECT p_brand, count(*)::BIGINT AS n, " +
        "round(sum(p_retailprice), 2) AS sum_price FROM part GROUP BY 1 ORDER BY 1"),

    "q12_dedup_exact" -> OraclesExt.dedupExact,
    "q13_dedup_jaccard" -> OraclesExt.dedupJaccard,
    "q14_dedup_minhash" -> OraclesExt.dedupMinhash,
    "q71_dedup_pipeline" -> OraclesExt.dedupPipeline,
    "q15_dedup_simhash" -> OraclesExt.dedupSimhash,
    "q72_segment_dedup" -> OraclesExt.segmentDedup,
    "q73_boilerplate" -> OraclesExt.boilerplate,
    // chr(769) = U+0301 combining acute; nfc_normalize (utf8proc) applies
    // the same Unicode canonical composition as java.text.Normalizer
    "q74_nfc_normalize" ->
      ("WITH d AS (SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS t " +
        "FROM documents), " +
        "n AS (SELECT doc_id, t, nfc_normalize(t) AS tn FROM d) " +
        "SELECT doc_id, length(t)::BIGINT AS len_raw, length(tn)::BIGINT AS len_nfc, " +
        "('0x' || substr(md5(tn), 1, 15))::BIGINT AS fp_nfc FROM n ORDER BY doc_id"),
    "q75_upsert_merge" ->
      ("WITH upd AS (" +
        "SELECT c_custkey AS k, 'UPSERTED' AS seg, round(c_acctbal + 100, 2) AS bal " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT c_custkey + 1000000, 'NEWSEG', 0.0 " +
        "FROM customer WHERE c_custkey % 13 = 0), " +
        "t AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer) " +
        "SELECT coalesce(t.c_custkey, u.k) AS c_custkey, " +
        "CASE WHEN u.k IS NOT NULL THEN u.seg ELSE t.c_mktsegment END AS c_mktsegment, " +
        "round(CASE WHEN u.k IS NOT NULL THEN u.bal ELSE t.c_acctbal END, 2) AS c_acctbal " +
        "FROM t FULL JOIN upd u ON t.c_custkey = u.k ORDER BY c_custkey"),
    // identical arithmetic step-for-step (two divisions, floor, fused
    // square); codes via per-element lambda, mse via index zip
    "q76_embed_quantize" ->
      ("WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx, " +
        "(list_max(v) - list_min(v)) / 255.0 AS sc FROM v), " +
        "c AS (SELECT vec_id, v, mn, mx, sc, list_transform(v, x -> " +
        "CASE WHEN sc = 0 THEN 0 ELSE least(255, floor((x - mn) / sc)::BIGINT) END) AS codes FROM m) " +
        "SELECT vec_id, mn, mx, list_sum(codes)::BIGINT AS code_sum, " +
        "round(list_sum(list_transform(range(len(v)), i -> " +
        "(v[i+1] - (mn + codes[i+1] * sc)) * (v[i+1] - (mn + codes[i+1] * sc)))) / len(v), 6) AS mse " +
        "FROM c ORDER BY vec_id"),
    "q77_window_range" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "round(sum(o_totalprice) OVER w, 2) AS sum7, " +
        "(count(*) OVER w)::BIGINT AS n7 " +
        "FROM orders WHERE o_custkey % 10 = 0 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate " +
        "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderkey"),
    "q78_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n, grouping_id(l_returnflag, l_linestatus)::BIGINT AS gid " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
        "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    // the q46 batch sliding-window oracle, reused by the streaming path
    "q79_stream_sliding" ->
      ("WITH w AS (SELECT event_type, value, " +
        "time_bucket(INTERVAL 30 MINUTE, ts) AS s1 FROM events), " +
        "x AS (SELECT event_type, value, s1 AS win_start FROM w " +
        "UNION ALL SELECT event_type, value, s1 - INTERVAL 30 MINUTE FROM w) " +
        "SELECT win_start, event_type, count(*)::BIGINT AS n, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM x GROUP BY 1, 2 ORDER BY 1, 2"),
    // final mapGroupsWithState state per user ≡ the batch lifetime totals
    "q80_stream_running_total" ->
      ("SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS total " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "q81_label_centroids" ->
      ("WITH v AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "e AS (SELECT label, unnest(range(0, len(v))) AS pos, v FROM v), " +
        "x AS (SELECT label, pos, v[pos+1] AS val FROM e) " +
        "SELECT label, pos::INT AS pos, round(avg(val), 6) AS mean, " +
        "count(*)::BIGINT AS n FROM x GROUP BY 1, 2 ORDER BY 1, 2"),
    "q82_quality_mix" -> OraclesExt.qualityMix,
    "q83_pack_assemble" ->
      ("WITH d AS (SELECT doc_id, source, text, " +
        "len(regexp_extract_all(text, '\\w+')) AS n_tok FROM documents), " +
        "b AS (SELECT source, doc_id, text, n_tok, floor((sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) " +
        "/ 2048)::BIGINT AS bin FROM d) " +
        "SELECT source, bin, count(*)::BIGINT AS n_docs, " +
        "sum(n_tok)::BIGINT AS sum_tokens, " +
        "string_agg(text, ' <eod> ' ORDER BY doc_id) AS packed " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),
    "q84_stream_static_join" ->
      ("WITH w AS (SELECT event_type, CASE event_type WHEN 'click' THEN 1.0 " +
        "WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0 WHEN 'view' THEN 2.0 " +
        "ELSE 0.0 END AS weight FROM (SELECT DISTINCT event_type FROM events)) " +
        "SELECT date_trunc('hour', e.ts) AS win_start, e.event_type, " +
        "count(*)::BIGINT AS n, round(sum(e.value * w.weight), 2) AS weighted " +
        "FROM events e JOIN w ON e.event_type = w.event_type " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q85_stream_stream_join" ->
      ("SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id " +
        "FROM events c JOIN events p ON c.event_type = 'click' " +
        "AND p.event_type = 'purchase' AND p.user_id = c.user_id " +
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR " +
        "ORDER BY click_id, purchase_id"),
    "q86_correlated_scalar" ->
      ("SELECT c_custkey, c_mktsegment, " +
        "(SELECT round(max(o_totalprice), 2) FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey) AS max_price " +
        "FROM customer c ORDER BY c_custkey"),
    // storage-level evolution never changes the logical content: the
    // oracle is the plain two-generation union with null-filled columns
    "q87_schema_evolution" ->
      ("SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority " +
        "FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, NULL, o_orderpriority " +
        "FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"),
    "q88_incremental_dedup" ->
      ("WITH k AS (SELECT doc_id, source, md5(array_to_string(list_sort(" +
        "list_distinct(regexp_extract_all(lower(text), '\\w+'))), ' ')" +
        ") AS ck FROM documents), " +
        "b AS (SELECT * FROM k WHERE doc_id % 5 = 0), " +
        "c AS (SELECT DISTINCT ck FROM k WHERE doc_id % 5 != 0), " +
        "f AS (SELECT b.doc_id, b.source, b.ck FROM b " +
        "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.ck = b.ck)), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn FROM f) " +
        "SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id"),
    "q89_topk_per_key" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"),
    // pixel i of image d = (d*7 + i*13) % 256, dims (8 + d%9, 8 + d%7):
    // the oracle recomputes what the Spark side parses out of real bytes
    "q90_pgm_decode" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, (w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> (doc_id*7 + i*13) % 256))::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),
    // resized pixel (x, y) samples source index 2y*w + 2x
    "q91_pgm_resize" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*7 + (2*(j//w2)*w + 2*(j%w2))*13) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),
    "q92_session_funnel" ->
      ("WITH g AS (SELECT user_id, ts, event_type, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, event_type, sum(ns) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events, " +
        "(count(*) FILTER (WHERE event_type = 'click'))::BIGINT AS n_clicks, " +
        "(count(*) FILTER (WHERE event_type = 'purchase'))::BIGINT AS n_purchases, " +
        "coalesce(min(ts) FILTER (WHERE event_type = 'purchase') > " +
        "min(ts) FILTER (WHERE event_type = 'click'), FALSE) AS converted " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // sample i = ((id*31 + i*17) % 65536) - 32768, n = 200 + id%100, 8 kHz
    "q93_wav_decode" ->
      ("WITH d AS (SELECT doc_id, 200 + (doc_id % 100) AS n FROM documents), " +
        "p AS (SELECT doc_id, n::INT AS n_samples, 8000 AS sample_rate, " +
        "list_transform(range(n), i -> ((doc_id*31 + i*17) % 65536) - 32768) AS sm FROM d) " +
        "SELECT doc_id, n_samples, sample_rate, " +
        "list_sum(sm)::BIGINT AS amp_sum, " +
        "list_max(list_transform(sm, x -> abs(x)))::INT AS peak, " +
        "(n_samples * 1000 // 8000)::BIGINT AS duration_ms " +
        "FROM p ORDER BY doc_id"),
    // frame k, byte j: (id*11 + k*7 + j*5) % 256 over w*h luma bytes;
    // dims (4 + 2*(id%4), 4 + 2*(id%3)), frames 2 + id%3
    "q94_y4m_decode" ->
      ("WITH d AS (SELECT doc_id, 4 + (doc_id % 4) * 2 AS w, " +
        "4 + (doc_id % 3) * 2 AS h, 2 + (doc_id % 3) AS f FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, f::INT AS n_frames, " +
        "list_transform(range(f), k -> list_sum(list_transform(range(w*h), " +
        "j -> (doc_id*11 + k*7 + j*5) % 256))) AS sums FROM d) " +
        "SELECT doc_id, width, height, n_frames, " +
        "list_sum(sums)::BIGINT AS luma_sum, " +
        "list_min(sums)::BIGINT AS luma_min, list_max(sums)::BIGINT AS luma_max " +
        "FROM p ORDER BY doc_id"),
    // integer 16-bin byte histogram = the de-normalized decode features
    "q95_image_dedup" ->
      ("WITH h AS (SELECT doc_id, " +
        "[coalesce(list_sum([CASE WHEN ascii(text[i+1]) // 16 = b THEN 1 ELSE 0 END " +
        "for i in range(length(text))]), 0) for b in range(16)] AS hist FROM documents), " +
        "k AS (SELECT doc_id, md5(array_to_string(" +
        "list_transform(hist, x -> x::VARCHAR), ',')) AS ck FROM h) " +
        "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"),
    "q96_tpch_q1" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, " +
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
        "round(avg(l_quantity), 6) AS avg_qty, round(avg(l_extendedprice), 6) AS avg_price, " +
        "round(avg(l_discount), 6) AS avg_disc, count(*)::BIGINT AS n " +
        "FROM lineitem WHERE l_shipdate <= DATE '2001-09-02' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q97_tpch_q6" ->
      ("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
        "AND l_shipdate < DATE '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "q98_tpch_q3" ->
      ("SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "o_orderdate FROM customer c " +
        "JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1998-03-15' " +
        "AND l_shipdate > DATE '1998-03-15' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
    "q16_dedup_embedding" -> OraclesExt.dedupEmbedding,
    "q17_sim_topk" -> OraclesExt.simTopKBrute,
    "q18_sim_topk_ivf" -> OraclesExt.simTopKIvf,
    "q39_sim_topk_ivf_sampled" -> OraclesExt.simTopKIvfSampled,
    "q55_sim_topk_pq" -> OraclesExt.simTopKPqSeeded,
    "q19_text_langid" -> OraclesExt.textLangId,
    "q20_text_quality" -> OraclesExt.textQuality,
    "q21_text_tokens" -> OraclesExt.textTokens,
    "q22_text_fingerprint" -> OraclesExt.textFingerprint,
    // q23: the PGM/WAV/Y4M payloads are deterministic functions of
    // doc_id, so the real byte-level decode IS SQL-expressible
    "q23_multimodal" -> OraclesExt.multimodalReal,
    "q24_session_window" -> OraclesExt.sessionWindow,
    // identical sessions from the typed path — same oracle as q24
    "q52_sessionize_typed" -> OraclesExt.sessionWindow,
    // identical sessions from the true streaming path (q66) — same oracle
    "q66_stream_sessionize" -> OraclesExt.sessionWindow,
    // identical hourly windows from the true streaming path — q10's oracle
    "q67_stream_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // streaming dedup of the doubled stream ≡ the original events table
    "q68_stream_dedup" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id",
    // identical regex cascade (RE2-compatible patterns) + hash60 fingerprint
    "q69_pii_scrub" -> {
      import graft.ops.TextAnalysis.{emailRe, ipv4Re, longNumRe}
      "WITH dirty AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || " +
        "'@example.com via 10.' || (doc_id % 256)::VARCHAR || '.0.' || " +
        "(doc_id % 100)::VARCHAR || ' tel ' || (5550000000 + doc_id)::VARCHAR AS t FROM documents), " +
        s"s1 AS (SELECT doc_id, len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_email, " +
        s"regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t FROM dirty), " +
        s"s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '$ipv4Re'))::BIGINT AS n_ip, " +
        s"regexp_replace(t, '$ipv4Re', '<IP>', 'g') AS t FROM s1), " +
        s"s3 AS (SELECT doc_id, n_email, n_ip, len(regexp_extract_all(t, '$longNumRe'))::BIGINT AS n_num, " +
        s"regexp_replace(t, '$longNumRe', '<NUM>', 'g') AS t FROM s2) " +
        "SELECT doc_id, n_email, n_ip, n_num, " +
        "('0x' || substr(md5(t), 1, 15))::BIGINT AS fp_scrubbed, " +
        "length(t)::BIGINT AS n_chars FROM s3 ORDER BY doc_id"
    },
    // same start grid (multiples of stride while a start adds tokens past
    // the previous overlap), same clamping list slice; chunk_no = start/stride
    "q70_chunk_docs" ->
      (s"WITH ${OraclesExt.tokCte}, " +
        "c AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0), " +
        "s AS (SELECT doc_id, toks, unnest(range(0, greatest(n - 16, 1), 48)) AS st FROM c) " +
        "SELECT doc_id, (st // 48)::BIGINT AS chunk_no, " +
        "len(toks[st+1:st+64])::BIGINT AS n_tok, " +
        "array_to_string(toks[st+1:st+64], ' ') AS chunk " +
        "FROM s ORDER BY doc_id, chunk_no"),
    "q25_e2_pipeline" -> OraclesExt.pipelineV1,
    "q26_sim_topk_lsh" -> OraclesExt.simTopKLsh,

    "q27_join_semi_anti" ->
      ("SELECT c_custkey, 'has_open' AS status FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') " +
        "UNION ALL SELECT c_custkey, 'no_open' FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O') " +
        "ORDER BY c_custkey"),

    "q28_rollup" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    "q29_topn_global" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"),

    "q49_cube" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n, " +
        "grouping_id(l_returnflag, l_linestatus)::BIGINT AS gid " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    "q50_histogram" ->
      ("SELECT (floor(o_totalprice / 25000) * 25000)::BIGINT AS bucket, " +
        "count(*)::BIGINT AS n FROM orders GROUP BY 1 ORDER BY 1"),

    "q30_distinct_count" ->
      ("SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT l_partkey) AS n_part, count(*) AS n " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    "q31_json_extract" ->
      ("SELECT event_type, count(*) AS n, sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k, " +
        "round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    "q32_stats" ->
      ("SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(stddev_samp(value), 6) AS sd " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // bucketing/salting change the physical plan, never the result: both
    // oracles are the plain logical join.
    "q33_bucketed_join" ->
      ("SELECT o.o_orderkey, sum(l.l_quantity) AS sum_qty, max(o.o_totalprice) AS price " +
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),

    "q34_salted_join" ->
      ("WITH dim(l_returnflag, label) AS (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'none')) " +
        "SELECT label, count(*) AS n, sum(l_quantity) AS sum_qty " +
        "FROM lineitem JOIN dim USING (l_returnflag) GROUP BY 1 ORDER BY 1"),

    "q35_window_analytics" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "lag(o_totalprice, 1) OVER w AS prev_price, " +
        "lead(o_orderkey, 1) OVER w AS next_key, " +
        "round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total, " +
        "round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3 " +
        "FROM orders WHERE o_custkey % 10 = 0 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) " +
        "ORDER BY o_custkey, o_orderdate, o_orderkey"),

    "q37_sim_topk_multiprobe" -> OraclesExt.simTopKLshMultiProbe,

    "q38_split_sample" ->
      ("WITH d AS (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h FROM documents), " +
        "a AS (SELECT lang, n_chars, " +
        "CASE WHEN h % 100 < 80 THEN 'train' WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split, " +
        "CASE WHEN lang = 'en' THEN h % 1000 < 500 WHEN lang = 'zh' THEN h % 1000 < 250 " +
        "WHEN lang IN ('de', 'fr', 'es') THEN h % 1000 < 1000 ELSE false END AS keep FROM d) " +
        "SELECT split, lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars " +
        "FROM a WHERE keep GROUP BY 1, 2 ORDER BY 1, 2"),

    "q36_set_ops" ->
      ("WITH mar AS (SELECT o_custkey FROM orders WHERE month(CAST(o_orderdate AS DATE)) = 3), " +
        "apr AS (SELECT o_custkey FROM orders WHERE month(CAST(o_orderdate AS DATE)) = 4) " +
        "SELECT o_custkey, 'both' AS which FROM (SELECT * FROM mar INTERSECT SELECT * FROM apr) " +
        "UNION ALL SELECT o_custkey, 'march_only' FROM (SELECT * FROM mar EXCEPT SELECT * FROM apr) " +
        "ORDER BY which, o_custkey"),

    "q51_resize" ->
      ("WITH m AS (SELECT doc_id AS id, " +
        "['image','audio','video'][(doc_id % 3 + 1)] AS kind, " +
        "strlen(text)::BIGINT AS n_in, text FROM documents), " +
        "s AS (SELECT id, kind, n_in, text, (n_in + 511) // 512 AS stride FROM m) " +
        "SELECT id, kind, n_in, " +
        "CASE WHEN n_in <= 512 THEN n_in ELSE (n_in + stride - 1) // stride END AS n_out, " +
        "CASE WHEN n_in <= 512 THEN text ELSE array_to_string(" +
        "[text[i * stride + 1] for i in range((n_in + stride - 1) // stride)], '') END AS out_str " +
        "FROM s ORDER BY id"),

    "q41_asof_join" -> OraclesExt.asofJoin,
    "q42_range_join" -> OraclesExt.rangeJoin,
    "q43_dedup_clusters" -> OraclesExt.dedupClusters,
    "q59_decontam" -> OraclesExt.decontam,
    "q60_repetition" -> OraclesExt.repetition,
    "q61_lm_score" -> OraclesExt.lmScore,
    "q63_canonical" -> OraclesExt.canonical,
    "q65_quota_sample" ->
      ("WITH h AS (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h) " +
        "SELECT doc_id, source FROM r WHERE rn <= " +
        "CASE source WHEN 'src0' THEN 25 WHEN 'src1' THEN 0 ELSE 10 END " +
        "ORDER BY doc_id"),

    // scd2 over the %3 update set: every updated key closes its 1992 row
    // at 1995-06-01 and opens a SEG- row; facts then join the version
    // whose [valid_from, valid_to) covers the order date
    "q64_pit_join" ->
      ("WITH dim AS (" +
        "SELECT c_custkey AS k, c_mktsegment AS attr, DATE '1992-01-01' AS vf, " +
        "CASE WHEN c_custkey % 3 = 0 THEN DATE '1995-06-01' END AS vt FROM customer " +
        "UNION ALL SELECT c_custkey, 'SEG-' || c_mktsegment, DATE '1995-06-01', NULL " +
        "FROM customer WHERE c_custkey % 3 = 0), " +
        "j AS (SELECT o.o_totalprice, d.attr FROM orders o LEFT JOIN dim d " +
        "ON o.o_custkey = d.k AND CAST(o.o_orderdate AS DATE) >= d.vf " +
        "AND (d.vt IS NULL OR CAST(o.o_orderdate AS DATE) < d.vt)) " +
        "SELECT attr, count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS sum_price " +
        "FROM j GROUP BY 1 ORDER BY 1"),
    // frame sampling: payload = UTF-8 text bytes (ASCII corpus), so byte
    // offsets/slices equal char offsets/slices and substring reproduces
    // the binary substr exactly; floor() matches Spark's int-cast truncation
    "q40_frame_sample" ->
      ("WITH v AS (SELECT doc_id AS id, text, length(text) AS len " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT id, text, len, unnest([0, 1, 2, 3]) AS frame_no FROM v), " +
        "o AS (SELECT id, frame_no, " +
        "floor(frame_no * greatest(len - 32, 0) / 3)::INT AS off, text FROM f) " +
        "SELECT id, frame_no, " +
        "length(substring(text, off + 1, 32))::INT AS frame_len, " +
        "substring(text, off + 1, 32) AS frame_str " +
        "FROM o ORDER BY id, frame_no"),

    "q44_pivot" -> {
      val cases = Reshape.weekdays.map { case (_, label, _) =>
        s"round(sum(CASE WHEN giorno = '$label' THEN ore END), 6) AS $label"
      }.mkString(", ")
      s"WITH ${Oracles.wideCte}, ${Oracles.meltCte}, " +
        "c AS (SELECT rid, giorno, " +
        "coalesce(try_cast(trim(replace(ore_raw, chr(160), '')) AS DOUBLE), 0.0) AS ore, ore_raw FROM melt), " +
        "k AS (SELECT rid, giorno, ore FROM c WHERE ore_raw IS NOT NULL AND ore <> 0.0) " +
        s"SELECT rid, $cases FROM k GROUP BY rid ORDER BY rid"
    },

    // each event belongs to the two 30-min-grid windows covering it; the
    // 30-min grid of time_bucket (origin 2000-01-03) coincides with
    // Spark's epoch-aligned slide grid (the origins are whole days apart)
    "q46_window_sliding" ->
      ("WITH w AS (SELECT event_type, value, " +
        "time_bucket(INTERVAL 30 MINUTE, ts) AS s1 FROM events), " +
        "x AS (SELECT event_type, value, s1 AS win_start FROM w " +
        "UNION ALL SELECT event_type, value, s1 - INTERVAL 30 MINUTE FROM w) " +
        "SELECT win_start, event_type, count(*)::BIGINT AS n, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM x GROUP BY 1, 2 ORDER BY 1, 2"),

    "q47_seq_pack" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "len(regexp_extract_all(text, '\\w+')) AS n_tok FROM documents), " +
        "b AS (SELECT source, floor((sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok) " +
        "/ 2048)::BIGINT AS bin, n_tok FROM d) " +
        "SELECT source, bin, count(*)::BIGINT AS n_docs, " +
        "sum(n_tok)::BIGINT AS sum_tokens " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    "q48_tfidf" -> {
      val terms = Seq("spark", "query", "join")
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"len(regexp_extract_all(lower(text), '\\b$t\\b')) AS tf$i"
      }.mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
      val score = terms.indices.map(i =>
        s"tf$i * ln((s.n + 1.0) / (s.df$i + 1.0))").mkString(" + ")
      s"WITH d AS (SELECT doc_id, $tfs FROM documents), " +
        s"s AS (SELECT count(*)::DOUBLE AS n, $dfs FROM d) " +
        s"SELECT doc_id, round($score, 6) AS score FROM d, s " +
        "ORDER BY score DESC, doc_id LIMIT 10"
    },

    "q45_profile" -> Seq("o_orderkey", "o_custkey", "o_totalprice").map { c =>
      s"SELECT '$c' AS col_name, count($c)::BIGINT AS n_non_null, " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null, " +
        s"count(DISTINCT $c)::BIGINT AS n_distinct, " +
        s"round(min($c)::DOUBLE, 6) AS min_v, round(max($c)::DOUBLE, 6) AS max_v, " +
        s"round(avg($c), 2) AS avg_v FROM orders"
    }.mkString("", " UNION ALL ", " ORDER BY col_name"),

    "q99_dedup_jaccard_capped" -> OraclesExt.dedupJaccardCapped(3),

    "q100_tpch_q5" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01' " +
        "AND o_orderdate < DATE '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    "q101_tpch_q9" ->
      ("SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (" +
        "SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year, " +
        "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount " +
        "FROM part, supplier, lineitem, orders, nation " +
        "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey " +
        "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey " +
        "AND p_name LIKE '%red%') profit " +
        "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),

    "q102_tpch_q18" ->
      ("SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "round(sum(l_quantity), 2) AS sum_qty " +
        "FROM customer, orders, lineitem " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) " +
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
        "GROUP BY 1, 2, 3, 4, 5 " +
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"),

    "q105_quality_checks" ->
      ("WITH a AS (SELECT count(*) AS n, count(DISTINCT o_orderkey) AS nd, " +
        "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_c, " +
        "sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn_t, " +
        "sum(CASE WHEN o_custkey < 0 OR o_custkey > 1000 THEN 1 ELSE 0 END) AS rg_c, " +
        "sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS rg_t " +
        "FROM orders) " +
        "SELECT * FROM (" +
        "SELECT 'min_rows' AS chk, n::DOUBLE AS value, n >= 1000 AS pass FROM a " +
        "UNION ALL SELECT 'unique:o_orderkey', (n - nd)::DOUBLE, n = nd FROM a " +
        "UNION ALL SELECT 'not_null:o_custkey', nn_c::DOUBLE, nn_c = 0 FROM a " +
        "UNION ALL SELECT 'not_null:o_totalprice', nn_t::DOUBLE, nn_t = 0 FROM a " +
        "UNION ALL SELECT 'range:o_custkey', rg_c::DOUBLE, rg_c = 0 FROM a " +
        "UNION ALL SELECT 'range:o_totalprice', rg_t::DOUBLE, rg_t = 0 FROM a" +
        ") ORDER BY chk"),

    // mirrors temperatureMix(α=0.5): integer weights floor(sqrt(c)·1e6),
    // integer quota division — sqrt is IEEE-correctly-rounded in both
    // engines, so the quotas agree exactly
    "q104_temperature_mix" ->
      ("WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1), " +
        "w AS (SELECT source, floor(sqrt(c::DOUBLE) * 1000000)::BIGINT AS w FROM c), " +
        "z AS (SELECT sum(w)::BIGINT AS z FROM w), " +
        "q AS (SELECT source, (300 * w) // z AS quota FROM w, z), " +
        "h AS (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "r AS (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h) " +
        "SELECT r.doc_id, r.source FROM r JOIN q ON r.source = q.source " +
        "WHERE r.rn <= q.quota ORDER BY r.doc_id"),

    // mirrors tokenBudgetSample: same hash-rank order, running token sum,
    // cumulative filter at 800 tokens per source
    "q106_token_budget_sample" ->
      ("WITH h AS (SELECT doc_id, source, " +
        "len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hh FROM documents), " +
        "c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER (" +
        "PARTITION BY source ORDER BY hh, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h) " +
        "SELECT doc_id, source, n_tok FROM c WHERE cum <= 800 ORDER BY doc_id"),

    // mirrors spanDedupCoverage(width=8, minDf=2): the direct per-window
    // list_reduce fold equals RollingHash's prefix-difference form mod P
    "q107_span_dedup_coverage" ->
      ("WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "sp AS (SELECT doc_id, unnest([list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) for i in range(0, greatest(len(hs) - 7, 0))]) AS span FROM th), " +
        "d AS (SELECT span FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "nd AS (SELECT sp.doc_id, count(*)::BIGINT AS n_dup FROM sp JOIN d USING(span) GROUP BY 1), " +
        "tt AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM sp GROUP BY 1) " +
        "SELECT tt.doc_id, tt.n_spans, coalesce(nd.n_dup, 0)::BIGINT AS n_dup, " +
        "round(coalesce(nd.n_dup, 0) / tt.n_spans::DOUBLE, 6) AS dup_frac " +
        "FROM tt LEFT JOIN nd USING(doc_id) ORDER BY tt.doc_id"),

    // mirrors spanDedupRemove(width=8, minDf=2): duplicated-window
    // positions expand to covered token positions; kept tokens are
    // reassembled by ordered string_agg
    "q108_span_dedup_remove" ->
      ("WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, toks, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "sp AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM (" +
        "SELECT doc_id, unnest([{'pos': i, 'span': list_reduce(list_prepend(0::BIGINT, hs[i+1:i+8]), " +
        "(a, b) -> (a * 31 + b) % 1000000007)} for i in range(0, greatest(len(hs) - 7, 0))]) AS u FROM th) z), " +
        "d AS (SELECT span FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "rm AS (SELECT DISTINCT sp.doc_id, sp.pos + o.j AS rmpos FROM sp JOIN d USING(span) " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS j) o), " +
        "rmc AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM rm GROUP BY 1), " +
        "tp AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (" +
        "SELECT doc_id, unnest([{'i': i, 'tok': toks[i+1]} for i in range(0, len(toks))]) AS u FROM tok) z), " +
        "cl AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.i) AS cleaned " +
        "FROM tp LEFT JOIN rm ON rm.doc_id = tp.doc_id AND rm.rmpos = tp.i " +
        "WHERE rm.rmpos IS NULL GROUP BY 1) " +
        "SELECT tok.doc_id, len(tok.toks)::BIGINT AS n_tok, " +
        "coalesce(rmc.n_removed, 0)::BIGINT AS n_removed, coalesce(cl.cleaned, '') AS cleaned " +
        "FROM tok LEFT JOIN rmc USING(doc_id) LEFT JOIN cl USING(doc_id) ORDER BY tok.doc_id"),

    // mirrors q109's Q13 shape: left join keeps zero-order customers
    "q109_tpch_q13" ->
      ("WITH co AS (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count " +
        "FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority NOT LIKE '4-%') o " +
        "ON c.c_custkey = o.o_custkey GROUP BY 1) " +
        "SELECT c_count, count(*)::BIGINT AS custdist FROM co GROUP BY 1 " +
        "ORDER BY custdist DESC, c_count DESC"),

    // mirrors cdcChunkStats(width=4, modulus=16, minDf=2): window hashes →
    // boundary positions (0 < p < m, win % 16 = 0) → chunk id per token =
    // boundaries ≤ pos → per-chunk ordered fold ≡ CdcChunks' running fold
    "q110_cdc_chunks" ->
      ("WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "th AS (SELECT doc_id, [(('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) for t in toks] AS hs FROM tok), " +
        "win AS (SELECT doc_id, hs, [list_reduce(list_prepend(0::BIGINT, hs[i+1:i+4]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) for i in range(0, greatest(len(hs) - 3, 0))] AS ws FROM th), " +
        "bp AS (SELECT doc_id, hs, [i for i in range(1, greatest(len(hs) - 3, 0)) if ws[i+1] % 16 = 0] AS bs FROM win), " +
        "tp AS (SELECT doc_id, u.j AS j, u.h AS h, len([b for b in bs if b <= u.j]) AS cid FROM (" +
        "SELECT doc_id, bs, unnest([{'j': i, 'h': hs[i+1]} for i in range(0, len(hs))]) AS u FROM bp) z), " +
        "ch AS (SELECT doc_id, cid, list_reduce(list_prepend(0::BIGINT, list(h ORDER BY j)), " +
        "(a, b) -> (a * 31 + b) % 1000000007) AS chunk FROM tp GROUP BY 1, 2), " +
        "d AS (SELECT chunk FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), " +
        "nd AS (SELECT ch.doc_id, count(*)::BIGINT AS n_dup FROM ch JOIN d USING(chunk) GROUP BY 1), " +
        "tt AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM ch GROUP BY 1) " +
        "SELECT tt.doc_id, tt.n_chunks, coalesce(nd.n_dup, 0)::BIGINT AS n_dup, " +
        "round(coalesce(nd.n_dup, 0) / tt.n_chunks::DOUBLE, 6) AS dup_frac " +
        "FROM tt LEFT JOIN nd USING(doc_id) ORDER BY tt.doc_id"),

    // mirrors q111's staged conditional mins (strictly-after semantics)
    "q111_funnel" ->
      ("WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON e.user_id = v.user_id " +
        "WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON e.user_id = c.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1) " +
        "SELECT v.user_id, v.t_view, c.t_click, p.t_purchase, " +
        "p.t_purchase IS NOT NULL AS converted " +
        "FROM v LEFT JOIN c USING(user_id) LEFT JOIN p USING(user_id) ORDER BY v.user_id"),

    // mirrors bm25TopK(k1=1.2, b=0.75): same stat CTE + saturating form
    "q112_bm25" -> {
      val terms = Seq("spark", "query", "join")
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"len(regexp_extract_all(lower(text), '\\b$t\\b'))::DOUBLE AS tf$i"
      }.mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
      val score = terms.indices.map { i =>
        s"ln((s.n - s.df$i + 0.5) / (s.df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
          s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / s.avgdl))"
      }.mkString(" + ")
      s"WITH d AS (SELECT doc_id, len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE AS dl, $tfs FROM documents), " +
        s"s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfs FROM d) " +
        s"SELECT doc_id, round($score, 6) AS score FROM d, s " +
        "ORDER BY score DESC, doc_id LIMIT 10"
    },

    "q113_minhash_calibration" -> OraclesExt.minhashCalibration,

    "q114_ann_recall" -> OraclesExt.annRecall,

    "q117_source_overlap" -> OraclesExt.sourceOverlap,

    "q119_tpch_q4" ->
      ("SELECT o_orderpriority, count(*)::BIGINT AS order_count FROM orders " +
        "WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) " +
        "GROUP BY 1 ORDER BY 1"),

    // mirrors sourceScorecard: exact integer means; entropy folded over
    // lang-ordered per-language terms (list_reduce ≡ the array fold)
    "q118_source_scorecard" ->
      ("WITH b AS (SELECT source, lang, len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS tok, " +
        "n_chars FROM documents), " +
        "sl AS (SELECT source, lang, count(*)::BIGINT AS c, sum(tok)::BIGINT AS t, " +
        "sum(n_chars)::BIGINT AS ch FROM b GROUP BY 1, 2), " +
        "s AS (SELECT source, sum(c)::BIGINT AS n_docs, sum(t)::BIGINT AS tok, " +
        "sum(ch)::BIGINT AS chars, " +
        "list_reduce(list_prepend(0.0, list(c * ln(c::DOUBLE) ORDER BY lang)), " +
        "(a, b) -> a + b) AS sclnc FROM sl GROUP BY 1) " +
        "SELECT source, n_docs, round(tok * 1.0 / n_docs, 6) AS mean_tok, " +
        "round(chars * 1.0 / n_docs, 6) AS mean_chars, " +
        "round(ln(n_docs::DOUBLE) - sclnc / n_docs, 6) AS lang_entropy " +
        "FROM s ORDER BY source"),

    "q115_tpch_q16" ->
      ("SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_size IN (1, 5, 9, 13) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size"),

    // mirrors q116: lead() pairs per user → (from, to) counts → per-from
    // normalization (exact integer division in both engines)
    "q116_event_transitions" ->
      ("WITH pr AS (SELECT user_id, event_type AS from_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events), " +
        "c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM pr " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, " +
        "round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p " +
        "FROM c ORDER BY from_type, to_type"),

    // the merged store is batching-independent, so the oracle is the
    // plain lifetime aggregate + per-user latest event
    "q103_stream_merge_store" ->
      ("WITH agg AS (SELECT user_id, count(*)::BIGINT AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, ts AS last_ts, event_type AS last_type FROM (" +
        "SELECT user_id, ts, event_type, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1) " +
        "SELECT a.user_id, a.n_events, a.sum_value, l.last_ts, l.last_type " +
        "FROM agg a JOIN l ON a.user_id = l.user_id ORDER BY a.user_id"),

    "q120_tpch_q7" ->
      ("SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue " +
        "FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "year(l_shipdate)::BIGINT AS l_year, " +
        "l_extendedprice * (1 - l_discount) AS volume " +
        "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
        "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey " +
        "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey " +
        "AND c_nationkey = n2.n_nationkey " +
        "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) " +
        "AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    "q121_tpch_q8" ->
      ("SELECT o_year, round(sum(CASE WHEN nation = 'NATION_3' THEN volume " +
        "ELSE 0 END) / sum(volume), 6) AS mkt_share " +
        "FROM (SELECT year(o_orderdate)::BIGINT AS o_year, " +
        "l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation " +
        "FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region " +
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
        "AND l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey " +
        "AND p_type = 'PROMO') " +
        "GROUP BY 1 ORDER BY 1"),

    "q122_tpch_q10" ->
      ("SELECT c_custkey, c_name, " +
        "round(sum(round(l_extendedprice * (1 - l_discount) * 100)) / 100, 2) AS revenue, " +
        "c_acctbal, n_name " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    "q123_tpch_q12" ->
      ("SELECT l_linestatus, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 " +
        "ELSE 0 END)::BIGINT AS high_line_count, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 " +
        "ELSE 1 END)::BIGINT AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY " +
        "GROUP BY 1 ORDER BY 1"),

    "q124_tpch_q14" ->
      ("SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / " +
        "sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'"),

    "q125_tpch_q15" ->
      ("WITH revenue AS (SELECT l_suppkey, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue " +
        "FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' " +
        "AND l_shipdate < DATE '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue " +
        "FROM supplier JOIN revenue ON s_suppkey = l_suppkey " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue) " +
        "ORDER BY s_suppkey"),

    "q126_tpch_q17" ->
      ("SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#23' " +
        "AND l_quantity < (SELECT round(avg(l2.l_quantity) * 0.2, 6) " +
        "FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"),

    "q127_tpch_q19" ->
      ("SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 30)"),

    "q128_tpch_q21" ->
      ("SELECT s_name, count(*)::BIGINT AS numwait " +
        "FROM supplier, lineitem l1, orders " +
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey " +
        "AND o_orderstatus = 'F' " +
        "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"),

    "q129_tpch_q22" ->
      ("SELECT c_mktsegment AS segment, count(*)::BIGINT AS numcust, " +
        "round(sum(c_acctbal), 2) AS totacctbal " +
        "FROM customer " +
        "WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer " +
        "WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= DATE '1999-01-01') " +
        "GROUP BY 1 ORDER BY 1"),

    "q130_tpch_q2" ->
      ("WITH cost AS (SELECT p_partkey, p_brand, l_suppkey, " +
        "round(avg(l_extendedprice / l_quantity), 2) AS unit_cost " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_size = 15 GROUP BY 1, 2, 3) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost " +
        "FROM cost, supplier, nation, region " +
        "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND n_regionkey = r_regionkey AND r_name = 'EUROPE' " +
        "AND unit_cost = (SELECT min(c2.unit_cost) FROM cost c2 " +
        "WHERE c2.p_partkey = cost.p_partkey) " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),

    "q131_tpch_q11" ->
      ("WITH value AS (SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_5') " +
        "GROUP BY 1) " +
        "SELECT l_partkey, part_value FROM value " +
        "WHERE part_value > (SELECT round(sum(part_value) * 0.001, 6) FROM value) " +
        "ORDER BY part_value DESC, l_partkey"),

    "q132_tpch_q20" ->
      ("WITH li96 AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem " +
        "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
        "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')), " +
        "ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty " +
        "FROM li96 GROUP BY 1, 2), " +
        "h AS (SELECT l_partkey, round(sum(l_quantity) * 0.5, 6) AS half_qty " +
        "FROM li96 GROUP BY 1) " +
        "SELECT s_name, s_acctbal FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' " +
        "AND s_suppkey IN (SELECT ps.l_suppkey FROM ps JOIN h " +
        "ON ps.l_partkey = h.l_partkey WHERE ps.supp_qty > h.half_qty) " +
        "ORDER BY s_name"),

    // the 5 PageRank iterations unrolled as CTEs (recursive CTEs can't
    // re-aggregate per level); per-level round(…, 9) mirrors the Spark side
    "q133_pagerank" -> {
      val step = (k: Int) =>
        s"r$k AS (SELECT e.dst AS id, round(0.15 + 0.85 * " +
          s"sum(r.rank / d.outdeg), 9) AS rank FROM e " +
          s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
          "GROUP BY 1), "
      "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
        "1000000 + l_suppkey AS supp FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT cust AS src, supp AS dst FROM rel " +
        "UNION ALL SELECT supp, cust FROM rel), " +
        "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT DISTINCT src AS id, 1.0 AS rank FROM e), " +
        (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT id AS node_id, round(rank, 6) AS rank FROM r5 " +
        "ORDER BY rank DESC, node_id LIMIT 100"
    },

    "q134_cluster_safe_split" -> OraclesExt.clusterSafeSplit,

    // same Efraimidis–Spirakis key: hash-derived u ∈ (0,1], ln(u)/weight,
    // 9dp-rounded before the rank so libm ulp differences can't reorder
    "q135_weighted_sample" ->
      ("WITH d AS (SELECT lang, doc_id, " +
        "round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT " +
        "% 1000000000 + 1) / 1000000000.0) / n_chars, 9) AS es_key " +
        "FROM documents), " +
        "r AS (SELECT lang, doc_id, es_key, row_number() OVER (" +
        "PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn FROM d) " +
        "SELECT lang, doc_id, es_key FROM r WHERE rn <= 20 " +
        "ORDER BY lang, doc_id"),

    // same 60-bit-hash registers, same bucket-ordered fold, same
    // small-range correction; 2^-r terms are exact doubles so the only
    // float care is the fold order (list() ORDER BY bucket)
    "q136_hll_distinct" ->
      ("WITH v AS (SELECT event_type, user_id::VARCHAR || ':' || " +
        "strftime(ts, '%Y-%m-%d') AS val FROM events), " +
        "d AS (SELECT DISTINCT event_type, val FROM v), " +
        "h AS (SELECT event_type, ('0x' || substr(md5(val), 1, 15))::BIGINT AS hh FROM d), " +
        "b AS (SELECT event_type, hh % 256 AS bucket, " +
        "CASE WHEN hh // 256 = 0 THEN 53 ELSE 53 - length(bin(hh // 256)) END AS rho FROM h), " +
        "r AS (SELECT event_type, bucket, max(rho) AS mr FROM b GROUP BY 1, 2), " +
        "s AS (SELECT event_type, count(*) AS n_present, " +
        "list_reduce(list_prepend(0.0, list(pow(2.0, -mr) ORDER BY bucket)), " +
        "(a, b) -> a + b) AS sum_present FROM r GROUP BY 1), " +
        "e AS (SELECT event_type, 256 - n_present AS v_zero, " +
        "(0.7213 / (1 + 1.079 / 256)) * 65536 / (sum_present + (256 - n_present)) AS e_raw FROM s), " +
        "x AS (SELECT event_type, count(DISTINCT val)::BIGINT AS n_exact FROM v GROUP BY 1) " +
        "SELECT x.event_type, x.n_exact, " +
        "round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) AS hll_est, " +
        "round(abs(round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) - n_exact) / n_exact, 6) AS rel_err " +
        "FROM x JOIN e ON x.event_type = e.event_type ORDER BY 1"),

    "q137_attribution" ->
      ("WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, value " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id, " +
        "'c' || (json_extract(props, '$.k')::BIGINT % 5) AS campaign " +
        "FROM events WHERE event_type = 'click'), " +
        "pr AS (SELECT p.p_id, p.value, c.campaign, " +
        "row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_ts, c.c_id) AS rn_f, " +
        "row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_ts DESC, c.c_id DESC) AS rn_l, " +
        "count(*) OVER (PARTITION BY p.p_id) AS n_clicks " +
        "FROM p JOIN c ON p.user_id = c.c_user AND c.c_ts <= p.p_ts " +
        "AND c.c_ts > p.p_ts - INTERVAL 7 DAY) " +
        "SELECT campaign, " +
        "sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first, " +
        "round(sum(CASE WHEN rn_f = 1 THEN value ELSE 0 END), 2) AS first_touch_value, " +
        "round(sum(CASE WHEN rn_l = 1 THEN value ELSE 0 END), 2) AS last_touch_value, " +
        "round(sum(value / n_clicks), 2) AS linear_value " +
        "FROM pr GROUP BY 1 ORDER BY 1"),

    "q138_retention" ->
      ("WITH ev AS (SELECT user_id, date_trunc('week', ts)::DATE AS wk FROM events), " +
        "f AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, wk FROM ev), " +
        "j AS (SELECT f.cohort, date_diff('day', f.cohort, a.wk) // 7 AS week_offset " +
        "FROM a JOIN f ON a.user_id = f.user_id), " +
        "cnt AS (SELECT cohort, week_offset, count(*)::BIGINT AS n_users " +
        "FROM j GROUP BY 1, 2), " +
        "sz AS (SELECT cohort, week_offset, n_users, " +
        "max(CASE WHEN week_offset = 0 THEN n_users END) " +
        "OVER (PARTITION BY cohort) AS cohort_size FROM cnt) " +
        "SELECT cohort, week_offset, n_users, " +
        "round(n_users * 1.0 / cohort_size, 6) AS retention " +
        "FROM sz ORDER BY cohort, week_offset"),

    // XML round trip is storage-level identity: the oracle aggregates the
    // source parquet directly
    "q139_xml_roundtrip" ->
      ("SELECT p_brand, count(*)::BIGINT AS n, " +
        "round(sum(p_retailprice), 2) AS sum_price " +
        "FROM part GROUP BY 1 ORDER BY 1"),

    // per key column: stats over the per-key count table + ordered
    // heavy-hitter agg (quantile_cont ≡ Spark's interpolating percentile)
    "q140_skew_profile" -> {
      val prof = (label: String, table: String, key: String) =>
        s"(WITH c AS (SELECT $key::VARCHAR AS k, count(*) AS cnt " +
          s"FROM $table GROUP BY 1), " +
          "s AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows, " +
          "max(cnt)::BIGINT AS max_cnt, round(quantile_cont(cnt, 0.99), 6) AS p99_cnt, " +
          "round(sum(cnt) * 1.0 / count(*), 6) AS mean_cnt, " +
          "round(max(cnt) / (sum(cnt) * 1.0 / count(*)), 6) AS skew_factor FROM c), " +
          "t AS (SELECT string_agg(k || ':' || cnt, ';' ORDER BY cnt DESC, k) AS top_keys " +
          "FROM (SELECT k, cnt FROM c ORDER BY cnt DESC, k LIMIT 5)) " +
          s"SELECT '$label' AS key_col, s.n_keys, s.n_rows, s.max_cnt, " +
          "s.p99_cnt, s.mean_cnt, s.skew_factor, t.top_keys FROM s, t)"
      prof("user_id", "events", "user_id") + " UNION ALL " +
        prof("l_orderkey", "lineitem", "l_orderkey") + " UNION ALL " +
        prof("source", "documents", "source") + " ORDER BY key_col"
    },

    // streaming registers ≡ batch registers (max is merge-order-free), so
    // the oracle is the q136 estimator without the exact/error columns
    "q141_stream_hll" ->
      ("WITH v AS (SELECT event_type, user_id::VARCHAR || ':' || " +
        "strftime(ts, '%Y-%m-%d') AS val FROM events), " +
        "d AS (SELECT DISTINCT event_type, val FROM v), " +
        "h AS (SELECT event_type, ('0x' || substr(md5(val), 1, 15))::BIGINT AS hh FROM d), " +
        "b AS (SELECT event_type, hh % 256 AS bucket, " +
        "CASE WHEN hh // 256 = 0 THEN 53 ELSE 53 - length(bin(hh // 256)) END AS rho FROM h), " +
        "r AS (SELECT event_type, bucket, max(rho) AS mr FROM b GROUP BY 1, 2), " +
        "s AS (SELECT event_type, count(*) AS n_present, " +
        "list_reduce(list_prepend(0.0, list(pow(2.0, -mr) ORDER BY bucket)), " +
        "(a, b) -> a + b) AS sum_present FROM r GROUP BY 1), " +
        "e AS (SELECT event_type, 256 - n_present AS v_zero, " +
        "(0.7213 / (1 + 1.079 / 256)) * 65536 / (sum_present + (256 - n_present)) AS e_raw FROM s) " +
        "SELECT event_type, round(CASE WHEN e_raw <= 640 AND v_zero > 0 " +
        "THEN 256 * ln(256.0 / v_zero) ELSE e_raw END, 6) AS hll_est " +
        "FROM e ORDER BY 1"),

    "q142_corpus_pipeline" -> OraclesExt.corpusPipeline,

    // 4 unrolled LPA rounds; the (count DESC, label) tie-break mirrors
    // the Spark window exactly
    "q143_label_propagation" -> {
      val step = (k: Int) =>
        s"l$k AS (SELECT dst AS id, label FROM (" +
          "SELECT e.dst, l.label, count(*) AS n, " +
          "row_number() OVER (PARTITION BY e.dst " +
          "ORDER BY count(*) DESC, l.label) AS rn " +
          s"FROM e JOIN l${k - 1} l ON l.id = e.src GROUP BY e.dst, l.label) " +
          "WHERE rn = 1), "
      "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
        "1000000 + l_suppkey AS supp FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT cust AS src, supp AS dst FROM rel " +
        "UNION ALL SELECT supp, cust FROM rel), " +
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM e), " +
        (1 to 4).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT label, count(*)::BIGINT AS n_members FROM l4 " +
        "GROUP BY 1 ORDER BY 1"
    },

    "q146_bloom_decontam" -> OraclesExt.bloomDecontam,

    // per-key generate_series spine + IGNORE NULLS running last
    "q149_gapfill_ffill" ->
      ("WITH o AS (SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT user_id, unnest(generate_series(min(day), max(day), " +
        "INTERVAL 1 DAY))::DATE AS day FROM o GROUP BY user_id), " +
        "j AS (SELECT sp.user_id, sp.day, o.v FROM sp " +
        "LEFT JOIN o USING (user_id, day)) " +
        "SELECT user_id, day, v, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS v_filled, (v IS NULL) AS is_gap " +
        "FROM j ORDER BY 1, 2"),

    "q150_inverted_index" -> OraclesExt.invertedIndex,
    "q151_phrase_search" -> OraclesExt.phraseSearch,

    // 3 unrolled min-merge rounds from the seed suppliers
    "q147_bfs_distances" -> {
      val step = (k: Int) =>
        s"d$k AS (SELECT id, min(dist) AS dist FROM (" +
          s"SELECT * FROM d${k - 1} UNION ALL " +
          s"SELECT e.dst, d.dist + 1 FROM e JOIN d${k - 1} d ON d.id = e.src) " +
          "GROUP BY 1), "
      "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
        "1000000 + l_suppkey AS supp FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT cust AS src, supp AS dst FROM rel " +
        "UNION ALL SELECT supp, cust FROM rel), " +
        "d0 AS (SELECT 1000000 + s_suppkey AS id, 0 AS dist FROM supplier " +
        "WHERE s_suppkey % 10 = 0), " +
        (1 to 3).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT id, dist::BIGINT AS dist FROM d3 ORDER BY id"
    },

    // id-ordered triangle enumeration ≡ the degree-oriented count (both
    // enumerate each triangle exactly once)
    "q148_triangles" ->
      ("WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
        "GROUP BY 1, 2), " +
        "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "d AS (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e0 " +
        "UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "tri AS (SELECT count(*)::BIGINT AS n_triangles FROM e0 x " +
        "JOIN e0 y ON x.a = y.a AND x.b < y.b " +
        "JOIN e0 z ON z.a = x.b AND z.b = y.b), " +
        "ns AS (SELECT count(*)::BIGINT AS n_nodes, " +
        "sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges FROM d), " +
        "es AS (SELECT count(*)::BIGINT AS n_edges FROM e0) " +
        "SELECT ns.n_nodes, es.n_edges, ns.n_wedges, tri.n_triangles, " +
        "round(3.0 * tri.n_triangles / ns.n_wedges, 6) AS global_clustering " +
        "FROM ns, es, tri"),

    // same permute constants as Hashing.permute; counters then probes
    "q144_cms_heavy_hitters" -> cmsOracle,
    // streaming counters ≡ batch counters (sums merge across batches)
    "q153_stream_cms" -> cmsOracle,

    // 11 unrolled Hilbert steps (rotate/reflect state per bit) + the
    // Morton interleave; identical half-bucket-offset cuts and extent
    // aggregates (x0/y0 = the original point, x/y = the rotating frame)
    "q161_hilbert_layout" -> {
      val z = (0 until 11).map(i =>
        s"(((x0 >> $i) & 1) << ${2 * i}) + (((y0 >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      val steps = (0 until 11).map { k =>
        val s = 1L << (10 - k)
        s"h${k + 1} AS (SELECT x0, y0, " +
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) " +
          "ELSE x END AS x, " +
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) " +
          "ELSE y END AS y, " +
          s"d + ${s * s} * xor(3 * rx, ry) AS d " +
          s"FROM (SELECT *, CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx, " +
          s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$k)), "
      }.mkString
      "WITH pts AS (SELECT (l_partkey % 2048)::BIGINT AS x0, " +
        "(l_orderkey % 2048)::BIGINT AS y0 FROM lineitem), " +
        "h0 AS (SELECT x0, y0, x0 AS x, y0 AS y, 0::BIGINT AS d FROM pts), " +
        steps +
        "hb AS (SELECT ((d + 32768) >> 16) AS b, x0, y0 FROM h11), " +
        s"zb AS (SELECT ((($z) + 32768) >> 16) AS b, x0, y0 FROM pts), " +
        "he AS (SELECT b, max(x0) - min(x0) AS xe, max(y0) - min(y0) AS ye " +
        "FROM hb GROUP BY 1), " +
        "ze AS (SELECT b, max(x0) - min(x0) AS xe, max(y0) - min(y0) AS ye " +
        "FROM zb GROUP BY 1) " +
        "SELECT 'hilbert' AS curve, count(*)::BIGINT AS n_buckets, " +
        "round(avg(xe), 6) AS avg_x_extent, round(avg(ye), 6) AS avg_y_extent, " +
        "max(xe)::BIGINT AS max_x_extent, max(ye)::BIGINT AS max_y_extent FROM he " +
        "UNION ALL SELECT 'morton', count(*)::BIGINT, round(avg(xe), 6), " +
        "round(avg(ye), 6), max(xe)::BIGINT, max(ye)::BIGINT FROM ze " +
        "ORDER BY curve"
    },

    // prefix filtering is EXACT (no false negatives at the threshold), so
    // the oracle is literally q13's all-pairs formulation — the strongest
    // possible check that the candidate pruning drops nothing
    "q162_dedup_prefix_filter" -> OraclesExt.dedupJaccard,

    // the 3 GD steps unrolled as CTEs g1→g2→g3, each re-reading the
    // feature CTE with the previous 1-row weights cross-joined — the
    // identical formulation (min() over the constant weight columns, the
    // same left-assoc z), so both engines walk the same float path
    "q163_logreg_quality" -> OraclesExt.logregQuality,

    // same moment formulation verbatim (covar_pop/var_pop/corr), x
    // re-based identically; epoch() keeps microseconds as a fractional
    // double exactly like Spark's timestamp→double cast
    "q164_trend" -> OraclesExt.eventTrend,

    // two-stage partials (each 2dp-rounded) added without re-rounding —
    // mirrored exactly, so the float add is bit-identical
    "q159_additive_merge" ->
      ("WITH s AS (SELECT o_custkey, count(*)::BIGINT AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1), " +
        "d AS (SELECT o_custkey, count(*)::BIGINT AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1) " +
        "SELECT coalesce(s.o_custkey, d.o_custkey) AS o_custkey, " +
        "coalesce(s.n_orders, 0) + coalesce(d.n_orders, 0) AS n_orders, " +
        "coalesce(s.sum_price, 0) + coalesce(d.sum_price, 0) AS sum_price " +
        "FROM s FULL JOIN d ON s.o_custkey = d.o_custkey ORDER BY 1"),

    "q160_fk_audit" -> {
      val audit = (name: String, child: String, key: String,
          parent: String, pkey: String) =>
        s"(SELECT '$name' AS fk, count(*)::BIGINT AS n_rows, " +
          s"count(DISTINCT $key)::BIGINT AS n_keys, " +
          s"count(*) FILTER (WHERE $pkey IS NULL)::BIGINT AS n_orphan_rows, " +
          s"count(DISTINCT $key) FILTER (WHERE $pkey IS NULL)::BIGINT " +
          s"AS n_orphan_keys FROM $child LEFT JOIN $parent ON $key = $pkey)"
      audit("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey") +
        " UNION ALL " +
        audit("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey") +
        " UNION ALL " +
        audit("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey") +
        " UNION ALL " +
        audit("orders.custkey", "orders", "o_custkey", "customer", "c_custkey") +
        " ORDER BY fk"
    },

    // same 1024-bin grid + cumulative fold + interpolation arithmetic;
    // exact side is quantile_cont ≡ Spark's interpolated percentile()
    "q156_histogram_quantiles" ->
      ("WITH b AS (SELECT min(l_extendedprice)::DOUBLE AS lo, " +
        "max(l_extendedprice)::DOUBLE AS hi, count(*)::BIGINT AS n FROM lineitem), " +
        "bb AS (SELECT CASE WHEN b.hi = b.lo THEN 0 ELSE least(1023, " +
        "floor((l_extendedprice - b.lo) / ((b.hi - b.lo) / 1024))::INT) END AS bin " +
        "FROM lineitem, b), " +
        "c AS (SELECT bin, count(*)::BIGINT AS cnt FROM bb GROUP BY 1), " +
        "cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM c), " +
        "p AS (SELECT unnest([0.5, 0.9, 0.99]) AS p), " +
        "sel AS (SELECT p.p, b.lo, b.hi, b.n, min(cc.bin) AS bin " +
        "FROM p CROSS JOIN b CROSS JOIN cc " +
        "WHERE cc.cum >= p.p * b.n GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT s.p, round(CASE WHEN s.hi = s.lo THEN s.lo ELSE s.lo + " +
        "((s.hi - s.lo) / 1024) * (s.bin + (s.p * s.n - (cc.cum - cc.cnt)) / cc.cnt) " +
        "END, 6) AS hq_est FROM sel s JOIN cc ON cc.bin = s.bin), " +
        "x0 AS (SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS q1, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS q2, " +
        "round(quantile_cont(l_extendedprice, 0.99), 6) AS q3 FROM lineitem), " +
        "x AS (SELECT unnest([0.5, 0.9, 0.99]) AS p, " +
        "unnest([q1, q2, q3]) AS exact FROM x0) " +
        "SELECT f.p, f.hq_est, x.exact, round(abs(f.hq_est - x.exact), 6) " +
        "AS abs_err FROM f JOIN x USING (p) ORDER BY p"),

    // block equi-join + levenshtein residual, identical semantics
    "q157_fuzzy_link" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name)::INT AS dist " +
        "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey " +
        "AND a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2 ORDER BY 1, 2"),

    // same total order inside each segment
    "q158_window_distribution" ->
      ("SELECT c_custkey, c_mktsegment, c_acctbal, " +
        "ntile(4) OVER w AS quartile, " +
        "round(percent_rank() OVER w, 6) AS pct_rank, " +
        "round(cume_dist() OVER w, 6) AS cume " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY c_acctbal, c_custkey) ORDER BY c_custkey"),

    // leave-current-out trailing window; μ/σ rounded before the division
    "q154_anomaly_zscore" ->
      ("WITH o AS (SELECT user_id, ts::DATE AS day, round(sum(value), 2) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT user_id, day, v, round(avg(v) OVER win, 6) AS mu, " +
        "round(stddev_samp(v) OVER win, 6) AS sigma, count(v) OVER win AS n " +
        "FROM o WINDOW win AS (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, day, v, mu, sigma, CASE WHEN sigma > 0 " +
        "THEN round((v - mu) / sigma, 6) END AS zscore " +
        "FROM w WHERE n >= 4 AND ((sigma > 0 " +
        "AND abs(round((v - mu) / sigma, 6)) >= 2) " +
        "OR (sigma = 0 AND v <> mu)) ORDER BY 1, 2"),

    // 3 unrolled peel rounds (degree < 4 deleted with its edges)
    "q155_kcore" -> {
      val peel = (r: Int) =>
        s"k$r AS (SELECT src FROM s${r - 1} GROUP BY src HAVING count(*) >= 4), " +
          s"s$r AS (SELECT s.src, s.dst FROM s${r - 1} s " +
          s"JOIN k$r x ON s.src = x.src JOIN k$r y ON s.dst = y.src), "
      "WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
        "GROUP BY 1, 2), " +
        "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "s0 AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        (1 to 3).map(peel).mkString.stripSuffix(", ") + " " +
        "SELECT src AS node, count(*)::BIGINT AS deg FROM s3 " +
        "GROUP BY 1 ORDER BY 1"
    },

    // the upsert's change feed: pre/post pairs for real changes, insert
    // rows for unseen keys, silence for no-op updates
    "q152_cdc_merge" ->
      ("WITH t AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0), " +
        "u AS (SELECT o_orderkey, CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice " +
        "ELSE o_totalprice + 1000.0 END AS new_price, " +
        "CASE WHEN o_orderkey % 4 = 0 THEN o_orderstatus ELSE 'U' END AS new_status " +
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "m AS (SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice, " +
        "t.o_orderdate, t.o_orderpriority, u.new_price, u.new_status " +
        "FROM t JOIN u USING (o_orderkey) " +
        "WHERE u.new_price IS DISTINCT FROM t.o_totalprice " +
        "OR u.new_status IS DISTINCT FROM t.o_orderstatus) " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
        "o_orderpriority, 'update_preimage' AS _change_type FROM m " +
        "UNION ALL SELECT o_orderkey, o_custkey, new_status, new_price, " +
        "o_orderdate, o_orderpriority, 'update_postimage' FROM m " +
        "UNION ALL SELECT u.o_orderkey, NULL, u.new_status, u.new_price, " +
        "NULL, NULL, 'insert' FROM u " +
        "WHERE u.o_orderkey NOT IN (SELECT o_orderkey FROM t) " +
        "ORDER BY o_orderkey, _change_type"),

    // bottom-64 distinct hashes per group; (k-1)*2^60/h_(k) estimator
    "q145_kmv_distinct" ->
      ("WITH v AS (SELECT event_type, user_id::VARCHAR || ':' || " +
        "strftime(ts, '%Y-%m-%d') AS val FROM events), " +
        "a AS (SELECT * FROM v UNION ALL SELECT '__all__', val FROM v), " +
        "d AS (SELECT DISTINCT event_type, " +
        "('0x' || substr(md5(val), 1, 15))::BIGINT AS h FROM a), " +
        "r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY h) AS rn FROM d), " +
        "s AS (SELECT event_type, count(*)::BIGINT AS n_kept, max(h) AS kth " +
        "FROM r WHERE rn <= 64 GROUP BY 1), " +
        "x AS (SELECT event_type, count(DISTINCT val)::BIGINT AS exact_distinct " +
        "FROM a GROUP BY 1) " +
        "SELECT s.event_type, s.n_kept, " +
        "CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END AS kmv_est, " +
        "x.exact_distinct, " +
        "round(abs(CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END " +
        "- x.exact_distinct) / x.exact_distinct, 6) AS rel_err " +
        "FROM s JOIN x USING (event_type) ORDER BY event_type"),

    // same basket-key self-join pair space, ≤12-item baskets, margins and
    // totals over the SAME kept universe
    "q165_copurchase_lift" ->
      ("WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it " +
        "FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
        "sz AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= 12), " +
        "k AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)), " +
        "n AS (SELECT count(DISTINCT bk)::BIGINT AS nb FROM k), " +
        "ic AS (SELECT it, count(*)::BIGINT AS ni FROM k GROUP BY 1), " +
        "pc AS (SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS n_ab " +
        "FROM k x JOIN k y ON x.bk = y.bk AND x.it < y.it " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT item_a, item_b, n_ab, a.ni AS n_a, c.ni AS n_b, " +
        "round(n_ab::DOUBLE / nb, 6) AS support, " +
        "round(n_ab::DOUBLE / a.ni, 6) AS conf_a_b, " +
        "round((n_ab * nb)::DOUBLE / (a.ni * c.ni), 6) AS lift " +
        "FROM pc CROSS JOIN n " +
        "JOIN ic a ON pc.item_a = a.it JOIN ic c ON pc.item_b = c.it " +
        "ORDER BY item_a, item_b"),

    // ±1 deltas summed per unique instant, then one running sum per key;
    // peak_at = earliest instant attaining the per-key max
    "q166_interval_concurrency" ->
      ("WITH iv AS (SELECT event_type AS k, ts AS s, " +
        "ts + to_seconds((300 + floor(value))::BIGINT) AS e FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL " +
        // e > s: Temporal.maxConcurrency drops non-positive-duration
        // intervals; both sides must share the degenerate-interval contract
        "AND (300 + floor(value)) > 0), " +
        "d AS (SELECT k, s AS t, 1 AS d FROM iv " +
        "UNION ALL SELECT k, e, -1 FROM iv), " +
        "g AS (SELECT k, t, sum(d)::BIGINT AS d FROM d GROUP BY 1, 2), " +
        "r AS (SELECT k, t, sum(d) OVER (PARTITION BY k ORDER BY t " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS open FROM g), " +
        "p AS (SELECT k, t, open, max(open) OVER (PARTITION BY k) AS mx FROM r) " +
        "SELECT k AS event_type, mx AS peak, min(t) AS peak_at " +
        "FROM p WHERE open = mx GROUP BY 1, 2 ORDER BY 1"),

    // trailing-12 decay dot product via a bounded rn-range self-join —
    // the independent formulation of the window-fold; closed-form
    // geometric denominator
    "q167_ewma" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
        "avg(value) AS v FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2), " +
        "r AS (SELECT event_type, hr, v, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY hr) AS rn FROM h) " +
        "SELECT a.event_type, a.hr, round(a.v, 6) AS v, " +
        "round(sum(b.v * power(0.7, a.rn - b.rn)) * 0.3 " +
        "/ (1 - power(0.7, count(*))), 6) AS ewma " +
        "FROM r a JOIN r b ON a.event_type = b.event_type " +
        "AND b.rn BETWEEN a.rn - 11 AND a.rn " +
        "GROUP BY a.event_type, a.hr, a.rn, a.v ORDER BY 1, 2"),

    // full margin cross grid (zero-observed cells carry χ² mass too);
    // expected = exact integer margin product cast to DOUBLE before the
    // divide (matches Spark's long·long/long); dof via scalar subqueries
    "q168_chisq" ->
      ("WITH c AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS observed " +
        "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "rm AS (SELECT a, sum(observed)::BIGINT AS ra FROM c GROUP BY 1), " +
        "cm AS (SELECT b, sum(observed)::BIGINT AS cb FROM c GROUP BY 1), " +
        "g AS (SELECT rm.a, cm.b, coalesce(c.observed, 0)::BIGINT AS observed, " +
        "round((ra * cb)::DOUBLE / (SELECT sum(observed) FROM c)::DOUBLE, 6) " +
        "AS expected FROM rm CROSS JOIN cm " +
        "LEFT JOIN c ON c.a = rm.a AND c.b = cm.b), " +
        "f AS (SELECT a, b, observed, expected, " +
        "round(power(observed - expected, 2) / expected, 6) AS contrib FROM g) " +
        "SELECT a, b, observed, expected, contrib, " +
        "round(sum(contrib) OVER (), 6) AS chi2, " +
        "(((SELECT count(DISTINCT a) FROM c) - 1) " +
        "* ((SELECT count(DISTINCT b) FROM c) - 1))::BIGINT AS dof " +
        "FROM f ORDER BY a, b"),

    // equal-width 10-bin WOE with Laplace ½-smoothing; label = customer
    // placed ≥1 order
    "q169_woe_iv" ->
      ("WITH f AS (SELECT c_acctbal::DOUBLE AS f, " +
        "(o.ck IS NOT NULL) AS y FROM customer LEFT JOIN " +
        "(SELECT DISTINCT o_custkey AS ck FROM orders) o ON c_custkey = o.ck " +
        "WHERE c_acctbal IS NOT NULL), " +
        "b AS (SELECT min(f) AS lo, max(f) AS hi FROM f), " +
        "bn AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, " +
        "floor((f - lo) / ((hi - lo) / 10)))::INT END AS bin, " +
        "lo, (hi - lo) / 10 AS w, y FROM f CROSS JOIN b), " +
        "p AS (SELECT bin, round(lo + bin * w, 6) AS bin_lo, " +
        "count(*)::BIGINT AS n, " +
        "sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos, " +
        "sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n_neg " +
        "FROM bn GROUP BY 1, 2), " +
        "q AS (SELECT bin, bin_lo, n, n_pos, n_neg, " +
        "(n_pos + 0.5) / (sum(n_pos) OVER () + 0.5 * count(*) OVER ()) AS pr, " +
        "(n_neg + 0.5) / (sum(n_neg) OVER () + 0.5 * count(*) OVER ()) AS nr " +
        "FROM p) " +
        "SELECT bin, bin_lo, n, n_pos, n_neg, round(ln(pr / nr), 6) AS woe, " +
        "round((pr - nr) * ln(pr / nr), 6) AS iv_contrib, " +
        "round(sum(round((pr - nr) * ln(pr / nr), 6)) OVER (), 6) AS iv " +
        "FROM q ORDER BY bin"),

    // full-frame first/last in (ts, event_id) order, then one hash-agg
    "q170_ohlc" ->
      ("WITH e AS (SELECT event_type, ts::DATE AS day, value AS v, ts, " +
        "event_id FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "w AS (SELECT event_type, day, v, first_value(v) OVER win AS o, " +
        "last_value(v) OVER win AS c FROM e WINDOW win AS " +
        "(PARTITION BY event_type, day ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
        "SELECT event_type, day, min(o) AS open, max(v) AS high, " +
        "min(v) AS low, min(c) AS close, count(*)::BIGINT AS n " +
        "FROM w GROUP BY 1, 2 ORDER BY 1, 2"),

    // trailing-24 Pearson r over the aligned hourly pair, ≥12 pairs
    "q171_rolling_corr" ->
      ("WITH h AS (SELECT date_trunc('hour', ts) AS hr, " +
        "avg(CASE WHEN event_type = 'click' THEN value END) AS x, " +
        "avg(CASE WHEN event_type = 'view' THEN value END) AS y " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1), " +
        "r AS (SELECT hr, x, y, count(CASE WHEN x IS NOT NULL " +
        "AND y IS NOT NULL THEN 1 END) OVER win AS n_pairs, " +
        "round(corr(x, y) OVER win, 6) AS rc FROM h WINDOW win AS " +
        "(ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT hr, round(x, 6) AS x, round(y, 6) AS y, n_pairs, " +
        "CASE WHEN n_pairs >= 12 THEN rc END AS roll_corr " +
        "FROM r WHERE n_pairs >= 12 ORDER BY hr"),

    // duration grid + suffix-sum at-risk + exp-sum-ln running product;
    // the d = n_risk arm pinned to exactly 0 on both engines
    "q172_survival" ->
      ("WITH u AS (SELECT user_id, event_type, min(ts::DATE) AS f, " +
        "max(ts::DATE) AS l FROM events GROUP BY 1, 2), " +
        "mx AS (SELECT max(l) AS m FROM u), " +
        "s AS (SELECT date_diff('day', f, l) AS t, (l < m - 7) AS e " +
        "FROM u CROSS JOIN mx), " +
        "g AS (SELECT t, count(*)::BIGINT AS n_subjects, " +
        "sum(CASE WHEN e THEN 1 ELSE 0 END)::BIGINT AS d FROM s GROUP BY 1), " +
        "r AS (SELECT t, n_subjects, d, sum(n_subjects) OVER " +
        "(ORDER BY t DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk FROM g) " +
        "SELECT t, n_subjects, d, n_risk, " +
        "CASE WHEN min(n_risk - d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) > 0 " +
        "THEN round(exp(sum(CASE WHEN d < n_risk " +
        "THEN ln(1 - d::DOUBLE / n_risk) END) OVER " +
        "(ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) ELSE 0.0 END AS survival " +
        "FROM r ORDER BY t"),

    // broadcast lag dimension × shifted-instant equi-join (interval
    // shift vs Spark's epoch arithmetic — independent alignments)
    "q173_lag_corr" ->
      ("WITH h AS (SELECT date_trunc('hour', ts) AS hr, " +
        "avg(CASE WHEN event_type = 'click' THEN value END) AS x, " +
        "avg(CASE WHEN event_type = 'view' THEN value END) AS y " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1), " +
        "l AS (SELECT unnest(range(-6, 7))::INT AS lag), " +
        "j AS (SELECT l.lag, a.x AS x, b.y AS y FROM h a CROSS JOIN l " +
        "JOIN h b ON b.hr = a.hr + to_hours(l.lag::BIGINT) " +
        "WHERE a.x IS NOT NULL AND b.y IS NOT NULL) " +
        "SELECT lag, count(*)::BIGINT AS n, " +
        "CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0 THEN " +
        "round(covar_pop(x, y) / sqrt(var_pop(x) * var_pop(y)), 6) END AS r " +
        "FROM j GROUP BY 1 ORDER BY 1"),

    // leading digit from the string rendering on both engines (the
    // scientific-notation mantissa digit IS the significant digit)
    "q174_benford" ->
      ("WITH d AS (SELECT regexp_extract(l_extendedprice::VARCHAR, '[1-9]') " +
        "AS ds FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_extendedprice <> 0), " +
        "c AS (SELECT ds::INT AS digit, count(*)::BIGINT AS n FROM d " +
        "WHERE ds <> '' GROUP BY 1), " +
        "e AS (SELECT digit, n, " +
        "round(n::DOUBLE / sum(n) OVER (), 6) AS obs_share, " +
        "round(log10(1 + 1.0 / digit), 6) AS benford_share FROM c), " +
        "f AS (SELECT digit, n, obs_share, benford_share, " +
        "round(abs(obs_share - benford_share), 6) AS abs_dev FROM e) " +
        "SELECT digit, n, obs_share, benford_share, abs_dev, " +
        "round(avg(abs_dev) OVER (), 6) AS mad_total FROM f ORDER BY digit"),

    // exact interpolated medians (quantile_cont ≡ Spark percentile),
    // 6dp-rounded before the division; MAD = 0 flags any deviation
    "q175_mad_outliers" ->
      ("WITH m AS (SELECT event_type, " +
        "round(quantile_cont(value, 0.5), 6) AS med FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1), " +
        "j AS (SELECT e.event_id, e.event_type, e.value, m.med FROM events e " +
        "JOIN m USING (event_type) WHERE e.value IS NOT NULL), " +
        "md AS (SELECT event_type, " +
        "round(quantile_cont(abs(value - med), 0.5), 6) AS mad FROM j " +
        "GROUP BY 1), " +
        "x AS (SELECT j.event_id, j.event_type, j.value, j.med, md.mad, " +
        "CASE WHEN md.mad > 0 THEN " +
        "round(0.6745 * (j.value - j.med) / md.mad, 6) END AS mz " +
        "FROM j JOIN md USING (event_type)) " +
        "SELECT event_id, event_type, value, med, mad, mz FROM x " +
        "WHERE (mad > 0 AND abs(mz) >= 3.5) OR (mad = 0 AND value <> med) " +
        "ORDER BY event_id"),

    // hash60 % 2 arm split (bit-identical to Spark's pmod(hash60, 2));
    // one conditional-moment aggregate, Welch–Satterthwaite df
    "q176_ab_test" ->
      ("WITH e AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))" +
        "::BIGINT % 2 AS arm, value AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "a AS (SELECT count(CASE WHEN arm = 0 THEN 1 END)::BIGINT AS n_a, " +
        "count(CASE WHEN arm = 1 THEN 1 END)::BIGINT AS n_b, " +
        "avg(CASE WHEN arm = 0 THEN v END) AS ma, " +
        "avg(CASE WHEN arm = 1 THEN v END) AS mb, " +
        "var_samp(CASE WHEN arm = 0 THEN v END) AS va, " +
        "var_samp(CASE WHEN arm = 1 THEN v END) AS vb FROM e) " +
        "SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, " +
        "round(va, 6) AS var_a, round(vb, 6) AS var_b, " +
        "round((ma - mb) / sqrt(va/n_a + vb/n_b), 6) AS t_stat, " +
        "round(power(va/n_a + vb/n_b, 2) / " +
        "(power(va/n_a, 2)/(n_a - 1) + power(vb/n_b, 2)/(n_b - 1)), 6) " +
        "AS df_welch, " +
        "(round(abs((ma - mb) / sqrt(va/n_a + vb/n_b)), 6) >= 1.96) " +
        "AS significant FROM a"),

    "q177_calibration" -> OraclesExt.logregCalibration,

    // reference-range bins, clamped current, ½-smoothed shares, bin spine
    "q178_psi_drift" -> psiDriftOracle,

    "q179_auc" -> OraclesExt.logregAuc,

    // contingency windows; ln of the exact integer ratio cast once;
    // NMI from the already-rounded totals (matches Spark's column reuse)
    "q180_mutual_info" ->
      ("WITH c AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS n " +
        "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "w AS (SELECT a, b, n, sum(n) OVER (PARTITION BY a) AS na, " +
        "sum(n) OVER (PARTITION BY b) AS nb, sum(n) OVER () AS nt FROM c), " +
        "e AS (SELECT a, b, n, " +
        "round(ln((n * nt)::DOUBLE / (na * nb)), 6) AS pmi, " +
        "(n::DOUBLE / nt) * ln((n * nt)::DOUBLE / (na * nb)) AS mi_term, " +
        "(n::DOUBLE / na) * (na::DOUBLE / nt) * ln(na::DOUBLE / nt) AS ha_term, " +
        "(n::DOUBLE / nb) * (nb::DOUBLE / nt) * ln(nb::DOUBLE / nt) AS hb_term " +
        "FROM w), " +
        "f AS (SELECT a, b, n, pmi, round(sum(mi_term) OVER (), 6) AS mi, " +
        "round(-sum(ha_term) OVER (), 6) AS h_a, " +
        "round(-sum(hb_term) OVER (), 6) AS h_b FROM e) " +
        "SELECT a, b, n, pmi, mi, h_a, h_b, " +
        "CASE WHEN h_a > 0 AND h_b > 0 THEN " +
        "round(mi / sqrt(h_a * h_b), 6) END AS nmi " +
        "FROM f ORDER BY a, b"),

    // margin grid (never-emitted categories carry their ½·q·ln(q/m)
    // mass), zero-safe p·ln p arm, per-group fold
    "q181_jsd_sources" ->
      ("WITH cc AS (SELECT source AS g, lang AS c, count(*)::BIGINT AS n " +
        "FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "gm AS (SELECT g, sum(n)::BIGINT AS ng FROM cc GROUP BY 1), " +
        "cm AS (SELECT c, sum(n)::BIGINT AS nc FROM cc GROUP BY 1), " +
        "nt AS (SELECT sum(n)::BIGINT AS total FROM cc), " +
        "grid AS (SELECT gm.g, cm.c, gm.ng, cm.nc, " +
        "coalesce(cc.n, 0)::BIGINT AS gn FROM gm CROSS JOIN cm " +
        "LEFT JOIN cc ON cc.g = gm.g AND cc.c = cm.c), " +
        "tm AS (SELECT g, ng, " +
        "(CASE WHEN gn > 0 THEN (gn::DOUBLE / ng) * " +
        "ln((gn::DOUBLE / ng) / ((gn::DOUBLE / ng + nc::DOUBLE / total) / 2)) " +
        "ELSE 0.0 END) / 2 + (nc::DOUBLE / total) * " +
        "ln((nc::DOUBLE / total) / ((gn::DOUBLE / ng + nc::DOUBLE / total) / 2)) " +
        "/ 2 AS term FROM grid CROSS JOIN nt), " +
        "agg AS (SELECT g AS source, max(ng) AS n_rows, " +
        "round(sum(term), 6) AS jsd FROM tm GROUP BY 1) " +
        "SELECT source, n_rows, jsd, " +
        "round(n_rows::DOUBLE / sum(n_rows) OVER (), 6) AS corpus_share " +
        "FROM agg ORDER BY source"),

    // per-customer RFM + strict comparisons against 6dp quintile cuts;
    // recency inverted (recent = 5)
    "q182_rfm" ->
      ("WITH pc AS (SELECT o_custkey, max(o_orderdate) AS lastd, " +
        "count(*)::BIGINT AS frequency, " +
        "round(sum(o_totalprice), 2) AS monetary FROM orders " +
        "WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL " +
        "GROUP BY 1), " +
        "h AS (SELECT max(lastd) AS hz FROM pc), " +
        "b AS (SELECT o_custkey, " +
        "date_diff('day', lastd, hz)::DOUBLE AS recency_days, " +
        "frequency, monetary FROM pc CROSS JOIN h), " +
        "k AS (SELECT list_transform(quantile_cont(recency_days, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cr, " +
        "list_transform(quantile_cont(frequency, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cf, " +
        "list_transform(quantile_cont(monetary, " +
        "[0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS cm FROM b), " +
        "sc AS (SELECT o_custkey, recency_days, frequency, monetary, " +
        "5 - len(list_filter(cr, x -> recency_days > x))::INT AS r_score, " +
        "len(list_filter(cf, x -> frequency > x))::INT + 1 AS f_score, " +
        "len(list_filter(cm, x -> monetary > x))::INT + 1 AS m_score " +
        "FROM b CROSS JOIN k) " +
        "SELECT o_custkey, recency_days, frequency, monetary, " +
        "r_score, f_score, m_score, " +
        "r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS rfm " +
        "FROM sc ORDER BY o_custkey"),

    // the streaming current side accumulates q178's exact bin counts —
    // same oracle, stream ≡ batch
    "q183_stream_psi" -> psiDriftOracle,

    // running-sum-minus-running-extremum CUSUM over 6dp z; baseline =
    // first 7 rows per key, rounded σ > 0 gate matches the Spark side
    "q184_cusum" ->
      ("WITH d AS (SELECT event_type AS k, ts::DATE AS day, avg(value) AS v " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT k, day, v, row_number() OVER " +
        "(PARTITION BY k ORDER BY day) AS rn FROM d), " +
        "b AS (SELECT k, round(avg(v), 6) AS mu, " +
        "round(stddev_samp(v), 6) AS sigma FROM r WHERE rn <= 7 GROUP BY 1), " +
        "z AS (SELECT r.k, day, v, round((v - mu) / sigma, 6) AS z " +
        "FROM r JOIN b ON r.k = b.k WHERE sigma > 0), " +
        "c AS (SELECT k, day, v, z, sum(z - 0.5) OVER w AS cpos, " +
        "sum(z + 0.5) OVER w AS cneg FROM z WINDOW w AS " +
        "(PARTITION BY k ORDER BY day ROWS UNBOUNDED PRECEDING)), " +
        "s AS (SELECT k, day, v, z, " +
        "round(cpos - least(0.0, min(cpos) OVER w), 6) AS s_pos, " +
        "round(greatest(0.0, max(cneg) OVER w) - cneg, 6) AS s_neg FROM c " +
        "WINDOW w AS (PARTITION BY k ORDER BY day ROWS UNBOUNDED PRECEDING)) " +
        "SELECT k AS event_type, day, round(v, 6) AS v, z AS zscore, " +
        "s_pos, s_neg, (s_pos >= 4.0 OR s_neg >= 4.0) AS change_flag " +
        "FROM s ORDER BY 1, 2"),

    // both forecasts lag off one ordered pass; scored on the SAME rows
    "q185_backtest" ->
      ("WITH d AS (SELECT event_type AS k, ts::DATE AS day, avg(value) AS v " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "l AS (SELECT k, v, lag(v, 1) OVER w AS f1, lag(v, 7) OVER w AS fs " +
        "FROM d WINDOW w AS (PARTITION BY k ORDER BY day)), " +
        "e AS (SELECT k, v, f1, fs FROM l " +
        "WHERE f1 IS NOT NULL AND fs IS NOT NULL), " +
        "a AS (SELECT k AS event_type, count(*)::BIGINT AS n, " +
        "round(avg(abs(v - f1)), 6) AS mae_naive1, " +
        "round(avg(abs(v - fs)), 6) AS mae_seasonal FROM e GROUP BY 1) " +
        "SELECT event_type, n, mae_naive1, mae_seasonal, " +
        "CASE WHEN mae_seasonal > 0 THEN " +
        "round(mae_naive1 / mae_seasonal, 6) END AS improvement " +
        "FROM a ORDER BY event_type"),

    // bottom-64 per group, merged bottom-64 per pair, both-membership
    // fraction × the union estimate; exact side = one hash self-join
    "q187_kmv_setops" ->
      ("WITH d AS (SELECT DISTINCT event_type AS g, " +
        "('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h " +
        "FROM events), " +
        "r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) " +
        "AS rn FROM d), " +
        "sk AS (SELECT g, h FROM r WHERE rn <= 64), " +
        "gp AS (SELECT a.g AS ga, b.g AS gb FROM (SELECT DISTINCT g FROM sk) a " +
        "JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g), " +
        "mg AS (SELECT DISTINCT ga, gb, h FROM (" +
        "SELECT gp.ga, gp.gb, sk.h FROM gp JOIN sk ON sk.g = gp.ga " +
        "UNION ALL SELECT gp.ga, gp.gb, sk.h FROM gp JOIN sk ON sk.g = gp.gb)), " +
        "mr AS (SELECT ga, gb, h, row_number() OVER " +
        "(PARTITION BY ga, gb ORDER BY h) AS rn FROM mg), " +
        "mk AS (SELECT ga, gb, h FROM mr WHERE rn <= 64), " +
        "ag AS (SELECT mk.ga, mk.gb, count(*)::BIGINT AS n_kept, " +
        "max(mk.h) AS kth, sum(CASE WHEN sa.h IS NOT NULL " +
        "AND sb.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both " +
        "FROM mk LEFT JOIN sk sa ON sa.g = mk.ga AND sa.h = mk.h " +
        "LEFT JOIN sk sb ON sb.g = mk.gb AND sb.h = mk.h GROUP BY 1, 2), " +
        "est AS (SELECT ga, gb, CASE WHEN n_kept < 64 THEN n_kept::DOUBLE " +
        "ELSE round(63 * 1152921504606846976::DOUBLE / kth::DOUBLE, 6) END " +
        "AS union_est, CASE WHEN n_kept < 64 THEN n_both::DOUBLE " +
        "ELSE round(n_both / 64.0 * " +
        "(63 * 1152921504606846976::DOUBLE / kth::DOUBLE), 6) END " +
        "AS inter_est FROM ag), " +
        "nd AS (SELECT g, count(*)::BIGINT AS nd FROM d GROUP BY 1), " +
        "ix AS (SELECT x.g AS ga, y.g AS gb, count(*)::BIGINT AS exact_inter " +
        "FROM d x JOIN d y ON x.h = y.h AND x.g < y.g GROUP BY 1, 2) " +
        "SELECT est.ga AS group_a, est.gb AS group_b, na.nd AS n_a, " +
        "nb.nd AS n_b, union_est, inter_est, " +
        "(na.nd + nb.nd - coalesce(ix.exact_inter, 0))::BIGINT AS exact_union, " +
        "coalesce(ix.exact_inter, 0)::BIGINT AS exact_inter, " +
        "round(abs(union_est - (na.nd + nb.nd - coalesce(ix.exact_inter, 0))) " +
        "/ (na.nd + nb.nd - coalesce(ix.exact_inter, 0)), 6) AS union_rel_err, " +
        "CASE WHEN coalesce(ix.exact_inter, 0) > 0 THEN " +
        "round(abs(inter_est - coalesce(ix.exact_inter, 0)) " +
        "/ coalesce(ix.exact_inter, 0), 6) END AS inter_rel_err " +
        "FROM est JOIN nd na ON na.g = est.ga JOIN nd nb ON nb.g = est.gb " +
        "LEFT JOIN ix ON ix.ga = est.ga AND ix.gb = est.gb " +
        "ORDER BY group_a, group_b"),

    // per-column stats per half, joined on column name
    "q188_profile_diff" -> {
      def side(src: String, sfx: String) =
        Seq("value", "user_id").map { c =>
          s"SELECT '$c' AS col_name, count($c)::BIGINT AS n_$sfx, " +
            s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_$sfx, " +
            s"count(DISTINCT $c)::BIGINT AS nd_$sfx, " +
            s"round(min($c)::DOUBLE, 6) AS min_$sfx, " +
            s"round(max($c)::DOUBLE, 6) AS max_$sfx, " +
            s"round(avg($c), 2) AS avg_$sfx FROM $src"
        }.mkString("(", " UNION ALL ", ")")
      "WITH r0 AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'), " +
        "c0 AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'), " +
        s"pr AS ${side("r0", "ref")}, pc AS ${side("c0", "cur")} " +
        "SELECT col_name, n_ref, n_cur, " +
        "round(nn_ref::DOUBLE / (n_ref + nn_ref), 6) AS null_rate_ref, " +
        "round(nn_cur::DOUBLE / (n_cur + nn_cur), 6) AS null_rate_cur, " +
        "nd_ref AS n_distinct_ref, nd_cur AS n_distinct_cur, " +
        "CASE WHEN nd_ref > 0 THEN round(nd_cur::DOUBLE / nd_ref, 6) END " +
        "AS distinct_ratio, " +
        "min_ref, min_cur, max_ref, max_cur, avg_ref, avg_cur, " +
        "round(avg_cur - avg_ref, 2) AS avg_delta " +
        "FROM pr JOIN pc USING (col_name) ORDER BY col_name"
    },

    // q157's pair join + recursive closure + the q43 cluster shape
    "q189_entity_resolution" ->
      ("WITH RECURSIVE np AS (SELECT a.c_custkey AS id_a, " +
        "b.c_custkey AS id_b FROM customer a JOIN customer b " +
        "ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM np " +
        "UNION SELECT id_b, id_a FROM np), " +
        "reach(a, b) AS (SELECT DISTINCT a, a FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "labels AS (SELECT a AS id, min(b) AS rep FROM reach GROUP BY 1) " +
        "SELECT rep, count(*)::BIGINT AS n_members, " +
        "string_agg(id::VARCHAR, ';' ORDER BY id) AS member_ids " +
        "FROM labels GROUP BY 1 ORDER BY 1"),

    // same derived snapshots, full-outer joined; IS DISTINCT FROM is the
    // null-safe compare, concat_ws drops the NULL (unchanged) arms
    "q190_table_diff" ->
      ("WITH r AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 5 != 0), " +
        "c AS (SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END " +
        "AS o_orderstatus FROM orders WHERE o_orderkey % 7 != 0), " +
        "j AS (SELECT coalesce(r.o_orderkey, c.o_orderkey) AS o_orderkey, " +
        "r.o_orderkey IS NOT NULL AS in_ref, c.o_orderkey IS NOT NULL AS in_cur, " +
        "concat_ws(';', CASE WHEN r.o_totalprice IS DISTINCT FROM c.o_totalprice " +
        "THEN 'o_totalprice' END, CASE WHEN r.o_orderstatus IS DISTINCT FROM " +
        "c.o_orderstatus THEN 'o_orderstatus' END) AS cc " +
        "FROM r FULL JOIN c ON r.o_orderkey = c.o_orderkey) " +
        "SELECT o_orderkey, CASE WHEN NOT in_ref THEN 'added' " +
        "WHEN NOT in_cur THEN 'removed' WHEN cc != '' THEN 'changed' " +
        "ELSE 'unchanged' END AS diff_status, " +
        "CASE WHEN in_ref AND in_cur AND cc != '' THEN cc END AS changed_cols " +
        "FROM j ORDER BY o_orderkey"),

    // per-side value counts full-joined into the distinct-value grid,
    // running CDFs, rounded sup gap; d_at = min v among argmax ties
    "q191_ks_drift" ->
      ("WITH r AS (SELECT value::DOUBLE AS v, count(*)::BIGINT AS n_ref " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL " +
        "GROUP BY 1), " +
        "c AS (SELECT value::DOUBLE AS v, count(*)::BIGINT AS n_cur " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL " +
        "GROUP BY 1), " +
        "g AS (SELECT coalesce(r.v, c.v) AS v, coalesce(n_ref, 0) AS n_ref, " +
        "coalesce(n_cur, 0) AS n_cur FROM r FULL JOIN c ON r.v = c.v), " +
        "cdf AS (SELECT v, sum(n_ref) OVER () AS nr, sum(n_cur) OVER () AS nc, " +
        "round(abs(sum(n_ref) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)::DOUBLE / sum(n_ref) OVER () " +
        "- sum(n_cur) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)::DOUBLE / sum(n_cur) OVER ()), 6) AS d FROM g), " +
        "top AS (SELECT max(d) AS d_stat, max(nr) AS n_ref, max(nc) AS n_cur " +
        "FROM cdf), " +
        "at AS (SELECT min(v) AS d_at FROM cdf, top WHERE cdf.d = top.d_stat) " +
        "SELECT d_stat, d_at, n_ref::BIGINT AS n_ref, n_cur::BIGINT AS n_cur, " +
        "round(1.358 * sqrt((n_ref + n_cur)::DOUBLE / (n_ref * n_cur)), 6) " +
        "AS crit_05, d_stat > round(1.358 * sqrt((n_ref + n_cur)::DOUBLE " +
        "/ (n_ref * n_cur)), 6) AS drifted FROM top, at"),

    // lead over (user, ts, id), (from, to) counts, row-normalized
    "q192_markov_transitions" ->
      ("WITH s AS (SELECT event_type AS from_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL), " +
        "p AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM s " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, round(n::DOUBLE / " +
        "(sum(n) OVER (PARTITION BY from_type))::DOUBLE, 6) AS p " +
        "FROM p ORDER BY from_type, to_type"),

    // same snapshot derivations; row hash = md5 over chr(31)-joined
    // strings with chr(1) null markers, XOR-folded per group
    "q193_fingerprint_screen" -> {
      def fp(src: String, n: String, f: String) =
        s"SELECT o_orderstatus, count(*)::BIGINT AS $n, " +
          "bit_xor(('0x' || substr(md5(concat_ws(chr(31), " +
          "coalesce(o_orderkey::VARCHAR, chr(1)), " +
          "coalesce(o_custkey::VARCHAR, chr(1)), " +
          "coalesce(price_d::VARCHAR, chr(1)), " +
          "coalesce(o_orderpriority, chr(1)))), 1, 15))::BIGINT) " +
          s"AS $f FROM $src GROUP BY 1"
      "WITH r AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice::DECIMAL(18,2) AS price_d, o_orderpriority " +
        "FROM orders), " +
        "c AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "(CASE WHEN o_orderstatus = 'O' AND o_orderkey % 3 = 0 " +
        "THEN o_totalprice + 10.0 ELSE o_totalprice END)::DECIMAL(18,2) " +
        "AS price_d, o_orderpriority FROM orders), " +
        s"fr AS (${fp("r", "n_ref", "fp_ref")}), " +
        s"fc AS (${fp("c", "n_cur", "fp_cur")}) " +
        "SELECT coalesce(fr.o_orderstatus, fc.o_orderstatus) AS o_orderstatus, " +
        "n_ref, fp_ref, n_cur, fp_cur, " +
        "coalesce(n_ref = n_cur AND fp_ref = fp_cur, FALSE) AS equal " +
        "FROM fr FULL JOIN fc ON fr.o_orderstatus = fc.o_orderstatus " +
        "ORDER BY 1"
    },

    // the same hash predicate on both tables — integrity with no join
    "q194_coherent_sample" ->
      ("WITH sc AS (SELECT * FROM customer WHERE " +
        "('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT % 100 < 10), " +
        "so AS (SELECT * FROM orders WHERE " +
        "('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT % 100 < 10) " +
        "SELECT c_mktsegment, count(DISTINCT c_custkey)::BIGINT AS n_customers, " +
        "count(o_orderkey)::BIGINT AS n_orders FROM sc " +
        "LEFT JOIN so ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"),

    // the same rank formulation the rule removes on the Spark side
    "q195_auto_topk" ->
      ("SELECT user_id, event_id, value FROM (" +
        "SELECT user_id, event_id, value, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY value DESC, event_id) AS rn " +
        "FROM events WHERE value IS NOT NULL) " +
        "WHERE rn <= 2 ORDER BY user_id, event_id"),

    // q57's vocab CTE composed into the OLS moment formulation
    "q186_zipf" ->
      ("WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) " +
        "AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS freq FROM tok GROUP BY token), " +
        "v0 AS (SELECT token, freq, (row_number() OVER " +
        "(ORDER BY freq DESC, token) - 1)::INT AS token_id FROM c), " +
        "v AS (SELECT * FROM v0 WHERE token_id < 500), " +
        "p AS (SELECT ln(token_id + 1.0) AS x, ln(freq::DOUBLE) AS y FROM v) " +
        "SELECT count(*)::BIGINT AS n, " +
        "round(covar_pop(x, y) / var_pop(x), 6) AS slope, " +
        "round(avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x), 6) " +
        "AS intercept, " +
        "round(covar_pop(x, y) / sqrt(var_pop(x) * var_pop(y)), 6) AS r " +
        "FROM p"),

    // fixed [0,1] deciles over a hash-uniform score; per-bin stats +
    // windowed global Brier — the q177 shape without the quantile cuts
    "q196_calibration_fixed" ->
      ("WITH s AS (SELECT (('0x' || substr(md5(event_id::VARCHAR), 1, 15))" +
        "::BIGINT % 1000000)::DOUBLE / 1000000 AS prob, " +
        "CASE WHEN value > 0 THEN 1.0 ELSE 0.0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "b AS (SELECT least(9, floor(prob * 10))::INT AS bin, " +
        "count(*)::BIGINT AS n, round(avg(prob), 6) AS mean_prob, " +
        "round(avg(y), 6) AS pos_rate, sum(power(prob - y, 2)) AS se " +
        "FROM s GROUP BY 1) " +
        "SELECT bin, n, mean_prob, pos_rate, " +
        "round(sum(se) OVER () / sum(n) OVER (), 6) AS brier " +
        "FROM b ORDER BY bin"),

    // 4 unrolled max-normalized HITS iterations, Graph.hits step for step
    "q197_hits" -> OraclesExt.hits,

    // both retriever CTE chains (q48's TF-IDF, q112's BM25) ranked, full
    // join, 1/(60+rank) arms, 9dp fused score
    "q198_rrf_fusion" -> rrfFusedSql(Seq("spark", "query", "join")),

    // q19's prediction CTE joined to the declared lang; margins/accuracy
    // as windows over the cell grid
    "q199_confusion" -> OraclesExt.langConfusion,

    // per-doc tf·idf over the corpus vocabulary with the df gate, rank
    // window top-3 per doc (the TopKPerKey heap's window formulation)
    "q200_keyphrases" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf " +
        "FROM t GROUP BY 1, 2), " +
        "d AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
        "s AS (SELECT doc_id, term, " +
        "round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS score " +
        "FROM tf JOIN d USING (term) CROSS JOIN n WHERE df <= n * 0.9), " +
        "r AS (SELECT doc_id, term, score, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s) " +
        "SELECT doc_id, term, score FROM r WHERE rn <= 3 " +
        "ORDER BY doc_id, score DESC, term"),

    // token explode joined against the inline lexicon VALUES table
    "q201_dictionary_tag" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "d AS (SELECT * FROM (VALUES " +
        "('slow','perf'),('fast','perf'),('big','perf'),('small','perf')," +
        "('join','exec'),('scan','exec'),('filter','exec')," +
        "('sort','exec'),('merge','exec'),('agg','exec')," +
        "('table','storage'),('column','storage'),('row','storage')," +
        "('batch','storage')) v(term, category)) " +
        "SELECT doc_id, category, count(*)::BIGINT AS n_hits, " +
        "count(DISTINCT term)::BIGINT AS n_terms " +
        "FROM t JOIN d USING (term) GROUP BY 1, 2 " +
        "ORDER BY doc_id, category"),

    // same 60-bit md5 hash mod 64 (Hashing parity), per-(doc, bucket) counts
    "q202_feature_hash" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS bucket, " +
        "count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2 " +
        "ORDER BY doc_id, bucket"),

    // binary y keeps category sums exact integers; prior is the 1-row
    // global mean re-entered per row
    "q203_target_encode" ->
      ("WITH o AS (SELECT o_orderkey, o_orderpriority AS cat, " +
        "(CASE WHEN o_totalprice > 100000 THEN 1.0 ELSE 0.0 END)::DOUBLE AS y " +
        "FROM orders), " +
        "p AS (SELECT sum(y) / count(y) AS prior FROM o) " +
        "SELECT o_orderkey, cat, y, " +
        "round((sum(y) OVER (PARTITION BY cat) - y + 10.0 * p.prior) / " +
        "(count(y) OVER (PARTITION BY cat) - 1 + 10.0), 6) AS enc " +
        "FROM o, p ORDER BY o_orderkey"),

    // same fixed-width strata over the 1-row min/max + md5 shard hash
    "q204_shard_balance" ->
      ("WITH b AS (SELECT min(n_chars)::DOUBLE AS lo, " +
        "max(n_chars)::DOUBLE AS hi FROM documents) " +
        "SELECT doc_id, CASE WHEN hi = lo THEN 0 ELSE " +
        "least(7, floor((n_chars::DOUBLE - lo) / ((hi - lo) / 8))::INT) END " +
        "AS stratum, " +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':shard'), 1, 15))::BIGINT " +
        "% 8)::INT AS shard " +
        "FROM documents, b ORDER BY doc_id"),

    // q133's unrolled CTE ladder with restart mass pinned to the seed
    // table: rank_k = 0.15·1_seed + 0.85·Σ contribs, full join per round
    "q205_ppr" -> {
      val step = (k: Int) =>
        s"c$k AS (SELECT e.dst AS id, sum(r.rank / d.outdeg) AS c FROM e " +
          s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
          "GROUP BY 1), " +
          s"r$k AS (SELECT coalesce(c$k.id, sb.id) AS id, " +
          s"round(coalesce(sb.base, 0) + 0.85 * coalesce(c$k.c, 0), 9) AS rank " +
          s"FROM c$k FULL JOIN sb ON c$k.id = sb.id), "
      "WITH rel AS (SELECT DISTINCT o_custkey AS cust, " +
        "1000000 + l_suppkey AS supp FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT cust AS src, supp AS dst FROM rel " +
        "UNION ALL SELECT supp, cust FROM rel), " +
        "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
        "sb AS (SELECT DISTINCT c_custkey AS id, 0.15 AS base " +
        "FROM customer WHERE c_nationkey = 1), " +
        "r0 AS (SELECT id, 1.0 AS rank FROM sb), " +
        (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT id AS node_id, round(rank, 6) AS rank FROM r5 " +
        "ORDER BY rank DESC, node_id LIMIT 100"
    },

    // daily grain → 7-day centered trend (full frames only) → normalized
    // dow index → residual; dayofweek(DuckDB)+1 = dayofweek(Spark)
    "q206_seasonal" ->
      ("WITH daily AS (SELECT event_type, ts::DATE AS day, " +
        "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, day, v, (dayofweek(day) + 1)::INT AS dow, " +
        "CASE WHEN count(v) OVER w7 = 7 THEN round(avg(v) OVER w7, 6) END " +
        "AS trend FROM daily WINDOW w7 AS (PARTITION BY event_type " +
        "ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "s AS (SELECT event_type, dow, round(avg(v / trend), 6) AS si_raw " +
        "FROM b WHERE trend > 0 GROUP BY 1, 2), " +
        "sn AS (SELECT event_type, dow, round(si_raw * " +
        "count(*) OVER (PARTITION BY event_type) / " +
        "sum(si_raw) OVER (PARTITION BY event_type), 6) AS seasonal FROM s) " +
        "SELECT b.event_type, b.day, b.dow, b.v, b.trend, sn.seasonal, " +
        "CASE WHEN sn.seasonal > 0 THEN round(b.v / sn.seasonal, 6) END " +
        "AS deseason, " +
        "CASE WHEN b.trend > 0 AND sn.seasonal > 0 " +
        "THEN round(b.v / (b.trend * sn.seasonal), 6) END AS resid " +
        "FROM b LEFT JOIN sn ON b.event_type = sn.event_type " +
        "AND b.dow = sn.dow ORDER BY b.event_type, b.day"),

    // the capped-Jaccard CTE chain emitting both directed i/|src| scores
    "q207_containment" -> OraclesExt.containmentCapped(3, 0.9),

    // exists-chain funnel: every step-1 event is a candidate start; for a
    // fixed start the min feasible completion per level decides exactly
    "q208_window_funnel" ->
      ("WITH s1 AS (SELECT user_id AS u, ts AS t0, ts AS l FROM events " +
        "WHERE event_type = 'view'), " +
        "s2 AS (SELECT s1.u, s1.t0, min(e.ts) AS l FROM events e " +
        "JOIN s1 ON e.user_id = s1.u AND e.ts > s1.l " +
        "AND e.ts <= s1.t0 + INTERVAL 2 HOUR " +
        "WHERE e.event_type = 'click' GROUP BY 1, 2), " +
        "s3 AS (SELECT s2.u, s2.t0, min(e.ts) AS l FROM events e " +
        "JOIN s2 ON e.user_id = s2.u AND e.ts > s2.l " +
        "AND e.ts <= s2.t0 + INTERVAL 2 HOUR " +
        "WHERE e.event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT 1 AS step, 'view' AS step_name, " +
        "count(DISTINCT u)::BIGINT AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'click', count(DISTINCT u)::BIGINT FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', count(DISTINCT u)::BIGINT FROM s3 " +
        "ORDER BY step")
  ) ++ Map(

    // the recursive CTE walks the same 9dp-rounded (l, b) recurrence the
    // Spark fold runs — one row per (key, i), final state at i = n
    "q209_holt" ->
      ("WITH RECURSIVE daily AS (SELECT event_type AS k, ts::DATE AS day, " +
        "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "idx AS (SELECT k, v, row_number() OVER (PARTITION BY k " +
        "ORDER BY day) AS i FROM daily), " +
        "nn AS (SELECT k, max(i) AS n FROM idx GROUP BY 1), " +
        "h AS (SELECT a.k, 1 AS i, a.v::DOUBLE AS l, " +
        "(b.v - a.v)::DOUBLE AS b, 0.0::DOUBLE AS sae, 0 AS cnt " +
        "FROM idx a JOIN idx b ON a.k = b.k AND a.i = 1 AND b.i = 2 " +
        "UNION ALL SELECT h.k, h.i + 1, " +
        "round(0.5 * x.v + 0.5 * (h.l + h.b), 9), " +
        "round(0.3 * (round(0.5 * x.v + 0.5 * (h.l + h.b), 9) - h.l) " +
        "+ 0.7 * h.b, 9), " +
        "h.sae + abs(x.v - (h.l + h.b)), h.cnt + 1 " +
        "FROM h JOIN idx x ON x.k = h.k AND x.i = h.i + 1) " +
        "SELECT h.k AS event_type, nn.n::INT AS n, " +
        "round(h.l, 6) AS level, round(h.b, 6) AS trend, " +
        "round(h.l + 7 * h.b, 6) AS forecast, " +
        "round(h.sae / h.cnt, 6) AS mae " +
        "FROM h JOIN nn ON h.k = nn.k AND h.i = nn.n " +
        "ORDER BY event_type"),

    // same char explode, per-doc totals as a window over the alphabet
    // grid, -sum(p ln p) folded once
    "q210_char_entropy" ->
      ("WITH c AS (SELECT doc_id, unnest(regexp_extract_all(text, '.')) " +
        "AS ch FROM documents), " +
        "g AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt FROM c " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, cnt, " +
        "sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n FROM g) " +
        "SELECT doc_id, max(n) AS n_chars, count(*)::BIGINT AS n_distinct, " +
        "round(0 - sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 6) AS entropy " +
        "FROM t GROUP BY 1 ORDER BY doc_id"),

    // two per-key histogram-median CTE ladders (value, then residual) +
    // the exact twin's flagging arithmetic
    "q211_mad_approx" -> OraclesExt.madApprox,

    // hashed-feature distributions over the full 0..63 spine (+1
    // smoothing), per-doc log-weights, md5-Gumbel keys
    "q212_dsir" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS term " +
        "FROM documents), " +
        "f AS (SELECT doc_id, " +
        "('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS bucket, " +
        "count(*)::BIGINT AS cnt FROM t GROUP BY 1, 2), " +
        "sp AS (SELECT unnest(range(64)) AS bucket), " +
        "tt AS (SELECT f.bucket, sum(f.cnt)::BIGINT AS c FROM f " +
        "JOIN documents d ON f.doc_id = d.doc_id WHERE d.lang = 'en' " +
        "GROUP BY 1), " +
        "ttot AS (SELECT coalesce(sum(c), 0)::BIGINT AS t FROM tt), " +
        "pt AS (SELECT sp.bucket, (coalesce(tt.c, 0) + 1)::DOUBLE / " +
        "(ttot.t + 64) AS p_t FROM sp LEFT JOIN tt USING (bucket) " +
        "CROSS JOIN ttot), " +
        "rr AS (SELECT bucket, sum(cnt)::BIGINT AS c FROM f GROUP BY 1), " +
        "rtot AS (SELECT coalesce(sum(c), 0)::BIGINT AS t FROM rr), " +
        "pr AS (SELECT sp.bucket, (coalesce(rr.c, 0) + 1)::DOUBLE / " +
        "(rtot.t + 64) AS p_r FROM sp LEFT JOIN rr USING (bucket) " +
        "CROSS JOIN rtot), " +
        "w AS (SELECT f.doc_id, round(sum(f.cnt * (ln(p_t) - ln(p_r))), 6) " +
        "AS logw FROM f JOIN pt USING (bucket) JOIN pr USING (bucket) " +
        "GROUP BY 1) " +
        "SELECT doc_id, logw, round(logw - ln(0 - ln((" +
        "(('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 15))::BIGINT " +
        "% 1000000000) + 1)::DOUBLE / 1000000001.0)), 9) AS key " +
        "FROM w ORDER BY key DESC, doc_id LIMIT 200"),

    // capped-degree incidence self-join; a shared neighbor implies
    // deg >= 2 so ln(deg) is never 0
    "q213_adamic_adar" ->
      ("WITH e AS (SELECT DISTINCT l_suppkey AS l, o_custkey AS r " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "d AS (SELECT r, count(*)::BIGINT AS deg FROM e GROUP BY 1 " +
        "HAVING count(*) <= 15), " +
        "k AS (SELECT e.l, e.r, d.deg FROM e JOIN d USING (r)) " +
        "SELECT x.l AS id_a, y.l AS id_b, count(*)::BIGINT AS common, " +
        "round(sum(1.0::DOUBLE / ln(x.deg)), 6) AS aa " +
        "FROM k x JOIN k y ON x.r = y.r AND x.l < y.l " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b"),

    // q148's co-purchase edges; canonical a<b<c triangle enumeration,
    // three corner credits each — triangle counts are exact integers so
    // the oracle need not mirror the degree-oriented generation order
    "q214_local_clustering" ->
      ("WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
        "GROUP BY 1, 2), " +
        "e0 AS (SELECT a.p AS a, b.p AS b FROM pr a JOIN pr b " +
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "d AS (SELECT n, count(*)::BIGINT AS deg FROM (SELECT a AS n FROM e0 " +
        "UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "tri AS (SELECT x.a AS u, x.b AS v, y.b AS w FROM e0 x " +
        "JOIN e0 y ON x.a = y.a AND x.b < y.b " +
        "JOIN e0 z ON z.a = x.b AND z.b = y.b), " +
        "tn AS (SELECT n, count(*)::BIGINT AS n_tri FROM (" +
        "SELECT u AS n FROM tri UNION ALL SELECT v FROM tri " +
        "UNION ALL SELECT w FROM tri) GROUP BY 1) " +
        "SELECT d.n AS node_id, d.deg, coalesce(tn.n_tri, 0)::BIGINT AS n_tri, " +
        "CASE WHEN d.deg >= 2 THEN round(2.0 * coalesce(tn.n_tri, 0) / " +
        "(d.deg * (d.deg - 1)), 6) END AS lcc " +
        "FROM d LEFT JOIN tn ON d.n = tn.n ORDER BY node_id"),

    // two histogram-quantile ladders (p05/p95) clip the band, then
    // 6dp-rounded mean/sigma_pop standardize the clipped values
    "q215_winsorize" ->
      ("WITH src AS (SELECT event_type AS k, event_id AS id, " +
        "value::DOUBLE AS v FROM events WHERE value IS NOT NULL), " +
        OraclesExt.histMedianCtes("src", "v", "h1", 256, p = 0.05) + ", " +
        OraclesExt.histMedianCtes("src", "v", "h2", 256, p = 0.95) + ", " +
        "c AS (SELECT src.k, src.id, src.v, " +
        "least(greatest(src.v, lo.med), hi.med) AS clipped " +
        "FROM src JOIN h1m lo ON src.k = lo.k JOIN h2m hi ON src.k = hi.k), " +
        "m AS (SELECT k, round(avg(clipped), 6) AS mean, " +
        "round(stddev_pop(clipped), 6) AS sd FROM c GROUP BY 1) " +
        "SELECT c.id AS event_id, c.k AS event_type, c.v AS value, " +
        "c.clipped, CASE WHEN m.sd > 0 THEN " +
        "round((c.clipped - m.mean) / m.sd, 6) END AS z " +
        "FROM c JOIN m ON c.k = m.k ORDER BY event_id"),

    // same (freq desc, token) rank + running token mass over the vocab
    "q216_vocab_coverage" ->
      ("WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\\w+')) " +
        "AS token FROM documents), " +
        "c AS (SELECT token, count(*)::BIGINT AS freq FROM t GROUP BY 1), " +
        "r AS (SELECT token, freq, row_number() OVER " +
        "(ORDER BY freq DESC, token)::INT AS rank, " +
        "sum(freq) OVER (ORDER BY freq DESC, token " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM c), " +
        "tt AS (SELECT max(cum)::BIGINT AS t, max(rank)::INT AS v FROM r), " +
        "s AS (SELECT unnest([5, 10, 20, 1000])::INT AS k) " +
        "SELECT s.k, least(tt.v, s.k)::INT AS n_types, " +
        "max(r.cum)::BIGINT AS covered_tokens, " +
        "round(max(r.cum)::DOUBLE / tt.t, 6) AS coverage " +
        "FROM s CROSS JOIN tt JOIN r ON r.rank <= s.k " +
        "GROUP BY s.k, tt.v, tt.t ORDER BY k"),

    // q14's banded-candidate CTE + the md5 bucket-rep negative draw
    "q217_contrastive" -> OraclesExt.contrastiveTriplets,

    // q14's candidates swept over the literal threshold spine; zero
    // levels still emit via the spine left joins
    "q218_threshold_sweep" -> OraclesExt.thresholdSweep,

    // q198's fused CTE chain instantiated once per workload query (same
    // shared rrfQueries term sets), UNION ALL'd with the query id
    "q219_rrf_batched" -> rrfQueries.map { case (qid, ts) =>
      s"SELECT $qid AS query_id, f.* FROM (${rrfFusedSql(ts)}) f"
    }.mkString("", " UNION ALL ", " ORDER BY query_id, rrf DESC, doc_id"),

    // q39's assignment/probe/score chain with the pinned trained
    // centroids as literal VALUES rows
    "q220_ivf_pinned" -> OraclesExt.simTopKIvfPinned,

    // q55's encode/ADC/re-rank chain over the pinned trained codebooks
    "q221_pq_pinned" -> OraclesExt.simTopKPqPinned,

    // container round trip is content identity: the oracle is the same
    // extract straight off the parquet table
    "q222_xlsx_roundtrip" ->
      ("SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"),

    // per-sheet fan-out + union-back ≡ a plain GROUP BY on the source
    "q223_xlsx_sheets" ->
      ("SELECT c_mktsegment AS segment, count(*)::BIGINT AS n, " +
        "round(sum(c_acctbal)::DOUBLE, 2) AS sum_bal " +
        "FROM customer GROUP BY 1 ORDER BY 1"),

    // the two container cycles are content identity, so the oracle is
    // q08's merge shape in pure SQL: grouped target LEFT JOIN grouped
    // updates on (lower(key), date), coalesce per set column
    "q224_xlsx_merge" ->
      ("WITH t AS (SELECT o_orderpriority AS surname, o_orderdate AS data, " +
        "min(o_orderstatus) AS commessa, " +
        "round(sum(o_totalprice)::DOUBLE, 2) AS ore " +
        "FROM orders GROUP BY 1, 2), " +
        "u AS (SELECT lower(o_orderpriority) AS k, o_orderdate AS data, " +
        "string_agg(DISTINCT o_orderstatus, '; ' ORDER BY o_orderstatus) AS u_commessa, " +
        "round(sum(o_totalprice)::DOUBLE, 2) AS u_ore " +
        "FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1, 2) " +
        "SELECT t.surname, t.data AS data, " +
        "coalesce(u.u_commessa, t.commessa) AS commessa, " +
        "coalesce(u.u_ore, t.ore) AS ore " +
        "FROM t LEFT JOIN u ON lower(t.surname) = u.k AND t.data = u.data " +
        "ORDER BY surname, t.data"),

    // the cascade must be the exact inverse of every rendering, so the
    // oracle needs no date logic at all — it selects the ORIGINAL date
    "q225_date_cascade" ->
      ("SELECT o_orderkey AS k, (o_orderkey % 17)::BIGINT AS shape, " +
        "o_orderdate AS parsed FROM orders ORDER BY k"),

    // clipped bigram overlap via two gram-count CTEs + least(); P/R
    // round before F (the cross-engine float contract)
    "q226_rouge" ->
      ("WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks " +
        "FROM documents), " +
        "p AS (SELECT a.doc_id, a.toks AS rt, b.toks AS ct " +
        "FROM d a JOIN d b ON b.doc_id = a.doc_id + 1), " +
        "rg AS (SELECT doc_id, unnest(CASE WHEN len(rt) < 2 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(len(rt) - 1), i -> rt[i+1] || ' ' || rt[i+2]) END) AS g FROM p), " +
        "cg AS (SELECT doc_id, unnest(CASE WHEN len(ct) < 2 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(len(ct) - 1), i -> ct[i+1] || ' ' || ct[i+2]) END) AS g FROM p), " +
        "rc AS (SELECT doc_id, g, count(*)::BIGINT AS nr FROM rg GROUP BY 1, 2), " +
        "cc AS (SELECT doc_id, g, count(*)::BIGINT AS nc FROM cg GROUP BY 1, 2), " +
        "ov AS (SELECT doc_id, sum(least(nr, nc))::BIGINT AS overlap " +
        "FROM rc JOIN cc USING (doc_id, g) GROUP BY 1), " +
        "tot AS (SELECT doc_id, greatest(len(rt) - 1, 0)::INT AS n_ref, " +
        "greatest(len(ct) - 1, 0)::INT AS n_cand FROM p), " +
        "j AS (SELECT t.doc_id, n_ref, n_cand, coalesce(overlap, 0)::BIGINT AS overlap " +
        "FROM tot t LEFT JOIN ov USING (doc_id)), " +
        "pr AS (SELECT doc_id, n_ref, n_cand, overlap, " +
        "CASE WHEN n_cand > 0 THEN round(overlap::DOUBLE / n_cand, 6) END AS rouge_p, " +
        "CASE WHEN n_ref > 0 THEN round(overlap::DOUBLE / n_ref, 6) END AS rouge_r FROM j) " +
        "SELECT doc_id, n_ref, n_cand, overlap, rouge_p, rouge_r, " +
        "CASE WHEN rouge_p + rouge_r > 0 THEN " +
        "round(2.0::DOUBLE * rouge_p * rouge_r / (rouge_p + rouge_r), 6) END AS rouge_f " +
        "FROM pr ORDER BY doc_id"),

    // q14's LSH positives + q18's same-cell cosine chain, top-1 per pair
    "q227_hard_negatives" -> OraclesExt.hardNegatives,

    // 8 chained (pair-count -> top-1 -> replace) CTE triples over the
    // paren-symbol word table
    "q228_bpe_train" -> OraclesExt.bpeTrain(64),

    // the same pinned merges applied as a literal replace chain
    "q229_bpe_segment" -> {
      val inner = pinnedBpeMerges.foldLeft(
        "regexp_replace(word, '(.)', '(\\1)', 'g')") { case (acc, (l, r)) =>
        s"replace($acc, '($l)($r)', '($l$r)')"
      }
      "WITH t AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(text), '\\w+')) AS word FROM documents), " +
        s"m AS (SELECT doc_id, $inner AS w FROM t), " +
        "tok AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(w, '\\(([^)]*)\\)', 1)) AS token FROM m) " +
        "SELECT doc_id, token, count(*)::BIGINT AS n FROM tok " +
        "GROUP BY 1, 2 ORDER BY doc_id, token"
    },

    // q220's pinned-centroid assignment chain, then dup iff a lower-id
    // cell-mate's rounded cosine reaches the threshold
    "q230_semdedup" -> OraclesExt.semDedup(0.4),

    // per-query BM25 top-20 -> DCG/IDCG/MRR blocks UNION ALL'd with the
    // query id (the q219 composition pattern)
    "q231_ranking_eval" -> rrfQueries.map { case (qid, ts) =>
      s"SELECT $qid AS query_id, f.* FROM (${OraclesExt.bm25RankEval(ts, 20, 10)}) f"
    }.mkString("", " UNION ALL ", " ORDER BY query_id"),

    // q61's training chain with the interpolated-KN probability
    "q232_kneser_ney" -> OraclesExt.knScore,

    // each rule as the identical regexp-count arithmetic, 6dp-rounded
    // ratios before every threshold
    "q233_gopher_rules" -> OraclesExt.gopherRules(1),

    // q19's langid CASE + q20's quality formula + fingerprint window +
    // the banded MinHash chain over the survivor set, funnel-aggregated
    "q234_curation_funnel" -> OraclesExt.curation(0.25, 0.5),

    // the q229 replace chain per word, aggregated per language
    "q235_bpe_fertility" -> OraclesExt.bpeFertility(pinnedBpeMerges),

    // q220's pinned assignment + q17's brute chain, candidates gated by
    // rn <= n_probe per spine level, spine left join
    "q236_probe_curve" -> OraclesExt.probeRecallCurve(Seq(1, 2, 4, 8), 5),

    // q83's bin assignment folded per context level, UNION ALL spine
    "q237_pack_sweep" -> OraclesExt.packSweep(Seq(256, 512, 1024, 2048)),

    // buildVocab ranking -> one six-sum aggregate -> slope/intercept/r2
    "q238_zipf_fit" -> OraclesExt.zipfFit(1000),

    // the q233 battery restricted to passing docs — the drained stream
    // is row-identical to the batch projection (stateless operator)
    "q239_stream_quality_gate" ->
      ("SELECT * FROM (" +
        OraclesExt.gopherRules(1).stripSuffix(" ORDER BY doc_id") +
        ") WHERE pass ORDER BY doc_id"),

    // q108's span chain with the duplicated-span set replaced by the
    // benchmark's distinct span set
    "q240_surgical_decontam" -> OraclesExt.surgicalDecontam,

    // per-doc distinct 3-grams LEFT JOIN the reference's distinct grams
    "q241_novelty" -> OraclesExt.noveltyScore,

    // the q233 rule chain aggregated per source + the Wilson algebra in
    // the op's association order
    "q242_wilson_pass_rate" -> OraclesExt.wilsonGopher(1, 1.96),

    // q43's closure labels -> cluster sizes -> 1/size weights
    "q243_dedup_weights" -> OraclesExt.dedupWeights,

    // the q178 PSI chain partitioned by coordinate over the parity split
    "q244_embedding_drift" -> OraclesExt.embeddingDrift(10),

    // pixel i = (doc_id*5 + i*11) % 256 over w = 8+id%9, h = 8+id%7 —
    // the q90 formula-recompute pattern; no byte-size column (deflate
    // output is encoder-dependent)
    "q245_png_decode" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, (w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> (doc_id*5 + i*11) % 256))::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // pinned-centroid assignment (q220/q230 chain) + per-cell hash-rank
    // quota (q65's selection) — kept iff rank <= perCell
    "q246_cluster_sample" -> OraclesExt.clusterBalancedSample(20),

    // half-scale pixel (x,y) samples source 2y*w + 2x of the PNG formula
    "q247_png_resize" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*5 + (2*(j//w2)*w + 2*(j%w2))*11) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    // the q234 funnel chain + the q246 assignment/quota chain, grouped
    // per (source, cell)
    "q248_curation_balanced" -> OraclesExt.curationBalanced(0.25, 0.5, 10),

    // aHash recomputed from the PGM pixel formula on seed = doc_id % 50:
    // grid k samples ((k//8)*h//8)*w + ((k%8)*w//8); bit = sample > mean
    "q249_image_ahash_dedup" ->
      ("WITH s AS (SELECT doc_id, doc_id % 50 AS seed FROM documents), " +
        "d AS (SELECT doc_id, seed, 8 + (seed % 9) AS w, 8 + (seed % 7) AS h FROM s), " +
        "g AS (SELECT doc_id, list_transform(range(64), k -> " +
        "(seed*7 + (((k//8)*h//8)*w + ((k%8)*w//8))*13) % 256) AS gv FROM d), " +
        "hb AS (SELECT doc_id, array_to_string(list_transform(gv, v -> " +
        "CASE WHEN v > list_sum(gv)::DOUBLE / 64.0 THEN '1' ELSE '0' END), '') AS ahash FROM g) " +
        "SELECT min(doc_id)::BIGINT AS keeper_id, count(*)::BIGINT AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM hb GROUP BY ahash HAVING count(*) >= 2 ORDER BY keeper_id"),

    // the q23 per-asset formula rows, per-row (drained stream ≡ batch)
    "q250_stream_media_decode" -> OraclesExt.streamMediaDecode,

    // the parallel per-source workbook fan-out + glob scan is content
    // identity, so the oracle is a plain GROUP BY on the source table
    "q251_xlsx_corpus" ->
      ("SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(n_chars)::BIGINT AS sum_chars, min(doc_id)::BIGINT AS min_id, " +
        "max(doc_id)::BIGINT AS max_id FROM documents " +
        "GROUP BY source ORDER BY source"),

    // the q163 scored corpus, ranked by |prob - 0.5| with doc_id ties
    "q252_uncertainty_sample" -> OraclesExt.uncertaintySample,

    // full NB recomputation: top-512 vocab, Laplace per-class token
    // likelihoods with multiplicity, doc-count prior, OOV skipped
    "q253_naive_bayes" -> OraclesExt.naiveBayes(512),

    // cohort sizes + distinct sensitive counts per (event_type, day)
    "q254_k_anonymity" -> kAnonymitySql,

    // identity-synthesized page markup, extraction recomputed verbatim
    "q255_html_extract" -> OraclesExt.htmlExtract,

    // MM recurrence as a recursive CTE over (win vector, games matrix)
    "q256_bradley_terry" -> OraclesExt.bradleyTerry(20),

    // power-iteration recurrence as a LIST-carrying recursive CTE
    "q257_pca_project" -> OraclesExt.pcaProject(64, 30),

    // the q253 recomputation, gated to positive predictions
    "q258_stream_nb_gate" ->
      ("SELECT doc_id, log_odds, pred FROM (" +
        OraclesExt.naiveBayes(512).replaceAll(" ORDER BY l.doc_id$", "") +
        ") WHERE pred = 1 ORDER BY doc_id"),

    // alternating-scaling recurrence as a LIST-carrying recursive CTE
    "q259_ipf_mixture" -> OraclesExt.ipfMixture(20),

    // per-(source, context) loss recomputed from raw token counts
    "q260_truncation_loss" ->
      ("WITH n AS (SELECT source AS grp, " +
        "coalesce(len(regexp_extract_all(lower(text), '\\w+')), 0) AS n " +
        "FROM documents), " +
        "x AS (SELECT grp, n, unnest([16, 64, 256]) AS context_len FROM n) " +
        "SELECT grp, context_len::INT AS context_len, " +
        "count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN n > context_len THEN 1 ELSE 0 END)::BIGINT " +
        "AS docs_truncated, " +
        "sum(greatest(n - context_len, 0))::BIGINT AS tokens_lost, " +
        "sum(n)::BIGINT AS tokens_total, " +
        "CASE WHEN sum(n) = 0 THEN 0.0::DOUBLE ELSE " +
        "round(sum(greatest(n - context_len, 0))::DOUBLE / sum(n), 6) END " +
        "AS frac_lost FROM x GROUP BY 1, 2 ORDER BY grp, context_len"),

    // kept sample i' = 2i: value ((doc_id*31 + 2i*17) % 65536) - 32768;
    // rate halves to 4000, n' = (n+1)//2
    "q261_wav_resample" ->
      ("WITH d AS (SELECT doc_id, 200 + (doc_id % 100) AS n FROM documents), " +
        "p AS (SELECT doc_id, ((n + 1) // 2)::INT AS n_samples, " +
        "4000 AS sample_rate, " +
        "list_transform(range(0, n, 2), i -> " +
        "((doc_id*31 + i*17) % 65536) - 32768) AS sm FROM d) " +
        "SELECT doc_id, n_samples, sample_rate, " +
        "list_sum(sm)::BIGINT AS amp_sum, " +
        "list_max(list_transform(sm, x -> abs(x)))::INT AS peak, " +
        "(n_samples * 1000 // 4000)::BIGINT AS duration_ms " +
        "FROM p ORDER BY doc_id"),

    // sign-pack each half into a BIGINT word, XOR + popcount, rank
    "q262_sim_topk_binary" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
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

    // exact-cosine top-5 ∩ hamming top-5 per query
    "q263_binary_recall" -> OraclesExt.binaryRecall(5),

    // the streaming complete-mode accumulation merges to exactly the
    // batch cohort audit (micro-batch sums are associative)
    "q264_stream_k_anonymity" -> kAnonymitySql,

    // per width: truncated-cosine top-5 ∩ full-dim top-5
    "q267_matryoshka_recall" -> OraclesExt.matryoshkaRecall(5, Seq(8, 16, 32)),

    // hamming top-candK then exact cosine top-k, tier by tier
    "q277_binary_rerank" -> OraclesExt.binaryRerank(30, 5),

    // per-segment langid votes → per-doc distribution + entropy
    "q278_code_switch" -> OraclesExt.codeSwitch,

    "q279_url_canonical" -> OraclesExt.urlCanonical,

    "q280_domain_cap" -> OraclesExt.urlDomainCap(3),

    "q281_pass_at_k" -> OraclesExt.passAtK,

    // recompute the scene index with a cumulative window, then the
    // per-pixel diff from the byte formula — all integer, no float parity
    "q282_shot_detect" ->
      ("WITH d AS (SELECT doc_id, 4 + (doc_id % 3) * 2 AS w, " +
        "4 + (doc_id % 2) * 4 AS h, 6 + (doc_id % 5) AS nf FROM documents), " +
        "fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS k FROM d), " +
        "sc AS (SELECT doc_id, w, h, k, sum(CASE WHEN k >= 1 AND " +
        "(doc_id*13 + k*17) % 5 = 0 THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY doc_id ORDER BY k) AS s FROM fr), " +
        "pr AS (SELECT a.doc_id, a.k AS frame, a.w, a.h, a.s AS s1, " +
        "b.s AS s0 FROM sc a JOIN sc b ON a.doc_id = b.doc_id " +
        "AND b.k = a.k - 1), " +
        "m AS (SELECT doc_id, frame, w, h, " +
        "list_sum(list_transform(range(w*h), j -> " +
        "abs((doc_id*29 + s1*97 + j*3 + frame) % 256 - " +
        "(doc_id*29 + s0*97 + j*3 + frame - 1) % 256)))::BIGINT AS diff_sum " +
        "FROM pr) " +
        "SELECT doc_id, frame, w AS width, h AS height, diff_sum, " +
        "CASE WHEN diff_sum > 30 * w * h THEN 1 ELSE 0 END AS is_cut " +
        "FROM m ORDER BY doc_id, frame"),

    // DuckDB dayofweek is 0=Sunday vs Spark's 1=Sunday → +1
    "q283_t_closeness" ->
      ("WITH b AS (SELECT event_type, dayofweek(ts) + 1 AS dow, " +
        "user_id % 5 AS v FROM events), " +
        "tot AS (SELECT count(*)::DOUBLE AS n FROM b), " +
        "cv AS (SELECT event_type, dow, v, count(*)::BIGINT AS cnt " +
        "FROM b GROUP BY 1, 2, 3), " +
        "gl AS (SELECT v, count(*)::DOUBLE / (SELECT n FROM tot) AS gp " +
        "FROM b GROUP BY 1), " +
        "sz AS (SELECT event_type, dow, sum(cnt)::BIGINT AS group_size " +
        "FROM cv GROUP BY 1, 2), " +
        "agg AS (SELECT cv.event_type, cv.dow, " +
        "sum(abs(cv.cnt::DOUBLE / sz.group_size - gl.gp)) AS part1, " +
        "sum(gl.gp) AS covered FROM cv " +
        "JOIN gl USING (v) JOIN sz USING (event_type, dow) GROUP BY 1, 2) " +
        "SELECT a.event_type, a.dow, sz.group_size, " +
        "round(0.5::DOUBLE * (a.part1 + (1.0::DOUBLE - a.covered)), 6) " +
        "AS t_dist, " +
        "(round(0.5::DOUBLE * (a.part1 + (1.0::DOUBLE - a.covered)), 6) " +
        "> 0.2::DOUBLE)::INT AS violates_t " +
        "FROM agg a JOIN sz USING (event_type, dow) " +
        "ORDER BY event_type, dow"),

    "q284_dialog_validate" ->
      ("WITH tv AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user' " +
        "ELSE 'assistant' END AS role, " +
        "CASE WHEN event_id % 97 = 0 THEN '' ELSE props END AS turn_text " +
        "FROM events), " +
        "w AS (SELECT user_id, role, turn_text, " +
        "lag(role) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM tv), " +
        "g AS (SELECT user_id, count(*)::BIGINT AS n_turns, " +
        "sum(CASE WHEN prev IS NOT NULL AND prev = role THEN 1 ELSE 0 END)" +
        "::BIGINT AS n_role_repeats, " +
        "sum(CASE WHEN turn_text IS NULL OR trim(turn_text) = '' THEN 1 " +
        "ELSE 0 END)::BIGINT AS n_empty_turns, " +
        "max(CASE WHEN rn = 1 THEN (role = 'user')::INT END) AS starts_user, " +
        "max(CASE WHEN rn = n THEN (role = 'assistant')::INT END) " +
        "AS ends_assistant FROM w GROUP BY 1) " +
        "SELECT user_id, n_turns, n_role_repeats, n_empty_turns, " +
        "starts_user, ends_assistant, " +
        "(n_turns >= 2 AND n_role_repeats = 0 AND n_empty_turns = 0 " +
        "AND starts_user = 1 AND ends_assistant = 1)::INT AS valid " +
        "FROM g ORDER BY user_id"),

    "q285_mojibake_repair" -> OraclesExt.mojibakeRepair,

    "q287_domain_concentration" -> OraclesExt.urlConcentration,

    "q288_dedup_eval" -> OraclesExt.plantedTwinEval,

    "q290_bitext_mine" -> OraclesExt.bitextMine(4, 1.0),

    "q291_markdown_sections" -> OraclesExt.markdownSections,

    "q294_poisson_bootstrap" -> OraclesExt.poissonBootstrap,

    "q295_conformal" -> OraclesExt.splitConformal,

    "q296_vad_segments" -> OraclesExt.vadSegments,

    "q297_bleu" -> OraclesExt.bleu,

    "q298_chrf" -> OraclesExt.chrf,

    "q299_fleiss_kappa" -> OraclesExt.fleissKappa,

    "q300_entropy_ldiv" -> OraclesExt.entropyLDiv,

    "q301_dp_release" -> OraclesExt.dpRelease,

    "q302_embed_decontam" -> OraclesExt.embedDecontam(0.98),

    "q303_gif_decode" -> OraclesExt.gifDecode,

    "q304_readability" -> OraclesExt.readability,

    "q305_curriculum_pacing" -> OraclesExt.curriculumPacing,

    "q306_unigram_viterbi" -> OraclesExt.unigramViterbi,

    "q307_stream_dp_release" -> OraclesExt.streamDpRelease,

    "q308_luhn_pan" -> OraclesExt.luhnPanScan,

    "q309_length_batching" -> OraclesExt.lengthBatching,

    "q310_mt_eval_report" -> OraclesExt.mtEvalReport,

    "q311_krippendorff" -> OraclesExt.krippendorffAlpha,

    "q312_goertzel" -> OraclesExt.goertzelEnergy,

    "q313_winnowing" -> OraclesExt.winnowingPairs(5, 4, 50, 3),

    "q314_rbo" -> OraclesExt.rboLists,

    "q315_bh_fdr" -> OraclesExt.bhFdr,

    "q316_skipping_eval" -> OraclesExt.skippingEval,

    "q317_kcenter" -> OraclesExt.kCenterGreedy(8),

    "q318_pq_distortion" -> OraclesExt.pqDistortion,

    "q319_temp_scaling" -> OraclesExt.temperatureScaling,

    "q320_unigram_fertility" -> OraclesExt.unigramFertility,

    // half-scale pixel (x,y) samples source 2y*w + 2x of the GIF formula
    "q321_gif_resize" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 10) AS w, 8 + (doc_id % 8) AS h FROM documents), " +
        "r AS (SELECT doc_id, w, (w+1)//2 AS w2, (h+1)//2 AS h2 FROM d), " +
        "p AS (SELECT doc_id, w2::INT AS width, h2::INT AS height, (w2*h2)::INT AS n_pix, " +
        "list_sum(list_transform(range(w2*h2), j -> " +
        "(doc_id*7 + (2*(j//w2)*w + 2*(j%w2))*13) % 256))::BIGINT AS px_sum FROM r) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    "q322_binary_cell_serve" -> OraclesExt.binaryCellRerank(30, 5, 4),

    // flat-block JPEG at q=1.0 round-trips exactly, so the oracle is
    // the pixel formula itself (the q303 GIF posture)
    "q323_jpeg_decode" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 50) AS w, " +
        "8 + (doc_id % 40) AS h FROM documents), " +
        "p AS (SELECT doc_id, w::INT AS width, h::INT AS height, " +
        "(w*h)::INT AS n_pix, " +
        "list_sum(list_transform(range(w*h), i -> " +
        "((doc_id*31 + ((i % w)//8)*7 + ((i//w)//8)*13) * 29) % 256))" +
        "::BIGINT AS px_sum FROM d) " +
        "SELECT doc_id, width, height, n_pix, px_sum, " +
        "px_sum::DOUBLE / n_pix AS px_mean FROM p ORDER BY doc_id"),

    "q324_group_advantage" -> OraclesExt.groupAdvantage,

    "q325_qdigest" ->
      OraclesExt.qdigest(12, 64, Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)),

    // stream/batch parity: the drained complete-mode leaf-count store
    // compresses to the identical digest as a batch build over events
    "q326_stream_qdigest" ->
      OraclesExt.qdigest(12, 64, Seq(0.25, 0.5, 0.75, 0.95),
        "SELECT least(floor(\"value\" * 8)::BIGINT, 4095) AS v FROM events"),

    "q327_rouge_l" -> OraclesExt.rougeL,

    "q329_asym_cell_serve" -> OraclesExt.asymCellRerank(30, 5, 4),

    // digest-level merge vs whole-corpus build, parity as a column
    "q328_qdigest_merge" ->
      OraclesExt.qdigestMerge(12, 64, Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
        nShards = 4,
        "SELECT least(floor(l_extendedprice / 32)::BIGINT, 4095) AS v, " +
          "l_orderkey % 4 AS s FROM lineitem"),

    // 4-round Feistel rounds replayed with the same generated keys
    "q330_epoch_shuffle" ->
      OraclesExt.epochShuffle(seed = 42L, epochs = Seq(0, 1, 2), bits = 16),

    // pixel-formula replay of the mixed-sharpness corpus
    "q331_blur_gate" -> OraclesExt.blurGate(35000.0),

    "q332_dpo_pairs" -> OraclesExt.dpoPairs,

    // leaf buckets + 12 materialized pairwise-md5 rollup rounds
    "q333_merkle_digest" -> OraclesExt.merkleDigest(12),

    // 20 EM iterations as a recursive CTE over the pattern-count list
    "q334_fs_em" -> OraclesExt.fsEm(20),

    // drained band-bucket min store ≡ bucket-min over q14's band CTE
    "q336_stream_lsh_dedup" -> OraclesExt.streamLshDedup,

    // overlapping-occurrence position scan per (doc, pattern)
    "q338_blocklist_screen" ->
      ("WITH p AS (SELECT unnest(['ation','at','ion','the','data','in'," +
        "'ing']) AS pattern), " +
        "c AS (SELECT doc_id, pattern, " +
        "list_sum(list_transform(range(length(text) - length(pattern) + 1), " +
        "i -> CASE WHEN substr(text, i+1, length(pattern)) = pattern " +
        "THEN 1 ELSE 0 END))::BIGINT AS n_hits " +
        "FROM documents, p WHERE length(text) >= length(pattern)) " +
        "SELECT doc_id, pattern, n_hits FROM c WHERE n_hits > 0 " +
        "ORDER BY doc_id, pattern"),

    // the 10k pattern set IS the alphabet-restricted 4-gram language,
    // so one substring histogram + a regex filter replays the screen
    // without enumerating patterns
    "q339_blocklist_10k" ->
      ("WITH g AS (SELECT doc_id, unnest(list_transform(" +
        "range(greatest(length(text) - 3, 0)), " +
        "i -> substr(text, i + 1, 4))) AS pattern FROM documents), " +
        "f AS (SELECT doc_id, pattern, count(*) AS n FROM g " +
        "WHERE regexp_matches(pattern, '^[etaonis rh]{4}$') " +
        "GROUP BY 1, 2) " +
        "SELECT pattern, count(*)::BIGINT AS n_docs, " +
        "sum(n)::BIGINT AS n_hits FROM f GROUP BY 1 ORDER BY pattern"),

    // ts = epoch + doc_id minutes, so the 120-minute horizon replays
    // as an id-distance bound over q14's band CTEs
    "q340_stream_lsh_bounded" -> OraclesExt.streamLshBounded,

    // residual 1-bit serving: micro-integer residual signs + per-row
    // mean-|R| scale, score = SUM Q*C + beta*(+-Q) — bit-exact replay
    "q341_residual_cell_serve" -> OraclesExt.residualCellRerank(30, 5, 4),

    // int8 residual serving: round(R*127/s) signed codes, score =
    // 127*SUM Q*C + s*SUM Q*code — bit-exact replay
    "q342_int8_cell_serve" -> OraclesExt.int8CellRerank(30, 5, 4),

    // the incremental update must equal a FULL REBUILD over the
    // updated table (mod-11/13 updates, mod-17 deletes, mod-19
    // inserts) — the oracle IS the rebuild
    "q337_merkle_update" -> OraclesExt.merkleDigest(12,
      table = "(SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1 " +
        "ELSE o_custkey END AS o_custkey, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN 'X-URGENT' " +
        "ELSE o_orderpriority END AS o_orderpriority FROM orders " +
        "WHERE NOT (o_orderkey % 17 = 0 AND o_orderkey % 11 <> 0 " +
        "AND o_orderkey % 13 <> 0) " +
        "UNION ALL SELECT o_orderkey + 10000000, o_custkey, '5-LOW' " +
        "FROM orders WHERE o_orderkey % 19 = 0) u"),

    // stream/batch parity: drained complete-mode leaf store folds to
    // the digest a batch build over the same events produces
    "q335_stream_merkle" -> OraclesExt.merkleDigest(12,
      table = "events", keyExpr = "event_id::VARCHAR",
      contentExpr = "concat_ws(chr(31), " +
        "coalesce(event_id::VARCHAR, chr(1)), " +
        "coalesce(user_id::VARCHAR, chr(1)), " +
        "coalesce(event_type, chr(1)))"),

    "q292_robots_filter" -> OraclesExt.robotsFilter,

    // stream/batch parity: complete-mode per-domain counts ≡ the batch
    // grid over the same synthesized corpus
    "q293_stream_url_gate" ->
      (s"WITH ${OraclesExt.urlRawCte}, ${OraclesExt.urlCompCte} " +
        "SELECT domain, count(*)::BIGINT AS n_pages FROM comp " +
        "WHERE canon IS NOT NULL AND domain <> 'example.com' " +
        "GROUP BY 1 ORDER BY domain"),

    "q289_avro_roundtrip" ->
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "GROUP BY 1 ORDER BY 1"),

    // square-wave samples recomputed from the formula; argmax via
    // row_number (corr DESC, lag ASC) ≡ the Scala first-on-tie scan
    "q286_pitch_detect" ->
      ("WITH d AS (SELECT doc_id, 8 + (doc_id % 25) AS p, " +
        "8000 + (doc_id % 10) * 100 AS amp, 256 + (doc_id % 64) AS n " +
        "FROM documents), " +
        "l AS (SELECT doc_id, p, amp, n, unnest(range(2, 41)) AS lag FROM d), " +
        "r AS (SELECT doc_id, n, lag, " +
        "list_sum(list_transform(range(n - lag), i -> " +
        "(CASE WHEN (i % p) < p // 2 THEN amp ELSE -amp END) * " +
        "(CASE WHEN ((i + lag) % p) < p // 2 THEN amp ELSE -amp END)))" +
        "::BIGINT AS corr FROM l), " +
        "rk AS (SELECT doc_id, n, lag, corr, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY corr DESC, lag) AS rn FROM r) " +
        "SELECT doc_id, n::BIGINT AS n_samples, 8000::BIGINT AS sample_rate, " +
        "lag::BIGINT AS best_lag, corr AS peak_corr " +
        "FROM rk WHERE rn = 1 ORDER BY doc_id"),

    // same twin synthesis + translate-fold + the q12 grouping shape
    "q276_homoglyph_dedup" -> {
      val fold = (e: String) =>
        s"translate($e, '${Cleansing.confusableFrom}', " +
          s"'${Cleansing.confusableTo}')"
      "WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, " +
        "translate(text, 'aeopcxy', 'аеорсху') FROM documents " +
        "WHERE doc_id % 4 = 0), " +
        "k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        s"regexp_extract_all(lower(${fold("text")}), '\\w+'))), ' ')) AS ck " +
        "FROM corpus) " +
        "SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, " +
        "string_agg(doc_id::VARCHAR, ';' ORDER BY doc_id) AS member_ids " +
        "FROM k GROUP BY ck HAVING count(*) >= 2 ORDER BY keeper_id"
    },

    // the q69 scrub chain (same dirty synthesis) grouped per source
    "q275_pii_report" -> {
      import graft.ops.TextAnalysis.{emailRe, ipv4Re, longNumRe}
      "WITH dirty AS (SELECT doc_id, source, text || ' contact user' || " +
        "doc_id::VARCHAR || '@example.com via 10.' || " +
        "(doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR || " +
        "' tel ' || (5550000000 + doc_id)::VARCHAR AS t FROM documents), " +
        "d0 AS (SELECT doc_id, source, t, length(t) AS n0 FROM dirty), " +
        s"s1 AS (SELECT doc_id, source, n0, " +
        s"len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_email, " +
        s"regexp_replace(t, '$emailRe', '<EMAIL>', 'g') AS t FROM d0), " +
        s"s2 AS (SELECT doc_id, source, n0, n_email, " +
        s"len(regexp_extract_all(t, '$ipv4Re'))::BIGINT AS n_ip, " +
        s"regexp_replace(t, '$ipv4Re', '<IP>', 'g') AS t FROM s1), " +
        s"s3 AS (SELECT doc_id, source, n0, n_email, n_ip, " +
        s"len(regexp_extract_all(t, '$longNumRe'))::BIGINT AS n_num FROM s2) " +
        "SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN n_email + n_ip + n_num > 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS docs_with_pii, " +
        "sum(n_email)::BIGINT AS emails, sum(n_ip)::BIGINT AS ips, " +
        "sum(n_num)::BIGINT AS nums, " +
        "round(sum(n_email + n_ip + n_num)::DOUBLE * 1000.0 / sum(n0), 6) " +
        "AS hits_per_1k_chars FROM s3 GROUP BY 1 ORDER BY source"
    },

    // same prefix-partitioned rank, successors via rank-distance join
    "q274_sorted_neighborhood" ->
      ("WITH tok AS (SELECT doc_id, " +
        "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "b AS (SELECT doc_id AS id, list_sort(list_distinct(toks)) AS s " +
        "FROM tok), " +
        "k AS (SELECT id, s, array_to_string(s, ' ') AS key, " +
        "coalesce(s[1], '') AS pfx FROM b), " +
        "r AS (SELECT id, s, key, pfx, row_number() OVER " +
        "(PARTITION BY pfx ORDER BY key, id) AS rnk FROM k), " +
        "p AS (SELECT a.id AS ia, c.id AS ib, a.s AS sa, c.s AS sb " +
        "FROM r a JOIN r c ON a.pfx = c.pfx AND c.rnk > a.rnk " +
        "AND c.rnk <= a.rnk + 3), " +
        "j AS (SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, " +
        "round(CASE WHEN (len(sa) + len(sb) - " +
        "len(list_intersect(sa, sb))) = 0 THEN 0.0::DOUBLE " +
        "ELSE len(list_intersect(sa, sb))::DOUBLE / " +
        "(len(sa) + len(sb) - len(list_intersect(sa, sb))) END, 6) AS jac " +
        "FROM p) " +
        "SELECT DISTINCT id_a, id_b, jac FROM j WHERE jac >= 0.3 " +
        "ORDER BY id_a, id_b"),

    // the q259 recursive chain as a subquery + per-doc hash fractional
    "q273_apply_mixture" ->
      ("SELECT d.doc_id, d.source, d.lang, r.rate, " +
        "(floor(r.rate) + CASE WHEN " +
        "(('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT " +
        "% 1000000000) / 1000000000.0 < r.rate - floor(r.rate) " +
        "THEN 1 ELSE 0 END)::INT AS n_copies " +
        "FROM documents d JOIN (" +
        OraclesExt.ipfMixture(20)
          .replaceAll(" ORDER BY g.source, g.lang$", "") +
        ") r ON r.source = d.source AND r.lang = d.lang " +
        "ORDER BY d.doc_id"),

    // rank-from-latest cut, then ordered string_agg over the survivors
    "q272_chat_assemble" ->
      ("WITH r AS (SELECT user_id, ts, event_id, " +
        "event_type || ': ' || coalesce(props, '') AS turn, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, " +
        "event_id DESC) AS rnk, " +
        "count(*) OVER (PARTITION BY user_id) AS total FROM events) " +
        "SELECT user_id, max(total)::BIGINT AS n_turns_total, " +
        "count(*)::BIGINT AS n_turns_kept, " +
        "string_agg(turn, chr(10) ORDER BY ts, event_id) AS dialog " +
        "FROM r WHERE rnk <= 8 GROUP BY 1 ORDER BY user_id"),

    // per-threshold survival recomputed on the 6dp-rounded score
    "q271_quality_sweep" ->
      ("WITH tok AS (SELECT doc_id, text, " +
        "regexp_extract_all(lower(text), '\\w+') AS toks FROM documents), " +
        "q AS (SELECT doc_id, len(toks) AS n, " +
        "round((CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
        "len(list_filter(toks, t -> list_contains(['the', 'a', 'an', " +
        "'and', 'of', 'to', 'in', 'is', 'on', 'for'], t))) * 1.0 / " +
        "len(toks) END) * 0.5 + least(len(toks) / 100.0, 1.0) * 0.5 - " +
        "len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text) " +
        "* 0.25, 6) AS q FROM tok), " +
        "x AS (SELECT q, n, unnest([0.2::DOUBLE, 0.35::DOUBLE, " +
        "0.5::DOUBLE]) AS threshold FROM q) " +
        "SELECT threshold, count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN q >= threshold THEN 1 ELSE 0 END)::BIGINT " +
        "AS docs_kept, " +
        "sum(CASE WHEN q >= threshold THEN n ELSE 0 END)::BIGINT " +
        "AS tokens_kept, " +
        "sum(n)::BIGINT AS tokens_total, " +
        "CASE WHEN sum(n) = 0 THEN 0.0::DOUBLE ELSE " +
        "round(sum(CASE WHEN q >= threshold THEN n ELSE 0 END)::DOUBLE " +
        "/ sum(n), 6) END AS frac_tokens_kept " +
        "FROM x GROUP BY 1 ORDER BY threshold"),

    // same page synthesis + href regex + the q133 unrolled-step chain
    "q270_link_graph" -> {
      val step = (k: Int) =>
        s"r$k AS (SELECT e.dst AS id, round(0.15 + 0.85 * " +
          s"sum(r.rank / d.outdeg), 9) AS rank FROM e " +
          s"JOIN r${k - 1} r ON r.id = e.src JOIN d ON d.src = e.src " +
          "GROUP BY 1), "
      "WITH h AS (SELECT doc_id, source, '<html><body><a href=\"/s/' || " +
        "source || '\">self</a><a href=\"/s/src' || ((doc_id + 1) % 20) || " +
        "'\">next</a>' || CASE WHEN doc_id % 2 = 0 THEN " +
        "'<a href=\"/s/src' || ((doc_id + 5) % 20) || '\">also</a>' " +
        "ELSE '' END || '</body></html>' AS html FROM documents), " +
        "x AS (SELECT source AS src, unnest(regexp_extract_all(html, " +
        "'(?i)<a\\b[^>]*href=\"([^\"]*)\"', 1)) AS href FROM h), " +
        "e AS (SELECT DISTINCT src, regexp_extract(href, '^/s/(.*)$', 1) " +
        "AS dst FROM x WHERE regexp_extract(href, '^/s/(.*)$', 1) <> src " +
        "AND regexp_extract(href, '^/s/(.*)$', 1) <> ''), " +
        "d AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT DISTINCT src AS id, 1.0::DOUBLE AS rank FROM e), " +
        (1 to 5).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT id AS domain, round(rank, 6) AS rank FROM r5 " +
        "ORDER BY rank DESC, domain"
    },

    // latest ceil(n*0.2) rows per user by (ts, event_id) desc
    "q268_temporal_split" ->
      ("WITH r AS (SELECT user_id, ts, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, " +
        "event_id DESC) AS rnk, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM events), " +
        "s AS (SELECT user_id, ts, CASE WHEN rnk <= ceil(n * 0.2) " +
        "THEN 'test' ELSE 'train' END AS split FROM r) " +
        "SELECT user_id, split, count(*)::BIGINT AS n, " +
        "min(ts) AS min_ts, max(ts) AS max_ts FROM s " +
        "GROUP BY 1, 2 ORDER BY user_id, split"),

    // the q253 recomputation filtered to confident disagreements
    "q269_label_disagreement" ->
      ("SELECT doc_id, y, log_odds, pred FROM (" +
        OraclesExt.naiveBayes(512).replaceAll(" ORDER BY l.doc_id$", "") +
        ") WHERE pred <> y AND abs(log_odds) >= 1.0 ORDER BY doc_id"),

    // q41's mirror: DuckDB ASOF with the inequality flipped
    "q266_asof_forward" ->
      ("WITH p AS (SELECT user_id, ts, max(value) AS purch_val FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "c AS (SELECT event_id, user_id, ts, value AS click_val FROM events " +
        "WHERE event_type = 'click') " +
        "SELECT c.event_id, c.user_id, c.click_val, p.purch_val " +
        "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.event_id"),

    // identity oracle over the single-year slice (the q225 posture)
    "q265_date_yearless" ->
      ("SELECT o_orderkey AS k, (o_orderkey % 6)::BIGINT AS shape, " +
        "o_orderdate AS parsed FROM orders " +
        "WHERE year(o_orderdate) = 1995 ORDER BY k")
  )

  /** q254's cohort audit, shared verbatim by the streaming monitor
    * (q264) — the drained per-(cohort, user) store rolls up to the same
    * grid a batch scan produces. */
  private val kAnonymitySql: String =
    "SELECT event_type, CAST(ts AS DATE) AS day, " +
      "count(*)::BIGINT AS group_size, " +
      "count(DISTINCT user_id)::BIGINT AS l_distinct, " +
      "round(1.0::DOUBLE / count(*), 6) AS risk, " +
      "(count(*) < 30)::INT AS violates_k, " +
      "(count(DISTINCT user_id) < 10)::INT AS violates_l " +
      "FROM events GROUP BY 1, 2 ORDER BY event_type, day"

  /** One query's fused TF-IDF ⊕ BM25 chain (q198's oracle body,
    * parameterized by the term set) — top-20 arms, kConst 60, top-15. */
  private def rrfFusedSql(terms: Seq[String]): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(regexp_extract_all(lower(text), '\\b$t\\b')) AS tf$i"
    }.mkString(", ")
    val tfsD = terms.zipWithIndex.map { case (t, i) =>
      s"len(regexp_extract_all(lower(text), '\\b$t\\b'))::DOUBLE AS tf$i"
    }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(", ")
    val scoreA = terms.indices.map(i =>
      s"tf$i * ln((s.n + 1.0) / (s.df$i + 1.0))").mkString(" + ")
    val scoreB = terms.indices.map { i =>
      s"ln((s2.n - s2.df$i + 0.5) / (s2.df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
        s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / s2.avgdl))"
    }.mkString(" + ")
    s"WITH d AS (SELECT doc_id, $tfs FROM documents), " +
      s"s AS (SELECT count(*)::DOUBLE AS n, $dfs FROM d), " +
      s"la AS (SELECT doc_id, round($scoreA, 6) AS sc FROM d, s " +
      "ORDER BY sc DESC, doc_id LIMIT 20), " +
      "ra AS (SELECT doc_id, row_number() OVER " +
      "(ORDER BY sc DESC, doc_id)::INT AS rank_a FROM la), " +
      "d2 AS (SELECT doc_id, " +
      s"len(regexp_extract_all(lower(text), '\\w+'))::DOUBLE AS dl, $tfsD " +
      "FROM documents), " +
      s"s2 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfs FROM d2), " +
      s"lb AS (SELECT doc_id, round($scoreB, 6) AS sc FROM d2, s2 " +
      "ORDER BY sc DESC, doc_id LIMIT 20), " +
      "rb AS (SELECT doc_id, row_number() OVER " +
      "(ORDER BY sc DESC, doc_id)::INT AS rank_b FROM lb) " +
      "SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, rank_a, rank_b, " +
      "round(coalesce(1.0::DOUBLE / (60 + rank_a), 0) + " +
      "coalesce(1.0::DOUBLE / (60 + rank_b), 0), 9) AS rrf " +
      "FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id " +
      "ORDER BY rrf DESC, doc_id LIMIT 15"
  }
}
