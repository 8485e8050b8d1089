package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

/** Helpers shared by the query families: table scans, the scratch
  * directory, stream sources and sinks, and the fixed workloads both a
  * query and its oracle embed. References no family object, so any
  * family may read it while it initializes. */
private[graft] object Common {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** Balanced scan for CPU-heavy pipelines (regex/hash/vector math per
    * row): spreads a single-row-group local file across cores. Plain
    * aggregate scans stay on t() — an extra shuffle there is pure loss. */
  def tb(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name, balance = true)

  /** The trained quality classifier's scored corpus (q163's pipeline) —
    * shared by the model-governance rows (q177 calibration, q179 AUC):
    * engineered features checkpointed once, 3-step logreg fit, scored
    * frame with (doc_id, y, prob, pred). */
  def scoredDocsQuality(s: SparkSession, dir: String): DataFrame = {
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

  def scratch(name: String): String = {
    val d = scratchRoot.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Deterministic dirty-URL synthesis for q279/q280 — mirrored
    * string-for-string in [[graft.Oracles.urlRawCte]]; see that scaladoc for
    * the branch each of the eight shapes exercises. */
  def urlSynth(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
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
  val pinnedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** q219's fixed retrieval workload — shared by the Spark row and its
    * DuckDB oracle so the two sides stay in lockstep. */
  val rrfQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "query", "join"),
    2 -> Seq("stream", "window", "batch"),
    3 -> Seq("sort", "merge", "fast"))

  /** A fresh finite stream over the events parquet. The file streaming
    * source lists a DIRECTORY, so the single parquet is exposed through a
    * temp dir (hard link — same fs, no copy); TIMESTAMP(NANOS)-as-long is
    * normalized exactly like Sources.table. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
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
  def docsStream(s: SparkSession, dir: String): DataFrame = {
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
  def docsStreamBalanced(s: SparkSession, dir: String): DataFrame =
    docsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** The events stream chopped into `n` range-partitioned files streamed
    * ONE per micro-batch — forces a real multi-batch run for the
    * foreachBatch merge (a single-file AvailableNow source would drain in
    * one batch and never exercise the store merge loop). */
  def eventsStreamSplit(s: SparkSession, dir: String, n: Int): DataFrame = {
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
  def drainToTable(
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
}
