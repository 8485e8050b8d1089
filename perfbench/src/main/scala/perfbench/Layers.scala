package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.TimesheetFixture
import graft.ops._
import graft.pipelines.{CurationPipeline, TimesheetPipeline}

/** Per-layer timings for the traced run: each module's public functions
  * are called from outside, on inputs this object has already
  * materialized (localCheckpoint), so a layer's time is its own work and
  * not its upstream's. Each call runs once, so its time includes
  * generating and compiling the layer's code; a second, warm call would
  * push a traced run past its time limit. The arguments are those the
  * workload queries pass.
  */
object Layers {

  def measure(spark: SparkSession, t: Tracer, root: Int, data: String,
      work: String): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer[(String, Double)]()
    val layersSpan = t.open(root, "layers", "layers")

    /** Time `body`, tagging its jobs as a layer span. */
    def time(name: String)(body: => Unit): Counters = {
      val desc = s"layer/$name"
      val span = t.open(layersSpan, "layer", name)
      val t0 = System.nanoTime()
      val c = t.tagged(desc)(body).counters
      val s = (System.nanoTime() - t0) / 1e9
      t.jobSpans(span, desc)
      t.close(span, Seq("s" -> s))
      out += name -> s
      c
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def dirMb(f: File): Double =
      if (f.isDirectory) f.listFiles().map(dirMb).sum else f.length() / 1e6

    // ── timesheet read path: fixture → parse → melt → hours → lookup → agg
    val scan = time("fixtures.wide_s")(noop(TimesheetFixture.wide(spark, data)))
    out += "sources.scan_tasks" -> scan.tasks.toDouble
    val wide = TimesheetFixture.wide(spark, data).localCheckpoint()
    def parse(w: DataFrame) = w
      .filter(Cleansing.hasWeekRange(col("weekrange")))
      .withColumn("week_start", Cleansing.weekStart(col("weekrange")))
      .filter(col("week_start").isNotNull)
      .withColumn("surname", Cleansing.surname(col("autore")))
    time("cleansing.parse_s")(noop(parse(wide)))
    val parsed = parse(wide).localCheckpoint()
    val idCols = Seq("rid", "week_start", "surname", "commessa")
    time("reshape.melt_s")(noop(Reshape.meltWeek(parsed, idCols)))
    val melted = Reshape.meltWeek(parsed, idCols).localCheckpoint()
    out += "reshape.rows_out_per_in" -> melted.count().toDouble / parsed.count()
    time("cleansing.hours_s")(noop(melted
      .withColumn("ore", Cleansing.cleanHours(col("ore_raw")))
      .filter(Cleansing.keepHours(col("ore_raw"), col("ore")))))
    val records = TimesheetPipeline.cleansedRecords(spark, data).localCheckpoint()
    val mapping = TimesheetFixture.mapping(spark)
    time("lookup.map_s")(noop(Lookup.mapWithDefault(records, "commessa", mapping)))
    val mapped = Lookup.mapWithDefault(records, "commessa", mapping).localCheckpoint()
    def agg = Aggregates.setJoinSum(mapped, Seq("data", "surname"), "commessa", "ore")
    time("aggregates.setjoin_s")(noop(agg))

    // ── write path: partitioned parquet and the in-place xlsx merge
    val flagship = agg.localCheckpoint()
    val partDir = s"$work/layers/partitioned"
    time("sinks.partitioned_write_s")(
      Sinks.writePartitioned(flagship, "surname", partDir))
    out += "sinks.bytes_mb" -> dirMb(new File(partDir))
    val orders = Sources.table(spark, data, "orders")
    val target = orders
      .groupBy(col("o_orderpriority").as("surname"), col("o_orderdate").as("data"))
      .agg(min(col("o_orderstatus")).as("commessa"),
        round(sum(col("o_totalprice")), 2).as("ore"))
      .localCheckpoint()
    val book = s"$work/layers/target.xlsx"
    time("xlsx.write_s")(Xlsx.writeSheets(target, "surname", book))
    out += "xlsx.bytes_mb" -> new File(book).length() / 1e6
    time("xlsx.read_s")(noop(Xlsx.readSheet(spark, book, sheet = None)))
    val patch = Xlsx.readSheet(spark, book, sheet = None)
      .filter(col("_row") % 3 === 0)
      .select(col("_sheet"), col("_row"), lit("PATCHED").as("commessa"),
        lit(1.0).as("ore"))
      .localCheckpoint()
    time("xlsx.patch_s")(Xlsx.patchSheets(spark, book,
      s"$work/layers/patched.xlsx", patch, Seq("commessa", "ore")))

    // ── curation: tokenize → MinHash / SimHash pairs → components
    val docs = Sources.table(spark, data, "documents", balance = true).localCheckpoint()
    def words = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("toks"))
    time("textanalysis.words_s")(noop(words))
    val toks = words.localCheckpoint()
    val shingles = Dedup.shingles(col("toks"), 3)
    time("dedup.minhash_pairs_s")(noop(Dedup.minhashPairs(toks, "doc_id", shingles)))
    time("dedup.simhash_pairs_s")(noop(
      Dedup.simhashPairs(toks, "doc_id", col("toks"), maxDist = 6)))
    val edges = Dedup.simhashPairs(toks, "doc_id", col("toks"), maxDist = 6)
      .localCheckpoint()
    time("dedup.cc_star_s")(noop(Dedup.connectedComponentsStar(edges, "id_a", "id_b")))
    // LSH selectivity at q71's threshold: distinct band-sharing pairs
    // against the pairs the est-Jaccard filter keeps
    val bands = toks
      .select(col("doc_id"), explode(Dedup.bandKeys(
        Dedup.minhashSignature(shingles))).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.key").as("key"))
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val kept = Dedup.minhashPairs(toks, "doc_id", shingles)
      .filter(col("est_jac") >= 0.75).count()
    out += "dedup.candidates" -> candidates.toDouble
    out += "dedup.kept_per_candidate" -> kept.toDouble / math.max(candidates, 1L)
    time("curation.staged_s")(noop(CurationPipeline.staged(
      docs.select("doc_id", "source", "text"), minQuality = 0.25, minJac = 0.5)))

    // ── graph: the symmetric customer–supplier trade graph of q133
    val rel = orders
      .join(Sources.table(spark, data, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 1000000L).as("supp"))
      .distinct()
      .localCheckpoint()
    val sym = rel.select(col("cust").as("src"), col("supp").as("dst"))
      .unionByName(rel.select(col("supp").as("src"), col("cust").as("dst")))
      .localCheckpoint()
    val pr = time("graph.pagerank_s")(noop(Graph.pageRank(sym, "src", "dst", iterations = 5)))
    out += "graph.jobs_per_iteration" -> pr.jobs / 5.0
    time("graph.label_propagation_s")(noop(
      Graph.labelPropagation(sym, "src", "dst", iterations = 4)))
    time("graph.hits_s")(noop(Graph.hits(
      rel.select(col("cust").as("src"), col("supp").as("dst")), "src", "dst",
      iterations = 4)))
    val seeds = Sources.table(spark, data, "customer")
      .filter(col("c_nationkey") === 1).select(col("c_custkey").as("id"))
    time("graph.ppr_s")(noop(Graph.personalizedPageRank(sym, "src", "dst",
      seeds, "id", iterations = 5)))

    t.close(layersSpan)
    out.toSeq
  }
}
