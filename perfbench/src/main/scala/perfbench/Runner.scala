package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** One benchmark run in one JVM: build the session, run the workload's
  * registry queries (`graft.SparkEntry.queries`) once cold, then pass
  * after pass for the measuring window, and write every figure to a JSON
  * file. Every execution writes its result to parquet under
  * `<work>/results/<pass>/<query>`, so every execution can be checked.
  *
  * Usage: Runner --workload <name> --queries <q1,q2,..> --data <dir>
  *   --work <dir> --seconds <s> --trace <0|1> --out <results.json>
  *
  * The first warm pass is warm-up (the JIT is still settling) and does
  * not count towards `pass_s`. With `--trace 1` the run also records spans
  * (workload → pass → query → job), engine counters per query, and the
  * per-layer timings of [[Layers]]; after the warm-up its warm passes
  * alternate untraced and traced, so each traced pass lies between two
  * untraced ones and the tracing overhead is measured in the same run.
  */
object Runner {
  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: String): SparkSession = {
    val cpus = "4"
    val s = SparkSession.builder()
      .withExtensions(new graft.ext.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      // the engine's own bench and verify sessions pin the sort-based
      // shuffle writer; measure the configuration they ship
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since this JVM started. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val work = arg(args, "--work").get
    val workload = arg(args, "--workload").get
    val names = arg(args, "--queries").get.split(",").toSeq
    val data = arg(args, "--data").get
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").get

    val spark = session(work)
    val setupS = sinceJvmStart()
    val queries = names.map(n => n -> graft.SparkEntry.queries(n))
    /** (pass, query, error message or null) of every execution */
    val outputs = mutable.ArrayBuffer[(String, String, String)]()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val root = tracer.map(_.open(0, "workload", workload)).getOrElse(0)
    val traced = mutable.ArrayBuffer[Map[String, QueryStats]]()

    /** One full pass over the workload's queries; returns its wall time. */
    def pass(label: String, withTrace: Boolean): Double = {
      val t0 = System.nanoTime()
      tracer.foreach(t => if (withTrace) t.on() else t.off())
      val passSpan = tracer.filter(_ => withTrace).map(_.open(root, "pass", label))
      val stats = mutable.LinkedHashMap[String, QueryStats]()
      queries.foreach { case (q, fn) =>
        val path = s"$work/results/$label/$q"
        val error = try {
          tracer.filter(_ => withTrace) match {
            case Some(t) => stats(q) = QueryStats.measure(t, passSpan.get,
              s"$workload/$label/$q", q, () => fn(spark, data), path)
            case None => fn(spark, data).write.mode("overwrite").parquet(path)
          }
          null
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $label/$q failed: $e")
            String.valueOf(e.getMessage).take(300)
        }
        outputs += ((label, q, error))
      }
      passSpan.foreach(id => tracer.get.close(id))
      if (withTrace) traced += stats.toMap
      (System.nanoTime() - t0) / 1e9
    }

    val cold = pass("cold", withTrace = trace)
    /** (traced, seconds) of each warm pass; the first is warm-up */
    val warm = mutable.ArrayBuffer[(Boolean, Double)]()
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    // measure for `seconds`, and for at least one pass after the warm-up.
    // A traced run alternates untraced and traced passes after the
    // warm-up and ends on an untraced one: warm-up, untraced, traced,
    // untraced at least.
    def enough = warm.size >= 2 && elapsed >= seconds &&
      (!trace || (warm.size >= 4 && warm.size % 2 == 0))
    while (!enough) {
      val withTrace = trace && warm.size >= 2 && warm.size % 2 == 0
      warm += withTrace -> pass(s"warm${warm.size + 1}", withTrace)
    }
    val measured = warm.drop(1)
    val untracedTimes = measured.filterNot(_._1).map(_._2).toSeq
    // each traced pass against the mean of the untraced passes on both sides
    val overheads = warm.indices.filter(i => warm(i)._1)
      .map(i => warm(i)._2 - (warm(i - 1)._2 + warm(i + 1)._2) / 2)

    val layers = tracer.map { t => t.on(); Layers.measure(spark, t, root, data, work) }
      .getOrElse(Nil)

    tracer.foreach(t => t.close(root))
    // the ContextCleaner drops unreachable checkpoints and shuffles only
    // after a GC has enqueued their references: collect, let it run, and
    // collect again, so the reading is the live set and not cleanup timing
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val oracles = queries.map { case (q, _) =>
      q -> Json.str(graft.SparkEntry.oracleSql.getOrElse(q, ""))
    }
    val fields = mutable.ArrayBuffer[(String, String)](
      "setup_s" -> Json.num(setupS),
      "cold_pass_s" -> Json.num(cold),
      "pass_s" -> Json.num(median(untracedTimes)),
      "warm_passes" -> warm.map { case (tr, s) =>
        Json.obj(Seq("traced" -> tr.toString, "s" -> Json.num(s)))
      }.mkString("[", ",", "]"),
      "heap_live_mb" -> Json.num(heapMb),
      "outputs" -> outputs.map { case (p, q, e) =>
        Json.obj(Seq("pass" -> Json.str(p), "query" -> Json.str(q),
          "error" -> Option(e).map(Json.str).getOrElse("null")))
      }.mkString("[", ",", "]"),
      "oracle_sql" -> Json.obj(oracles))
    tracer.foreach { t =>
      fields += "trace_overhead_s" -> Json.num(median(overheads))
      fields += "traced_passes" -> traced.map(QueryStats.totalsJson).mkString("[", ",", "]")
      fields += "queries" -> Json.obj(traced.last.toSeq.map { case (q, s) => q -> s.json })
      fields += "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
      Files.writeString(Paths.get(s"$work/trace.json"), t.json)
    }
    Files.writeString(Paths.get(out), Json.obj(fields.toSeq))
    spark.stop()
  }
}

/** Engine counters of one query execution in a traced pass. */
final case class QueryStats(values: Seq[(String, Double)]) {
  def json: String = Json.obj(values.map { case (k, v) => k -> Json.num(v) })
}

object QueryStats {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "task_s", "cpu_s",
    "wait_s", "gc_s", "driver_gap_s", "plan_s", "shuffle_write_mb",
    "shuffle_read_mb", "fetch_wait_s", "spill_mb", "codegen_fallbacks",
    "large_task_binaries", "exchanges", "unpartitioned_windows", "stored_mb")

  /** Total wall ms covered by at least one of `iv`. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Run one query, writing its result to `path`, and read its counters.
    * `plan_s` is the query call (which builds the DataFrame and runs any
    * job the query needs eagerly, such as a checkpoint) plus the optimizer
    * and planner phases of the write that executed it. */
  def measure(t: Tracer, passSpan: Int, desc: String, q: String,
      build: () => DataFrame, path: String): QueryStats = {
    val span = t.open(passSpan, "query", q)
    val t0 = System.nanoTime()
    var callS = 0.0
    val r = t.tagged(desc) {
      val df = build()
      callS = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").parquet(path)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    // the last execution the session reported is the write itself
    val qe = r.executions.last
    val phases = qe.tracker.phases
    val planS = callS + Seq(QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum / 1e3
    val (exchanges, windows) = PlanShape.of(qe)
    val c = r.counters
    val mb = 1e6
    val stats = QueryStats(Seq(
      "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
      "tasks" -> c.tasks.toDouble, "task_s" -> c.taskMs / 1e3,
      "cpu_s" -> c.cpuNs / 1e9, "wait_s" -> (c.taskMs / 1e3 - c.cpuNs / 1e9),
      "gc_s" -> c.gcMs / 1e3,
      "driver_gap_s" -> (wallMs - unionMs(c.intervals.toSeq)) / 1e3,
      "plan_s" -> planS, "shuffle_write_mb" -> c.shuffleWriteBytes / mb,
      "shuffle_read_mb" -> c.shuffleReadBytes / mb,
      "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_mb" -> c.spillBytes / mb,
      "codegen_fallbacks" -> r.codegenFallbacks.toDouble,
      "large_task_binaries" -> r.largeTaskBinaries.toDouble,
      "exchanges" -> exchanges.toDouble, "unpartitioned_windows" -> windows.toDouble,
      "stored_mb" -> r.storedBytes / mb))
    t.jobSpans(span, desc)
    t.close(span, stats.values)
    stats
  }

  /** Per-pass totals of every counter, summed over the pass's queries. */
  def totalsJson(pass: Map[String, QueryStats]): String =
    Json.obj(names.map { n =>
      n -> Json.num(pass.values.map(_.values.toMap.apply(n)).sum)
    })
}
