package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.logging.log4j.Level
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Engine counters of one job description, summed over its jobs. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  /** (start, end) wall-clock ms of each job */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Records, per `spark.job.description`, every job, stage and task the
  * scheduler reports. The benchmark sets a distinct description before
  * each query or layer call, so each span's jobs are found by name. */
final class JobListener extends SparkListener {
  private val byDesc = mutable.HashMap[String, Counters]()
  private val stageDesc = mutable.HashMap[Int, String]()
  private val jobDesc = mutable.HashMap[Int, (String, Long)]()
  /** (description, jobId, start, end) of every finished job, in order */
  val jobLog = mutable.ArrayBuffer[(String, Int, Long, Long)]()
  private val rddBlocks = mutable.HashSet[BlockId]()
  private var stored = 0L
  /** Bytes (memory + disk) of every RDD block stored so far: checkpoints
    * and caches. A block counts once, when it is first stored. */
  def storedBytes: Long = synchronized(stored)

  private def desc(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("(none)")
  private def of(d: String): Counters = byDesc.getOrElseUpdate(d, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = desc(e.properties)
    jobDesc(e.jobId) = (d, e.time)
    of(d).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobDesc.remove(e.jobId).foreach { case (d, start) =>
      of(d).intervals += ((start, e.time))
      jobLog += ((d, e.jobId, start, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val d = desc(e.properties)
    stageDesc(e.stageInfo.stageId) = d
    of(d).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageDesc.getOrElse(e.stageId, "(none)"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      if (!b.storageLevel.isValid) rddBlocks.remove(b.blockId)
      else if (rddBlocks.add(b.blockId)) stored += b.memSize + b.diskSize
    }
  }
  def counters(d: String): Counters = synchronized(of(d))
}

/** Keeps every query execution the session reports, in order: the
  * executed plan and planning phases of a query are read from the
  * execution that ran, so the benchmark never plans a query itself. */
final class Executions extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer[QueryExecution]()
  /** The executions reported since the last call, which are then dropped
    * so that no plan outlives its query. */
  def take(): Seq[QueryExecution] = synchronized {
    val r = done.toList
    done.clear()
    r
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized(done += qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Counts the engine's log lines that mark a silent slow path: whole-stage
  * codegen given up for a plan (compile failure past the 64 KB method
  * limit, or a generated method too long to JIT) and task binaries large
  * enough to be broadcast. */
final class LogCounter extends AbstractAppender(
    "perfbench-counter", null, null, true, Property.EMPTY_ARRAY) {
  private val fallbacks = new AtomicLong
  private val largeBinaries = new AtomicLong
  def codegenFallbacks: Long = fallbacks.get
  def largeTaskBinaries: Long = largeBinaries.get
  // tasks log from executor threads concurrently with the driver
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("Whole-stage codegen disabled") ||
        m.contains("Found too long generated codes") ||
        m.contains("falling back to interpreter mode")) fallbacks.incrementAndGet()
    if (m.contains("Broadcasting large task binary")) largeBinaries.incrementAndGet()
  }
}

object LogCounter {
  private val codegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  /** Attach `a` to the root logger. The whole-stage "too long" notice is
    * logged at INFO, so its logger is lowered to INFO while attached. */
  def attach(a: LogCounter): Unit = {
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.INFO, null)
    ctx.updateLoggers()
    Configurator.setLevel(codegenLogger, Level.INFO)
  }

  /** Undo [[attach]]: the logger goes back to the root logger's level. */
  def detach(a: LogCounter): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(a.getName)
    ctx.updateLoggers()
    Configurator.setLevel(codegenLogger, ctx.getRootLogger.getLevel)
  }
}

/** Physical-plan shape counters of a query's executed plan, read after it
  * ran, so adaptive execution's final plan is counted. */
object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    here ++ p.subqueries.flatMap(nodes)
  }

  /** (shuffle exchanges, windows with no partition key) */
  def of(qe: QueryExecution): (Int, Int) = {
    val all = nodes(qe.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }
}

/** One recorded span: workload → pass → query → (Spark job), and
  * workload → layers → layer call → (Spark job). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Seq[(String, Double)])

/** What the engine reported for one tagged block of benchmark code. */
final case class Tagged(counters: Counters, codegenFallbacks: Long,
    largeTaskBinaries: Long, storedBytes: Long, executions: Seq[QueryExecution])

/** In-memory span recorder; written out once, at the end of the run. Its
  * listeners and log appender are attached only while tracing is [[on]]. */
final class Tracer(spark: SparkSession) {
  private val listener = new JobListener
  private val logs = new LogCounter
  logs.start()
  private val executions = new Executions
  private var attached = false
  private val spans = mutable.ArrayBuffer[Span]()

  def on(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(executions)
    LogCounter.attach(logs)
    attached = true
    // events still queued from untraced work reach the listeners now, and
    // not inside the first tagged block
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  }
  def off(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(executions)
    LogCounter.detach(logs)
    attached = false
  }

  def open(parent: Int, kind: String, name: String): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, System.currentTimeMillis(), -1L, Nil)
    id
  }
  def close(id: Int, attrs: Seq[(String, Double)] = Nil): Unit = {
    val s = spans(id - 1)
    spans(id - 1) = s.copy(endMs = System.currentTimeMillis(), attrs = attrs)
  }

  /** Run `body` with every job it starts tagged `desc`; return what the
    * engine reported for it once all its events have been delivered. */
  def tagged(desc: String)(body: => Unit): Tagged = {
    val sc = spark.sparkContext
    sc.setJobDescription(desc)
    val (cg0, tb0) = (logs.codegenFallbacks, logs.largeTaskBinaries)
    val st0 = listener.storedBytes
    executions.take()
    try {
      body
      org.apache.spark.perfbench.Bus.drain(sc)
      Tagged(listener.counters(desc), logs.codegenFallbacks - cg0,
        logs.largeTaskBinaries - tb0, listener.storedBytes - st0,
        executions.take())
    } finally sc.setJobDescription(null)
  }

  /** Add a child span for every finished job tagged `desc`. */
  def jobSpans(parent: Int, desc: String): Unit =
    listener.synchronized(listener.jobLog.filter(_._1 == desc).toList)
      .foreach { case (_, jobId, start, end) =>
        spans += Span(spans.size + 1, parent, "job", s"job $jobId", start, end, Nil)
      }

  def json: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"attrs":$attrs}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
