package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1 / S2 — sources (SURVEY.md §2.1).
  *
  * The reference's workbook is a collection of named tables whose sheet
  * name is itself data (timesheet_transform.py:21-29). Canonical columnar
  * equivalent: one frame per "sheet", unioned by name with missing-column
  * tolerance, the sheet name injected both as the default for a missing
  * column and as an explicit `_sheet` lineage column.
  */
object Sources {

  /** Rebalance a freshly-scanned frame whose split count is far below the
    * session's parallelism: a small parquet file is a single row group →
    * a single input partition → every pre-shuffle expression (regex
    * cleansing, date parsing, unpivot) runs on ONE core no matter how many
    * the session has. The explicit numPartitions pins the round-robin
    * shuffle against AQE coalescing. At production scale the condition is
    * false (splits >= cores), so no shuffle is ever added to a large scan;
    * tiny frames (< ~200 KB, broadcast-destined) are left alone.
    *
    * Opt-in per pipeline, NOT applied to every scan: the added shuffle
    * only pays off when the per-row CPU work downstream (regex, hashing,
    * vector math) exceeds the cost of cycling the rows through the
    * shuffle — for a scan feeding a plain aggregate it is pure loss. */
  def balanced(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (parts < math.max(2, cores / 2) && bytes > 200L * 1024)
      df.repartition(cores)
    else df
  }

  /** The one optimizer barrier: `filter(noPushdown(p))` stays where it is
    * written. PushDownPredicates moves a deterministic filter below the
    * projections and repartitions under it, substituting every projected
    * expression it reads — a filter on a costly derived column (a regex
    * rule battery, a tokenizer) then evaluates that chain a second time,
    * below the balancing exchange, on the scan's few input partitions
    * (q239 measured a 2.1 s single-task stage plus 12 s of duplicate
    * work). A nondeterministic predicate is never pushed, and
    * `spark_partition_id() >= 0` always holds, so the wrapper changes
    * where the predicate runs, not its value. It must WRAP the predicate:
    * a bare `p && guard` conjunction is split and `p` pushed alone.
    * PlanShapeSpec locks this against Spark upgrades. */
  def noPushdown(pred: Column): Column =
    when(spark_partition_id() >= 0, pred).otherwise(lit(false))

  /** S1: canonical structured scan. The `events` table carries a
    * TIMESTAMP(NANOS) parquet column which Spark only reads as long (via
    * spark.sql.legacy.parquet.nanosAsLong, set by [[graft.GraftSession]]);
    * normalize it back to a microsecond TimestampType here so downstream
    * operators always see a timestamp. `balance=true` routes the scan
    * through [[balanced]] — use for CPU-heavy downstream pipelines. */
  def table(spark: SparkSession, sfDir: String, name: String,
      balance: Boolean = false): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    val df = if (balance) balanced(raw) else raw
    normalizeTimestamps(
      if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)")) // integer div: ns are > 2^53, double math would lose precision
      else df)
  }

  /** Driver parquet is written tz-naive; if a session reads it with NTZ
    * inference on (the Spark 4 default), re-cast every TIMESTAMP_NTZ
    * column to a plain instant — session tz is UTC everywhere here, so
    * the wall-clock values are unchanged. NTZ event-time columns would
    * otherwise fail streaming watermark analysis. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(
      _.dataType == org.apache.spark.sql.types.TimestampNTZType)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df)((d, f) =>
      d.withColumn(f.name, col(f.name).cast("timestamp")))
  }

  /** S1 (CSV container): schema-first CSV scan, header row, PERMISSIVE
    * row tolerance (malformed rows -> nulls, matching the reference's
    * skip-don't-throw posture). Excel is the reference's *container*;
    * CSV/Parquet are the canonical columnar equivalents here. */
  def csvTable(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S1 (JSON-lines container): schema-first scan — schema-on-read
    * without inference (inference is an extra full pass over the data at
    * scale), PERMISSIVE row tolerance like [[csvTable]]. */
  def jsonTable(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  /** S1 (ORC container): columnar alternative to parquet — same
    * schema-first posture; ORC support is native to Spark SQL (predicate
    * pushdown + column pruning apply as with parquet). */
  def orcTable(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** S2: union heterogeneous sheets; a sheet lacking `defaultCol` gets it
    * filled with the sheet name (timesheet_transform.py:23-26); sheets with
    * different column sets union by name with null fill
    * (unionByName(allowMissingColumns=true) ≙ pd.concat). */
  def unionSheets(
      sheets: Seq[(String, DataFrame)],
      defaultCol: String,
      sheetCol: String = "_sheet"): DataFrame = {
    val prepared = sheets.map { case (name, df) =>
      val withDefault =
        if (df.columns.contains(defaultCol)) df
        else df.withColumn(defaultCol, lit(name))
      withDefault.withColumn(sheetCol, lit(name))
    }
    prepared.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
