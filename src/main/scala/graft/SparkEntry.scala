package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.TimesheetPipeline
import graft.queries._

/** Registry contract: one entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent oracle. The entries live
  * in one file per family under `graft/queries/`, where each query sits
  * beside its oracle; `queries` and `oracleSql` are views of them. Every
  * query ends in a deterministic ORDER BY so the comparison is stable
  * regardless of partitioning.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TimesheetPipeline.flagship(spark, "/root/testdata/sf0.001")

  /** Built on every call, like the two views: nothing holds the 342
    * oracle strings between calls. */
  def registry: Seq[Query] = Query.registry(Seq(
    TimesheetQueries.all, RelationalQueries.all, TpchQueries.all,
    TemporalQueries.all, StreamingQueries.all, DedupQueries.all,
    SimilarityQueries.all, TextQueries.all, CorpusQueries.all,
    WebQueries.all, MultimodalQueries.all, GraphQueries.all,
    SketchQueries.all, ModelQueries.all))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
