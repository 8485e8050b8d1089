package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 / P3 / S3 — dictionary lookup with fall-through default
  * (SURVEY.md §2.4; reference: timesheet_transform.py:17-18,55-56).
  *
  * The reference's `dict.get(code, code)` becomes a left-outer equi-join +
  * `coalesce` — the mapping side is a small dimension that Spark
  * broadcasts, so the join never shuffles the fact side
  * (BroadcastHashJoinExec; at 100 TB the probe stays fully parallel and
  * map-side).
  */
object Lookup {

  /** Replace `df(keyCol)` with the mapped value from `mapping`, keeping the
    * original value when no mapping row exists (fall-through). `mapping`
    * is read positionally: first column = key, second = value (the
    * reference reads its mapping workbook positionally,
    * timesheet_transform.py:18).
    *
    * Broadcast guard (SURVEY §7.5 #5): the join carries no hint. Spark's
    * size-based join selection broadcasts the mapping when its estimated
    * size is under `spark.sql.autoBroadcastJoinThreshold` (10 MB by
    * default; AQE applies the same threshold to measured sizes). That
    * threshold is the guard: a mapping bigger than it is never forced
    * driver-side, and the join shuffles instead. The plan's statistics
    * give the size, so no job runs to measure the mapping.
    */
  def mapWithDefault(df: DataFrame, keyCol: String, mapping: DataFrame): DataFrame = {
    val Array(mk, mv) = mapping.columns.take(2)
    val m = mapping.select(col(mk).as("_map_key"), col(mv).as("_map_value"))
    df.join(m, df(keyCol) === m("_map_key"), "left")
      .withColumn(keyCol, coalesce(col("_map_value"), col(keyCol)))
      .drop("_map_key", "_map_value")
  }
}
