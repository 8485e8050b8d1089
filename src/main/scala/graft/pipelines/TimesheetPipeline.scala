package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.TimesheetFixture
import graft.ops.{Aggregates, Cleansing, Lookup, Reshape}

/** E1 — the reference's flagship pipeline (SURVEY.md §3), composed from the
  * operator library as one lazy DataFrame expression:
  *
  *   wide scan → unpivot(7 weekday cols) → cleanse/parse → date expand →
  *   broadcast lookup join → groupBy(data, surname) set-join + sum.
  *
  * Catalyst plans it with exactly one shuffle (the final hash aggregate);
  * the unpivot is an Expand, the lookup join broadcasts, and all scalar
  * work stays in whole-stage codegen (reference loop equivalent:
  * timesheet_transform.py:43-95, executed row-at-a-time in CPython).
  */
object TimesheetPipeline {

  /** Post-unpivot cleansed long-form records: (rid, data, commessa,
    * surname, ore) — FIXTURES.md F4 intermediate schema.
    *
    * Per-row scalar work (P1/P2/P4 parse + extract) runs BEFORE the
    * unpivot: filters on id columns commute with the melt, and doing them
    * first means each date parse / regex runs once per input row instead
    * of 7x — and keeps the heavy expressions out of the Expand's
    * projection list (Expand duplicates its child expressions into every
    * emitted branch, which at scale both multiplies CPU and blows up
    * codegen). Only the per-cell hour cleansing (P5/P6) runs post-melt.
    */
  def cleansedRecords(spark: SparkSession, sfDir: String): DataFrame =
    cleansed(spark, sfDir, Cleansing.surname(col("autore")))

  /** [[cleansedRecords]] with the given surname column (P4 or P4-v1). */
  private def cleansed(spark: SparkSession, sfDir: String, surname: Column): DataFrame = {
    val wide = TimesheetFixture.wide(spark, sfDir)
    val parsed = wide
      .filter(Cleansing.hasWeekRange(col("weekrange")))                 // P1
      .withColumn("week_start", Cleansing.weekStart(col("weekrange")))  // P2
      .filter(col("week_start").isNotNull)
      .withColumn("surname", surname)                                   // P4
    val melted = Reshape.meltWeek(
      parsed, idCols = Seq("rid", "week_start", "surname", "commessa"))
    melted
      .withColumn("ore", Cleansing.cleanHours(col("ore_raw")))          // P5
      .filter(Cleansing.keepHours(col("ore_raw"), col("ore")))          // P6
      .withColumn("data", Reshape.dayDate(col("week_start"), col("doff"))) // P7
      .select("rid", "data", "commessa", "surname", "ore")              // P8
  }

  /** Full E1 without the presentation sort — for sinks (q11's partitioned
    * write) where a global ORDER BY would cost a range-shuffle + sort only
    * to be destroyed by the writer's own repartition-by-key. */
  def flagshipUnordered(spark: SparkSession, sfDir: String): DataFrame = {
    val mapped = Lookup.mapWithDefault(
      cleansedRecords(spark, sfDir), "commessa", TimesheetFixture.mapping(spark))
    Aggregates.setJoinSum(mapped, Seq("data", "surname"), "commessa", "ore")
  }

  /** Full E1: cleansed records → J1 lookup (fall-through) → A2 aggregate. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame =
    flagshipUnordered(spark, sfDir).orderBy("data", "surname")

  /** E2/E3 (v1/v2 dataflow, SURVEY.md §3 E2): same melt/cleanse but the
    * case-preserving "UNKNOWN" surname variant (P4-v1) and the 3-key
    * sum-only aggregate (A1) — no set-join, no mapping fall-through
    * beyond the lookup. Ends in the S4 partitioned writer in the
    * reference; here it returns the aggregate (the writer is exercised
    * by q11). */
  def pipelineV1(spark: SparkSession, sfDir: String): DataFrame = {
    val records = cleansed(spark, sfDir, Cleansing.surnameV1(col("autore")))
    Aggregates.sumByKeys(records, Seq("data", "commessa", "surname"), "ore", "ore")
      .orderBy("data", "commessa", "surname")
  }
}
