package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The round skeleton every fixed-round graph operator runs on (REPOSE's
  * posture applied to iteration: partition the static side ONCE by its
  * locality key, then each round does only local work against it). */
private[ops] object Rounds {

  private val Aqe = "spark.sql.adaptive.enabled"

  /** `df` hash-partitioned and sorted on `key`, eagerly checkpointed:
    * the derivation runs once and each round's join against it shuffles
    * only the carried side. The one place that switches AQE off: an
    * eager localCheckpoint of an adaptive plan reports
    * UnknownPartitioning, and without hashpartitioning(key) every round
    * would exchange the static side again. The session's AQE setting is
    * restored whether or not the materialization throws. */
  def staticSide(df: DataFrame, key: String): DataFrame = {
    val conf = df.sparkSession.conf
    val was = conf.get(Aqe)
    try {
      conf.set(Aqe, "false")
      df.repartition(col(key)).sortWithinPartitions(key).localCheckpoint(true)
    } finally conf.set(Aqe, was)
  }

  /** `n` applications of `step` to `init`, with one lineage-truncation
    * rule: after round i < n the carried frame is lazily checkpointed
    * when `rereads` (the step reads it more than once, so an untruncated
    * plan doubles every round), and otherwise every 8th round (a linear
    * lineage only grows analysis cost, superlinearly past ~10 rounds). */
  def run(init: DataFrame, n: Int, rereads: Boolean = false)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (cur, i) =>
      val next = step(cur)
      if (i < n && (rereads || i % 8 == 0)) next.localCheckpoint(false)
      else next
    }
}
