package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, SortOrder}
import org.apache.spark.sql.graftbridge.Bridge

import graft.plans.TopKPerKeyNode

/** Sort-free top-k per key — the DataFrame face of the custom
  * [[graft.plans.TopKPerKeyNode]] operator (see its scaladoc for why this
  * beats the rank-window formulation at scale).
  */
object TopK {

  /** Top `k` rows per `keys` group under `order` ((column, ascending)
    * pairs, compared in sequence). `order` should end in a unique
    * tie-breaker column — with a total order the result set is
    * deterministic and identical to the rank-window formulation.
    *
    * Memory: the fast path holds up to `keys-per-partition · k` rows per
    * partition on the JVM heap (the operator's own output). Past
    * `spark.graft.topKPerKey.maxRowsInMemory` retained rows (default 4M)
    * a partition degrades gracefully to external sort-based top-k with
    * bounded memory — see [[graft.plans.TopKPerKeyExec]].
    *
    * Plans only on sessions built with [[graft.ext.GraftExtensions]],
    * which inject the operator's planner strategy. */
  def perKey(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val ss = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Expression = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"TopK.perKey: no column '$n' in ${analyzed.output.map(_.name).mkString(",")}"))
    val sortOrders = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(ss, TopKPerKeyNode(k, keys.map(attr), sortOrders, analyzed))
  }
}
