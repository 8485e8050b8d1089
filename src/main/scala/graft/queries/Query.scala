package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: the Spark query `run(session, sfDir)` and the
  * DuckDB SQL that checks it over the same scale factor. Both alias their
  * columns identically and end in a deterministic ORDER BY. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String) {
  // an oracle read from a val that is not initialized yet (an object
  // initialization cycle) arrives as null: refuse it instead of
  // registering it
  require(oracle != null && oracle.nonEmpty, s"$name: empty oracle")
}

object Query {

  /** The families' records as one registry. A name defined twice is an
    * error here; a `Map` built from the records would silently keep the
    * last one. */
  def registry(families: Seq[Seq[Query]]): Seq[Query] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query names defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }
}
