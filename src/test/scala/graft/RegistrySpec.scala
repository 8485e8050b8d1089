package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The registry's integrity: the family files under `graft/queries/`
  * define every name once, and `queries` and `oracleSql` are two views of
  * the same records. Needs no Spark session: building the registry only
  * builds closures and SQL strings. */
class RegistrySpec extends AnyFunSuite {

  test("registry: 342 queries, and queries and oracleSql share the same names") {
    assert(SparkEntry.registry.size == 342)
    assert(SparkEntry.queries.size == 342)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("registry: no name is defined twice, and building refuses a duplicate") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString(", "))
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(Seq(q), Seq(q.copy(oracle = "SELECT 1")))))
    assert(e.getMessage.contains(q.name), e.getMessage)
  }

  test("registry: every oracle is non-empty and holds no null captured at initialization") {
    // an object that reads a not-yet-initialized val concatenates "null"
    // into the SQL; lower-case null is never a DuckDB keyword here
    val capturedNull = "\\bnull\\b".r
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      assert(sql != null && sql.trim.nonEmpty, s"$name: empty oracle")
      assert(capturedNull.findFirstIn(sql).isEmpty, s"$name: null in oracle: $sql")
    }
    intercept[IllegalArgumentException](Query("q_none", (_, _) => null, null))
    intercept[IllegalArgumentException](Query("q_empty", (_, _) => null, ""))
  }
}
