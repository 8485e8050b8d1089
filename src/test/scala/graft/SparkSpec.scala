package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shipped engine's session ([[GraftSession]]) on a fixed 4 cores,
  * shared by every suite in the test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
}
