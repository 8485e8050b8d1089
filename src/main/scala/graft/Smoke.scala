package graft

/** Local stand-in for the driver's t1 smoke gate: run SparkEntry.entry
  * (flagship on sf0.001) and print its row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.fromEnv()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
