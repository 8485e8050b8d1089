package graft.tools

import org.apache.spark.sql.functions._

/** Regenerates [[graft.fixtures.PinnedIndex]]: trains the deterministic
  * IVF coarse quantizer ([[graft.ops.Similarity.trainIvfLloyd]]) and the
  * PQ codebooks ([[graft.ops.Similarity.pqTrain]] over the L2-normalized
  * corpus) on the sf0.01 embeddings table and prints the fixture source.
  *
  *   sbt "runMain graft.tools.PinIndex /root/testdata/sf0.01 \
  *     src/main/scala/graft/fixtures/PinnedIndex.scala"
  *
  * With a second argument the fixture file is WRITTEN DIRECTLY (the sbt
  * log noise and the BEGIN/END markers never touch it). Without one,
  * the source prints to stdout between `=== BEGIN PINNED ===` /
  * `=== END PINNED ===` markers — extract BETWEEN the markers; piping
  * raw sbt stdout into the file would capture log lines too.
  *
  * Training is bit-deterministic (sorted bounded sample, farthest-point
  * init, fixed Lloyd iterations, 6dp-rounded output), so re-running over
  * the same corpus reproduces the same literals.
  */
object PinIndex {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.fromEnv()
    val corpus = graft.ops.Sources.table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cents = graft.ops.Similarity.trainIvfLloyd(corpus, nCells = 16)
    val norm = graft.ops.Similarity.l2normalized(corpus, "cvec")
    val books = graft.ops.Similarity.pqTrain(norm, m = 8, ksub = 16)
      .map(_.map(_.map(x => math.rint(x * 1e6) / 1e6)))
    def arr1(a: Array[Double]): String = a.mkString("Array(", ", ", ")")
    def arr2(a: Array[Array[Double]], ind: String): String =
      a.map(x => ind + arr1(x)).mkString("Array(\n", ",\n", s")")
    val sb = new StringBuilder
    sb ++= "package graft.fixtures\n\n"
    sb ++= "/** A PINNED ANN index artifact: the versioned codebooks real ANN\n"
    sb ++= "  * systems train offline and ship to serving. Trained once by\n"
    sb ++= "  * `graft.tools.PinIndex` over the sf0.01 embeddings corpus with the\n"
    sb ++= "  * bit-deterministic trainers (`Similarity.trainIvfLloyd` /\n"
    sb ++= "  * `Similarity.pqTrain` -- sorted bounded sample, farthest-point init,\n"
    sb ++= "  * fixed Lloyd iterations, 6dp components). Serving correctness is\n"
    sb ++= "  * corpus-independent: both the Spark plan and the DuckDB oracle embed\n"
    sb ++= "  * these exact literals, so q220/q221 hash-match at ANY scale factor;\n"
    sb ++= "  * recall quality is best near the training corpus, as with any\n"
    sb ++= "  * pinned index. GENERATED -- do not hand-edit; regenerate with the\n"
    sb ++= "  * command in PinIndex's scaladoc.\n"
    sb ++= "  */\n"
    sb ++= "object PinnedIndex {\n\n"
    sb ++= "  /** 16 x 64 IVF coarse-quantizer centroids (v1, sf0.01). */\n"
    sb ++= "  val ivfCentroidsV1: Array[Array[Double]] = " +
      arr2(cents, "    ") + "\n\n"
    sb ++= "  /** 8-subspace x 16-entry x 8-dim PQ codebooks over the\n"
    sb ++= "    * L2-NORMALIZED corpus (v1, sf0.01). */\n"
    sb ++= "  val pqBooksV1: Array[Array[Array[Double]]] = Array(\n"
    sb ++= books.map(b => arr2(b, "      ")).map(s => "    " + s)
      .mkString("", ",\n", ")\n")
    sb ++= "}\n"
    args.lift(1) match {
      case Some(outPath) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          sb.result().getBytes("UTF-8"))
        println(s"PINNED fixture written to $outPath")
      case None =>
        println("=== BEGIN PINNED ===")
        println(sb.result())
        println("=== END PINNED ===")
    }
    spark.stop()
  }
}
