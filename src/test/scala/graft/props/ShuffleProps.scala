package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.Sampling

/** Feistel epoch-shuffle invariants (q330): the properties that make a
  * keyed position assignment usable as a training-data epoch shuffle at
  * any scale — it must be a PERMUTATION of the domain (no collisions,
  * no out-of-range escapes, for every seed/epoch), and a pure function
  * (re-evaluation agrees). Domains are exhaustively small (bits ≤ 4)
  * so each case checks the whole bijection; a balanced Feistel network
  * is a bijection for ANY round function, so the property must hold
  * for every generated (seed, epoch), not just lucky ones.
  */
object ShuffleProps extends Properties("graft.shuffle") {

  private lazy val spark = graft.GraftSession.local(4)

  private val genCase: Gen[(Long, Int, Int)] = for {
    seed <- Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)
    epoch <- Gen.choose(0, 1000)
    bits <- Gen.choose(2, 4)
  } yield (seed, epoch, bits)

  property("full-domain bijection for every (seed, epoch, bits)") =
    forAll(genCase) { case (seed, epoch, bits) =>
      import spark.implicits._
      val dom = 1L << (2 * bits)
      val pos = (0L until dom).toDF("k")
        .select(Sampling.shufflePos(col("k"), seed, epoch, bits))
        .collect().map(_.getLong(0))
      pos.length == dom.toInt && pos.toSet.size == dom.toInt &&
        pos.forall(p => p >= 0 && p < dom)
    }

  property("pure function: two evaluations agree element-wise") =
    forAll(genCase) { case (seed, epoch, bits) =>
      import spark.implicits._
      val dom = 1L << (2 * bits)
      def run() = (0L until dom).toDF("k")
        .select(col("k"), Sampling.shufflePos(col("k"), seed, epoch, bits))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      run().sameElements(run())
    }
}
