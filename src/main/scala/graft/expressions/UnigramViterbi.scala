package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM Viterbi segmentation (Kudo 2018) against the PINNED
  * [[UnigramViterbi.vocab]] piece table: min-plus DP over the word's
  * first `maxLen` chars with pieces up to `maxPiece` chars, integer
  * costs, ties to the SHORTEST candidate piece. Returns
  * `struct(cost BIGINT, n_pieces BIGINT, seg STRING)` with pieces
  * joined by `|`.
  *
  * Why a custom Expression: the same DP unrolled into `least`/`CASE`
  * column chains exceeds the JVM 64 KB generated-method limit, which
  * silently DISABLES whole-stage codegen for the entire projection
  * (measured 3.2 s interpreted at sf0.01 vs sub-second here). One
  * generated static call keeps the surrounding pipeline inside its
  * WholeStageCodegen span; the DP itself is two tight O(maxLen·maxPiece)
  * array loops. The DuckDB oracle replays the identical integer DP as a
  * generated CTE chain from the same vocab constants (the q306 oracle in
  * `graft.queries.CorpusQueries`), so the engines cannot drift.
  *
  * Null input → null. Empty string → (0, 0, ""). Characters outside the
  * vocabulary fall to [[UnigramViterbi.unkCostPerChar]] per char, so
  * every word segments with finite cost.
  */
case class UnigramViterbi(child: Expression, maxLen: Int, maxPiece: Int)
    extends UnaryExpression {

  require(maxLen >= 1 && maxLen <= 64, s"maxLen out of range: $maxLen")
  require(maxPiece >= 1 && maxPiece <= 8, s"maxPiece out of range: $maxPiece")

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cost", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("seg", StringType, nullable = false)))

  override def prettyName: String = "unigram_viterbi"

  override def nullSafeEval(input: Any): Any =
    UnigramViterbi.segment(input.asInstanceOf[UTF8String], maxLen, maxPiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      // single static call per row — the DP loops live in compiled Scala,
      // the projection stays inside its WholeStageCodegen span
      s"""
         |${ev.value} = graft.expressions.UnigramViterbi.segment(
         |  $x, $maxLen, $maxPiece);
         |${ev.isNull} = false;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramViterbi {

  /** Pinned piece vocabulary v1: all 26 single letters (every a-z word
    * segments without the unknown fallback) plus 20 frequent English
    * 2-/3-grams priced below the sum of their parts. Costs are integer
    * ≈ −1000·ln p; smaller = more probable. The SAME literals drive the
    * generated DuckDB oracle. */
  val vocab: Seq[(String, Int)] = Seq(
    "the" -> 2500, "ing" -> 2800, "ion" -> 3000, "ent" -> 3200,
    "er" -> 2200, "on" -> 2400, "re" -> 2300, "at" -> 2400,
    "en" -> 2500, "es" -> 2400, "or" -> 2600, "te" -> 2500,
    "an" -> 2300, "in" -> 2200, "th" -> 2100, "he" -> 2300,
    "nd" -> 2700, "st" -> 2500, "ar" -> 2600, "ou" -> 2700,
    "e" -> 3000, "t" -> 3200, "a" -> 3100, "o" -> 3200, "i" -> 3200,
    "n" -> 3300, "s" -> 3300, "r" -> 3400, "h" -> 3600, "l" -> 3600,
    "d" -> 3700, "c" -> 3800, "u" -> 3800, "m" -> 3900, "f" -> 4000,
    "p" -> 4000, "g" -> 4100, "w" -> 4200, "y" -> 4200, "b" -> 4300,
    "v" -> 4500, "k" -> 4600, "x" -> 5200, "j" -> 5300, "q" -> 5400,
    "z" -> 5400)

  /** Cost per character of any substring the vocabulary doesn't cover. */
  val unkCostPerChar: Int = 9000

  private val vocabMap: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.foreach { case (p, c) => m.put(p, Integer.valueOf(c)) }
    m
  }

  /** The DP. Called once per row from generated code. */
  def segment(word: UTF8String, maxLen: Int, maxPiece: Int): InternalRow = {
    val full = word.toString
    val s = if (full.length > maxLen) full.substring(0, maxLen) else full
    val n = s.length
    if (n == 0)
      return InternalRow(0L, 0L, UTF8String.EMPTY_UTF8)
    val best = new Array[Long](n + 1)
    val kOf = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bi = Long.MaxValue
      var ki = 0
      var k = 1
      val kMax = if (maxPiece < i) maxPiece else i
      while (k <= kMax) {
        val sub = s.substring(i - k, i)
        val c = vocabMap.get(sub)
        val pieceCost =
          if (c != null) c.longValue() else unkCostPerChar.toLong * k
        val v = best(i - k) + pieceCost
        // strict < with k ascending keeps the SHORTEST piece on ties —
        // the same rule as least()+first-match in the oracle CTE chain
        if (v < bi) { bi = v; ki = k }
        k += 1
      }
      best(i) = bi
      kOf(i) = ki
      i += 1
    }
    // backward reconstruction, prepending pieces
    val parts = new scala.collection.mutable.ArrayBuffer[String](n)
    var pos = n
    while (pos > 0) {
      val k = kOf(pos)
      parts += s.substring(pos - k, pos)
      pos -= k
    }
    val sb = new java.lang.StringBuilder(n + parts.length)
    var j = parts.length - 1
    while (j >= 0) {
      sb.append(parts(j))
      if (j > 0) sb.append('|')
      j -= 1
    }
    InternalRow(best(n), parts.length.toLong,
      UTF8String.fromString(sb.toString))
  }
}
