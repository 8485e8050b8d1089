package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.{Hashing, Profile}

/** Merkle dataset-digest invariants (q333/q335/q337): the laws that make
  * the tree usable as a 100 TB integrity structure — internal consistency
  * (every parent md5-folds its children), permutation invariance (the
  * additive limb fold cannot see row or partition order), and INCREMENTAL
  * MAINTENANCE: appending one row must equal adding its 8 sha-256 limbs
  * into one leaf mod 2^32 and re-hashing that leaf's root path, with
  * every off-path node untouched. The last law is what lets a petabyte
  * store maintain its digest per-commit instead of re-scanning.
  */
object MerkleProps extends Properties("graft.merkle") {

  private lazy val spark = graft.GraftSession.local(4)

  private val genRows: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 60)
    keys <- Gen.listOfN(n, Gen.choose(0L, 100000L))
  } yield keys.distinct.map(k => (k, s"v$k"))

  private val LV = 3 // 8 leaves — small enough to exercise collisions

  private def tree(rows: Seq[(Long, String)]): Map[(Int, Long), (Long, String)] = {
    import spark.implicits._
    Profile.merkleTree(rows.toDF("k", "s"), Seq("k", "s"), col("k"), LV)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
  }

  /** Parse a 64-hex leaf digest back into its 8 limb sums. */
  private def limbs(d: String): Array[Long] =
    d.grouped(8).map(java.lang.Long.parseLong(_, 16)).toArray

  private def render(ls: Array[Long]): String =
    ls.map(v => f"$v%08x").mkString

  property("parents fold children; root counts all rows") =
    forAll(genRows) { rows =>
      val t = tree(rows)
      t((0, 0L))._1 == rows.length &&
        (0 until LV).forall { lv =>
          (0 until (1 << lv)).forall { i =>
            val (n, d) = t((lv, i.toLong))
            val (ln, ld) = t((lv + 1, 2L * i))
            val (rn, rd) = t((lv + 1, 2L * i + 1))
            n == ln + rn && d == Hashing.md5Hex(s"$ld|$rd")
          }
        }
    }

  property("row order and partitioning are invisible") =
    forAll(genRows) { rows =>
      import spark.implicits._
      val shuffled = Profile.merkleTree(
        scala.util.Random.shuffle(rows).toDF("k", "s").repartition(5),
        Seq("k", "s"), col("k"), LV).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
        .toMap
      tree(rows) == shuffled
    }

  property("incremental append = limb-add into one leaf + re-hash its root path") =
    forAll(genRows, Gen.choose(100001L, 200000L)) { (rows, newKey) =>
      val before = tree(rows)
      val after = tree(rows :+ (newKey -> s"v$newKey"))
      // replay the incremental update driver-side from `before`
      val rl = Hashing.sha256Limbs(s"$newKey\u001fv$newKey")
      val leaf = Hashing.longHash60(newKey.toString) % (1L << LV)
      val nodes = collection.mutable.Map(before.toSeq: _*)
      val (n0, d0) = nodes((LV, leaf))
      val patched = limbs(d0).zip(rl).map { case (a, b) =>
        java.lang.Math.floorMod(a + b, 1L << 32)
      }
      nodes((LV, leaf)) = (n0 + 1, render(patched))
      var idx = leaf
      var lv = LV - 1
      while (lv >= 0) {
        idx = idx / 2
        val (ln, ld) = nodes((lv + 1, 2 * idx))
        val (rn, rd) = nodes((lv + 1, 2 * idx + 1))
        nodes((lv, idx)) = (ln + rn, Hashing.md5Hex(s"$ld|$rd"))
        lv -= 1
      }
      nodes.toMap == after
    }

  property("delta law: applyDeltas(leafDeltas(old, new)) == rebuild") =
    forAll(genRows, Gen.choose(1, 5)) { (rows, nDel) =>
      import spark.implicits._
      val base = rows.toDF("k", "s")
      val del = rows.take(nDel)
      val ins = rows.take(nDel).map { case (k, _) => (k + 500000L, "z") }
      val finalRows = rows.drop(nDel) ++ ins
      val deltas = Profile.merkleLeafDeltas(
        del.toDF("k", "s"), ins.toDF("k", "s"), Seq("k", "s"), col("k"), LV)
      val incr = Profile.merkleApplyDeltas(
        Profile.merkleLeaves(base, Seq("k", "s"), col("k"), LV), deltas, LV)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
        .toMap
      incr == tree(finalRows)
    }
}
