package graft.props

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.{Cleansing, Models, Multimodal, Privacy, TextAnalysis, Url}

/** Invariants of the round-7 continuation operators (URL
  * canonicalization, pass@k, t-closeness, dialog audit, mojibake repair,
  * pitch/shot detection). Spark-stage cases at the HeavyInvariantProps
  * budget of 15 per property; pure-JVM codec cases at the default. */
object WebEvalProps extends Properties("graft.invariants.round7web") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = graft.GraftSession.local(4)

  // ── URL canonicalization ──────────────────────────────────────────

  private val genUrl: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
    www <- Gen.oneOf("", "www.", "WWW.")
    host <- Gen.oneOf("Example.COM", "a.b.co.uk", "x.example.org.",
      "intranet", "shop.com.au")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/A/b/", "//x", "/p.html")
    q <- Gen.oneOf("", "?b=2&a=1", "?utm_source=x&z=1", "?gclid=9",
      "?a=&b", "?b=2&a=1&utm_term=t")
    frag <- Gen.oneOf("", "#f")
  } yield s"$scheme://$www$host$port$path$q$frag"

  property("canonicalize is IDEMPOTENT: canon(canon(u)) = canon(u)") =
    forAll(Gen.listOfN(8, genUrl)) { urls =>
      import spark.implicits._
      val once = urls.toDF("u")
        .select(Url.canonicalize(col("u")).as("c")).as[Option[String]]
        .collect().toSeq
      val twice = once.flatten.toDF("u")
        .select(Url.canonicalize(col("u")).as("c")).as[Option[String]]
        .collect().toSeq
      twice == once.filter(_.isDefined)
    }

  property("canonical equivalence class: tracking params, case, fragment, " +
    "default port, www never change the canonical form") =
    forAll(genUrl.suchThat(_.startsWith("http"))) { u =>
      import spark.implicits._
      val variants = Seq(
        u,
        u.replace("http", "HTTP").replace("HTTPS", "https"),
        if (u.contains("?")) u + "&utm_campaign=zz" else u + "?utm_campaign=zz",
        u + "#extra")
      val canons = variants.toDF("u")
        .select(Url.canonicalize(col("u"))).as[Option[String]]
        .collect().toSeq
      canons.distinct.size == 1
    }

  // ── pass@k ────────────────────────────────────────────────────────

  private val genAttempts: Gen[List[(String, Boolean)]] = for {
    problems <- Gen.chooseNum(1, 4)
    rows <- Gen.listOfN(problems, for {
      n <- Gen.chooseNum(1, 12)
      c <- Gen.chooseNum(0, n)
    } yield (n, c))
  } yield rows.zipWithIndex.flatMap { case ((n, c), p) =>
    (0 until n).map(i => (s"p$p", i < c))
  }.toList

  property("passAtK ∈ [0,1], MONOTONE in k, 1 iff some subset must hit") =
    forAll(genAttempts) { attempts =>
      import spark.implicits._
      val ks = Seq(1, 2, 5)
      val got = Models.passAtK(attempts.toDF("problem", "ok"), "problem",
        col("ok"), ks).collect()
      got.forall { r =>
        val n = r.getLong(1)
        val c = r.getLong(2)
        val vals = ks.indices.map(i =>
          if (r.isNullAt(3 + i)) None else Some(r.getDouble(3 + i)))
        val defined = vals.flatten
        val inRange = defined.forall(v => v >= 0.0 && v <= 1.0)
        val mono = defined.zip(defined.tail).forall { case (a, b) => a <= b }
        val nullIffSmall = ks.zip(vals).forall { case (k, v) =>
          v.isDefined == (n >= k)
        }
        val oneIff = ks.zip(vals).forall {
          case (k, Some(v)) => (v == 1.0) == (n - c < k)
          case _ => true
        }
        val zeroIff = ks.zip(vals).forall {
          case (k, Some(v)) if n >= k => (v == 0.0) == (c == 0)
          case _ => true
        }
        inRange && mono && nullIffSmall && oneIff && zeroIff
      }
    }

  // ── t-closeness ───────────────────────────────────────────────────

  private val genCohorts: Gen[List[(String, String)]] = for {
    rows <- Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("q1", "q2", "q3"), Gen.oneOf("a", "b", "c", "d")))
  } yield rows

  property("tCloseness ∈ [0,1]; 0 for the single-cohort dataset") =
    forAll(genCohorts.map(_.take(20))) { rows =>
      import spark.implicits._
      val df = rows.toDF("q", "v")
      val audit = Privacy.tCloseness(df, Seq("q"), col("v"), t = 0.3)
        .select("t_dist").collect().map(_.getDouble(0))
      val bounded = audit.forall(t => t >= 0.0 && t <= 1.0)
      val merged = Privacy.tCloseness(
        df.withColumn("q", lit("all")), Seq("q"), col("v"), t = 0.3)
        .select("t_dist").head().getDouble(0)
      bounded && merged == 0.0
    }

  // ── dialog audit ──────────────────────────────────────────────────

  property("dialogAudit: a rendered-valid dialog passes; any single " +
    "mutation (swap first role, blank a turn) fails exactly that rule") =
    forAll(Gen.chooseNum(1, 6), Gen.chooseNum(0L, 999L)) { (turnPairs, key) =>
      import spark.implicits._
      val turns = (0 until turnPairs * 2).map { i =>
        (key, i, if (i % 2 == 0) "user" else "assistant", s"t$i")
      }
      val ok = TextAnalysis.dialogAudit(turns.toDF("k", "i", "role", "txt"),
        "k", Seq("i"), col("role"), col("txt")).head()
      val swapped = turns.updated(0, (key, 0, "assistant", "t0"))
      val bad = TextAnalysis.dialogAudit(swapped.toDF("k", "i", "role", "txt"),
        "k", Seq("i"), col("role"), col("txt")).head()
      ok.getAs[Int]("valid") == 1 && bad.getAs[Int]("starts_user") == 0 &&
      bad.getAs[Int]("valid") == 0
    }

  // ── mojibake (pure JVM via one Spark projection) ──────────────────

  private val mojChars = "éèáóúñäöüßç«»’“–"

  property("fixMojibake inverts real cp1252 double-encoding for every " +
    "string over the mapped alphabet") =
    forAll(Gen.listOf(Gen.oneOf((mojChars + "abc XYZ.").toSeq))
      .map(_.mkString)) { s =>
      import spark.implicits._
      val corrupted = new String(s.getBytes("UTF-8"), "windows-1252")
      val fixed = Seq(corrupted).toDF("t")
        .select(Cleansing.fixMojibake(col("t"))).as[String].head()
      fixed == s
    }

  // ── media detectors (pure JVM decode; no Spark stage) ─────────────

  property("pitch: autocorrelation argmax recovers the synthesized period") =
    forAll(Gen.chooseNum(0L, 5000L)) { id =>
      val p = 8 + (id % 25).toInt
      val (_, samples) = Multimodal.decodeWav(Multimodal.encodeWavTone(id))
      val best = (2 to 40).maxBy { lag =>
        (0 until samples.length - lag)
          .foldLeft(0L)((acc, i) => acc + samples(i).toLong * samples(i + lag))
      }
      best == p
    }

  property("shots: diff threshold separates cuts from motion at every id") =
    forAll(Gen.chooseNum(0L, 5000L)) { id =>
      val (w, h, planes) = Multimodal.decodeY4mLuma(Multimodal.encodeY4mShots(id))
      (1 until planes.length).forall { k =>
        val diff = (0 until w * h)
          .foldLeft(0L)((a, j) => a + math.abs(planes(k)(j) - planes(k - 1)(j)))
        val isCut = (id * 13 + k * 17) % 5 == 0
        (diff > 30L * w * h) == isCut
      }
    }
}
