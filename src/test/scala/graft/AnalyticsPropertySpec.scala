package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.analysis.{Clustering, Funnel, Stats, TextAnalysis, TimeSeries}

/** Property laws for the round-7 analytics operators: whatever random
  * inputs arrive, the mathematical invariants each statistic is DEFINED by
  * must hold — probability mass sums to one, survival curves never rise,
  * silhouettes stay in [-1, 1], rank tests are label-symmetric, tail
  * indices are scale-free. These complement the oracle gates (which pin
  * one dataset exactly) with behavior pinned over many datasets.
  */
class AnalyticsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forSamples[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val clickGen: Gen[List[(Long, String, Int, String)]] = for {
    n <- Gen.choose(5, 40)
    rows <- Gen.listOfN(n, for {
      sid <- Gen.oneOf((1 to 6).map(i => s"s$i"))
      ts <- Gen.choose(0, 500)
      typ <- Gen.oneOf("view", "click", "purchase", "search")
    } yield (sid, ts, typ))
  } yield rows.zipWithIndex.map { case ((s, t, ty), i) => (i.toLong, s, t, ty) }

  private def clickDf(rows: List[(Long, String, Int, String)]) =
    rows.map { case (id, s, t, ty) =>
      (id, s, new java.sql.Timestamp(1700000000000L + t * 1000L), ty)
    }.toDF("event_id", "session_id", "event_ts", "event_type")

  test("markov transitions: every from-state is a distribution; boundary mass balances") {
    forSamples(clickGen) { rows =>
      val out = Funnel.markovTransitions(clickDf(rows)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val sessions = rows.map(_._2).distinct.size.toLong
      // Σn = one pair per event (terminal -> <END>) + one <START> per session
      assert(out.map(_._3).sum === rows.size + sessions)
      // <START> out-mass and <END> in-mass both equal the session count
      assert(out.filter(_._1 == "<START>").map(_._3).sum === sessions)
      assert(out.filter(_._2 == "<END>").map(_._3).sum === sessions)
      // per-from probabilities sum to 1 at rounding precision
      out.groupBy(_._1).foreach { case (_, g) =>
        assert(math.abs(g.map(_._4).sum - 1.0) < 1e-4)
      }
    }
  }

  test("markov entropy rate: bounded by [0, ln #states]") {
    forSamples(clickGen) { rows =>
      val r = Funnel.markovEntropyRate(clickDf(rows)).collect().head
      val h = r.getDouble(2)
      assert(h >= -1e-9, s"entropy $h negative")
      assert(h <= math.log(r.getLong(0).toDouble + 1) + 1e-9,
        s"entropy $h above the uniform bound")
    }
  }

  test("km survival: starts at <= 1, never rises, bounded in [0, 1]") {
    forSamples(clickGen) { rows =>
      val curve = TimeSeries.kmSurvival(clickDf(rows), censorHorizonSec = 60L)
        .orderBy("t_sec").collect().map(_.getDouble(4))
      assert(curve.forall(s => s >= 0.0 && s <= 1.0))
      curve.sliding(2).foreach {
        case Array(a, b) => assert(b <= a + 1e-9, s"survival rose: $a -> $b")
        case _ =>
      }
    }
  }

  private val vecGen: Gen[List[(Long, Array[Float])]] = for {
    n <- Gen.choose(6, 24)
    rows <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-10, 10)))
  } yield rows.zipWithIndex.map { case (v, i) =>
    (i.toLong, v.map(_.toFloat).toArray)
  }

  test("silhouette: per-cluster means stay within [-1, 1]") {
    forSamples(vecGen) { rows =>
      val out = Clustering.silhouette(rows.toDF("vec_id", "embedding"),
        k = 2, iterations = 1).collect().map(_.getDouble(2))
      assert(out.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9), out.toSeq.toString)
    }
  }

  private val armedGen: Gen[List[(String, Double)]] = for {
    n <- Gen.choose(6, 40)
    rows <- Gen.listOfN(n, for {
      arm <- Gen.oneOf("A", "B")
      v <- Gen.choose(1, 30)
    } yield (arm, v.toDouble))
  } yield rows

  test("mann-whitney: swapping the arm labels negates z and swaps the n's") {
    forSamples(armedGen) { rows =>
      if (rows.exists(_._1 == "A") && rows.exists(_._1 == "B")) {
        val df = rows.toDF("arm", "v")
        val a = Stats.mannWhitneyU(df, "v", "arm", armA = "A").collect().head
        val b = Stats.mannWhitneyU(df, "v", "arm", armA = "B").collect().head
        assert(a.getLong(0) === b.getLong(1) && a.getLong(1) === b.getLong(0))
        (Option(a.get(3)), Option(b.get(3))) match {
          case (Some(za: java.lang.Double), Some(zb: java.lang.Double)) =>
            assert(math.abs(za + zb) < 2e-6, s"z not antisymmetric: $za vs $zb")
          case (None, None) => ()
          case other => fail(s"one side degenerate, the other not: $other")
        }
      }
    }
  }

  test("hill tail index: scale-free — multiplying the data leaves gamma unchanged") {
    forSamples(Gen.listOfN(12, Gen.choose(1, 1000)), n = 6) { xs =>
      val base = xs.map(v => Tuple1(v.toDouble)).toDF("v")
      val scaled = xs.map(v => Tuple1(v * 7.0)).toDF("v")
      val g1 = Stats.hillTailIndex(base, "v", k = 5).collect().head
      val g2 = Stats.hillTailIndex(scaled, "v", k = 5).collect().head
      assert(math.abs(g1.getDouble(2) - g2.getDouble(2)) <= 1e-6)
    }
  }

  test("count of counts: mass column is a complete distribution when maxK covers the range") {
    forSamples(Gen.listOfN(6, Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e"))), n = 6) { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = TextAnalysis.countOfCounts(df, maxK = 1000).collect()
      val mass = out.map(_.getDouble(2)).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"mass sums to $mass")
      // sum k * f_k = total token occurrences
      val total = out.map(r => r.getLong(0) * r.getLong(1)).sum
      assert(total === docs.map(_.size).sum)
    }
  }
}
