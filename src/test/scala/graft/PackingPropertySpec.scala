package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.analysis.CorpusPrep

/** Property tests for the sequence-packing invariants (the q256/q257/q263
  * family): over random corpora the occupancy histogram must satisfy the
  * conservation laws a concat-and-chunk packer cannot break, the
  * increment law must hold for EVERY doc-range split (not just the
  * fixture's), and a reference single-threaded packer must agree with the
  * distributed plan.
  */
class PackingPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forSamples[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  // docs with id, 0-12 tokens each (empties included — they must vanish)
  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 25)
    docs <- Gen.listOfN(n, Gen.choose(0, 12))
  } yield docs.zipWithIndex.map { case (nt, i) =>
    (i.toLong + 1, Seq.fill(nt)("w").mkString(" "))
  }

  /** Reference packer: sequential scan over (id, n_tok) in id order. */
  private def reference(
      docs: List[(Long, String)], ctx: Int): Map[Long, (Long, Long, Long)] = {
    var off = 0L
    val slots = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    docs.sortBy(_._1).foreach { case (_, text) =>
      val nt = text.split(" ").count(_.nonEmpty).toLong
      if (nt > 0) {
        val fw = off / ctx
        val lw = (off + nt - 1) / ctx
        (fw to lw).foreach { w =>
          val (d, s, sp) = slots.getOrElse(w, (0L, 0L, 0L))
          slots(w) = (d + 1, s + (if (w == fw) 1 else 0),
            sp + (if (lw > fw) 1 else 0))
        }
        off += nt
      }
    }
    slots.toMap
  }

  test("packing slots equal a sequential reference packer on random corpora") {
    forSamples(corpusGen) { docs =>
      val got = CorpusPrep.packSlots(docs.toDF("doc_id", "text"), ctxTokens = 4)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got === reference(docs, 4))
    }
  }

  test("conservation laws: starts count every non-empty doc once; slots = docs + crossings") {
    forSamples(corpusGen) { docs =>
      val nonEmpty = docs.count(_._2.nonEmpty).toLong
      val totalTok = docs.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      val slots = CorpusPrep.packSlots(docs.toDF("doc_id", "text"), ctxTokens = 4)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(slots.map(_._2).sum === nonEmpty) // each doc starts exactly once
      // every window holds >= 1 doc; total windows = ceil(totalTok / ctx)
      assert(slots.forall(_._1 >= 1))
      assert(slots.length.toLong === (totalTok + 3) / 4)
    }
  }

  test("increment law holds for every split point, not just the fixture's") {
    forSamples(corpusGen.suchThat(_.nonEmpty), n = 8) { docs =>
      val df = docs.toDF("doc_id", "text")
      val rebuilt = CorpusPrep.sequencePack(df, ctxTokens = 4)
        .collect().map(_.toSeq)
      val ids = docs.map(_._1)
      // three split points across the id range
      Seq(ids.min, ids(ids.size / 2), ids.max).distinct.foreach { cut =>
        val old = df.filter(s"doc_id <= $cut")
        val fresh = df.filter(s"doc_id > $cut")
        val offTok = docs.filter(_._1 <= cut)
          .map(_._2.split(" ").count(_.nonEmpty).toLong).sum
        val merged = CorpusPrep.packReportFromSlots(CorpusPrep.packMergeSlots(
            CorpusPrep.packSlots(old, ctxTokens = 4),
            CorpusPrep.packSlots(fresh, ctxTokens = 4,
              tokenOffset = Some(Seq(offTok).toDF("tok_offset")))))
          .collect().map(_.toSeq)
        assert(merged.toSeq === rebuilt.toSeq, s"split at $cut")
      }
    }
  }

  test("a multi-row tokenOffset frame is rejected, not silently span-duplicating") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val bad = Seq(3L, 7L).toDF("tok_offset")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.packSlots(docs, ctxTokens = 4, tokenOffset = Some(bad)).collect()
    }
    assert(e.getMessage.contains("single-row"))
    val empty = Seq.empty[Long].toDF("tok_offset")
    val e2 = intercept[IllegalArgumentException] {
      CorpusPrep.packSlots(docs, ctxTokens = 4, tokenOffset = Some(empty)).collect()
    }
    assert(e2.getMessage.contains("0 rows"))
  }

  test("an IntegerType tokenOffset widens; a NULL one is rejected with a contract message") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    // int offset frames were accepted by the old crossJoin path — the
    // collected path must widen them, not ClassCastException at getLong
    val intOff = Seq(3).toDF("tok_offset")
    val withInt = CorpusPrep.packSlots(docs, ctxTokens = 4,
        tokenOffset = Some(intOff))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val withLong = CorpusPrep.packSlots(docs, ctxTokens = 4,
        tokenOffset = Some(Seq(3L).toDF("tok_offset")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(withInt.toSeq === withLong.toSeq)
    val nullOff = Seq(Option.empty[java.lang.Long]).toDF("tok_offset")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.packSlots(docs, ctxTokens = 4, tokenOffset = Some(nullOff)).collect()
    }
    assert(e.getMessage.contains("non-null"))
  }
}
