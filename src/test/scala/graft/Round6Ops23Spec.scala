package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops23

/** Invariants + reconciliations for round-6 batch 40 (#264-#265). */
class Round6Ops23Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("semantic contamination: flags are a sound subset of the brute-force screen") {
    val rows = Round6Ops23.corpusSemanticContamination(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map(_.getString(0)).toSet ==
      docs.values.toSet -- Set("src0", "src1"))
    assert(rows.map(_.getLong(1)).sum ==
      docs.count(d => d._2 != "src0" && d._2 != "src1"))
    // brute-force cross screen on the collected corpus
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = BigDecimal(0); var na = BigDecimal(0); var nb = BigDecimal(0)
      def d(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      a.indices.foreach { i =>
        dot += d(a(i).toDouble * b(i)); na += d(a(i).toDouble * a(i))
        nb += d(b(i).toDouble * b(i))
      }
      Parity.r6d(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
    }
    val evalIds = docs.filter(d => d._2 == "src0" || d._2 == "src1").keys.toSeq
    val bruteBySource = docs.filter(d => d._2 != "src0" && d._2 != "src1")
      .keys.toSeq.flatMap { id =>
        val hits = evalIds.map(e => cos(embs(id), embs(e)))
          .filter(_ >= Round6Ops23.SemContamTau)
        if (hits.nonEmpty) Some(docs(id) -> (1, hits.max)) else None
      }.groupBy(_._1).map { case (src, g) =>
        src -> (g.size, g.map(_._2._2).max)
      }
    rows.foreach { r =>
      val src = r.getString(0)
      val brute = bruteBySource.get(src)
      // LSH candidates are a subset of brute: flagged <= brute, and any
      // reported max_cos must be an actual brute cosine bound
      assert(r.getLong(2) <= brute.map(_._1).getOrElse(0), s"flagged($src)")
      if (r.getLong(2) > 0) {
        assert(brute.nonEmpty)
        assert(r.getDouble(5) <= brute.get._2 + 1e-9, s"max_cos($src)")
      }
    }
    // recall floor: τ = 0.4 hits are weak-angle pairs, exactly where
    // 6-bit hyperplane buckets lose collisions (the #31/#146 recall
    // story) — the spec pins the floor, the subset property above pins
    // soundness
    val bruteTotal = bruteBySource.values.map(_._1).sum
    val flaggedTotal = rows.map(_.getLong(2)).sum
    assert(flaggedTotal * 2 >= bruteTotal,
      s"LSH recall collapsed: $flaggedTotal of $bruteTotal")
  }

  test("slo burn: streamed registers are bit-identical to the batch build") {
    val batch = graft.operators.Round6Ops22.eventsSloBurn(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamSloBurn(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }
}
