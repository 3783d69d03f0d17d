package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops21

/** Invariants + reconciliations for round-6 batch 38 (#258-#260). */
class Round6Ops21Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("lang mix: predictions agree with #23; every share axis sums to 1") {
    val rows = Round6Ops21.docLangMix(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    // share axes
    rows.groupBy(_.getString(0)).values.foreach(g =>
      assert(math.abs(g.map(_.getDouble(3)).sum - 1.0) < 1e-4))
    rows.groupBy(_.getString(1)).values.foreach(g =>
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-4))
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-4)
    // the prediction column matches #23's confusion-table marginals
    val langid = graft.operators.TextOps.textLangid(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2))
      .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    val mine = rows.groupBy(_.getString(1))
      .map { case (p, g) => p -> g.map(_.getLong(2)).sum }
    assert(mine == langid)
  }

  test("lang mix + mix weights: streamed registers bit-identical to batch") {
    val b1 = Round6Ops21.docLangMix(spark, sf).collect()
    val s1 = graft.streaming.Streaming.streamLangMix(spark, sf).collect()
    assert(b1.map(_.toString).toSeq == s1.map(_.toString).toSeq)
    val b2 = graft.operators.Sketches.corpusMixWeights(spark, sf).collect()
    val s2 = graft.streaming.Streaming.streamMixWeights(spark, sf).collect()
    assert(b2.map(_.toString).toSeq == s2.map(_.toString).toSeq)
  }
}
