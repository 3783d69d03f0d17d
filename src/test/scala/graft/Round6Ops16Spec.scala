package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops16

/** Invariants + reconciliations for round-6 batch 33 (#237-#241). */
class Round6Ops16Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dec(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---------------------------------------------------- revenue_tail_hill

  test("hill: driver replay of the top-k estimator on the real orders") {
    val row = Round6Ops16.revenueTailHill(spark, sf).collect().head
    val xs = graft.sources.Tables.orders(spark, sf)
      .select("o_totalprice", "o_orderkey").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(t => (-t._1, t._2)).take(Round6Ops16.HillK + 1).map(_._1)
    val thr = xs.last
    val logx = dec(xs.init.map(x => Parity.r6d(math.log(x / thr))).toSeq)
    assert(row.getLong(0) == Round6Ops16.HillK)
    assert(row.getDouble(1) == thr)
    assert(row.getDouble(2) == Parity.r6d(Round6Ops16.HillK / logx))
    assert(row.getDouble(2) > 0)
    assert(row.getDouble(4) ==
      Parity.r6d(math.pow(2.0, -Parity.r6d(Round6Ops16.HillK / logx))))
  }

  test("hill: a synthetic Pareto tail recovers its exponent") {
    import spark.implicits._
    // deterministic md5-uniform u in (0,1]; X = u^(-1/a) is Pareto(a)
    val a = 2.5
    val xs = (0 until 3000).map { i =>
      val u = (java.lang.Long.parseLong(md5hex(s"hill:$i").take(12), 16)
        .toDouble + 1) / (0xFFFFFFFFFFFFL.toDouble + 1)
      (i.toLong, math.pow(u, -1.0 / a))
    }
    val est = Round6Ops16.revenueTailHillDf(
        xs.toDF("o_orderkey", "o_totalprice")).collect().head.getDouble(2)
    assert(math.abs(est - a) < 0.5, s"Hill estimate $est for true alpha $a")
  }

  // -------------------------------------------- dq_event_rules (+ stream)

  test("event rules: clean feed passes; injected violations are counted per rule") {
    val rows = Round6Ops16.dqEventRules(spark, sf).collect()
    assert(rows.length == Round6Ops16.EventRules.length)
    val n = graft.sources.Tables.events(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(2) == n)
      assert(r.getLong(3) == 0 && r.getBoolean(5), r.getString(0))
    }
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val bad = Seq(
      (1L, t0, "click", -5.0),           // value_nonneg
      (2L, t0, "hover", 1.0),            // type_domain
      (-3L, t0, "view", 1.0),            // user_nonneg
      (4L, null.asInstanceOf[java.sql.Timestamp], "view", 1.0), // ts_present
      (5L, t0, "view", 1.0))             // clean
    val out = Round6Ops16.eventRuleFinalize(
        Round6Ops16.eventRuleRegisters(
          bad.toDF("user_id", "ts", "event_type", "value")))
      .collect().map(r => r.getString(0) -> r).toMap
    Round6Ops16.EventRules.foreach { case (id, _) =>
      assert(out(id).getLong(3) == 1, id)
      assert(!out(id).getBoolean(5))
      assert(out(id).getDouble(4) == Parity.r6d(1.0 / 5))
    }
  }

  test("event rules: streamed registers are bit-identical to the batch build") {
    val batch = Round6Ops16.dqEventRules(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamRuleCheck(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  // ---------------------------------------------------- stream_doc_quality

  test("doc quality: streamed per-source means are bit-identical to batch") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = graft.operators.TextOps.docQualityFinalize(
      graft.operators.TextOps.docQualityRegisters(docs)).collect()
    val streamed = graft.streaming.Streaming.streamDocQuality(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
    assert(batch.map(_.getLong(1)).sum == docs.count())
    batch.foreach(r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
  }

  // --------------------------------------------------- events_load_heatmap

  test("heatmap: cells reconcile; shares sum to 1 on every axis; peaks are ranked") {
    val rows = Round6Ops16.eventsLoadHeatmap(spark, sf).collect()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(rows.length <= 168)
    assert(rows.map(_.getLong(2)).sum == total)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    rows.groupBy(_.getInt(0)).values.foreach { g =>
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-3)
    }
    // ranks are a permutation ordered by count desc
    val byRank = rows.sortBy(_.getLong(5))
    assert(byRank.map(_.getLong(5)).toSeq == (1L to rows.length).toSeq)
    assert(byRank.map(_.getLong(2)).toSeq ==
      byRank.map(_.getLong(2)).sortBy(-_).toSeq)
    val peaks = rows.filter(_.getBoolean(6))
    assert(peaks.length == rows.length / 10)
    assert(peaks.map(_.getLong(5)).max <= rows.length / 10)
  }
}
