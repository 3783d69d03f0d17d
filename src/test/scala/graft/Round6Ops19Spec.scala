package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops19

/** Invariants + reconciliations for round-6 batch 36 (#250-#253). */
class Round6Ops19Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------- events_markov_hitting_time

  test("hitting time: fixed point satisfies the absorbing-chain equations") {
    val rows = Round6Ops19.eventsMarkovHittingTime(spark, sf).collect()
    assert(rows.nonEmpty)
    val trans = graft.operators.Round6Ops3.markovTransitions(spark, sf)
    val mat = trans.map { case (p, n, pr) => (p, n) -> pr }.toMap
      .withDefaultValue(0.0)
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    val byState = rows.map(r => r.getString(0) -> r).toMap
    assert(byState.keySet == states.filterNot(Set("CONV", "NULL")).toSet)
    def v(st: String, i: Int): Double =
      if (st == "CONV") (if (i == 1) 1.0 else 0.0)
      else if (st == "NULL") 0.0
      else byState(st).getDouble(i)
    rows.foreach { r =>
      val st = r.getString(0)
      // p = Σ P(s,·)p(·) and t = 1 + Σ P(s,·)t(·) hold at the fixpoint
      val pRhs = states.map(nx => mat((st, nx)) * v(nx, 1)).sum
      val tRhs = 1.0 + states.map(nx =>
        mat((st, nx)) * (if (Set("CONV", "NULL")(nx)) 0.0
                         else byState(nx).getDouble(2))).sum
      assert(math.abs(r.getDouble(1) - pRhs) < 1e-4, s"p($st)")
      assert(math.abs(r.getDouble(2) - tRhs) < 1e-3, s"t($st)")
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) >= 1.0)
    }
  }

  // ----------------------------------------------------------- dq_clock_skew

  test("clock skew: ordered feed is clean; injected backstep measured in seconds") {
    val rows = Round6Ops19.dqClockSkew(spark, sf).collect()
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    // producer 1: monotone; producer 2: one 90-second backstep
    val evs = Seq(
      (1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L),
      (2L, ts(0), 1L), (2L, ts(100), 2L), (2L, ts(10), 3L), (2L, ts(110), 4L))
    val out = Round6Ops19.dqClockSkewDf(
        evs.toDF("user_id", "ts", "event_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(3) == 0 && out(1L).getDouble(5) == 0.0)
    assert(out(2L).getLong(3) == 1)
    assert(out(2L).getDouble(5) == 90.0)
    assert(out(2L).getDouble(4) == Parity.r6d(1.0 / 3))
  }

  // -------------------------------------------------- supplier_single_source

  test("risk list: driver replay of concentration scores and ranking") {
    val rows = Round6Ops19.supplierSingleSource(spark, sf).collect()
    assert(rows.length == Round6Ops19.SingleSourceTopK)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    def dec2(xs: Seq[Double]) = Parity.r6d(0) + math.floor(
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble * 100 + 0.5) / 100
    val ps = li.groupBy(p => (p._1, p._2)).map { case ((pk, sk), g) =>
      (pk, sk, dec2(g.toSeq.map(x => x._3 * (1.0 - x._4))))
    }.toSeq
    val byPart = ps.groupBy(_._1).map { case (pk, g) =>
      val revenue = math.floor(
        g.map(x => BigDecimal(x._3).setScale(10, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble * 100 + 0.5) / 100
      val top = g.sortBy(x => (-x._3, x._2)).head
      val share = Parity.r6d(top._3 / revenue)
      (pk, top._2, g.size.toLong, revenue, share,
       math.floor(revenue * share * 100 + 0.5) / 100)
    }.toSeq
    val want = byPart.sortBy(x => (-x._6, x._1))
      .take(Round6Ops19.SingleSourceTopK)
    rows.zip(want).foreach { case (r, (pk, sk, ns, rev, share, risk)) =>
      assert(r.getLong(1) == pk, s"rank ${r.getLong(0)}")
      assert(r.getLong(2) == sk)
      assert(r.getLong(3) == ns)
      assert(r.getDouble(4) == rev)
      assert(r.getDouble(5) == share)
      assert(r.getDouble(6) == risk)
    }
    val nSingle = byPart.count(_._3 == 1)
    rows.foreach(r => assert(r.getLong(7) == nSingle))
  }

  // ---------------------------------------------------- text_vocab_coverage

  test("coverage curve: driver replay; monotone in the cutoff") {
    val rows = Round6Ops19.textVocabCoverage(spark, sf).collect()
    assert(rows.length == Round6Ops19.VocabCutoffs.length)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(r => r.getString(0).trim.toLowerCase.split(" ", -1))
    val vocab = toks.groupBy(identity).map { case (w, g) => (w, g.length.toLong) }
      .toSeq.sortBy(t => (-t._2, t._1))
    val total = toks.length.toLong
    rows.zip(Round6Ops19.VocabCutoffs).foreach { case (r, k) =>
      assert(r.getLong(0) == k)
      assert(r.getLong(1) == vocab.length)
      assert(r.getLong(2) == math.min(k.toLong, vocab.length))
      assert(r.getLong(3) == total)
      val covered = vocab.take(k).map(_._2).sum
      assert(r.getLong(4) == covered, s"cutoff $k")
      assert(r.getDouble(5) == Parity.r6d(covered.toDouble / total))
      assert(r.getDouble(6) == Parity.r6d(1.0 - covered.toDouble / total))
    }
    // monotone non-decreasing coverage
    val cov = rows.sortBy(_.getLong(0)).map(_.getDouble(5))
    assert(cov.sameElements(cov.sorted))
  }
}
