package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops8

/** Invariants + reconciliations for round-6 batch 25 (#204-#207). */
class Round6Ops8Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dec(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  // --------------------------------------------------- orders_reconcile

  test("reconcile: statuses partition orders; orphan headers counted; driver replay") {
    val rows = Round6Ops8.ordersReconcile(spark, sf).collect()
    val orders = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.map(_.getLong(1)).sum == orders.length)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val recomp = li.groupBy(_._1).map { case (k, ls) =>
      k -> dec(ls.toSeq.map(l => l._2 * (1.0 - l._3) * (1.0 + l._4)))
    }
    rows.foreach { row =>
      val st = row.getString(0)
      val os = orders.filter(_._2 == st)
      val rels = os.flatMap { case (k, _, tp) =>
        recomp.get(k).map(rc => Parity.r6d(math.abs(tp - rc) / tp))
      }
      assert(row.getLong(1) == os.length)                       // n_orders
      assert(row.getLong(2) == os.count(o => !recomp.contains(o._1)))
      assert(row.getLong(3) == rels.length)                     // n_recon
      assert(row.getDouble(4) == Parity.r6d(dec(rels.toSeq) / rels.length))
      assert(row.getDouble(5) == rels.max)
      assert(row.getDouble(6) ==
        Parity.r6d(rels.count(_ <= 0.01).toDouble / rels.length))
      assert(row.getDouble(4) <= row.getDouble(5))              // mean <= max
    }
  }

  // ------------------------------------------------------- events_anova

  test("anova: driver replay of the full decomposition on the real corpus") {
    val rows = Round6Ops8.eventsAnova(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val g = ev.toSeq.sortBy(_._1).map { case (t, vs) =>
      val xs = vs.map(_._2).toSeq
      (t, xs.length.toLong, dec(xs), dec(xs.map(x => x * x)))
    }
    val nTot = g.map(_._2).sum
    val k = g.length
    val grand = dec(g.map(_._3)) / nTot
    val ssb = Parity.r6d(dec(g.map { case (_, n, s, _) =>
      Parity.r6d(n * (s / n - grand) * (s / n - grand))
    }))
    val ssw = Parity.r6d(dec(g.map { case (_, n, s, ss) =>
      Parity.r6d(ss - s * s / n)
    }))
    val f = Parity.r6d((ssb / (k - 1)) / (ssw / (nTot - k)))
    assert(rows.length == k)
    rows.zip(g).foreach { case (row, (t, n, s, _)) =>
      assert(row.getString(0) == t)
      assert(row.getLong(1) == n)
      assert(row.getDouble(2) == Parity.r6d(s / n))
      assert(row.getDouble(3) == ssb)
      assert(row.getDouble(4) == ssw)
      assert(row.getLong(5) == k - 1)
      assert(row.getLong(6) == nTot - k)
      assert(row.getDouble(7) == f)
    }
    assert(f >= 0.0)
  }

  test("anova: equal group means give F near zero; separated means dominate") {
    import spark.implicits._
    val same = (0 until 60).map(i => ("a" + (i % 3), (i % 5).toDouble + 1))
    val fSame = Round6Ops8.eventsAnovaDf(same.toDF("event_type", "value"))
      .collect().head.getDouble(7)
    val apart = (0 until 60).map(i =>
      ("b" + (i % 3), (i % 3) * 100.0 + (i % 5)))
    val fApart = Round6Ops8.eventsAnovaDf(apart.toDF("event_type", "value"))
      .collect().head.getDouble(7)
    assert(fSame < 0.01, s"balanced identical groups must not separate: $fSame")
    assert(fApart > 100.0, s"100-unit mean gaps must dominate: $fApart")
  }

  // --------------------------------------------------------- events_mwu

  test("mwu: driver replay of the binned U, ties and z on the real corpus") {
    val row = Round6Ops8.eventsMwu(spark, sf).collect().head
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .filter(p => p._1 == "click" || p._1 == "purchase")
    val bins = ev.groupBy(p => math.floor(p._2 / Round6Ops8.MwuBinWidth).toLong)
      .toSeq.sortBy(_._1)
      .map { case (b, ps) =>
        (b, ps.count(_._1 == "click").toLong, ps.count(_._1 == "purchase").toLong)
      }
    val nA = bins.map(_._2).sum
    val nB = bins.map(_._3).sum
    var cumB = 0L; var u2 = 0L; var ties = 0L
    bins.foreach { case (_, na, nb) =>
      u2 += na * (2 * cumB + nb); cumB += nb
      val t = na + nb; ties += t * (t - 1) * (t + 1)
    }
    val nT = (nA + nB).toDouble
    val varU = Parity.r6d(nA.toDouble * nB / 12.0 *
      ((nT + 1.0) - ties.toDouble / (nT * (nT - 1.0))))
    assert(row.getLong(0) == nA && row.getLong(1) == nB)
    assert(row.getLong(2) == bins.length)
    assert(row.getDouble(3) == u2 / 2.0)
    assert(row.getDouble(4) == nA.toDouble * nB / 2.0)
    assert(row.getDouble(5) == varU)
    assert(row.getDouble(6) ==
      Parity.r6d((u2 / 2.0 - nA.toDouble * nB / 2.0) / math.sqrt(varU)))
    assert(row.getDouble(7) == Parity.r6d((u2 / 2.0) / (nA.toDouble * nB)))
  }

  test("mwu: total separation pins U to its extremes; identity gives AUC 1/2") {
    import spark.implicits._
    // every 'lo' value strictly below every 'hi' value, distinct bins
    val sep = (0 until 20).map(i => ("lo", i.toDouble)) ++
              (0 until 30).map(i => ("hi", 100.0 + i))
    val r1 = Round6Ops8.eventsMwuDf(sep.toDF("event_type", "value"), "lo", "hi")
      .collect().head
    assert(r1.getDouble(3) == 0.0)     // U_A: lo never beats hi
    assert(r1.getDouble(7) == 0.0)     // AUC
    assert(r1.getDouble(6) < -3.0)     // strongly negative z
    val r2 = Round6Ops8.eventsMwuDf(sep.toDF("event_type", "value"), "hi", "lo")
      .collect().head
    assert(r2.getDouble(3) == 20.0 * 30)   // U maxes at nA*nB
    assert(r2.getDouble(7) == 1.0)
    // identical multisets → exact half
    val id = (0 until 40).map(i => ("x", (i % 7).toDouble)) ++
             (0 until 40).map(i => ("y", (i % 7).toDouble))
    val r3 = Round6Ops8.eventsMwuDf(id.toDF("event_type", "value"), "x", "y")
      .collect().head
    assert(r3.getDouble(3) == 40.0 * 40 / 2)
    assert(r3.getDouble(6) == 0.0)
    assert(r3.getDouble(7) == 0.5)
  }

  // ------------------------------------------------------- ts_ljung_box

  test("ljung-box: driver replay of r_k, Q, df and the verdict per user") {
    val rows = Round6Ops8.tsLjungBox(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
                 r.getDouble(3)))
      .groupBy(_._1)
    rows.foreach { row =>
      val uid = row.getLong(0)
      val xs = ev(uid).sortBy(t => (t._2, t._3)).map(_._4).toSeq
      val n = xs.length
      val xbar = Parity.r6d(dec(xs) / n)
      val dx = xs.map(_ - xbar)
      val denom = dec(dx.map(d => d * d))
      val rk = (1 to Round6Ops8.LbMaxLag).map { k =>
        if (n > k && denom > 0)
          Parity.r6d(dec((k until n).map(i => dx(i) * dx(i - k))) / denom)
        else 0.0
      }
      var q = 0.0
      (1 to Round6Ops8.LbMaxLag).foreach { k =>
        q += (if (n > k) rk(k - 1) * rk(k - 1) / (n.toDouble - k) else 0.0)
      }
      val qStat = Parity.r6d(n.toDouble * (n + 2.0) * q)
      assert(row.getLong(1) == n)
      (1 to Round6Ops8.LbMaxLag).foreach(k =>
        assert(row.getDouble(1 + k) == rk(k - 1), s"r$k of user $uid"))
      assert(row.getDouble(7) == qStat)
      val df = (1 to Round6Ops8.LbMaxLag).count(n > _)
      assert(row.getLong(8) == df)
    }
  }

  test("ljung-box: alternating series rejects whiteness; constant series cannot") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(t0.getTime + i * 60000L)
    val alt = (0 until 50).map(i =>
      (1L, ts(i), i.toLong, if (i % 2 == 0) 10.0 else -10.0))
    val const = (0 until 50).map(i => (2L, ts(i), i.toLong, 7.0))
    val df = (alt ++ const).toDF("user_id", "ts", "event_id", "value")
    val out = Round6Ops8.tsLjungBoxDf(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(2) < -0.9)      // r1 ~ -1
    assert(out(1L).getBoolean(9), "alternating series must reject whiteness")
    (1 to 5).foreach(k => assert(out(2L).getDouble(1 + k) == 0.0))
    assert(out(2L).getDouble(7) == 0.0)
    assert(!out(2L).getBoolean(9))
  }
}
