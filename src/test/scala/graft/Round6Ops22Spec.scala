package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops22

/** Invariants + reconciliations for round-6 batch 39 (#261-#263). */
class Round6Ops22Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------- events_slo_burn

  test("slo burn: windows reconcile; a quiet hour sleeps, an outage pages") {
    val rows = Round6Ops22.eventsSloBurn(spark, sf).collect()
    val n = graft.sources.Tables.events(spark, sf).count()
    Seq("1h", "6h").foreach { w =>
      val g = rows.filter(_.getString(0) == w)
      assert(g.map(_.getLong(2)).sum == n, s"window family $w covers the feed")
      g.foreach { r =>
        assert(r.getLong(1) % (if (w == "1h") 3600 else 21600) == 0)
        assert(r.getDouble(5) == Parity.r6d(r.getDouble(4) / 0.01))
      }
    }
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(i: Int) = new java.sql.Timestamp(t0.getTime + i * 1000L)
    // hour 1: 1 error in 1000 (burn 0.1); hour 2: all errors (burn 100)
    val quiet = (0 until 1000).map(i =>
      (ts(i), if (i == 0) "error" else "view"))
    val outage = (0 until 100).map(i => (ts(3600 + i), "error"))
    val out = Round6Ops22.eventsSloBurnDf(
        (quiet ++ outage).toDF("ts", "event_type"))
      .collect().filter(_.getString(0) == "1h").sortBy(_.getLong(1))
    assert(!out.head.getBoolean(6), s"quiet burn ${out.head.getDouble(5)}")
    assert(out.last.getBoolean(6), s"outage burn ${out.last.getDouble(5)}")
    assert(out.last.getDouble(5) == 100.0)
  }

  // ---------------------------------------------- events_growth_accounting

  test("growth accounting: classes partition actives; first day is all-new; replay") {
    val rows = Round6Ops22.eventsGrowthAccounting(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1))
    }
    val first = rows.minBy(_.getDate(0).getTime)
    assert(first.getLong(2) == first.getLong(1), "day one is all new users")
    // total new across days = distinct users
    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == users)
    import spark.implicits._
    val base = java.time.LocalDate.of(2024, 1, 1)
    def ts(d: Int) = java.sql.Timestamp.valueOf(base.plusDays(d).atStartOfDay)
    // user 1: days 0, 10 (retained), 50 (resurrected: gap 40 > 28)
    val evs = Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(50)), (2L, ts(50)))
    val out = Round6Ops22.eventsGrowthAccountingDf(
        evs.toDF("user_id", "ts")).collect()
      .map(r => r.getDate(0).toLocalDate -> r).toMap
    assert(out(base).getLong(2) == 1)
    assert(out(base.plusDays(10)).getLong(3) == 1)
    val d50 = out(base.plusDays(50))
    assert(d50.getLong(4) == 1 && d50.getLong(2) == 1) // resurrected + new
  }

  // ---------------------------------------------- events_value_drift_ks

  test("value drift: stationary types stay under the critical value; shift drifts") {
    val rows = Round6Ops22.eventsValueDriftKs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getBoolean(5) == (r.getDouble(3) > r.getDouble(4)))
      // the generated feed is stationary: no type should drift
      assert(!r.getBoolean(5), s"${r.getString(0)} ks=${r.getDouble(3)}")
    }
    import spark.implicits._
    val base = java.time.LocalDate.of(2024, 1, 1)
    def ts(d: Int, i: Int) =
      java.sql.Timestamp.valueOf(base.plusDays(d).atTime(i % 24, 0))
    // type 'a': values shift from ~10 to ~200 at the midpoint;
    // type 'b': stationary
    val evs = (0 until 40).flatMap { d =>
      (0 until 25).flatMap { i =>
        Seq(("a", ts(d, i), if (d < 20) 10.0 + i else 200.0 + i),
            ("b", ts(d, i), 50.0 + (i % 7)))
      }
    }
    val out = Round6Ops22.eventsValueDriftKsDf(
        evs.toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getBoolean(5), s"shifted ks=${out("a").getDouble(3)}")
    assert(!out("b").getBoolean(5), s"stationary ks=${out("b").getDouble(3)}")
    assert(out("a").getDouble(3) > 0.9)
  }
}
