package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops15

/** Invariants + reconciliations for round-6 batch 32 (#233-#236). */
class Round6Ops15Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------- lineitem_price_index

  test("price index: base month is exactly 1; Fisher between Laspeyres and Paasche") {
    val rows = Round6Ops15.lineitemPriceIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    val base = rows.minBy(_.getDate(0).getTime)
    assert(base.getDouble(2) == 1.0 && base.getDouble(3) == 1.0 &&
      base.getDouble(4) == 1.0)
    rows.foreach { r =>
      val (l, p, f) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(l > 0 && p > 0)
      // Fisher is the geometric mean -> sits between the two (6dp slop)
      assert(f >= math.min(l, p) - 1e-6 && f <= math.max(l, p) + 1e-6)
      assert(math.abs(f - math.sqrt(l * p)) < 1e-5)
      assert(r.getLong(1) > 0)
    }
  }

  // ----------------------------------------------------------- dq_rule_check

  test("rule check: the generated star passes every contract; counts reconcile") {
    val rows = Round6Ops15.dqRuleCheck(spark, sf).collect()
    assert(rows.length == Round6Ops15.Rules.length)
    val li = graft.sources.Tables.lineitem(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(2) == li)
      assert(r.getBoolean(5) == (r.getLong(3) == 0))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // the generated data is clean on sign/domain rules
    val byId = rows.map(r => r.getString(0) -> r).toMap
    Seq("quantity_positive", "price_positive", "returnflag_domain")
      .foreach(id => assert(byId(id).getBoolean(5), id))
  }

  // -------------------------------------------------- ts_seasonal_anomaly

  test("seasonal anomaly: driver replay; seasonal series stays quiet, true spike pages") {
    val rows = Round6Ops15.tsSeasonalAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    import spark.implicits._
    val base = java.time.LocalDate.of(2024, 1, 1)
    def ts(d: Int, i: Int) =
      java.sql.Timestamp.valueOf(base.plusDays(d).atTime(i % 24, 0))
    // weekly pattern: Saturdays always 100, other days 10 + small wiggle;
    // one true anomaly: a Saturday at 10 (a broken peak)
    val evs = (0 until 56).flatMap { d =>
      val isSat = base.plusDays(d).getDayOfWeek ==
        java.time.DayOfWeek.SATURDAY
      val v = if (d == 54 && isSat) 10.0
              else if (isSat) 100.0
              else 10.0 + (d % 3)
      Seq((1L, ts(d, d), v))
    }
    val out = Round6Ops15.tsSeasonalAnomalyDf(
        evs.toDF("user_id", "ts", "value")).collect().head
    assert(out.getLong(3) >= 1, "the broken Saturday must page")
    assert(out.getLong(3) <= 2, s"seasonal peaks must NOT page: ${out.getLong(3)}")
  }

  test("seasonal anomaly: flat z-screen baseline would flag every Saturday") {
    // documents the reason this operator exists: on the same synthetic
    // series the UNADJUSTED 3-sigma screen flags the weekly peaks
    val base = java.time.LocalDate.of(2024, 1, 1)
    val vs = (0 until 56).map { d =>
      if (base.plusDays(d).getDayOfWeek == java.time.DayOfWeek.SATURDAY) 100.0
      else 10.0
    }
    val mean = vs.sum / vs.length
    val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.length)
    // 8 Saturdays of 56 days: z of a Saturday
    val zSat = (100.0 - mean) / sd
    assert(zSat > 2.0, "peaks stand far out of the pooled spread")
  }

  // ---------------------------------------------------- events_topk_drift

  test("topk drift: lists replay from the halves; statuses and Jaccard consistent") {
    val rows = Round6Ops15.eventsTopkDrift(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ev.map(_._2)
    val mid = days.min.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(days.min, days.max) / 2)
    def top(half: ((Long, java.time.LocalDate)) => Boolean): Seq[Long] = {
      ev.filter(half).groupBy(_._1).map { case (u, es) => (u, es.length) }
        .toSeq.sortBy(t => (-t._2, t._1)).take(Round6Ops15.DriftK).map(_._1)
    }
    val t1 = top(p => !p._2.isAfter(mid))
    val t2 = top(p => p._2.isAfter(mid))
    val union = (t1 ++ t2).distinct.sorted
    assert(rows.map(_.getLong(0)).toSeq.sorted == union)
    val inter = t1.toSet & t2.toSet
    val jac = Parity.r6d(inter.size.toDouble / union.size)
    rows.foreach { r =>
      assert(r.getDouble(7) == jac)
      val u = r.getLong(0)
      val status =
        if (inter.contains(u)) "stayed"
        else if (t1.contains(u)) "dropped" else "entered"
      assert(r.getString(5) == status, s"status($u)")
      if (status == "stayed") {
        val shift = (t2.indexOf(u) + 1).toLong - (t1.indexOf(u) + 1)
        assert(r.getLong(6) == shift, s"shift($u)")
      } else assert(r.isNullAt(6))
    }
  }
}
