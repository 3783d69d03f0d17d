package graft

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mhw, TimeSeries}
import graft.time.DoyFunctions

/** Semantics the DuckDB oracle can't pin on the 2024-January test data:
  * leap normalization across years, gap-join transitivity, strict skipna,
  * Feb-29 interpolation. */
class MhwSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  test("climDoy: Feb 29 is always 60, Mar 1 always 61, in every year") {
    val df = Seq("2023-02-28", "2023-03-01", "2023-12-31",
                 "2024-02-28", "2024-02-29", "2024-03-01", "2024-12-31")
      .toDF("s").select(to_date($"s").as("d"))
      .withColumn("doy", DoyFunctions.climDoy($"d"))
    val m = df.collect().map(r => r.getDate(0).toString -> r.getInt(1)).toMap
    assert(m("2023-02-28") == 59)
    assert(m("2023-03-01") == 61) // non-leap: natural 60 shifts to 61
    assert(m("2023-12-31") == 366)
    assert(m("2024-02-29") == 60)
    assert(m("2024-03-01") == 61)
    assert(m("2024-12-31") == 366)
  }

  private def sevDf(rows: Seq[(Long, String, Double, Double)]) =
    rows.toDF("user_id", "ds", "t_anom", "severity")
      .select($"user_id", to_date($"ds").as("d"), $"t_anom", $"severity")

  test("detectEvents: duration filter, transitive gap-merge, metrics over gap days, first-argmax peak") {
    // user 1: run 0-4, dip at 5, run 6-10, dip at 11, run 12-16 →
    // gaps of 2 (i0-i1 = 2 ≤ maxGap) chain-merge into ONE event 0..16.
    // t_anom max 3.0 occurs at idx 2 AND idx 8 → peak = first = idx 2.
    val base = Date.valueOf("2024-01-01").toLocalDate
    def day(i: Int) = base.plusDays(i).toString
    val u1 = (0 to 16).map { i =>
      val sev = if (i == 5 || i == 11) 0.5 else 2.0
      val ta = if (i == 2 || i == 8) 3.0 else 1.0
      (1L, day(i), ta, sev)
    }
    // user 2: run of 4 only → filtered by minDuration=5
    val u2 = (0 to 3).map(i => (2L, day(i), 1.0, 2.0))
    // user 3: two runs of 5 separated by 3 below-threshold days → NOT merged
    val u3 = (0 to 12).map { i =>
      val sev = if (i >= 5 && i <= 7) 0.5 else 2.0
      (3L, day(i), 1.0, sev)
    }
    val ev = Mhw.detectEvents(sevDf(u1 ++ u2 ++ u3), minDuration = 5, maxGap = 2)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("index_start"),
        r.getAs[Int]("index_end"), r.getAs[Int]("duration"),
        r.getAs[Int]("index_peak"), r.getAs[Double]("intensity_mean"),
        r.getAs[Double]("intensity_cumul")))
      .groupBy(_._1)

    val e1 = ev(1L)
    assert(e1.length == 1)
    val (_, s1, x1, d1, p1, mean1, cum1) = e1.head
    assert((s1, x1, d1) == (0, 16, 17)) // merged span includes the dips
    assert(p1 == 2)                     // first argmax
    // 17 days: 15 × 1.0 + 2 × 3.0 = 21.0 total (dips' t_anom included)
    assert(cum1 == 21.0)
    assert(math.abs(mean1 - 21.0 / 17) < 1e-6)

    assert(!ev.contains(2L)) // too short
    assert(ev(3L).length == 2) // gap of 3 does not merge
  }

  test("eventRates: Oliver metric battery on a hand-computed series") {
    // seas=0, thresh=1 → t_anom = sst, rt = sst − 1, severity = sst.
    // Day 0: 0.5 (below); days 1-5 the event [2,2,4,2,2]; day 6: 0.5.
    val base = Date.valueOf("2024-01-01").toLocalDate
    val ta = Seq(0.5, 2.0, 2.0, 4.0, 2.0, 2.0, 0.5)
    val df = ta.zipWithIndex.map { case (v, i) =>
      (1L, base.plusDays(i).toString, v, v, v, 0.0, 1.0)
    }.toDF("user_id", "ds", "t_anom", "severity", "sst", "seas", "thresh")
      .select($"user_id", to_date($"ds").as("d"),
        $"t_anom", $"severity", $"sst", $"seas", $"thresh")
    val r = Mhw.eventRates(df, minDuration = 3, maxGap = 2).collect()
    assert(r.length == 1)
    val e = r.head
    assert(e.getAs[Int]("index_start") == 1 && e.getAs[Int]("index_end") == 5)
    assert(e.getAs[Int]("index_peak") == 3 && e.getAs[Int]("duration") == 5)
    // var of [2,2,4,2,2]: mean 2.4, pop var 0.64 → sd 0.8
    assert(math.abs(e.getAs[Double]("intensity_var") - 0.8) < 1e-9)
    assert(math.abs(e.getAs[Double]("ivar_relthresh") - 0.8) < 1e-9)
    assert(math.abs(e.getAs[Double]("ivar_abs") - 0.8) < 1e-9)
    assert(e.getAs[Double]("imax_relthresh") == 3.0)
    assert(math.abs(e.getAs[Double]("imean_relthresh") - 1.4) < 1e-9)
    assert(e.getAs[Double]("icum_relthresh") == 7.0)
    assert(e.getAs[Double]("imax_abs") == 4.0 &&
           e.getAs[Double]("icum_abs") == 12.0)
    // categories: floor(severity) — four days at 2 (strong), one at 4 (extreme)
    assert(e.getAs[Long]("days_moderate") == 0 &&
           e.getAs[Long]("days_strong") == 4 &&
           e.getAs[Long]("days_severe") == 0 &&
           e.getAs[Long]("days_extreme") == 1)
    // onset: neighbours exist → edge strength = midpoint to day 0:
    // (4 − 0.5·(2 + 0.5)) / (2 + 0.5) = 1.1; decline symmetric
    assert(math.abs(e.getAs[Double]("rate_onset") - 1.1) < 1e-9)
    assert(math.abs(e.getAs[Double]("rate_decline") - 1.1) < 1e-9)
  }

  test("eventRates: series-boundary fallback uses peak-distance slope") {
    // Event starts at the very first sample (no ta_prev) with peak later:
    // onset = (ta_peak − ta_first) / tp. Ends at the last sample with the
    // peak before the end: decline = (ta_peak − ta_last) / td.
    val base = Date.valueOf("2024-01-01").toLocalDate
    val ta = Seq(2.0, 2.0, 6.0, 2.0, 3.0)
    val df = ta.zipWithIndex.map { case (v, i) =>
      (1L, base.plusDays(i).toString, v, v, v, 0.0, 1.0)
    }.toDF("user_id", "ds", "t_anom", "severity", "sst", "seas", "thresh")
      .select($"user_id", to_date($"ds").as("d"),
        $"t_anom", $"severity", $"sst", $"seas", $"thresh")
    val e = Mhw.eventRates(df, minDuration = 3, maxGap = 2).collect().head
    assert(e.getAs[Int]("index_peak") == 2)
    assert(math.abs(e.getAs[Double]("rate_onset") - (6.0 - 2.0) / 2) < 1e-9)
    assert(math.abs(e.getAs[Double]("rate_decline") - (6.0 - 3.0) / 2) < 1e-9)
  }

  test("detrendPoly2 recovers an exact quadratic; detrendBaseline fits the first half only") {
    val base = Date.valueOf("2024-01-01").toLocalDate
    // y = 2 + 0.5t − 0.01t² exactly → quadratic detrend leaves ~0
    val quad = (0 until 40).map { i =>
      (1L, base.plusDays(i).toString, 2.0 + 0.5 * i - 0.01 * i * i)
    }
    val dfQ = quad.toDF("user_id", "ds", "sst")
      .select($"user_id", to_date($"ds").as("d"), $"sst")
    val resQ = Mhw.detrendPoly2Daily(dfQ).collect()
    assert(resQ.forall(r => math.abs(r.getAs[Double]("detrended")) < 1e-6))

    // Slope 1 on days 0-19, flat at 19 after → baseline (t ≤ 19) fit has
    // slope 1, so the detrended tail falls below zero; a full-record fit
    // would not produce detrended(t=20) ≈ −1.
    val kinked = (0 until 40).map { i =>
      (1L, base.plusDays(i).toString, math.min(i, 19).toDouble)
    }
    val dfK = kinked.toDF("user_id", "ds", "sst")
      .select($"user_id", to_date($"ds").as("d"), $"sst")
    val resK = Mhw.detrendBaselineDaily(dfK).collect()
      .map(r => r.getAs[java.sql.Date]("d").toLocalDate.toEpochDay -
                  base.toEpochDay -> r.getAs[Double]("detrended")).toMap
    assert(math.abs(resK(10L)) < 1e-6)          // inside baseline: exact fit
    assert(math.abs(resK(20L) - (-1.0)) < 1e-6) // one day past the kink
    assert(math.abs(resK(39L) - (-20.0)) < 1e-6)
  }

  test("pooledQuantile: strict skipna nulls a window containing NaN") {
    val base = Date.valueOf("2024-06-01").toLocalDate
    val rows = (0 until 20).map { i =>
      val v = if (i == 10) Double.NaN else 10.0 + i
      (1L, java.sql.Date.valueOf(base.plusDays(i)), v)
    }
    val dl = rows.toDF("user_id", "d", "sst")
      .withColumn("yr", year($"d"))
      .withColumn("doy", DoyFunctions.climDoy($"d"))
    val q = Mhw.climThresh(dl, Mhw.Clim(5, pctile = Some(0.9)))
    val nanDoy = dl.filter(isnan($"sst")).select($"doy").as[Int].head()
    val nulled = q.filter($"thresh".isNull).select($"doy").as[Int].collect().toSet
    // every center within ±5 of the NaN observation must be null
    assert((nanDoy - 5 to nanDoy + 5).toSet.subsetOf(nulled))
    assert(q.filter($"thresh".isNotNull).count() > 0)
  }

  test("interpFeb29: DOY 60 replaced by neighbours' mean; absent if a neighbour is absent") {
    // hw = 0: the pooled mean of a slot is its one observation
    val dl = Seq((1L, 59, 10.0), (1L, 60, 99.0), (1L, 61, 20.0),
                 (2L, 59, 10.0), (2L, 60, 99.0))
      .toDF("user_id", "doy", "sst").withColumn("yr", lit(2024))
    val out = Mhw.climThresh(dl, Mhw.Clim(0, seas = true, feb29 = true))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 60)) == 15.0)
    assert(!out.contains((2L, 60))) // doy 61 missing → row absent
  }

  test("legacyClimThresh fused chain is bit-identical to the separate legacy operators") {
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1))
    val fused = Mhw.legacyClimThreshQ(spark, sf).collect()
      .map(r => key(r) -> (Option(r.get(2)), Option(r.get(3)))).toMap
    val seas = Mhw.climatologyLegacy(spark, sf).collect()
      .map(r => key(r) -> Option(r.get(2))).toMap
    val thresh = Mhw.thresholdLegacy(spark, sf).collect()
      .map(r => key(r) -> Option(r.get(2))).toMap
    assert(fused.nonEmpty)
    assert(fused.keySet == seas.keySet && fused.keySet == thresh.keySet)
    fused.foreach { case (k, (s, t)) =>
      assert(s == seas(k) && t == thresh(k), s"mismatch at $k")
    }
  }

  test("event detection and rates add one exchange and no join to the severity frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, RepartitionByExpression}
    // the memoized severity chain is cached: above its scan, each event
    // path is the per-series kernel over one exchange, with no span join
    val sev = Mhw.severityChain(spark, "/root/testdata/sf0.001", 0.6)
    for (df <- Seq(Mhw.detectEvents(sev, 3, 2), Mhw.eventRates(sev, 3, 2))) {
      val p = df.queryExecution.withCachedData
      assert(p.collect { case j: Join => j }.isEmpty, p)
      assert(p.collect { case r: RepartitionByExpression => r }.size == 1, p)
    }
  }

  test("CUSUM changepoint lands on a mean shift; flat series ties to first day") {
    val base = java.time.LocalDate.of(2020, 1, 1)
    // user 1: 100 days at 10.0 then 100 days at 20.0 → overall mean 15,
    // CUSUM extreme at the last day of the first regime: 1000 - 100*15 = -500.
    // user 2: constant → every cusum is 0; first date wins the tie rank.
    val rows =
      (0 until 200).map(i => (1L, Date.valueOf(base.plusDays(i).toString),
                              if (i < 100) 10.0 else 20.0)) ++
      (0 until 50).map(i => (2L, Date.valueOf(base.plusDays(i).toString), 7.5))
    val out = TimeSeries.changepointOf(rows.toDF("user_id", "d", "sst"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDate(1).toString, r.getDouble(2), r.getLong(3)))).toMap
    assert(out(1L) == ((base.plusDays(99).toString, -500.0, 200L)))
    assert(out(2L) == ((base.toString, 0.0, 50L)))
  }

  // ------------------------------------------------- slot-partials pooling

  /** Multi-year synthetic daily series with a year GAP (2000, 2001,
    * 2003 — 2002 absent) and two keys: exercises every branch of the
    * cross-year eligibility rule (wrap-forward needs year+1 present,
    * wrap-backward needs year−1; 2001→2002 and 2003→2002 are absent in
    * both directions). */
  private def gappedYears = {
    def yearRows(y: Int) = {
      val d0 = java.time.LocalDate.of(y, 1, 1)
      val n = if (d0.isLeapYear) 366 else 365
      (0 until n).map { i =>
        val d = java.sql.Date.valueOf(d0.plusDays(i))
        Seq((1L, d, (i * 2654435761L % 997L) / 99.7 + y % 7),
            (2L, d, (i * 40503L % 1009L) / 100.9))
      }
    }
    (Seq(2000, 2001, 2003).flatMap(yearRows).flatten)
      .toDF("user_id", "d", "sst")
      .withColumn("yr", year($"d"))
      .withColumn("doy", DoyFunctions.climDoy($"d"))
  }

  test("slot-partials pooling ≡ raw fan: quantile and mean bit-identical " +
       "across year wraps and a missing year") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    for (dl <- Seq(gappedYears, Mhw.daily(spark, "/root/testdata/sf0.001"))) {
      val qRef = m(MhwReference.pooledQuantileRawFan(dl, 5, 0.9))
      assert(m(MhwReference.pooledQuantile(dl, 5, 0.9)) == qRef,
        "slot-partials quantile diverged from the raw-fan reference")
      assert(m(Mhw.climThresh(dl, Mhw.Clim(5, pctile = Some(0.9)))) == qRef,
        "kernel quantile diverged from the raw-fan reference")
      val sRef = m(MhwReference.pooledMeanRawFan(dl, 5))
      assert(m(MhwReference.pooledMean(dl, 5)) == sRef,
        "slot-partials mean diverged from the raw-fan reference")
      assert(m(Mhw.climThresh(dl, Mhw.Clim(5, seas = true))) == sRef,
        "kernel mean diverged from the raw-fan reference")
    }
  }

  test("slot-partials pooling ≡ raw fan with null-sst observations: a center " +
       "whose eligible rows are all null survives with null seas/thresh") {
    // day-of-year 1..10 null for key 1 (hw=2 ⇒ centers 1..3 of key 1
    // draw ONLY null-sst rows on a single-year series) — the round-11
    // advisory's failure shape
    val dl = gappedYears
      .filter($"yr" === 2000)
      .withColumn("sst", when($"user_id" === 1 && $"doy" <= 10, lit(null))
        .otherwise($"sst"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    val q = m(Mhw.climThresh(dl, Mhw.Clim(2, pctile = Some(0.9))))
    val qRef = m(MhwReference.pooledQuantileRawFan(dl, 2, 0.9))
    assert(q == qRef, "pooled quantile diverged on null-sst input")
    assert(m(MhwReference.pooledQuantile(dl, 2, 0.9)) == qRef)
    assert(q.contains((1L, 2)) && q((1L, 2)).isEmpty,
      "all-null center was dropped or non-null")
    val s = m(Mhw.climThresh(dl, Mhw.Clim(2, seas = true)))
    val sRef = m(MhwReference.pooledMeanRawFan(dl, 2))
    assert(s == sRef, "pooled mean diverged on null-sst input")
    assert(m(MhwReference.pooledMean(dl, 2)) == sRef)
  }

  test("slot-partials fused chain ≡ raw-fan separate operators on gapped years") {
    val dl = gappedYears
    val fused = Mhw.legacyClimThresh(dl, 5, 0.9).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((Option(r.get(2)), Option(r.get(3))))).toMap
    val seas = MhwReference.smoothDoy(MhwReference.interpFeb29(
      MhwReference.pooledMeanRawFan(dl, 5), "seas"), "seas").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    val thresh = MhwReference.smoothDoy(MhwReference.interpFeb29(
      MhwReference.pooledQuantileRawFan(dl, 5, 0.9), "thresh"), "thresh").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    assert(fused.keySet == seas.keySet && fused.keySet == thresh.keySet)
    fused.foreach { case (k, (se, th)) =>
      assert(se == seas(k), s"$k seas"); assert(th == thresh(k), s"$k thresh")
    }
    // the slot-partials reference chain agrees too
    val slots = MhwReference.legacyClimThresh(dl, 5, 0.9).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((Option(r.get(2)), Option(r.get(3))))).toMap
    assert(slots == fused)
  }

  test("slot-partials plan: every explode sits above an aggregate — the raw " +
       "×11 observation fan is gone from the exact path") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // The assertion pins the BUILDER shape of the pooling kernel. A
    // structurally fresh daily input (the no-op filter survives
    // canonicalization) keeps Spark's CacheManager from substituting a
    // persisted copy of the same plan.
    val dl = Mhw.daily(spark, "/root/testdata/sf0.001")
      .where(col("user_id") =!= Long.MinValue)
    Seq(Mhw.climThresh(dl, Mhw.Clim(5, pctile = Some(0.9))),
        Mhw.legacyClimThresh(dl, 5, 0.9)).foreach { df =>
      val sp = df.queryExecution.sparkPlan
      val naked = sp.collect {
        case g: GenerateExec
          if g.collectFirst { case a: BaseAggregateExec => a }.isEmpty => g
      }
      assert(naked.isEmpty,
        s"${naked.size} explode(s) fan raw observation rows:\n${naked.mkString("\n")}")
      // the kernel's one exchange: the daily rows, hashed on the key
      val exchanges = sp.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"expected one keyed exchange:\n$sp")
      // and the raw-fan reference plan proves the assertion has teeth
      val ref = MhwReference.pooledQuantileRawFan(dl, 5, 0.9).queryExecution.sparkPlan
      val refNaked = ref.collect {
        case g: GenerateExec
          if g.collectFirst { case a: BaseAggregateExec => a }.isEmpty => g
      }
      assert(refNaked.nonEmpty, "raw-fan reference no longer fans raw rows?")
    }
  }
}
