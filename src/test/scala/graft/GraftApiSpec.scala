package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Graft, SeriesConfig}
import graft.operators.Mhw
import graft.sources.Tables

/** Semantics only multi-year data can exercise: cross-year window
  * pooling at the Dec↔Jan boundary, Feb-29 interpolation on a real leap
  * year, and baseline-period restriction — asserted against
  * hand-computed values. */
class GraftApiSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def series(rows: Seq[(String, Double)]) =
    Graft.dailySeries(
      rows.toDF("t", "v").withColumn("k", lit(1L)),
      SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"))

  private def days(from: java.time.LocalDate, to: java.time.LocalDate) =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to)).toSeq

  test("cross-year pooling: Dec 31 spike reaches January centers via the year boundary") {
    import java.time.LocalDate
    val rows = days(LocalDate.of(2022, 12, 20), LocalDate.of(2023, 1, 10))
      .map(d => d.toString -> (if (d == LocalDate.of(2022, 12, 31)) 100.0 else 10.0))
    val pooled = Mhw.climThresh(series(rows), Mhw.Clim(5, seas = true))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    // centers 1 and 366 both pool Dec 27-31 + Jan 1-6 → (10·10+100)/11
    assert(pooled(1) == 18.181818)
    assert(pooled(366) == 18.181818)
    // center 6 pools Jan 1-11 only → flat
    assert(pooled(6) == 10.0)
  }

  test("leap year: Feb 29 is DOY 60 from real data; legacy interp overwrites it") {
    import java.time.LocalDate
    // spike at Feb 23 (doy 54): inside the ±5 window of doy 59, outside 60/61
    val rows = days(LocalDate.of(2024, 2, 20), LocalDate.of(2024, 3, 10))
      .map(d => d.toString -> (if (d == LocalDate.of(2024, 2, 23)) 100.0 else 10.0))
    val daily = series(rows)
    val raw = Mhw.climThresh(daily, Mhw.Clim(5, seas = true))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(raw(59) == 18.181818) // window 54..64 catches the spike
    assert(raw(60) == 10.0)      // window 55..65 does not
    assert(raw(61) == 10.0)
    val legacy = Graft.computeClimatologyLegacy(daily, smoothPercentile = false)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(legacy(60) == 0.5 * 18.181818 + 0.5 * 10.0) // 14.090909
    assert(legacy(59) == raw(59))
  }

  test("a measured NaN stays NaN in the daily series: strict skipna nulls the " +
       "threshold windows around it, the pooled mean skips it") {
    import java.time.LocalDate
    val nanDay = LocalDate.of(2000, 1, 11)
    val rows = (0 until 800).map(LocalDate.of(2000, 1, 1).plusDays(_)).map { d =>
      d.toString -> (if (d == nanDay) Double.NaN else 10.0 + d.getDayOfMonth % 7)
    }
    val daily = series(rows)
    val sst = daily.filter($"d" === java.sql.Date.valueOf(nanDay)).select($"sst").head()
    assert(!sst.isNullAt(0) && sst.getDouble(0).isNaN, s"sst of the NaN day: $sst")
    val thresh = Graft.computeThresholdLegacy(daily, smoothPercentile = false)
      .collect().map(r => r.getInt(1) -> Option(r.get(2))).toMap
    // DOY 11 of 2000 sits in the ±5 pool of centers 6..16 only
    (6 to 16).foreach(d => assert(thresh(d).isEmpty, s"doy $d threshold survived the NaN"))
    assert(thresh(5).nonEmpty && thresh(17).nonEmpty)
    // Jan 11 of 2001 and 2002 hold 14.0; the NaN counts in neither sum nor count
    val seas = Graft.computeClimatology(daily, smoothPercentile = false)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(seas(11) == 14.0)
  }

  test("baseline period restricts the fit but detrend covers the full record") {
    import java.time.LocalDate
    // 2022: steep trend; 2023: flat. Fit on 2023 only → trend ~0 →
    // detrended 2023 values ≈ 0-mean flat, 2022 keeps its slope.
    val rows =
      days(LocalDate.of(2022, 1, 1), LocalDate.of(2022, 1, 31)).zipWithIndex
        .map { case (d, i) => d.toString -> (10.0 + i) } ++
      days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 31))
        .map(d => d.toString -> 50.0)
    val out = Mhw.detrendDaily(series(rows), baseline = Some((2023, 2023)))
      .collect().map(r => (r.getDate(1).toString, r.getDouble(2))).toMap
    // flat baseline fit: slope 0, intercept 50 → 2023 residuals are 0
    assert(out("2023-01-05") == 0.0)
    assert(out("2023-01-31") == 0.0)
    // 2022 rows evaluated under the same (flat) model keep their trend
    assert(out("2022-01-01") == -40.0)
    assert(out("2022-01-31") == -10.0)
    // full record covered
    assert(out.size == 62)
  }

  test("date-slice period: mid-month fit, hand-computed trend over the full record") {
    import java.time.LocalDate
    // Jan 1-31: value = 3t + 5 on the slice Jan 10-20 (t = days since
    // Jan 1); outside the slice a DIFFERENT (flat) regime. OLS on the
    // exactly-linear slice returns slope 3, intercept 5 exactly, so the
    // detrended record is hand-computable everywhere.
    val rows = days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 31)).zipWithIndex
      .map { case (d, i) =>
        val inSlice = !d.isBefore(LocalDate.of(2023, 1, 10)) &&
                      !d.isAfter(LocalDate.of(2023, 1, 20))
        d.toString -> (if (inSlice) 3.0 * i + 5.0 else 200.0)
      }
    val out = Graft.detrend(rows.toDF("t", "v").withColumn("k", lit(1L)),
        SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"),
        period = Some(("2023-01-10", "2023-01-20")))
      .collect().map(r => (r.getDate(1).toString, r.getDouble(2))).toMap
    assert(out.size == 31)
    // slice rows: residual exactly 0 under the recovered 3t+5 model
    assert(out("2023-01-10") == 0.0)
    assert(out("2023-01-15") == 0.0)
    assert(out("2023-01-20") == 0.0)
    // outside rows: 200 − (3t + 5); t=0 → 195, t=30 → 105
    assert(out("2023-01-01") == 195.0)
    assert(out("2023-01-31") == 105.0)
    // a year-granular baseline cannot express this: fitting on the whole
    // of 2023 mixes the flat regime in and shifts every residual
    val yearFit = Graft.detrend(rows.toDF("t", "v").withColumn("k", lit(1L)),
        SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"),
        baseline = Some((2023, 2023)))
      .collect().map(r => (r.getDate(1).toString, r.getDouble(2))).toMap
    assert(yearFit("2023-01-15") != 0.0)
  }

  test("dailySeries baselineDates: inclusive calendar-date restriction") {
    import java.time.LocalDate
    val rows = days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 31))
      .map(d => d.toString -> 10.0)
    val dl = Graft.dailySeries(rows.toDF("t", "v").withColumn("k", lit(1L)),
      SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"),
      baselineDates = Some(("2023-01-08", "2023-01-22")))
    val ds = dl.collect().map(_.getDate(1).toString).sorted
    assert(ds.length == 15 && ds.head == "2023-01-08" && ds.last == "2023-01-22")
  }

  test("multi-column series keys: (lat, lon) grid equals the composite-key result") {
    import java.time.LocalDate
    // 2×2 grid × 31 days, value depends on the cell and the day
    val base = for {
      lat <- Seq(10, 20); lon <- Seq(100, 200)
      (d, i) <- days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 31)).zipWithIndex
    } yield (lat, lon, d.toString, lat * 1.0 + lon * 0.01 + i * 0.5)
    val df = base.toDF("lat", "lon", "t", "v")
    val cfg = SeriesConfig(keyCols = Seq("lat", "lon"), timeCol = "t", valueCol = "v")
    // detrend through the struct-keyed path, keys re-expanded
    val multi = Graft.restoreKeys(Graft.detrend(df, cfg), cfg)
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getDate(2).toString),
                           r.getDouble(3))).toMap
    // composite flat key: same series, key = "lat:lon"
    val flat = Graft.detrend(
        df.withColumn("k", concat_ws(":", col("lat"), col("lon"))),
        SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"))
      .collect().map { r =>
        val Array(la, lo) = r.getString(0).split(":")
        ((la.toInt, lo.toInt, r.getDate(1).toString), r.getDouble(2))
      }.toMap
    assert(multi.size == 4 * 31)
    assert(multi == flat)
    // the full MHW chain also runs on struct keys: climatology on the
    // grid has one (cell, doy) row per cell per day
    val clim = Graft.computeClimatology(Graft.dailySeries(df, cfg),
      smoothPercentile = false)
    assert(clim.count() == 4 * 31)
    assert(Graft.restoreKeys(clim, cfg).columns.toSeq == Seq("lat", "lon", "doy", "seas"))
  }

  test("maxEvents caps to the chronologically first events, like the reference maxEvt") {
    import java.time.LocalDate
    // three clear events (10 hot days each, 20-day cold gaps — beyond
    // maxGap) on a flat-threshold series
    val hot = Set(10 to 19, 40 to 49, 70 to 79).flatten
    val rows = days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 4, 10)).zipWithIndex
      .map { case (d, i) => d.toString -> (if (hot(i)) 30.0 else 10.0) }
    val dl = series(rows)
    val doys = dl.select(col("user_id"), col("doy")).distinct()
    val sev = Graft.calculateSeverity(dl,
      doys.withColumn("seas", lit(10.0)),
      doys.withColumn("thresh", lit(15.0)))
    val all = Graft.calculateMhwMetrics(sev, minDuration = 5, maxGap = 2)
      .collect().map(r => (r.getAs[Long]("evt"), r.getAs[java.sql.Date]("date_start").toString))
    assert(all.length == 3)
    val capped = Graft.calculateMhwMetrics(sev, minDuration = 5, maxGap = 2,
        maxEvents = 2)
      .collect().map(r => (r.getAs[Long]("evt"), r.getAs[java.sql.Date]("date_start").toString))
    assert(capped.toSet == all.sortBy(_._1).take(2).toSet)
  }

  test("pickTempVar: explicit varname wins; else preference list; else first numeric") {
    import java.time.LocalDate
    val rows = days(LocalDate.of(2023, 1, 1), LocalDate.of(2023, 1, 5))
      .map(d => (d.toString, 1L, 20.0, 99.0, "x"))
    val df = rows.toDF("t", "k", "salinity", "sst", "note")
    val cfg = SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "ignored")
    // explicit varname wins, validated
    assert(Graft.pickTempVar(df, cfg, Some("salinity")).valueCol == "salinity")
    intercept[IllegalArgumentException](Graft.pickTempVar(df, cfg, Some("nope")))
    // auto: 'sst' preferred over the schema-first 'salinity'
    assert(Graft.pickTempVar(df, cfg).valueCol == "sst")
    // no preferred name present → first numeric non-key/non-time column
    val df2 = df.withColumnRenamed("sst", "reading")
    assert(Graft.pickTempVar(df2, cfg).valueCol == "salinity")
    // nothing numeric beyond key/time → reference's ValueError analog
    intercept[IllegalArgumentException](
      Graft.pickTempVar(df.select("t", "k", "note"), cfg))
    // resolved config drives the normal chain end-to-end
    val dl = Graft.dailySeries(df, Graft.pickTempVar(df, cfg))
    assert(dl.select("sst").collect().forall(_.getDouble(0) == 99.0))
  }

  test("chain storage policy: replicated and RELIABLE levels leave results unchanged") {
    val sf = "/root/testdata/sf0.001"
    val base = Mhw.mhwEvents(spark, sf).collect().map(_.toSeq).toSet
    def withConf(v: String)(f: => Unit): Unit = {
      spark.conf.set(Caches.ChainStorageConf, v)
      // drop memoized frames so the policy applies to fresh builds
      Caches.clear(spark)
      try f finally {
        spark.conf.set(Caches.ChainStorageConf, "MEMORY_AND_DISK")
        Caches.clear(spark)
      }
    }
    withConf("MEMORY_AND_DISK_2") {
      assert(Mhw.mhwEvents(spark, sf).collect().map(_.toSeq).toSet == base)
    }
    val ckpt = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try withConf("RELIABLE") {
      assert(Mhw.mhwEvents(spark, sf).collect().map(_.toSeq).toSet == base)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("metrics-from-clim derives severity internally and equals the explicit chain") {
    val sf = "/root/testdata/sf0.001"
    val dl = Mhw.daily(spark, sf)
    val seas = Graft.computeClimatology(dl)
    val thresh = Graft.computeThreshold(dl, pctile = 0.6)
    val explicitChain = Graft.calculateMhwMetrics(
        Graft.calculateSeverity(dl, seas, thresh), minDuration = 3, maxGap = 2)
      .collect().map(_.toSeq).toSet
    val derived = Graft.calculateMhwMetricsFromClim(dl, seas, thresh,
        minDuration = 3, maxGap = 2)
      .collect().map(_.toSeq).toSet
    assert(derived.nonEmpty && derived == explicitChain)
  }

  test("generic API over the events table equals the canonical chain") {
    val sf = "/root/testdata/sf0.001"
    // a copy of the events table whose first observation is NaN
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val first = raw.orderBy("user_id", "ts").select("user_id", "ts").head()
    val withNan = tempDir("graft_nan_events")
    raw.withColumn("value",
        when($"user_id" === first.getLong(0) && $"ts" === lit(first.get(1)), lit(Double.NaN))
          .otherwise($"value"))
      .write.parquet(s"$withNan/events.parquet")
    // rows as strings: NaN equals NaN
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    for (dir <- Seq(sf, withNan)) {
      val daily = Graft.dailySeries(Tables.events(spark, dir),
        SeriesConfig(keyCol = "user_id", timeCol = "ts", valueCol = "value"))
      assert(cells(daily) == cells(Mhw.daily(spark, dir)), dir)
      val unsmoothed = Graft.computeThreshold(daily, smoothPercentile = false)
      assert(cells(unsmoothed) == cells(Mhw.thresholdBpRaw(spark, dir)), dir)
      assert(cells(Graft.calculateSeverity(daily, Graft.computeClimatology(daily),
          Graft.computeThreshold(daily))) == cells(Mhw.severityChain(spark, dir)), dir)
      // strict skipna fires on both sides exactly when the NaN is there
      assert(unsmoothed.filter($"thresh".isNull).isEmpty == (dir == sf), dir)
    }
  }

  test("a NaN day has no anomaly: severity and events equal the series with " +
       "that day left out, and detrend keeps the day NaN") {
    import java.time.LocalDate
    val nanDay = LocalDate.of(2005, 7, 16)
    // twelve years of a seasonal cycle; July 10-22 2005 is a hot spell
    // that the NaN day splits into two runs of six, which gap-join into
    // one event spanning the NaN day
    val rows = days(LocalDate.of(2000, 1, 1), LocalDate.of(2011, 12, 31)).map { d =>
      val hot = d.getYear == 2005 && d.getMonthValue == 7 &&
        d.getDayOfMonth >= 10 && d.getDayOfMonth <= 22
      d.toString -> (if (d == nanDay) Double.NaN else if (hot) 25.0
                     else 15.0 + 5 * math.sin(d.getDayOfYear / 58.1) + d.getDayOfMonth % 7 * 0.5)
    }
    val kept = rows.filterNot(_._1 == nanDay.toString)
    val (full, leftOut) = (series(rows), series(kept))
    // one pair of tables for both series: only the daily frame differs
    val seas = Graft.computeClimatology(full)
    val thresh = Graft.computeThreshold(full)
    val nanDate = java.sql.Date.valueOf(nanDay)
    val sev = Graft.calculateSeverity(full, seas, thresh)
    val day = sev.filter($"d" === nanDate).head()
    assert(!day.isNullAt(day.fieldIndex("thresh")), "the NaN day faces a threshold")
    Seq("sst", "t_anom", "severity").foreach(c => assert(day.isNullAt(day.fieldIndex(c)), c))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    val events = Graft.calculateMhwMetrics(sev)
    assert(cells(events) ==
      cells(Graft.calculateMhwMetrics(Graft.calculateSeverity(leftOut, seas, thresh))))
    val nanIdx = nanDay.toEpochDay - LocalDate.of(2000, 1, 1).toEpochDay
    assert(events.filter($"index_start" < nanIdx && $"index_end" > nanIdx).count() == 1,
      "an event spans the NaN day")
    def detrended(rs: Seq[(String, Double)]) =
      Graft.detrend(rs.toDF("t", "v").withColumn("k", lit(1L)),
          SeriesConfig(keyCol = "k", timeCol = "t", valueCol = "v"))
        .collect().map(r => r.getDate(1).toString -> r.getDouble(2)).toMap
    val dt = detrended(rows)
    assert(dt(nanDay.toString).isNaN)
    assert(dt - nanDay.toString == detrended(kept))
  }
}
