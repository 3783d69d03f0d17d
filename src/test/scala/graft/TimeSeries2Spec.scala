package graft

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mhw, TimeSeries2}

/** Invariants for the second time-series batch (EWMA, cross-correlation,
  * MAD anomalies, annual MHW trend) — the DuckDB oracle pins exact
  * values at sf0.01; these pin the algebraic properties. */
class TimeSeries2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def ev(rows: (Long, Long, String, Double)*) =
    rows.toDF("event_id", "user_id", "ts_s", "value")
      .select(col("event_id"), col("user_id"),
              col("ts_s").cast("timestamp").as("ts"), col("value"))

  test("ewma: constant series stays constant; first row equals first value") {
    val out = TimeSeries2.tsEwmaDf(ev(
        (1L, 1L, "2020-01-01 00:00:00", 7.5),
        (2L, 1L, "2020-01-02 00:00:00", 7.5),
        (3L, 1L, "2020-01-03 00:00:00", 7.5),
        (4L, 2L, "2020-01-01 00:00:00", 3.25)))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 7.5 && out(2L) == 7.5 && out(3L) == 7.5)
    assert(out(4L) == 3.25)
  }

  test("ewma: two-point hand computation (weights 1, 1/2)") {
    val out = TimeSeries2.tsEwmaDf(ev(
        (1L, 1L, "2020-01-01 00:00:00", 10.0),
        (2L, 1L, "2020-01-02 00:00:00", 4.0)))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // (4 + 0.5·10) / 1.5 = 6
    assert(out(2L) == 6.0)
  }

  test("ewma: bounded between the min and max of the lookback window") {
    val out = TimeSeries2.tsEwma(spark, sf)
    val joined = out.join(
      graft.sources.Tables.events(spark, sf).select(col("event_id"), col("value")),
      "event_id")
    val stats = joined.agg(
      max(abs(col("ewma"))).as("mx"),
      sum(when(col("ewma").isNull, 1).otherwise(0)).as("nulls")).head()
    val vmax = joined.agg(max(abs(col("value")))).head().getDouble(0)
    assert(stats.getDouble(0) <= vmax + 1e-6)
    assert(stats.getLong(1) == 0L)
  }

  test("cross-corr: lag grid is complete and values lie in [-1, 1]") {
    val out = TimeSeries2.tsCrossCorr(spark, sf).collect()
    val byUser = out.groupBy(_.getLong(0))
    assert(byUser.forall(_._2.map(_.getInt(1)).toSet == (-3 to 3).toSet))
    assert(out.forall { r =>
      r.isNullAt(3) || (r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    })
  }

  test("cross-corr: a key identical to the panel mean has xcorr 1 at lag 0") {
    // single-key panel: the panel mean IS the series
    val dl = Seq.tabulate(40)(i =>
        (1L, Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
         math.sin(i * 0.3) * 2 + 10))
      .toDF("user_id", "d", "sst")
    val out = TimeSeries2.tsCrossCorrDf(dl)
      .filter(col("lag") === 0).head()
    assert(math.abs(out.getDouble(3) - 1.0) < 1e-6)
  }

  test("mad anomalies: clean data flags nothing; one gross outlier flags one") {
    def mk(vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, "a", v) }
        .toDF("event_id", "event_type", "value")
    val clean = TimeSeries2.eventsAnomalyMadDf(
      mk(Seq.tabulate(101)(i => 10.0 + (i % 11)))).head()
    assert(clean.getAs[Long]("n_anomalies") == 0L)
    val spiked = TimeSeries2.eventsAnomalyMadDf(
      mk(Seq.tabulate(100)(i => 10.0 + (i % 11)) :+ 1e6)).head()
    assert(spiked.getAs[Long]("n_anomalies") == 1L)
    // MAD is outlier-proof: the spike must not move the scale estimate
    assert(math.abs(clean.getAs[Double]("mad") - spiked.getAs[Double]("mad")) < 1.0)
  }

  test("annual trend: zero-filled years pull the fit; spine spans the record") {
    val out = Mhw.mhwTrendAnnual(spark, sf)
    val daily = Mhw.daily(spark, sf)
    val spans = daily.groupBy(col("user_id"))
      .agg((max(col("yr")) - min(col("yr")) + 1).as("span"))
    val joined = out.join(spans, "user_id").collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getAs[Long]("n_years") == r.getAs[Int]("span").toLong))
    // mean_days is an average over ALL years incl. zero years: bounded by 366
    assert(joined.forall(r => r.getAs[Double]("mean_days") >= 0.0 &&
                              r.getAs[Double]("mean_days") <= 366.0))
  }
}
