package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Second batch of time-series / robust-statistics operators over the
  * event stream: truncated EWMA smoothing, lagged cross-correlation
  * against the panel-mean series, and MAD-based robust anomaly counts.
  * All are one exchange (or bounded-cardinality collects) and every
  * aggregate uses the Parity decimal/rounding discipline so the DuckDB
  * oracle lands on identical bits.
  */
object TimeSeries2 {

  /** Lookback depth of the truncated EWMA. 2^-20 ≈ 1e-6 — older terms
    * are below the 6dp stage rounding anyway. */
  private val EwmaK = 20

  /** Per-term weights (1-α)^j with α = 0.5: powers of two, so the
    * per-row product `value · 2^-j` is EXACT in IEEE double (pure
    * exponent shift, no mantissa rounding) and the literal round-trips
    * through DuckDB's decimal parser bit-identically. */
  private def w(j: Int): java.math.BigDecimal =
    new java.math.BigDecimal(0.5).pow(j)

  /** #11h `ts_ewma`: truncated exponentially-weighted moving average of
    * `value` per user over event order (ts, event_id), half-life 1 step,
    * renormalized over the terms actually present:
    *   ewma_t = Σ_{j<K} v_{t-j}·2^-j / Σ_{j<K, v_{t-j} exists} 2^-j.
    *
    * Spark-first shape: K `lag` calls over ONE window spec → a single
    * WindowExec on one exchange (user_id), fully codegen — no self-join,
    * no collect_list state. The 2^K tail truncation keeps the operator a
    * fixed-size expression (streaming-state-friendly: K doubles/key) and
    * changes nothing ≥ 6dp. The numerator/denominator are literal
    * expression trees evaluated left-to-right, so double addition order
    * is pinned and identical in the oracle — no decimal accumulation
    * needed. */
  def tsEwma(s: SparkSession, dir: String): DataFrame =
    tsEwmaDf(Tables.events(s, dir))

  def tsEwmaDf(ev: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def lagV(j: Int): Column = lag(col("value"), j).over(ord)
    val num = (0 until EwmaK).map { j =>
      coalesce(lagV(j) * lit(w(j)).cast("double"), lit(0d))
    }.reduce(_ + _)
    val den = (0 until EwmaK).map { j =>
      when(lagV(j).isNotNull, lit(w(j)).cast("double")).otherwise(lit(0d))
    }.reduce(_ + _)
    ev.select(col("event_id"), col("user_id"),
              r(num / nullif(den, lit(0d)), 6).as("ewma"))
  }

  val tsEwmaSql: String = {
    val num = (0 until EwmaK)
      .map(j => s"COALESCE(lag(value, $j) OVER w * ${w(j).toPlainString}, 0)")
      .mkString("(", " + ", ")")
    val den = (0 until EwmaK)
      .map(j => s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN ${w(j).toPlainString} ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""SELECT event_id, user_id,
       |       ${sqlR(s"$num / nullif($den, 0)", 6)} AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
  }

  /** #11i `ts_cross_corr`: Pearson correlation between each key's daily
    * series and the panel-mean daily series at lags −3..+3 — the
    * teleconnection/lead-lag primitive (does this cell lead or follow
    * the basin mean?). The panel-mean table is one row per DATE —
    * bounded by the calendar, NOT by key cardinality — so broadcasting
    * it is safe at any scale; the ×7 lag fan-out is map-side and the
    * correlation is one partial-aggregable groupBy. Panel means are
    * rounded to 6dp before the join so both engines correlate the same
    * bits. */
  def tsCrossCorr(s: SparkSession, dir: String): DataFrame =
    tsCrossCorrDf(Mhw.daily(s, dir))

  def tsCrossCorrDf(dl: DataFrame): DataFrame = {
    val gm = dl.groupBy(col("d").as("gd"))
      .agg(davg(col("sst"), 6).as("gsst"))
    val lagged = dl.select(col("user_id"), col("d"), col("sst"))
      .withColumn("lag", explode(sequence(lit(-3), lit(3))))
      .join(broadcast(gm), date_add(col("d"), col("lag")) === col("gd"))
    val n = count(lit(1)).cast("double")
    val sx = dsum(col("sst"));  val sy = dsum(col("gsst"))
    val sxy = dsum(col("sst") * col("gsst"))
    val sxx = dsum(col("sst") * col("sst"))
    val syy = dsum(col("gsst") * col("gsst"))
    lagged.groupBy(col("user_id"), col("lag"))
      .agg(count(lit(1)).as("n"),
           r((n * sxy - sx * sy) /
             nullif(sqrt(greatest(lit(0d), n * sxx - sx * sx) *
                         greatest(lit(0d), n * syy - sy * sy)), lit(0d)),
             6).as("xcorr"))
  }

  val tsCrossCorrSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |         ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2
       |),
       |gm AS (
       |  SELECT d AS gd, ${sqlAvg("sst", 6)} AS gsst
       |  FROM daily GROUP BY 1
       |),
       |lagged AS (
       |  SELECT dl.user_id, dl.sst, l.lag, g.gsst
       |  FROM daily dl
       |  CROSS JOIN (SELECT unnest([-3,-2,-1,0,1,2,3]) AS lag) l
       |  JOIN gm g ON dl.d + l.lag = g.gd
       |)
       |SELECT user_id, lag, count(*) AS n,
       |       ${sqlR(
              s"(count(*) * ${sqlSum("sst * gsst")} - ${sqlSum("sst")} * ${sqlSum("gsst")})" +
              s" / nullif(sqrt(greatest(0, count(*) * ${sqlSum("sst * sst")} - ${sqlSum("sst")} * ${sqlSum("sst")})" +
              s" * greatest(0, count(*) * ${sqlSum("gsst * gsst")} - ${sqlSum("gsst")} * ${sqlSum("gsst")})), 0)", 6)} AS xcorr
       |FROM lagged GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------- MAD anomalies

  private[graft] def sqlMed(v: String): String = {
    val l = s"CAST(floor((count($v) - 1) * 0.5) AS INT)"
    val f = s"((count($v) - 1) * 0.5 - floor((count($v) - 1) * 0.5))"
    val vs = s"list_sort(list($v))"
    val vl = s"$vs[$l + 1]"
    val vu = s"$vs[LEAST($l + 2, CAST(count($v) AS INT))]"
    s"$vl + ($vu - $vl) * $f"
  }

  /** #48b `events_anomaly_mad`: robust per-type anomaly screen — median
    * + median-absolute-deviation (the outlier-proof scale estimate;
    * events_anomaly's mean/stddev z-score is itself dragged by the
    * outliers it hunts). Flags |v − med| > 3 · 1.4826 · MAD (the
    * Gaussian-consistent 3σ equivalent). Exact medians need the whole
    * group sorted in one place, so like events_percentiles this shape is
    * for bounded-cardinality keys (5 event types); the two median passes
    * are two tiny aggregates, the flagging pass is a broadcast join. At
    * unbounded cardinality the scale path is approx_percentile. */
  def eventsAnomalyMad(s: SparkSession, dir: String): DataFrame =
    eventsAnomalyMadDf(Tables.events(s, dir))

  def eventsAnomalyMadDf(ev: DataFrame): DataFrame = {
    val e = ev.select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(r(linQuantile(sort_array(collect_list(col("value"))), 0.5), 6).as("med"))
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", r(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy(col("event_type"))
      .agg(r(linQuantile(sort_array(collect_list(col("dev"))), 0.5), 6).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           first(col("med")).as("med"),
           first(col("mad")).as("mad"),
           // 4.4478 = 3 · 1.4826 written as ONE literal on both sides:
           // double(3 * double(1.4826)) and double("4.4478") can differ
           // in the last ulp, and the flag is a comparison boundary.
           sum(when(col("dev") > r(lit(4.4478) * col("mad"), 6), 1L)
                 .otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"))
  }

  val eventsAnomalyMadSql: String =
    s"""WITH e AS (SELECT event_type, value FROM events),
       |med AS (
       |  SELECT event_type, ${sqlR(sqlMed("value"), 6)} AS med
       |  FROM e GROUP BY 1
       |),
       |dev AS (
       |  SELECT e.event_type, e.value, m.med,
       |         ${sqlR("abs(e.value - m.med)", 6)} AS dev
       |  FROM e JOIN med m USING (event_type)
       |),
       |mad AS (
       |  SELECT event_type, ${sqlR(sqlMed("dev"), 6)} AS mad
       |  FROM dev GROUP BY 1
       |)
       |SELECT d.event_type, count(*) AS n,
       |       first(d.med) AS med, first(m.mad) AS mad,
       |       CAST(sum(CASE WHEN d.dev > ${sqlR("4.4478 * m.mad", 6)}
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
       |FROM dev d JOIN mad m USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ Theil–Sen trend

  /** #88 `ts_theilsen`: Theil–Sen robust trend of each key's TRAILING
    * window (default 90 days) — the median of all pairwise slopes
    * (v_j − v_i)/(d_j − d_i) over the daily means in the window, the
    * distribution-free "is this series drifting" screen: one anomalous
    * day drags an OLS fit but moves the pairwise-slope median by at
    * most one rank. (Sen's estimator is inherently O(n²) in the series
    * length, so the contract bounds n by the WINDOW, not the record —
    * for whole-record robust trends at scale use the monthly/annual
    * aggregate first, as mhw_trend_annual does for its OLS.)
    *
    * Scale shape: the per-key trailing-max join is co-keyed
    * ([[graft.Hints.keyDim]]-gated broadcast); the pair self-join is
    * co-partitioned on user_id with ≤ C(window, 2) ≈ 4k pairs per key,
    * and the median's collect_list holds only those. Reported per day
    * and per 30 days; slopes and the median are 6dp stage-rounded for
    * oracle parity. */
  def tsTheilSen(s: SparkSession, dir: String): DataFrame =
    tsTheilSenDf(Mhw.daily(s, dir))

  def tsTheilSenDf(dl: DataFrame, windowDays: Int = 90): DataFrame = {
    val mx = dl.groupBy(col("user_id")).agg(max(col("d")).as("dmax"))
    val win = dl.join(graft.Hints.keyDim(mx), Seq("user_id"))
      .filter(datediff(col("dmax"), col("d")) < windowDays)
      .select(col("user_id"), col("d"), col("sst"))
    val a = win.select(col("user_id"), col("d").as("d1"), col("sst").as("v1"))
    val b = win.select(col("user_id"), col("d").as("d2"), col("sst").as("v2"))
    val pairs = a.join(b, Seq("user_id")).filter(col("d2") > col("d1"))
      .select(col("user_id"),
        r((col("v2") - col("v1")) /
            datediff(col("d2"), col("d1")).cast("double"), 6).as("slope"))
    pairs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
           r(linQuantile(sort_array(collect_list(col("slope"))), 0.5), 6).as("sen_slope"))
      .withColumn("sen_slope_month", r(col("sen_slope") * 30, 6))
  }

  def tsTheilSenSql(windowDays: Int = 90): String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |         ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2
       |),
       |mx AS (SELECT user_id, max(d) AS dmax FROM daily GROUP BY 1),
       |win AS (
       |  SELECT dl.user_id, dl.d, dl.sst
       |  FROM daily dl JOIN mx USING (user_id)
       |  WHERE datediff('day', dl.d, mx.dmax) < $windowDays
       |),
       |pairs AS (
       |  SELECT a.user_id,
       |         ${sqlR("(b.sst - a.sst) / CAST(datediff('day', a.d, b.d) AS DOUBLE)", 6)} AS slope
       |  FROM win a JOIN win b ON a.user_id = b.user_id AND b.d > a.d
       |)
       |SELECT user_id, count(*) AS n_pairs,
       |       ${sqlR(sqlMed("slope"), 6)} AS sen_slope,
       |       ${sqlR(s"(${sqlR(sqlMed("slope"), 6)}) * 30", 6)} AS sen_slope_month
       |FROM pairs GROUP BY 1""".stripMargin
}
