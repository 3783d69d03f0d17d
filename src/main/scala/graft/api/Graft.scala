package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Mhw
import graft.time.DoyFunctions

/** Column mapping from a user's long-format DataFrame onto the engine's
  * canonical series layout: `keyCols` identify a series — one column for
  * a flat key, several for the reference's multi-dimensional spatial
  * cells (lat, lon — best_practice/climatology.py:153 keeps every
  * non-time dim). Multi-column keys are carried through the engine as a
  * struct-valued `user_id` (struct equality drives every groupBy /
  * window / join identically to a flat key) and re-expanded by
  * [[Graft.restoreKeys]]. `timeCol` is a date/timestamp, `valueCol` the
  * measured variable (SST in the reference). */
case class SeriesConfig(keyCols: Seq[String] = Seq("key"),
                        timeCol: String = "time",
                        valueCol: String = "value") {
  require(keyCols.nonEmpty, "SeriesConfig needs at least one key column")
}

object SeriesConfig {
  /** Single-key convenience mirroring the original flat-key signature. */
  def apply(keyCol: String, timeCol: String, valueCol: String): SeriesConfig =
    SeriesConfig(Seq(keyCol), timeCol, valueCol)
}

/** User-facing API mirroring the reference's public surface
  * (mhw3d.legacy / mhw3d.best_practice / mhw3d.common — see
  * /root/reference/src/mhw3d) over any long-format DataFrame.
  *
  * Defaults match the reference exactly: windowHalfWidth=5, pctile=0.9,
  * smoothPercentile=true, smoothPercentileWidth=31, minDuration=5,
  * maxGap=2, baseline = full record. Climatology outputs are per-(key,
  * dayofyear) tables — the Spark-first re-expression of the reference's
  * `dayofyear`-indexed DataArrays — meant to be broadcast-joined back to
  * facts.
  *
  * NOTE on smoothing width: the reference's `_smooth_doy` runs a
  * 31-position centered running mean, i.e. ±15 slots; `smoothWidth` here
  * is the full window (odd), converted to the half-width internally.
  */
object Graft {

  /** Leap-normalized DOY (Feb 29 = 60, Mar 1 = 61, every year). */
  def climDoy(c: Column): Column = DoyFunctions.climDoy(c)

  /** The reference's temperature-variable preference order
    * (`_pick_temp_var`, common/core.py:142-150). */
  val TempVarPreference: Seq[String] =
    Seq("sst", "temp", "thetao", "tas", "temperature", "T", "SST")

  /** Multi-variable dataset entry mirroring the reference's `varname=`
    * kwarg + `_pick_temp_var` fallback (common/core.py:142-150): given a
    * long-format frame holding SEVERAL candidate value columns, resolve
    * which one is the series variable and return the config to use.
    *
    *  - explicit `varname` wins (like `obj[varname]`), validated against
    *    the schema;
    *  - else the first name in [[TempVarPreference]] present as a
    *    numeric non-key/non-time column (the reference requires the
    *    candidate to carry the time dim; in long format every column
    *    rides the time axis, so column existence is the analog);
    *  - else the first numeric non-key/non-time column in schema order
    *    (the reference's "first data var with time in dims");
    *  - else IllegalArgumentException, matching the reference's
    *    ValueError. */
  def pickTempVar(df: DataFrame, cfg: SeriesConfig = SeriesConfig(),
                  varname: Option[String] = None): SeriesConfig = {
    val reserved = (cfg.keyCols :+ cfg.timeCol).toSet
    varname match {
      case Some(v) =>
        require(df.columns.contains(v), s"varname '$v' not in schema ${df.columns.mkString(", ")}")
        cfg.copy(valueCol = v)
      case None =>
        val numeric = df.schema.fields
          .filter(f => !reserved(f.name) &&
            f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          .map(_.name)
        val chosen = TempVarPreference.find(numeric.contains)
          .orElse(numeric.headOption)
          .getOrElse(throw new IllegalArgumentException(
            "Could not find a temperature-like numeric variable " +
            s"(non-key, non-time) in schema ${df.columns.mkString(", ")}"))
        cfg.copy(valueCol = chosen)
    }
  }

  /** The canonical series key for a config: the bare column for a flat
    * key, a named struct of the key columns for a multi-dim grid. */
  private def keyExpr(cfg: SeriesConfig): Column = cfg.keyCols match {
    case Seq(single) => col(single)
    case many => struct(many.map(c => col(c).as(c)): _*)
  }

  /** Re-expand a struct-valued `user_id` (produced by a multi-column
    * [[SeriesConfig]]) back into its original key columns, keeping every
    * other column. No-op shape for flat keys (pass their name). */
  def restoreKeys(df: DataFrame, cfg: SeriesConfig): DataFrame = cfg.keyCols match {
    case Seq(_) => df
    case many =>
      val rest = df.columns.filter(_ != "user_id").map(col)
      df.select(many.map(k => col(s"user_id.$k").as(k)) ++ rest: _*)
  }

  /** Normalize a user DataFrame to the canonical daily-series layout
    * (one row per key per day; multiple observations per day averaged
    * by [[graft.Parity.dailyMean]], so a day holding a NaN is NaN),
    * optionally restricted to an inclusive year baseline or — matching
    * the reference's date-granular `baseline_period=slice(...)`
    * (best_practice/climatology.py:95-96, :150-151) — an inclusive
    * calendar-date slice `baselineDates=(from, to)` (ISO dates). */
  def dailySeries(df: DataFrame, cfg: SeriesConfig = SeriesConfig(),
                  baseline: Option[(Int, Int)] = None,
                  baselineDates: Option[(String, String)] = None): DataFrame = {
    val base = df.select(
      keyExpr(cfg).as("user_id"),
      to_date(col(cfg.timeCol)).as("d"),
      col(cfg.valueCol).cast("double").as("v"))
    val byYears = baseline match {
      case Some((y0, y1)) => base.filter(year(col("d")).between(y0, y1))
      case None => base
    }
    val filtered = baselineDates match {
      case Some((from, to)) =>
        byYears.filter(col("d").between(to_date(lit(from)), to_date(lit(to))))
      case None => byYears
    }
    filtered.groupBy(col("user_id"), col("d"))
      .agg(graft.Parity.dailyMean(col("v"), 6).as("sst"))
      .withColumn("yr", year(col("d")))
      .withColumn("doy", climDoy(col("d")))
  }

  /** The half-width of the smoothing window, when smoothing is on. */
  private def half(smooth: Boolean, smoothWidth: Int): Option[Int] =
    if (smooth) Some(smoothWidth / 2) else None

  /** best_practice.compute_climatology: per-DOY mean, NaN skipped (+
    * optional circular running-mean smoothing). */
  def computeClimatology(daily: DataFrame, smoothPercentile: Boolean = true,
                         smoothPercentileWidth: Int = 31): DataFrame =
    Mhw.climThresh(daily, Mhw.Clim(0, seas = true,
      smoothHalf = half(smoothPercentile, smoothPercentileWidth)))

  /** best_practice.compute_threshold: ±windowHalfWidth cross-year pooled
    * quantile, strict skipna (+ optional smoothing). */
  def computeThreshold(daily: DataFrame, pctile: Double = 0.9,
                       windowHalfWidth: Int = 5,
                       smoothPercentile: Boolean = true,
                       smoothPercentileWidth: Int = 31): DataFrame =
    Mhw.climThresh(daily, Mhw.Clim(windowHalfWidth, pctile = Some(pctile),
      smoothHalf = half(smoothPercentile, smoothPercentileWidth)))

  /** legacy.compute_climatology: pooled mean (NaN skipped) + Feb-29
    * interpolation + smoothing (Hobday/Oliver 2016 contract). */
  def computeClimatologyLegacy(daily: DataFrame, windowHalfWidth: Int = 5,
                               smoothPercentile: Boolean = true,
                               smoothPercentileWidth: Int = 31): DataFrame =
    Mhw.climThresh(daily, Mhw.Clim(windowHalfWidth, seas = true, feb29 = true,
      smoothHalf = half(smoothPercentile, smoothPercentileWidth)))

  /** legacy.compute_threshold: pooled quantile + Feb-29 interpolation +
    * smoothing. */
  def computeThresholdLegacy(daily: DataFrame, pctile: Double = 0.9,
                             windowHalfWidth: Int = 5,
                             smoothPercentile: Boolean = true,
                             smoothPercentileWidth: Int = 31): DataFrame =
    Mhw.climThresh(daily, Mhw.Clim(windowHalfWidth, pctile = Some(pctile),
      feb29 = true, smoothHalf = half(smoothPercentile, smoothPercentileWidth)))

  /** best_practice.detrend (deg=1): OLS fit per key over the baseline —
    * inclusive years OR the reference's date-granular `period=slice(...)`
    * as inclusive ISO dates (climatology.py:71 `da.sel(time=period)`);
    * `period` wins when both are given. Trend evaluated and subtracted
    * over the FULL record. */
  def detrend(df: DataFrame, cfg: SeriesConfig = SeriesConfig(),
              baseline: Option[(Int, Int)] = None,
              period: Option[(String, String)] = None): DataFrame =
    period match {
      case Some((from, to)) =>
        Mhw.detrendDailyPeriod(dailySeries(df, cfg), from, to)
      case None => Mhw.detrendDaily(dailySeries(df, cfg), baseline)
    }

  /** common.calculate_severity: T_anom and severity from climatology +
    * threshold tables (broadcast back to the facts — the fact side never
    * shuffles). */
  def calculateSeverity(daily: DataFrame, seas: DataFrame,
                        thresh: DataFrame): DataFrame =
    Mhw.severity(daily, seas, thresh)

  /** common.calculate_mhw_metrics: event detection (runs of severity>1,
    * duration filter, transitive gap-join) + per-event metrics, one
    * vectorized scan per series as in the reference: one keyed exchange
    * of the severity rows, then each series' days scanned once in Scala
    * (`Mhw.detectEvents`); the severity frame is read once, so it need
    * not be persisted first.
    * `maxEvents` mirrors the reference's `maxEvt=200` (core.py:130): it
    * pre-allocates that many event slots per cell and chronologically
    * later events are dropped; here each series keeps its first
    * `maxEvents` events, cut before their metrics are computed — long
    * format needs no padding rows. */
  def calculateMhwMetrics(severity: DataFrame, minDuration: Int = 5,
                          maxGap: Int = 2, maxEvents: Int = 200): DataFrame =
    Mhw.detectEvents(severity, minDuration, maxGap, maxEvents)

  /** common.calculate_mhw_metrics variant (b) (core.py:130-165): when
    * the caller holds climatology tables rather than a severity frame,
    * T_anom and severity are derived internally (T_anom = T − Seas[doy],
    * severity = T_anom / (Thresh[doy] − Seas[doy] + 1e-9), the
    * calculate_severity contract) and events detected in one chain. */
  def calculateMhwMetricsFromClim(daily: DataFrame, seas: DataFrame,
                                  thresh: DataFrame, minDuration: Int = 5,
                                  maxGap: Int = 2): DataFrame =
    Mhw.detectEvents(Mhw.severity(daily, seas, thresh), minDuration, maxGap)
}
