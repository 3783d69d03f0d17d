package graft.operators

import graft.time.DoyFunctions.climDoySql

/** DuckDB oracle SQL mirroring [[Mhw]] stage-for-stage: identical
  * floor-based rounding (see Parity.r — Spark and DuckDB `round` disagree
  * on exact .5 boundaries), identical decimal-accumulated sums, the same
  * explicit linear-interpolation quantile, and the same grid semantics,
  * so both engines land on the same bits.
  */
object MhwSql {

  private def rr(x: String, d: Int): String =
    s"floor(($x) * 1e$d + 0.5) / 1e$d"
  private def dsum(x: String): String =
    s"CAST(sum(CAST(($x) AS DECIMAL(38,10))) AS DOUBLE)"
  private def davg(x: String, d: Int): String =
    rr(s"${dsum(x)} / count($x)", d)

  /** Explicit linear-interpolation quantile (numpy "linear"):
    * v_l + (v_u − v_l)·f over a sorted list — same IEEE expression as
    * [[graft.Parity.linQuantile]]. */
  private def quantileSel(p: Double): String = {
    val l = s"CAST(floor((count(sst) - 1) * $p) AS INT)"
    val f = s"((count(sst) - 1) * $p - floor((count(sst) - 1) * $p))"
    val vs = "list_sort(list(sst))"
    val vl = s"$vs[$l + 1]"
    val vu = s"$vs[LEAST($l + 2, CAST(count(sst) AS INT))]"
    rr(s"$vl + ($vu - $vl) * $f", 6)
  }

  /** 31-slot circular running-mean smoothing CTE body. */
  private def smooth(src: String, v: String): String =
    s"""SELECT user_id, ((doy + o.o - 1 + 366) % 366) + 1 AS doy,
       |       ${davg(v, 6)} AS $v
       |FROM $src CROSS JOIN (SELECT range AS o FROM range(-15, 16)) o
       |GROUP BY 1, 2""".stripMargin

  private val doyExpr = climDoySql("CAST(ts AS DATE)")

  /** Shared CTE chain. `p` = pctile of the severity chain's threshold.
    * `neg` runs the chain in NEGATED space (cold-spell detection): the
    * sign is applied AFTER the daily mean's 6dp rounding, mirroring
    * Mhw.coldSeverityChain's order of operations exactly. */
  private def chain(p: Double, neg: Boolean = false): String = {
    val sign = if (neg) "-" else ""
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, year(CAST(ts AS DATE)) AS yr,
       |         $doyExpr AS doy, $sign(${davg("value", 6)}) AS sst
       |  FROM events GROUP BY 1, 2, 3, 4
       |),
       |yrs AS (SELECT DISTINCT yr FROM daily),
       |pool AS (
       |  SELECT user_id, ((doy + k.k - 1 + 366) % 366) + 1 AS doy,
       |         yr + CASE WHEN doy + k.k < 1 THEN -1 WHEN doy + k.k > 366 THEN 1 ELSE 0 END AS c_yr,
       |         sst
       |  FROM daily CROSS JOIN (SELECT range AS k FROM range(-5, 6)) k
       |),
       |poolv AS (SELECT * FROM pool WHERE c_yr IN (SELECT yr FROM yrs)),
       |clim_raw AS (
       |  SELECT user_id, doy, ${davg("sst", 6)} AS seas FROM daily GROUP BY 1, 2
       |),
       |clim_sm AS (${smooth("clim_raw", "seas")}),
       |thr09_raw AS (
       |  SELECT user_id, doy, ${quantileSel(0.9)} AS thresh
       |  FROM poolv GROUP BY 1, 2
       |),
       |thr09_sm AS (${smooth("thr09_raw", "thresh")}),
       |lclim0 AS (
       |  SELECT user_id, doy, ${davg("sst", 6)} AS seas FROM poolv GROUP BY 1, 2
       |),
       |lclim_f29 AS (
       |  SELECT user_id, doy, seas FROM lclim0 WHERE doy <> 60
       |  UNION ALL
       |  SELECT a.user_id, 60 AS doy, ${rr("0.5 * a.seas + 0.5 * b.seas", 6)} AS seas
       |  FROM (SELECT user_id, seas FROM lclim0 WHERE doy = 59) a
       |  JOIN (SELECT user_id, seas FROM lclim0 WHERE doy = 61) b USING (user_id)
       |),
       |lclim_sm AS (${smooth("lclim_f29", "seas")}),
       |lthr_f29 AS (
       |  SELECT user_id, doy, thresh FROM thr09_raw WHERE doy <> 60
       |  UNION ALL
       |  SELECT a.user_id, 60 AS doy, ${rr("0.5 * a.thresh + 0.5 * b.thresh", 6)} AS thresh
       |  FROM (SELECT user_id, thresh FROM thr09_raw WHERE doy = 59) a
       |  JOIN (SELECT user_id, thresh FROM thr09_raw WHERE doy = 61) b USING (user_id)
       |),
       |lthr_sm AS (${smooth("lthr_f29", "thresh")}),
       |thrP_raw AS (
       |  SELECT user_id, doy, ${quantileSel(p)} AS thresh
       |  FROM poolv GROUP BY 1, 2
       |),
       |thrP_sm AS (${smooth("thrP_raw", "thresh")}),
       |origin AS (SELECT min(d) AS d0 FROM daily),
       |sev AS (
       |  SELECT dd.user_id, dd.d, datediff('day', o.d0, dd.d) AS idx,
       |         ${rr("dd.sst - c.seas", 6)} AS t_anom,
       |         ${rr("(dd.sst - c.seas) / (t.thresh - c.seas + 1e-9)", 6)} AS severity,
       |         dd.sst AS sst, c.seas AS seas, t.thresh AS thresh
       |  FROM daily dd
       |  JOIN clim_sm c ON c.user_id = dd.user_id AND c.doy = dd.doy
       |  JOIN thrP_sm t ON t.user_id = dd.user_id AND t.doy = dd.doy
       |  CROSS JOIN origin o
       |),
       |flagged AS (
       |  SELECT user_id, idx,
       |         idx - row_number() OVER (PARTITION BY user_id ORDER BY idx) AS grp
       |  FROM sev WHERE severity > 1
       |),
       |runs AS (
       |  SELECT user_id, grp, min(idx) AS i0, max(idx) AS i1
       |  FROM flagged GROUP BY 1, 2
       |),
       |kept AS (SELECT * FROM runs WHERE i1 - i0 + 1 >= 3),
       |numbered AS (
       |  SELECT user_id, i0, i1,
       |         CASE WHEN i0 - lag(i1) OVER (PARTITION BY user_id ORDER BY i0) <= 2
       |              THEN 0 ELSE 1 END AS brk
       |  FROM kept
       |),
       |events_tbl AS (
       |  SELECT user_id, evt, min(i0) AS index_start, max(i1) AS index_end
       |  FROM (SELECT user_id, i0, i1,
       |               sum(brk) OVER (PARTITION BY user_id ORDER BY i0
       |                              ROWS UNBOUNDED PRECEDING) AS evt
       |        FROM numbered)
       |  GROUP BY 1, 2
       |),
       |span AS (
       |  SELECT e.user_id, e.evt, e.index_start, e.index_end,
       |         s.idx, s.t_anom, s.severity,
       |         max(s.t_anom) OVER (PARTITION BY e.user_id, e.evt) AS mx
       |  FROM events_tbl e
       |  JOIN sev s ON s.user_id = e.user_id
       |            AND s.idx BETWEEN e.index_start AND e.index_end
       |),
       |evm AS (
       |  SELECT span.user_id, CAST(evt AS BIGINT) AS evt,
       |         CAST(index_start AS INT) AS index_start,
       |         CAST(index_end AS INT) AS index_end,
       |         o.d0 + CAST(index_start AS INT) AS date_start,
       |         o.d0 + CAST(index_end AS INT) AS date_end,
       |         CAST(index_end - index_start + 1 AS INT) AS duration,
       |         CAST(min(CASE WHEN t_anom = mx THEN idx END) AS INT) AS index_peak,
       |         o.d0 + CAST(min(CASE WHEN t_anom = mx THEN idx END) AS INT) AS date_peak,
       |         max(t_anom) AS intensity_max,
       |         ${davg("t_anom", 6)} AS intensity_mean,
       |         ${rr(dsum("t_anom"), 6)} AS intensity_cumul,
       |         ${rr("max(severity)", 6)} AS severity_max
       |  FROM span CROSS JOIN origin o
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, o.d0
       |)
       |""".stripMargin
  }

  val climDoySqlQ: String =
    s"""SELECT d, ${climDoySql("d")} AS doy
       |FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)""".stripMargin

  val climatologyBp: String =
    chain(0.9) + "SELECT user_id, doy, seas FROM clim_raw"

  /** #11m clim_incremental oracle: replays the MERGEABLE-PARTIALS path
    * itself — disjoint day-of-month-parity halves aggregated to exact
    * decimal (sum, count) partials, merged, then finalized — instead of
    * aliasing the direct chain's SQL, so the DuckDB row exercises the
    * merge contract (partials→union→merge→finalize ≡ direct build),
    * not just the single-pass mean. */
  val climIncremental: String =
    chain(0.9) +
    s""", part AS (
       |  SELECT user_id, doy, day(d) % 2 AS half,
       |         sum(CAST(sst AS DECIMAL(38,10))) AS s, count(sst) AS n
       |  FROM daily GROUP BY 1, 2, 3
       |),
       |merged AS (
       |  SELECT user_id, doy, sum(s) AS s, CAST(sum(n) AS BIGINT) AS n
       |  FROM part GROUP BY 1, 2
       |)
       |SELECT user_id, doy, ${rr("CAST(s AS DOUBLE) / n", 6)} AS seas
       |FROM merged""".stripMargin
  val climatologyBpSmooth: String =
    chain(0.9) + "SELECT user_id, doy, seas FROM clim_sm"
  val thresholdBp: String =
    chain(0.9) + "SELECT user_id, doy, thresh FROM thr09_raw"
  val thresholdBpSmooth: String =
    chain(0.9) + "SELECT user_id, doy, thresh FROM thr09_sm"
  val climatologyLegacy: String =
    chain(0.9) + "SELECT user_id, doy, seas FROM lclim_sm"
  val thresholdLegacy: String =
    chain(0.9) + "SELECT user_id, doy, thresh FROM lthr_sm"

  /** Fused legacy chain oracle: the separately-derived smoothed legacy
    * climatology and threshold joined on the (shared) DOY grid — the
    * fused operator must land on identical rows and values. */
  val legacyClimThresh: String =
    chain(0.9) +
    """SELECT c.user_id, c.doy, c.seas, t.thresh
      |FROM lclim_sm c JOIN lthr_sm t ON c.user_id = t.user_id AND c.doy = t.doy""".stripMargin

  val detrend: String =
    chain(0.9) +
    s""", tt AS (
       |  SELECT user_id, d, sst, datediff('day', o.d0, d) AS t
       |  FROM daily CROSS JOIN origin o
       |),
       |fit AS (
       |  SELECT user_id,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(t AS BIGINT)) AS DOUBLE) AS st,
       |    CAST(sum(CAST(t AS BIGINT) * t) AS DOUBLE) AS stt,
       |    ${dsum("sst")} AS sy,
       |    ${dsum("sst * t")} AS sty
       |  FROM tt GROUP BY 1
       |),
       |fit2 AS (
       |  SELECT user_id,
       |    (n * sty - st * sy) / (n * stt - st * st) AS slope,
       |    sy / n - (n * sty - st * sy) / (n * stt - st * st) * (st / n) AS intercept
       |  FROM fit
       |)
       |SELECT tt.user_id, tt.d,
       |       ${rr("tt.sst - f.intercept - f.slope * tt.t", 6)} AS detrended
       |FROM tt JOIN fit2 f USING (user_id)""".stripMargin

  /** Quadratic detrend — Cramer's rule expressions mirror
    * Mhw.detrendPoly2 term-for-term (identical double arithmetic over
    * exact integer/decimal moment sums). */
  val detrendPoly2: String =
    chain(0.9) +
    s""", tt AS (
       |  SELECT user_id, d, sst, datediff('day', o.d0, d) AS t
       |  FROM daily CROSS JOIN origin o
       |),
       |fitq AS (
       |  SELECT user_id,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(t AS BIGINT)) AS DOUBLE) AS s1,
       |    CAST(sum(CAST(t AS BIGINT) * t) AS DOUBLE) AS s2,
       |    CAST(sum(CAST(t AS BIGINT) * t * t) AS DOUBLE) AS s3,
       |    CAST(sum(CAST(t AS BIGINT) * t * t * t) AS DOUBLE) AS s4,
       |    ${dsum("sst")} AS sy,
       |    ${dsum("sst * t")} AS sty,
       |    ${dsum("sst * t * t")} AS st2y
       |  FROM tt GROUP BY 1
       |),
       |fitq2 AS (
       |  SELECT user_id,
       |    (sy * (s2 * s4 - s3 * s3) - s1 * (sty * s4 - s3 * st2y)
       |       + s2 * (sty * s3 - s2 * st2y))
       |      / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
       |       + s2 * (s1 * s3 - s2 * s2)) AS c0,
       |    (n * (sty * s4 - s3 * st2y) - sy * (s1 * s4 - s3 * s2)
       |       + s2 * (s1 * st2y - sty * s2))
       |      / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
       |       + s2 * (s1 * s3 - s2 * s2)) AS c1,
       |    (n * (s2 * st2y - sty * s3) - s1 * (s1 * st2y - sty * s2)
       |       + sy * (s1 * s3 - s2 * s2))
       |      / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
       |       + s2 * (s1 * s3 - s2 * s2)) AS c2
       |  FROM fitq
       |)
       |SELECT tt.user_id, tt.d,
       |       ${rr("tt.sst - f.c0 - f.c1 * tt.t - f.c2 * tt.t * tt.t", 6)} AS detrended
       |FROM tt JOIN fitq2 f USING (user_id)""".stripMargin

  /** Date-slice detrend: fit on the inclusive calendar slice
    * Jan 8–22 only, evaluate over the full record — mirrors
    * Mhw.detrendDailyPeriod term-for-term. */
  val detrendPeriod: String =
    chain(0.9) +
    s""", tt AS (
       |  SELECT user_id, d, sst, datediff('day', o.d0, d) AS t
       |  FROM daily CROSS JOIN origin o
       |),
       |fitp AS (
       |  SELECT user_id,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(t AS BIGINT)) AS DOUBLE) AS st,
       |    CAST(sum(CAST(t AS BIGINT) * t) AS DOUBLE) AS stt,
       |    ${dsum("sst")} AS sy,
       |    ${dsum("sst * t")} AS sty
       |  FROM tt
       |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
       |  GROUP BY 1
       |),
       |fitp2 AS (
       |  SELECT user_id,
       |    (n * sty - st * sy) / (n * stt - st * st) AS slope,
       |    sy / n - (n * sty - st * sy) / (n * stt - st * st) * (st / n) AS intercept
       |  FROM fitp
       |)
       |SELECT tt.user_id, tt.d,
       |       ${rr("tt.sst - f.intercept - f.slope * tt.t", 6)} AS detrended
       |FROM tt JOIN fitp2 f USING (user_id)""".stripMargin

  /** Baseline-slice detrend: fit on the first half of the record (day
    * index ≤ floor(span/2)), evaluate over the full record. */
  val detrendBaseline: String =
    chain(0.9) +
    s""", bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
       |tt AS (
       |  SELECT user_id, d, sst, datediff('day', b.d0, d) AS t,
       |         CAST(floor(datediff('day', b.d0, b.d1) / 2) AS BIGINT) AS cut
       |  FROM daily CROSS JOIN bounds b
       |),
       |fitb AS (
       |  SELECT user_id,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(t AS BIGINT)) AS DOUBLE) AS st,
       |    CAST(sum(CAST(t AS BIGINT) * t) AS DOUBLE) AS stt,
       |    ${dsum("sst")} AS sy,
       |    ${dsum("sst * t")} AS sty
       |  FROM tt WHERE t <= cut GROUP BY 1
       |),
       |fitb2 AS (
       |  SELECT user_id,
       |    (n * sty - st * sy) / (n * stt - st * st) AS slope,
       |    sy / n - (n * sty - st * sy) / (n * stt - st * st) * (st / n) AS intercept
       |  FROM fitb
       |)
       |SELECT tt.user_id, tt.d,
       |       ${rr("tt.sst - f.intercept - f.slope * tt.t", 6)} AS detrended
       |FROM tt JOIN fitb2 f USING (user_id)""".stripMargin

  val severity: String =
    chain(0.9) + "SELECT user_id, d, t_anom, severity FROM sev"

  val mhwEvents: String =
    chain(0.6) +
    """SELECT user_id, evt, index_start, index_end, date_start, date_end,
      |       duration, index_peak, date_peak,
      |       intensity_max, intensity_mean, intensity_cumul
      |FROM evm""".stripMargin

  def mhwOnsetComposite(before: Int = 10, after: Int = 20): String =
    chain(0.6) +
    s""", comp AS (
       |  SELECT CAST(s.idx - e.index_start AS INT) AS "offset",
       |         s.t_anom, s.severity
       |  FROM events_tbl e
       |  JOIN sev s ON s.user_id = e.user_id
       |            AND s.idx BETWEEN e.index_start - $before
       |                          AND e.index_start + $after)
       |SELECT "offset", count(*) AS n_obs,
       |       ${davg("t_anom", 6)} AS mean_anom,
       |       ${davg("severity", 6)} AS mean_severity
       |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  val mhwSpatialExtent: String =
    chain(0.9) +
    s"""SELECT d, n_series, n_mhw,
       |       ${rr("n_mhw / n_series", 6)} AS mhw_frac
       |FROM (
       |  SELECT d, count(*) AS n_series,
       |         CAST(sum(CASE WHEN severity > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mhw
       |  FROM sev GROUP BY 1)""".stripMargin

  /** The severity/detection CTE prefix, exposed for oracles composed
    * outside this file (the `sev`/`evm` relations). */
  private[graft] def chainPrefix(p: Double): String = chain(p)

  /** Pairwise event-day Jaccard — mirrors Mhw.mhwEventSync. */
  val mhwEventSync: String =
    chain(0.9) +
    s"""SELECT p.user_a, p.user_b, ca.nd AS days_a, cb.nd AS days_b,
       |       p.days_both,
       |       ${rr("CAST(p.days_both AS DOUBLE) / (ca.nd + cb.nd - p.days_both)", 6)}
       |         AS jaccard
       |FROM (
       |  SELECT a.user_id AS user_a, b.user_id AS user_b,
       |         count(*) AS days_both
       |  FROM (SELECT user_id, d FROM sev WHERE severity > 1) a
       |  JOIN (SELECT user_id, d FROM sev WHERE severity > 1) b
       |    ON a.d = b.d AND a.user_id < b.user_id
       |  GROUP BY 1, 2) p
       |JOIN (SELECT user_id, count(*) AS nd FROM sev WHERE severity > 1
       |      GROUP BY 1) ca ON ca.user_id = p.user_a
       |JOIN (SELECT user_id, count(*) AS nd FROM sev WHERE severity > 1
       |      GROUP BY 1) cb ON cb.user_id = p.user_b
       |ORDER BY p.user_a, p.user_b""".stripMargin

  /** Block-aggregated event-day Jaccard — mirrors
    * Mhw.mhwEventSyncBlocks (blockSize 16). */
  val mhwEventSyncBlocks: String =
    chain(0.9) +
    s"""SELECT p.block_a, p.block_b, ca.nd AS days_a, cb.nd AS days_b,
       |       p.days_both,
       |       ${rr("CAST(p.days_both AS DOUBLE) / (ca.nd + cb.nd - p.days_both)", 6)}
       |         AS jaccard
       |FROM (
       |  SELECT a.b AS block_a, b.b AS block_b, count(*) AS days_both
       |  FROM (SELECT DISTINCT CAST(floor(user_id / 16) AS BIGINT) AS b, d
       |        FROM sev WHERE severity > 1) a
       |  JOIN (SELECT DISTINCT CAST(floor(user_id / 16) AS BIGINT) AS b, d
       |        FROM sev WHERE severity > 1) b
       |    ON a.d = b.d AND a.b < b.b
       |  GROUP BY 1, 2) p
       |JOIN (SELECT b, count(*) AS nd FROM (
       |        SELECT DISTINCT CAST(floor(user_id / 16) AS BIGINT) AS b, d
       |        FROM sev WHERE severity > 1) GROUP BY 1) ca ON ca.b = p.block_a
       |JOIN (SELECT b, count(*) AS nd FROM (
       |        SELECT DISTINCT CAST(floor(user_id / 16) AS BIGINT) AS b, d
       |        FROM sev WHERE severity > 1) GROUP BY 1) cb ON cb.b = p.block_b
       |ORDER BY p.block_a, p.block_b""".stripMargin

  val mhwAnnualStats: String =
    chain(0.6) +
    s"""SELECT user_id, year(date_start) AS yr, count(*) AS n_events,
       |       CAST(sum(duration) AS BIGINT) AS mhw_days,
       |       ${davg("intensity_max", 6)} AS mean_imax,
       |       max(intensity_max) AS max_imax,
       |       ${rr(dsum("intensity_cumul"), 6)} AS total_cumul
       |FROM evm GROUP BY 1, 2""".stripMargin

  /** Corpus-wide event duration/intensity distribution — mirrors
    * Mhw.mhwEventDist (same explicit interpolation quantile). */
  val mhwEventDist: String = {
    def q(x: String, p: Double): String =
      rr(graft.Parity.sqlQuantileAgg(s"CAST($x AS DOUBLE)", p), 6)
    chain(0.6) +
    s"""SELECT count(*) AS n_events,
       |       count(DISTINCT user_id) AS n_series,
       |       ${davg("CAST(duration AS DOUBLE)", 6)} AS mean_duration,
       |       CAST(max(duration) AS INT) AS max_duration,
       |       ${q("duration", 0.5)} AS p50_duration,
       |       ${q("duration", 0.9)} AS p90_duration,
       |       ${davg("intensity_max", 6)} AS mean_imax,
       |       max(intensity_max) AS max_imax
       |FROM evm""".stripMargin
  }

  /** Trend in annual MHW days (days/decade) — mirrors
    * Mhw.mhwTrendAnnual: zero-filled annual series over each key's
    * daily-record year span, integer-exact moment sums, slope ×10. */
  val mhwTrendAnnual: String =
    chain(0.6) +
    s""", ann AS (
       |  SELECT user_id, year(date_start) AS yr,
       |         CAST(sum(duration) AS BIGINT) AS days
       |  FROM evm GROUP BY 1, 2
       |),
       |spine AS (
       |  SELECT user_id, unnest(generate_series(min(yr), max(yr))) AS yr
       |  FROM daily GROUP BY user_id
       |),
       |fullx AS (
       |  SELECT s.user_id, s.yr, COALESCE(a.days, 0) AS days
       |  FROM spine s LEFT JOIN ann a ON s.user_id = a.user_id AND s.yr = a.yr
       |),
       |fit AS (
       |  SELECT user_id,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(yr AS BIGINT)) AS DOUBLE) AS st,
       |    CAST(sum(CAST(yr AS BIGINT) * yr) AS DOUBLE) AS stt,
       |    CAST(sum(CAST(days AS BIGINT)) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(days AS BIGINT) * yr) AS DOUBLE) AS sty
       |  FROM fullx GROUP BY 1
       |)
       |SELECT user_id, CAST(n AS BIGINT) AS n_years,
       |       ${rr("sy / n", 6)} AS mean_days,
       |       ${rr("CASE WHEN n * stt - st * st = 0 THEN 0 ELSE (n * sty - st * sy) / (n * stt - st * st) END * 10", 6)} AS trend_days_per_decade
       |FROM fit""".stripMargin

  /** Oliver meanTrend inference over the annual MHW-days series —
    * mirrors Mhw.mhwTrendSignificance expression-for-expression (exact
    * integer moments, IEEE tail algebra). */
  val mhwTrendSignificance: String =
    chain(0.6) +
    s""", ann AS (
       |  SELECT user_id, year(date_start) AS yr,
       |         CAST(sum(duration) AS BIGINT) AS days
       |  FROM evm GROUP BY 1, 2
       |),
       |spine AS (
       |  SELECT user_id, unnest(generate_series(min(yr), max(yr))) AS yr
       |  FROM daily GROUP BY user_id
       |),
       |fullx AS (
       |  SELECT s.user_id, s.yr, COALESCE(a.days, 0) AS days
       |  FROM spine s LEFT JOIN ann a ON s.user_id = a.user_id AND s.yr = a.yr
       |),
       |m AS (
       |  SELECT user_id,
       |    CAST(count(*) AS BIGINT) AS n_years,
       |    CAST(count(*) AS DOUBLE) AS nn,
       |    CAST(sum(CAST(yr AS BIGINT)) AS DOUBLE) AS st,
       |    CAST(sum(CAST(yr AS BIGINT) * yr) AS DOUBLE) AS stt,
       |    CAST(sum(CAST(days AS BIGINT)) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(days AS BIGINT) * days) AS DOUBLE) AS syy,
       |    CAST(sum(CAST(days AS BIGINT) * yr) AS DOUBLE) AS sty
       |  FROM fullx GROUP BY 1
       |),
       |f AS (
       |  SELECT user_id, n_years, nn, sy,
       |         stt - st * st / nn AS sxx,
       |         sty - st * sy / nn AS sxy,
       |         syy - sy * sy / nn AS syc
       |  FROM m
       |),
       |f2 AS (
       |  SELECT *, CASE WHEN sxx = 0 THEN 0 ELSE sxy / sxx END AS slope
       |  FROM f
       |),
       |f3 AS (
       |  SELECT *, greatest(syc - slope * slope * sxx, 0) AS sse,
       |         CASE WHEN nn > 2 AND sxx > 0
       |              THEN sqrt(greatest(syc - slope * slope * sxx, 0) / (nn - 2) / sxx)
       |         END AS se
       |  FROM f2
       |)
       |SELECT user_id, n_years,
       |       ${rr("sy / nn", 6)} AS mean_days,
       |       ${rr("slope", 6)} AS trend_days_per_year,
       |       ${rr("se", 6)} AS se_trend,
       |       ${rr("CASE WHEN se > 0 THEN slope / se END", 6)} AS t_ratio
       |FROM f3""".stripMargin

  /** Oliver's extended per-event battery (intensity_var, relThresh/abs
    * variants, category day counts, onset/decline rates) — mirrors
    * Mhw.mhwEventRates expression-for-expression. */
  val mhwEventRates: String =
    chain(0.6) +
    s""", sevn AS (
       |  SELECT user_id, idx, t_anom, severity, sst, thresh,
       |         CASE WHEN idx - lag(idx) OVER w = 1
       |              THEN lag(t_anom) OVER w END AS ta_prev,
       |         CASE WHEN lead(idx) OVER w - idx = 1
       |              THEN lead(t_anom) OVER w END AS ta_next
       |  FROM sev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY idx)
       |),
       |rspan AS (
       |  SELECT e.user_id, e.evt, e.index_start, e.index_end,
       |         s.idx, s.t_anom, s.severity, s.sst,
       |         ${rr("s.sst - s.thresh", 6)} AS rt,
       |         s.ta_prev, s.ta_next,
       |         max(s.t_anom) OVER (PARTITION BY e.user_id, e.evt) AS mx
       |  FROM events_tbl e
       |  JOIN sevn s ON s.user_id = e.user_id
       |             AND s.idx BETWEEN e.index_start AND e.index_end
       |),
       |evr AS (
       |  SELECT user_id, CAST(evt AS BIGINT) AS evt,
       |         CAST(index_start AS INT) AS index_start,
       |         CAST(index_end AS INT) AS index_end,
       |         CAST(count(*) AS DOUBLE) AS n,
       |         CAST(min(CASE WHEN t_anom = mx THEN idx END) AS INT) AS index_peak,
       |         max(t_anom) AS ta_peak,
       |         ${dsum("t_anom")} AS m1,
       |         ${dsum("t_anom * t_anom")} AS m2,
       |         CAST(count(rt) AS DOUBLE) AS nrt,
       |         max(rt) AS imax_relthresh,
       |         ${davg("rt", 6)} AS imean_relthresh,
       |         ${dsum("rt")} AS rt1,
       |         ${dsum("rt * rt")} AS rt2,
       |         ${rr(dsum("rt"), 6)} AS icum_relthresh,
       |         max(sst) AS imax_abs,
       |         ${davg("sst", 6)} AS imean_abs,
       |         ${dsum("sst")} AS a1,
       |         ${dsum("sst * sst")} AS a2,
       |         ${rr(dsum("sst"), 6)} AS icum_abs,
       |         CAST(sum(CASE WHEN floor(severity) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS days_moderate,
       |         CAST(sum(CASE WHEN floor(severity) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS days_strong,
       |         CAST(sum(CASE WHEN floor(severity) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS days_severe,
       |         CAST(sum(CASE WHEN floor(severity) >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS days_extreme,
       |         min(CASE WHEN idx = index_start THEN t_anom END) AS ta_first,
       |         min(CASE WHEN idx = index_end THEN t_anom END) AS ta_last,
       |         min(CASE WHEN idx = index_start THEN ta_prev END) AS ta_prev0,
       |         min(CASE WHEN idx = index_end THEN ta_next END) AS ta_next1
       |  FROM rspan GROUP BY 1, 2, 3, 4
       |)
       |SELECT user_id, evt, index_start, index_end,
       |       CAST(index_end - index_start + 1 AS INT) AS duration,
       |       index_peak,
       |       ${rr("sqrt(greatest(m2 / n - (m1 / n) * (m1 / n), 0.0))", 6)} AS intensity_var,
       |       imax_relthresh, imean_relthresh,
       |       ${rr("sqrt(greatest(rt2 / nrt - (rt1 / nrt) * (rt1 / nrt), 0.0))", 6)} AS ivar_relthresh,
       |       icum_relthresh,
       |       imax_abs, imean_abs,
       |       ${rr("sqrt(greatest(a2 / n - (a1 / n) * (a1 / n), 0.0))", 6)} AS ivar_abs,
       |       icum_abs,
       |       days_moderate, days_strong, days_severe, days_extreme,
       |       ${rr("CASE WHEN ta_prev0 IS NOT NULL THEN (ta_peak - 0.5 * (ta_first + ta_prev0)) / (CAST(index_peak - index_start AS DOUBLE) + 0.5) WHEN index_peak = index_start THEN ta_peak - ta_first ELSE (ta_peak - ta_first) / CAST(index_peak - index_start AS DOUBLE) END", 6)} AS rate_onset,
       |       ${rr("CASE WHEN ta_next1 IS NOT NULL THEN (ta_peak - 0.5 * (ta_last + ta_next1)) / (CAST(index_end - index_peak AS DOUBLE) + 0.5) WHEN index_peak = index_end THEN ta_peak - ta_last ELSE (ta_peak - ta_last) / CAST(index_end - index_peak AS DOUBLE) END", 6)} AS rate_decline
       |FROM evr""".stripMargin

  val mhwCategory: String =
    chain(0.6) +
    s"""SELECT CASE WHEN severity_max <= 2 THEN 'moderate'
       |            WHEN severity_max <= 3 THEN 'strong'
       |            WHEN severity_max <= 4 THEN 'severe'
       |            ELSE 'extreme' END AS category,
       |       count(*) AS n_events,
       |       ${davg("CAST(duration AS DOUBLE)", 4)} AS avg_duration,
       |       max(intensity_max) AS max_intensity
       |FROM evm GROUP BY 1""".stripMargin

  /** Cold spells: the full chain replayed in negated space, intensities
    * negated back on output (marineHeatWaves.py:414 flips them). */
  val mhwColdSpells: String =
    chain(0.6, neg = true) +
    s"""SELECT user_id, evt, index_start, index_end, date_start, date_end,
       |       duration, index_peak, date_peak,
       |       -intensity_max AS intensity_max,
       |       -intensity_mean AS intensity_mean,
       |       -intensity_cumul AS intensity_cumul,
       |       CASE WHEN severity_max <= 2 THEN 'moderate'
       |            WHEN severity_max <= 3 THEN 'strong'
       |            WHEN severity_max <= 4 THEN 'severe'
       |            ELSE 'extreme' END AS category
       |FROM evm""".stripMargin

  /** Oliver rank(): per-series descending rank (numpy stable-argsort tie
    * rule → evt DESC tiebreak) + return period (nYears+1)/rank with
    * nYears from each key's daily record length. */
  val mhwEventRank: String =
    chain(0.6) +
    s""", nd AS (SELECT user_id, count(*) AS n_days FROM daily GROUP BY 1),
       |rk AS (
       |  SELECT e.user_id, e.evt, e.duration, e.intensity_max, e.intensity_cumul,
       |         CAST(row_number() OVER (PARTITION BY e.user_id
       |              ORDER BY e.duration DESC, e.evt DESC) AS BIGINT) AS rank_duration,
       |         CAST(row_number() OVER (PARTITION BY e.user_id
       |              ORDER BY e.intensity_max DESC, e.evt DESC) AS BIGINT) AS rank_imax,
       |         CAST(row_number() OVER (PARTITION BY e.user_id
       |              ORDER BY e.intensity_cumul DESC, e.evt DESC) AS BIGINT) AS rank_icum,
       |         nd.n_days
       |  FROM evm e JOIN nd ON nd.user_id = e.user_id
       |)
       |SELECT user_id, evt, duration, intensity_max, intensity_cumul,
       |       rank_duration, rank_imax, rank_icum,
       |       ${rr("(CAST(n_days AS DOUBLE) / 365.25 + 1) / rank_duration", 6)} AS rp_duration,
       |       ${rr("(CAST(n_days AS DOUBLE) / 365.25 + 1) / rank_imax", 6)} AS rp_imax,
       |       ${rr("(CAST(n_days AS DOUBLE) / 365.25 + 1) / rank_icum", 6)} AS rp_icum
       |FROM rk""".stripMargin
}
