package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-15 operators (SURVEY §2 #336-#337): Engle-Granger
  * cointegration between type-level daily series and robust central
  * tendency (trimmed/winsorized means).
  */
object Round9Ops15 {

  // ------------------------------------------- #336 ts_cointegration

  /** 5% critical value of the Engle-Granger distribution (2 variables,
    * constant in the cointegrating regression; MacKinnon 1991). */
  val EgCrit5 = -3.34

  /** #336 ts_cointegration: ENGLE-GRANGER two-step between every pair
    * of per-type daily mean series — do two feeds share a common
    * stochastic trend? #86 (cross-correlation) asks if MOVES co-move;
    * cointegration asks if LEVELS are tied by an equilibrium (the
    * spread y − βx is stationary even when both series wander), the
    * precondition for pairs-style monitoring: alert on the SPREAD of
    * two cointegrated feeds and you inherit a mean-reverting signal
    * with none of the trend's false alarms. Step 1: OLS y = α + βx per
    * pair (closed-form from decimal moments). Step 2: the #217
    * no-constant Dickey-Fuller on the residual (Δe_t = ρ·e_{t−1}),
    * t-ratio against the EG 5% critical value (−3.34 — wider than the
    * DF's −2.86 because β̂ was estimated). Pairs too short (< 10
    * residual points) are excluded, the #217 convention.
    *
    * Scale shape: the daily table is MODEL-SIZED (types × days), so
    * the pair self-join, coefficient join-back and per-pair residual
    * windows all run on bounded tables — the corpus is touched once,
    * in the (type, day) rollup (map-side combinable). */
  def tsCointegration(s: SparkSession, dir: String): DataFrame =
    tsCointegrationDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (event_type, ts, value). */
  def tsCointegrationDf(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(davg(col("value"), 6).as("m"))
      .transform(graft.Lineage.pin)
    val pairs = daily.select(col("event_type").as("type_a"), col("d"),
        col("m").as("ya"))
      .join(broadcast(daily.select(col("event_type").as("type_b"), col("d"),
        col("m").as("yb"))),
        Seq("d"))
      .filter(col("type_a") < col("type_b"))
    // step 1: OLS yb = alpha + beta * ya per pair, from exact moments
    val mom = pairs.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("double").as("n"),
           dsum(col("ya")).as("sx"), dsum(col("yb")).as("sy"),
           dsum(col("ya") * col("yb")).as("sxy"),
           dsum(col("ya") * col("ya")).as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val co = mom.filter(den > 0)
      .withColumn("beta", r((col("n") * col("sxy") - col("sx") * col("sy")) /
        den, 6))
      .withColumn("alpha", r((col("sy") - col("beta") * col("sx")) /
        col("n"), 6))
      .select(col("type_a"), col("type_b"), col("n").cast("long").as("n_days"),
              col("alpha"), col("beta"))
    // step 2: no-constant DF on the residual spread
    val res = pairs.join(broadcast(co), Seq("type_a", "type_b"))
      .withColumn("e", r(col("yb") - col("alpha") - col("beta") * col("ya"), 6))
    val w = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("d"))
    val lagged = res
      .withColumn("x", lag(col("e"), 1).over(w))
      .filter(col("x").isNotNull)
      .withColumn("de", col("e") - col("x"))
    val df = lagged.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("double").as("nr"),
           dsum(col("x") * col("de")).as("rxy"),
           dsum(col("x") * col("x")).as("rxx"),
           dsum(col("de") * col("de")).as("ryy"))
      .filter(col("nr") >= 10 && col("rxx") > 0)
    val rho = col("rxy") / col("rxx")
    val ssr = col("ryy") - rho * col("rxy")
    val se = sqrt(ssr / (col("nr") - 1) / col("rxx"))
    df.join(broadcast(co), Seq("type_a", "type_b"))
      .withColumn("eg_stat",
        when(ssr > 0, r(rho / se, 6)).otherwise(lit(0.0)))
      .withColumn("cointegrated", col("eg_stat") < EgCrit5)
      .select(col("type_a"), col("type_b"), col("n_days"), col("alpha"),
              col("beta"), col("eg_stat"), col("cointegrated"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val tsCointegrationSql: String = {
    val den = "(n * sxx - sx * sx)"
    val beta = s"(${sqlR(s"(n * sxy - sx * sy) / $den", 6)})"
    val alpha = s"((sy - $beta * sx) / n)"
    val rho = "(rxy / rxx)"
    val ssr = s"(ryy - $rho * rxy)"
    val se = s"sqrt($ssr / (nr - 1) / rxx)"
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS m
       |  FROM events GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.d,
       |         a.m AS ya, b.m AS yb
       |  FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type),
       |mom AS (
       |  SELECT type_a, type_b, CAST(count(*) AS DOUBLE) AS n,
       |         ${sqlSum("ya")} AS sx, ${sqlSum("yb")} AS sy,
       |         ${sqlSum("ya * yb")} AS sxy, ${sqlSum("ya * ya")} AS sxx
       |  FROM pairs GROUP BY 1, 2),
       |co AS (
       |  SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
       |         ${sqlR(alpha, 6)} AS alpha, ${sqlR(beta, 6)} AS beta
       |  FROM mom WHERE $den > 0),
       |res AS (
       |  SELECT p.type_a, p.type_b, p.d,
       |         ${sqlR("p.yb - c.alpha - c.beta * p.ya", 6)} AS e
       |  FROM pairs p JOIN co c USING (type_a, type_b)),
       |lagged AS (
       |  SELECT type_a, type_b, e - x AS de, x FROM (
       |    SELECT type_a, type_b, e,
       |           lag(e, 1) OVER (PARTITION BY type_a, type_b ORDER BY d) AS x
       |    FROM res)
       |  WHERE x IS NOT NULL),
       |dfm AS (
       |  SELECT type_a, type_b, CAST(count(*) AS DOUBLE) AS nr,
       |         ${sqlSum("x * de")} AS rxy, ${sqlSum("x * x")} AS rxx,
       |         ${sqlSum("de * de")} AS ryy
       |  FROM lagged GROUP BY 1, 2
       |  HAVING count(*) >= 10 AND ${sqlSum("x * x")} > 0)
       |SELECT d.type_a, d.type_b, c.n_days, c.alpha, c.beta,
       |       CASE WHEN $ssr > 0 THEN ${sqlR(s"$rho / $se", 6)}
       |            ELSE 0.0 END AS eg_stat,
       |       (CASE WHEN $ssr > 0 THEN ${sqlR(s"$rho / $se", 6)}
       |             ELSE 0.0 END) < $EgCrit5 AS cointegrated
       |FROM dfm d JOIN co c USING (type_a, type_b)
       |ORDER BY d.type_a, d.type_b""".stripMargin
  }

  // ------------------------------------------ #337 events_robust_center

  /** #337 events_robust_center: robust central tendency per event type
    * — plain mean, the exact p05/p95 bounds, the WINSORIZED mean
    * (clamp to the bounds — keeps n, caps influence) and the TRIMMED
    * mean (drop outside the bounds — the metric panels quote when one
    * bot session would otherwise move the KPI). The spread between
    * the three columns IS the outlier-influence readout: mean ≫
    * trimmed flags a tail-driven metric before anyone debugs a
    * dashboard. Bounds use the portable #49 interpolation formula
    * (engine quantile implementations differ in last-ulp).
    *
    * Scale shape: bounds from a per-type rollup (the exact path
    * collects per-type value lists — the #49/#92 exact-oracle
    * contract — conf-switched to `approx_percentile` sketches via
    * [[graft.Hints.ApproxQuantiles]], the Analytics2.eventsPercentiles
    * branch shape); the ≤|types|-row bounds table broadcasts back
    * onto the feed; one final rollup, clamp/trim as map-side
    * expressions. */
  def eventsRobustCenter(s: SparkSession, dir: String): DataFrame =
    robustCenterDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (event_type, value). */
  def robustCenterDf(ev: DataFrame): DataFrame =
    robustFinalize(robustRegisters(ev, robustBounds(ev)))

  /** The per-type exact bounds — the MODEL side of the operator. A
    * streaming deployment computes these batch-side and ships them
    * into the register stream as the static half of a stream-static
    * join (the #83b exported-model discipline). Exact sorted-list
    * interpolation by default (oracle parity); the
    * [[graft.Hints.ApproxQuantiles]] posture swaps in mergeable
    * `approx_percentile` sketches so the per-type aggregation buffer
    * is bounded at any scale. */
  private[graft] def robustBounds(ev: DataFrame): DataFrame = {
    val q = quantiles(ev.sparkSession, col("value"), Seq(0.05, 0.95))
    val Seq(p05, p95) = q.at(col("vs")).map(r(_, 6))
    ev.groupBy(col("event_type"))
      .agg(q.agg.as("vs"))
      .select(col("event_type"), p05.as("p05"), p95.as("p95"))
  }

  /** The per-type moment registers under fixed bounds — count and
    * decimal sums all merge by addition, so this IS the #342
    * streaming state (≤|types| rows; bounds ride the group keys). */
  private[graft] def robustRegisters(ev: DataFrame,
                                     bounds: DataFrame): DataFrame =
    ev.join(broadcast(bounds), "event_type")
      .withColumn("vw", least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy(col("event_type"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value")).as("sv"),
           dsum(col("vw")).as("sw"),
           dsum(when(col("value").between(col("p05"), col("p95")),
                     col("value"))).as("si"),
           count(when(col("value").between(col("p05"), col("p95")), lit(1)))
             .as("ni"))

  /** Readout over the drained registers — shared verbatim by batch
    * and the #342 stream twin. */
  private[graft] def robustFinalize(regs: DataFrame): DataFrame =
    regs
      .select(col("event_type"), col("n"),
              r(col("sv") / col("n"), 6).as("mean"),
              col("p05"), col("p95"),
              r(col("sw") / col("n"), 6).as("mean_winsor"),
              r(col("si") / col("ni"), 6).as("mean_trimmed"))
      .orderBy(col("event_type"))

  val eventsRobustCenterSql: String = {
    def q(p: Double): String = {
      val l = s"CAST(floor((count(value) - 1) * $p) AS INT)"
      val f = s"((count(value) - 1) * $p - floor((count(value) - 1) * $p))"
      val vs = "list_sort(list(value))"
      val vl = s"$vs[$l + 1]"
      val vu = s"$vs[LEAST($l + 2, CAST(count(value) AS INT))]"
      sqlR(s"$vl + ($vu - $vl) * $f", 6)
    }
    s"""WITH bounds AS (
       |  SELECT event_type, ${q(0.05)} AS p05, ${q(0.95)} AS p95
       |  FROM events GROUP BY 1),
       |j AS (
       |  SELECT e.event_type, b.p05, b.p95, e.value,
       |         LEAST(GREATEST(e.value, b.p05), b.p95) AS vw
       |  FROM events e JOIN bounds b USING (event_type))
       |SELECT event_type, count(*) AS n,
       |       ${sqlR(s"${sqlSum("value")} / count(*)", 6)} AS mean,
       |       p05, p95,
       |       ${sqlR(s"${sqlSum("vw")} / count(*)", 6)} AS mean_winsor,
       |       ${sqlR(
             s"${sqlSum("CASE WHEN value BETWEEN p05 AND p95 THEN value END")} / " +
             "count(CASE WHEN value BETWEEN p05 AND p95 THEN 1 END)", 6)}
       |         AS mean_trimmed
       |FROM j GROUP BY event_type, p05, p95 ORDER BY event_type""".stripMargin
  }
}
