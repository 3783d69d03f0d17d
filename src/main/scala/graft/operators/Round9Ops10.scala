package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-10 operators (SURVEY §2 #325, #327): feed-freshness
  * scorecard and the Yule-Walker AR(2) forecast. (#326's stream twin
  * lives in [[graft.streaming.Streaming.streamFreshness]].)
  */
object Round9Ops10 {

  // ------------------------------------------------ #325 dq_freshness

  /** #325 dq_freshness: per-type FEED-FRESHNESS scorecard — the first
    * page of every pipeline runbook. Per event type: event count,
    * first/last-seen epoch seconds, lag behind the newest event
    * anywhere in the corpus, the type's own mean interarrival gap, and
    * staleness = lag / mean-gap — lag normalized by how often the type
    * USUALLY speaks, so a daily digest 2 h quiet is fine while a
    * 100 Hz telemetry feed 2 h quiet is dead. Verdict bands: < 2 gaps
    * fresh, < 10 lagging, else stale (single-event types have no gap →
    * `unknown`). #251 audits per-producer clock SANITY (ordering);
    * this audits per-type feed LIVENESS — the complementary half of
    * the ingest-health pair.
    *
    * Scale shape: one per-type rollup of (count, min, max) epoch
    * registers — all map-side combinable — then a broadcast 1-row
    * corpus-max scalar and scalar arithmetic on the ≤|types| table.
    * No windows, no data-proportional join. */
  def dqFreshness(s: SparkSession, dir: String): DataFrame =
    freshnessFinalize(freshnessRegisters(Tables.events(s, dir)))

  /** The per-type (count, first, last) epoch-second registers — count
    * merges by addition, first/last by min/max, so this IS the #326
    * streaming state (≤|types| rows). */
  private[graft] def freshnessRegisters(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), unix_timestamp(col("ts")).as("es"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           min(col("es")).as("first_s"),
           max(col("es")).as("last_s"))

  /** Freshness readout over the drained register table. The register
    * table is pinned first: it feeds both the corpus-max aggregate and
    * the report rows, and a streaming memory-sink view cannot
    * self-join (the #310 finalize discipline). */
  private[graft] def freshnessFinalize(regsIn: DataFrame): DataFrame = {
    val regs = graft.Lineage.pin(regsIn)
    val mx = regs.agg(max(col("last_s")).as("cmax"))
    regs.crossJoin(broadcast(mx))
      .withColumn("lag_s", col("cmax") - col("last_s"))
      .withColumn("mean_gap_s",
        when(col("n") > 1,
          r((col("last_s") - col("first_s")) /
            (col("n") - 1).cast("double"), 6)))
      .withColumn("staleness",
        r(col("lag_s") / nullif(col("mean_gap_s"), lit(0d)), 6))
      .withColumn("verdict",
        when(col("staleness").isNull, "unknown")
          .when(col("staleness") < 2, "fresh")
          .when(col("staleness") < 10, "lagging")
          .otherwise("stale"))
      .select(col("event_type"), col("n"), col("first_s"), col("last_s"),
              col("lag_s"), col("mean_gap_s"), col("staleness"),
              col("verdict"))
      .orderBy(col("event_type"))
  }

  val dqFreshnessSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
       |  FROM events),
       |regs AS (
       |  SELECT event_type, count(*) AS n,
       |         min(es) AS first_s, max(es) AS last_s
       |  FROM e GROUP BY 1),
       |mx AS (SELECT max(last_s) AS cmax FROM regs),
       |rep AS (
       |  SELECT r.event_type, r.n, r.first_s, r.last_s,
       |         m.cmax - r.last_s AS lag_s,
       |         CASE WHEN r.n > 1 THEN
       |           ${sqlR("(r.last_s - r.first_s) / CAST(r.n - 1 AS DOUBLE)", 6)}
       |         END AS mean_gap_s
       |  FROM regs r CROSS JOIN mx m),
       |sc AS (
       |  SELECT *, ${sqlR("lag_s / nullif(mean_gap_s, 0.0)", 6)} AS staleness
       |  FROM rep)
       |SELECT event_type, n, first_s, last_s, lag_s, mean_gap_s, staleness,
       |       CASE WHEN staleness IS NULL THEN 'unknown'
       |            WHEN staleness < 2 THEN 'fresh'
       |            WHEN staleness < 10 THEN 'lagging'
       |            ELSE 'stale' END AS verdict
       |FROM sc ORDER BY event_type""".stripMargin

  // -------------------------------------------- #327 ts_ar2_forecast

  /** #327 ts_ar2_forecast: per-series AR(2) fit by YULE-WALKER and the
    * 1/2/3-step-ahead forecast — the autoregressive companion the ts
    * battery was missing: #75 publishes the raw autocorrelations, #178
    * (Holt) smooths level+trend, this turns #75's r1/r2 into an actual
    * MODEL (φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²)) and rolls it
    * forward from the last two observations on the mean-centered scale
    * — the standard short-horizon baseline a forecast review compares
    * everything else against (Box-Jenkins). Degenerate series answer
    * honestly: zero variance or n < 3 → NULL fit and forecasts.
    *
    * Scale shape: two per-key ordered windows (lags + the reverse
    * row_number that picks the last two observations, sharing one
    * user_id exchange), one tiny per-key mean rollup joined back on
    * the same key, then a single grouped fold to moment sums — all
    * decimal-exact; every division 6dp-rounds (the #125 discipline).
    * One rollup row per series. */
  def tsAr2Forecast(s: SparkSession, dir: String): DataFrame =
    tsAr2ForecastDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (user_id, ts, event_id, value). */
  def tsAr2ForecastDf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val base = ev
      .select(col("user_id"), col("ts"), col("event_id"),
              col("value").as("v"))
      .withColumn("l1", lag(col("v"), 1).over(w))
      .withColumn("l2", lag(col("v"), 2).over(w))
      .withColumn("rnd", row_number().over(wd))
    val m = base.groupBy(col("user_id"))
      .agg(davg(col("v"), 6).as("mean"), count(lit(1)).as("n"))
    val agg = base.join(m, "user_id")
      .withColumn("cv", col("v") - col("mean"))
      .withColumn("c1", col("l1") - col("mean"))
      .withColumn("c2", col("l2") - col("mean"))
      .groupBy(col("user_id"), col("mean"), col("n"))
      .agg(dsum(col("cv") * col("cv")).as("s0"),
           dsum(when(col("c1").isNotNull, col("cv") * col("c1"))).as("s1"),
           dsum(when(col("c2").isNotNull, col("cv") * col("c2"))).as("s2"),
           max(when(col("rnd") === 1, col("cv"))).as("xn"),
           max(when(col("rnd") === 2, col("cv"))).as("xn1"))
    agg
      .withColumn("r1", r(col("s1") / nullif(col("s0"), lit(0d)), 6))
      .withColumn("r2", r(col("s2") / nullif(col("s0"), lit(0d)), 6))
      .withColumn("den", nullif(lit(1d) - col("r1") * col("r1"), lit(0d)))
      .withColumn("phi1",
        r(col("r1") * (lit(1d) - col("r2")) / col("den"), 6))
      .withColumn("phi2",
        r((col("r2") - col("r1") * col("r1")) / col("den"), 6))
      .withColumn("g1", r(col("phi1") * col("xn") + col("phi2") * col("xn1"), 6))
      .withColumn("g2", r(col("phi1") * col("g1") + col("phi2") * col("xn"), 6))
      .withColumn("g3", r(col("phi1") * col("g2") + col("phi2") * col("g1"), 6))
      .select(col("user_id"), col("n"), col("mean"),
              col("r1"), col("r2"), col("phi1"), col("phi2"),
              r(col("mean") + col("g1"), 6).as("f1"),
              r(col("mean") + col("g2"), 6).as("f2"),
              r(col("mean") + col("g3"), 6).as("f3"))
      .orderBy(col("user_id"))
  }

  val tsAr2ForecastSql: String =
    s"""WITH base AS (
       |  SELECT user_id, value AS v,
       |         lag(value, 1) OVER w AS l1,
       |         lag(value, 2) OVER w AS l2,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY ts DESC, event_id DESC) AS rnd
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |m AS (
       |  SELECT user_id, ${sqlAvg("v", 6)} AS mean, count(*) AS n
       |  FROM base GROUP BY 1),
       |j AS (
       |  SELECT b.user_id, m.mean, m.n, b.rnd,
       |         b.v - m.mean AS cv, b.l1 - m.mean AS c1, b.l2 - m.mean AS c2
       |  FROM base b JOIN m USING (user_id)),
       |agg AS (
       |  SELECT user_id, mean, n,
       |         ${sqlSum("cv * cv")} AS s0,
       |         ${sqlSum("CASE WHEN c1 IS NOT NULL THEN cv * c1 END")} AS s1,
       |         ${sqlSum("CASE WHEN c2 IS NOT NULL THEN cv * c2 END")} AS s2,
       |         max(CASE WHEN rnd = 1 THEN cv END) AS xn,
       |         max(CASE WHEN rnd = 2 THEN cv END) AS xn1
       |  FROM j GROUP BY 1, 2, 3),
       |a1 AS (
       |  SELECT *, ${sqlR("s1 / nullif(s0, 0.0)", 6)} AS r1,
       |            ${sqlR("s2 / nullif(s0, 0.0)", 6)} AS r2
       |  FROM agg),
       |a2 AS (SELECT *, nullif(1.0 - r1 * r1, 0.0) AS den FROM a1),
       |a3 AS (
       |  SELECT *, ${sqlR("r1 * (1.0 - r2) / den", 6)} AS phi1,
       |            ${sqlR("(r2 - r1 * r1) / den", 6)} AS phi2
       |  FROM a2),
       |a4 AS (SELECT *, ${sqlR("phi1 * xn + phi2 * xn1", 6)} AS g1 FROM a3),
       |a5 AS (SELECT *, ${sqlR("phi1 * g1 + phi2 * xn", 6)} AS g2 FROM a4),
       |a6 AS (SELECT *, ${sqlR("phi1 * g2 + phi2 * g1", 6)} AS g3 FROM a5)
       |SELECT user_id, n, mean, r1, r2, phi1, phi2,
       |       ${sqlR("mean + g1", 6)} AS f1,
       |       ${sqlR("mean + g2", 6)} AS f2,
       |       ${sqlR("mean + g3", 6)} AS f3
       |FROM a6 ORDER BY user_id""".stripMargin
}
