package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-6 batch-28 operators (SURVEY §2 #217-#220): the Dickey–Fuller
  * unit-root test, Wald's sequential probability ratio test, the
  * multimodal corpus-balance audit, and the daily-volume feed monitor.
  */
object Round6Ops11 {

  // ----------------------------------------------------------- #217 ts_adf

  /** 5% asymptotic critical value of the constant-only DF distribution. */
  val AdfCrit5 = -2.86

  /** #217 ts_adf: Dickey–Fuller unit-root test per entity — the
    * constant-only regression Δy_t = α + β·y_{t-1} + ε over each
    * entity's daily series; the t-ratio β̂/se(β̂) against the DF 5%
    * critical value answers "is this series MEAN-REVERTING or a random
    * walk?". The stationarity gate in front of every fixed-mean
    * monitor this library ships: #143's CUSUM and #84's EWMA assume
    * reversion to μ, #87b/#202 measure drift — ADF decides which
    * family applies to a key at all. Consecutive observations are
    * adjacent regression points (calendar gaps documented as
    * irregular-sampling tolerance, the #75 convention).
    *
    * Scale shape: one entity-keyed lag window (bounded by days per
    * entity, shared exchange+sort), one decimal-exact moment
    * aggregation per entity, closed-form OLS algebra on the per-key
    * rollup (the #182 discipline) — no matrix solve, nothing
    * collected. */
  def tsAdf(s: SparkSession, dir: String): DataFrame =
    tsAdfDf(Mhw.daily(s, dir))

  /** DataFrame-generic core: expects (user_id, d DATE, sst DOUBLE). */
  def tsAdfDf(dl: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val lagged = dl
      .withColumn("x", lag(col("sst"), 1).over(w))
      .filter(col("x").isNotNull)
      .withColumn("dy", col("sst") - col("x"))
    val m = lagged.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
           dsum(col("x")).as("sx"), dsum(col("dy")).as("sy"),
           dsum(col("x") * col("dy")).as("sxy"),
           dsum(col("x") * col("x")).as("sxx"),
           dsum(col("dy") * col("dy")).as("syy"))
      .filter(col("n") >= 10)
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    val alpha = (col("sy") - beta * col("sx")) / col("n")
    val ssr = col("syy") - alpha * col("sy") - beta * col("sxy")
    val se = sqrt((ssr / (col("n") - 2)) * col("n") / den)
    m.filter(den > 0)
      .withColumn("beta", r(beta, 6))
      .withColumn("alpha", r(alpha, 6))
      .withColumn("df_stat", when(ssr > 0, r(beta / se, 6)).otherwise(lit(0.0)))
      .withColumn("stationary", col("df_stat") < AdfCrit5)
      .select(col("user_id"), col("n"), col("alpha"), col("beta"),
              col("df_stat"), col("stationary"))
      .orderBy(col("user_id"))
  }

  val tsAdfSql: String = {
    val den = "(n * sxx - sx * sx)"
    val beta = s"((n * sxy - sx * sy) / $den)"
    val alpha = s"((sy - $beta * sx) / n)"
    val ssr = s"(syy - $alpha * sy - $beta * sxy)"
    val se = s"sqrt(($ssr / (n - 2)) * n / $den)"
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |         ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT user_id, sst - x AS dy, x FROM (
       |    SELECT user_id, sst,
       |           lag(sst, 1) OVER (PARTITION BY user_id ORDER BY d) AS x
       |    FROM daily)
       |  WHERE x IS NOT NULL),
       |m AS (
       |  SELECT user_id, count(*) AS n,
       |         ${sqlSum("x")} AS sx, ${sqlSum("dy")} AS sy,
       |         ${sqlSum("x * dy")} AS sxy, ${sqlSum("x * x")} AS sxx,
       |         ${sqlSum("dy * dy")} AS syy
       |  FROM lagged GROUP BY 1
       |  HAVING count(*) >= 10)
       |SELECT user_id, n,
       |       ${sqlR(alpha, 6)} AS alpha,
       |       ${sqlR(beta, 6)} AS beta,
       |       CASE WHEN $ssr > 0 THEN ${sqlR(s"$beta / $se", 6)}
       |            ELSE 0.0 END AS df_stat,
       |       (CASE WHEN $ssr > 0 THEN ${sqlR(s"$beta / $se", 6)}
       |             ELSE 0.0 END) < $AdfCrit5 AS stationary
       |FROM m WHERE $den > 0 ORDER BY user_id""".stripMargin
  }

  // ------------------------------------------------------ #218 events_sprt

  /** H0/H1 purchase rates and the ±ln((1−β)/α) bounds at α=β=0.05;
    * every constant 6dp-rounded ONCE here so both engines compare the
    * same literals. */
  val SprtK1 = 0.693147   // ln(p1/p0) = ln(0.30/0.15)
  val SprtK0 = -0.194156  // ln((1−p1)/(1−p0)) = ln(0.70/0.85)
  val SprtA = 2.944439    // ln(0.95/0.05)
  val SprtB = -2.944439

  /** #218 events_sprt: Wald's Sequential Probability Ratio Test per
    * user — is this user's purchase rate p₀=0.15 (H0) or p₁=0.30 (H1)?
    * The log-likelihood ratio walks event-by-event and the FIRST
    * boundary crossing decides; Wald's guarantee is a decision at ~half
    * the fixed-n sample size on average. The sequential sibling of
    * #137's fixed-horizon A/B readout and #149's power analysis — the
    * test a live ramp-up runs when waiting for the full horizon costs
    * real money; per-user it is the always-on high-value-user detector
    * beside #145's bot score.
    *
    * Scale shape: the LLR at step t is cp·K1 + (t−cp)·K0 — pure
    * algebra on the running purchase count, so the walk needs only a
    * per-user cumulative-count window (bounded by events-per-user, the
    * #53 contract), no float accumulation, no state; the readout is
    * one aggregation with conditional mins for the crossing times. */
  def eventsSprt(s: SparkSession, dir: String): DataFrame =
    eventsSprtDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (user_id, ts, event_id,
    * event_type). */
  def eventsSprtDf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val walked = ev
      .withColumn("xp", when(col("event_type") === "purchase", 1L).otherwise(0L))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cp", sum(col("xp")).over(w))
      .withColumn("llr",
        r(col("cp") * SprtK1 + (col("rn") - col("cp")) * SprtK0, 6))
    walked.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("xp")).as("n_purchases"),
           min(when(col("llr") >= SprtA, col("rn"))).as("t1"),
           min(when(col("llr") <= SprtB, col("rn"))).as("t0"))
      .withColumn("llr_final",
        r(col("n_purchases") * SprtK1 +
          (col("n") - col("n_purchases")) * SprtK0, 6))
      .withColumn("decision",
        when(col("t1").isNotNull &&
             (col("t0").isNull || col("t1") <= col("t0")), "accept_h1")
          .when(col("t0").isNotNull, "accept_h0")
          .otherwise("continue"))
      .withColumn("n_at_decision", least(col("t1"), col("t0")))
      .select(col("user_id"), col("n"), col("n_purchases"), col("llr_final"),
              col("decision"), col("n_at_decision"))
      .orderBy(col("user_id"))
  }

  val eventsSprtSql: String =
    s"""WITH walked AS (
       |  SELECT user_id,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xp,
       |         row_number() OVER w AS rn,
       |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |           OVER w AS cp
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |l AS (
       |  SELECT user_id, rn, xp,
       |         ${sqlR(s"cp * $SprtK1 + (rn - cp) * ($SprtK0)", 6)} AS llr
       |  FROM walked),
       |agg AS (
       |  SELECT user_id, count(*) AS n,
       |         CAST(sum(xp) AS BIGINT) AS n_purchases,
       |         min(CASE WHEN llr >= $SprtA THEN rn END) AS t1,
       |         min(CASE WHEN llr <= $SprtB THEN rn END) AS t0
       |  FROM l GROUP BY 1)
       |SELECT user_id, n, n_purchases,
       |       ${sqlR(s"n_purchases * $SprtK1 + (n - n_purchases) * ($SprtK0)", 6)}
       |         AS llr_final,
       |       CASE WHEN t1 IS NOT NULL AND (t0 IS NULL OR t1 <= t0)
       |              THEN 'accept_h1'
       |            WHEN t0 IS NOT NULL THEN 'accept_h0'
       |            ELSE 'continue' END AS decision,
       |       least(t1, t0) AS n_at_decision
       |FROM agg ORDER BY user_id""".stripMargin

  // --------------------------------------------- #219 mm_modality_balance

  /** #219 mm_modality_balance: the corpus-composition dashboard for a
    * MULTIMODAL training set — per (source, modality): document count,
    * payload bytes, decoded-frame estimate ([[graft.multimodal
    * .Multimodal.FakeDecoder]]'s 1 + bytes/100 rule — the stub seam a
    * real codec replaces), and the three shares that decide a mixing
    * recipe: of the source, of the modality, of the corpus. #74 weighs
    * text token mass; a multimodal mix is budgeted in BYTES and FRAMES
    * per modality, and a source whose image share quietly collapses is
    * an ingest bug this table pages on. Modality is a deterministic
    * md5(doc_id) stub assignment (the mm-family convention: plumbing
    * real, codec faked; hashed rather than doc_id%4, which is
    * perfectly correlated with the generator's round-robin source
    * assignment and would collapse every source to one modality).
    *
    * Scale shape: one map-only projection, one (source, modality)
    * groupBy; shares are windows over the ≤ sources×4 rollup. */
  def mmModalityBalance(s: SparkSession, dir: String): DataFrame =
    modalityBalanceFinalize(modalityRegisters(Tables.documents(s, dir)))

  /** The (source, modality) inventory registers — counts and byte/frame
    * sums all merge by addition, so this IS the #352 streaming state
    * (≤ sources × 4 rows). */
  private[graft] def modalityRegisters(docs: DataFrame): DataFrame = {
    val modality = element_at(
      array(lit("text"), lit("image"), lit("audio"), lit("video")),
      (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2),
            16, 10).cast("int") % 4 + 1))
    val bytes = octet_length(col("text").cast("binary"))
    docs
      .select(col("source"), modality.as("modality"), bytes.as("b"),
              (lit(1L) + floor(bytes / lit(100)).cast("long")).as("frames"))
      .groupBy(col("source"), col("modality"))
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).cast("long").as("n_bytes"),
           sum(col("frames")).as("n_frames"))
  }

  /** Share readout over the drained registers — shared verbatim by
    * batch and the #352 stream twin. */
  private[graft] def modalityBalanceFinalize(g: DataFrame): DataFrame = {
    val wSrc = Window.partitionBy(col("source"))
    val wMod = Window.partitionBy(col("modality"))
    val wAll = Window.partitionBy()
    g.withColumn("src_share",
        r(col("n_bytes") / sum(col("n_bytes")).over(wSrc).cast("double"), 6))
      .withColumn("mod_share",
        r(col("n_bytes") / sum(col("n_bytes")).over(wMod).cast("double"), 6))
      .withColumn("corpus_share",
        r(col("n_bytes") / sum(col("n_bytes")).over(wAll).cast("double"), 6))
      .orderBy(col("source"), col("modality"))
  }

  val mmModalityBalanceSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |         CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 4
       |           WHEN 0 THEN 'text' WHEN 1 THEN 'image'
       |           WHEN 2 THEN 'audio' ELSE 'video' END AS modality,
       |         octet_length(CAST(text AS BLOB)) AS b,
       |         1 + octet_length(CAST(text AS BLOB)) // 100 AS frames
       |  FROM documents),
       |g AS (
       |  SELECT source, modality, count(*) AS n_docs,
       |         CAST(sum(b) AS BIGINT) AS n_bytes,
       |         CAST(sum(frames) AS BIGINT) AS n_frames
       |  FROM d GROUP BY 1, 2)
       |SELECT source, modality, n_docs, n_bytes, n_frames,
       |       ${sqlR("n_bytes / CAST(sum(n_bytes) OVER (PARTITION BY source) AS DOUBLE)", 6)} AS src_share,
       |       ${sqlR("n_bytes / CAST(sum(n_bytes) OVER (PARTITION BY modality) AS DOUBLE)", 6)} AS mod_share,
       |       ${sqlR("n_bytes / CAST(sum(n_bytes) OVER () AS DOUBLE)", 6)} AS corpus_share
       |FROM g ORDER BY source, modality""".stripMargin

  // ------------------------------------------------ #220 dq_volume_anomaly

  /** Iglewicz–Hoaglin modified-z threshold. */
  val VolZThreshold = 3.5

  /** #220 dq_volume_anomaly: the daily-VOLUME feed monitor — the event
    * count per calendar day on a gap-free date spine (missing days
    * zero-filled and flagged), screened by the modified z-score
    * 0.6745·(n−median)/MAD with the |z| > 3.5 Iglewicz–Hoaglin rule.
    * The first dashboard an on-call engineer reads: #86 flags weird
    * VALUES within a type, #200 profiles columns — this catches the
    * upstream outage (missing day), the double-load (2× day) and the
    * slow bleed (drifting volume) that all hit the day grain first.
    * When MAD degenerates to 0 (an over-regular feed: most days carry
    * the exact median volume) the screen falls back to the
    * Iglewicz–Hoaglin alternative scale 1.253314·meanAD, so a dropped
    * day still pages instead of hiding behind a zero denominator.
    *
    * Scale shape: one day-key aggregation collapses the corpus to
    * ≤|days| rows; the spine, both median passes and the flagging are
    * algebra on that bounded table (the #86 exact-median contract —
    * approx_percentile is the unbounded-grain path). */
  def dqVolumeAnomaly(s: SparkSession, dir: String): DataFrame =
    dqVolumeAnomalyDf(Tables.events(s, dir))

  /** The mergeable day-count registers — count is the merge operator,
    * so the SAME aggregate is the streaming state in
    * [[graft.streaming.Streaming.streamVolumeAnomaly]]. */
  def volumeDayCounts(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_raw"))

  /** DataFrame-generic core: expects (ts). */
  def dqVolumeAnomalyDf(ev: DataFrame): DataFrame =
    volumeFinalize(volumeDayCounts(ev))

  /** Spine + robust-z readout over the ≤|days| register table. */
  def volumeFinalize(daily: DataFrame): DataFrame = {
    val spine = daily.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(explode(sequence(col("dmin"), col("dmax"))).as("d"))
    val filled = spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("n_raw"), lit(0L)).as("n"))
    val med = filled.agg(
      r(linQuantile(sort_array(collect_list(col("n").cast("double"))), 0.5), 6)
        .as("med"))
    val dev = filled.crossJoin(broadcast(med))
      .withColumn("dev", r(abs(col("n") - col("med")), 6))
    val mad = dev.agg(
      r(linQuantile(sort_array(collect_list(col("dev"))), 0.5), 6).as("mad"),
      r(dsum(col("dev")) / count(lit(1)), 6).as("mean_ad"))
    dev.crossJoin(broadcast(mad))
      .withColumn("z",
        when(col("mad") > 0,
          r(lit(0.6745) * (col("n") - col("med")) / col("mad"), 6))
          .when(col("mean_ad") > 0,
            r((col("n") - col("med")) / (lit(1.253314) * col("mean_ad")), 6))
          .otherwise(lit(0.0)))
      .withColumn("is_missing", col("n") === 0)
      .withColumn("is_anomaly", abs(col("z")) > VolZThreshold)
      .select(col("d"), col("n"), col("med"), col("mad"), col("z"),
              col("is_anomaly"), col("is_missing"))
      .orderBy(col("d"))
  }

  val dqVolumeAnomalySql: String = {
    import TimeSeries2.sqlMed
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, count(*) AS n_raw
       |  FROM events GROUP BY 1),
       |spine AS (
       |  SELECT unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
       |  FROM daily),
       |filled AS (
       |  SELECT s.d, coalesce(daily.n_raw, 0) AS n
       |  FROM spine s LEFT JOIN daily ON daily.d = s.d),
       |med AS (SELECT ${sqlR(sqlMed("CAST(n AS DOUBLE)"), 6)} AS med FROM filled),
       |dev AS (
       |  SELECT f.d, f.n, m.med, ${sqlR("abs(f.n - m.med)", 6)} AS dev
       |  FROM filled f CROSS JOIN med m),
       |mad AS (SELECT ${sqlR(sqlMed("dev"), 6)} AS mad,
       |               ${sqlR(s"${sqlSum("dev")} / count(*)", 6)} AS mean_ad
       |        FROM dev)
       |SELECT d.d, CAST(d.n AS BIGINT) AS n, d.med, a.mad,
       |       CASE WHEN a.mad > 0
       |         THEN ${sqlR("0.6745 * (d.n - d.med) / a.mad", 6)}
       |         WHEN a.mean_ad > 0
       |         THEN ${sqlR("(d.n - d.med) / (1.253314 * a.mean_ad)", 6)}
       |         ELSE 0.0 END AS z,
       |       abs(CASE WHEN a.mad > 0
       |         THEN ${sqlR("0.6745 * (d.n - d.med) / a.mad", 6)}
       |         WHEN a.mean_ad > 0
       |         THEN ${sqlR("(d.n - d.med) / (1.253314 * a.mean_ad)", 6)}
       |         ELSE 0.0 END) > $VolZThreshold AS is_anomaly,
       |       d.n = 0 AS is_missing
       |FROM dev d CROSS JOIN mad a ORDER BY d.d""".stripMargin
  }
}
