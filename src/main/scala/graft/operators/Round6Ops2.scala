package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Round-6 operator batches 4-6 (SURVEY §2 #131, #132, #134, #136,
  * #137, #139, #140, #141): shingle novelty attribution, the
  * quality-threshold data-selection curve, a fixed-period periodogram,
  * the sequential CUSUM alarm chart, the A/B lift + CUPED experiment
  * readouts, the Holt rolling-origin backtest, and the vendor
  * scorecard. Same contracts as every other batch: Parity
  * decimal/rounding discipline end-to-end, no key-proportional global
  * windows, joins bounded by inverted-index or broadcast shapes.
  * (#133 emb_silhouette and #142 emb_recall_curve live with the other
  * embedding evaluators in [[Similarity3]]; #135 stream_periodogram
  * and #138 mm_audio_vad with their families.)
  */
object Round6Ops2 {

  // ------------------------------------------- #131 text_ngram_novelty

  /** #131 text_ngram_novelty: per-document novelty attribution — the
    * fraction of a document's distinct word-3-gram shingles whose FIRST
    * corpus occurrence (minimum doc_id) is this document. The
    * memorization/contribution metric of a curation pipeline: boilerplate
    * and near-copies score near 0, fresh text near 1 (the per-doc
    * complement of #90 doc_dup_inflation's corpus-level inflation).
    *
    * Scale shape: ONE shingle explode (map-side) into a min-aggregate
    * inverted index keyed by shingle — no join back to the exploded
    * table: each shingle's min doc_id IS its novelty attribution, so
    * the per-doc novel count comes from re-grouping the index rows by
    * their winner (doc-sized, not shingle-sized), and the per-doc
    * denominator is a map-side `size(shingles)` that never explodes.
    * NO self-join, so unlike #26/#28b no stop-shingle DF cap is
    * needed. One shingle-keyed shuffle + one doc-keyed rollup; the
    * doc↔novel join is doc-cardinality on both sides. The shingle
    * arrays come from [[TextOps.shingleTable]]'s memoized build, shared
    * with the #26/#27/#28b dedup family — one evaluation serves all. */
  def textNgramNovelty(s: SparkSession, dir: String): DataFrame =
    textNgramNoveltyDf(Tables.documents(s, dir))

  def textNgramNoveltyDf(docs: DataFrame): DataFrame = {
    val sh = TextOps.shingleTable(docs)
    val novel = sh
      .select(col("doc_id"), explode(col("sh")).as("sg"))
      .groupBy(col("sg")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    val totals = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .filter(col("n_shingles") > 0)
    totals.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        r(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"), col("novelty"))
      .orderBy(col("doc_id"))
  }

  val textNgramNoveltySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |           unnest(CASE WHEN len(t) >= 3 THEN
       |             list_transform(range(1, len(t) - 1),
       |                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |           ELSE [] END) AS s
       |    FROM toks)),
       |fs AS (SELECT s, min(doc_id) AS first_seen FROM sh GROUP BY 1)
       |SELECT sh.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN fs.first_seen = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       ${sqlR("CAST(sum(CASE WHEN fs.first_seen = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS novelty
       |FROM sh JOIN fs ON sh.s = fs.s
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------- #132 corpus_quality_curve

  private val CurveSteps = 10

  /** #132 corpus_quality_curve: the data-selection tradeoff curve — for
    * each quality-score cutoff t ∈ {0.0, 0.1, …, 0.9}, how many
    * documents and tokens survive `quality ≥ t`, and what fraction of
    * the corpus' tokens that is. The plot every filtering decision for a
    * pretraining corpus is made from ("at what cutoff do we still have
    * our token budget?"); composes #22's score with #21's token counts.
    *
    * Scale shape: quality + token count are one map-side scan; the
    * 10-point threshold grid fans each doc out ×10 map-side (a bounded
    * literal explode, not a join), and the rollup is a 10-group
    * aggregate with conditional sums — no sort, no quantile, no window.
    * Thresholds are exact doubles k/10 so the ≥ compare is
    * bit-deterministic cross-engine. */
  def corpusQualityCurve(s: SparkSession, dir: String): DataFrame = {
    // quality and token count come from the SAME scan (the factored #22
    // score expression) — no second documents pass, no doc_id join
    Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.qualityCol.as("quality"),
              size(lowerTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("k", explode(sequence(lit(0), lit(CurveSteps - 1))))
      .withColumn("threshold", col("k").cast("double") / CurveSteps.toDouble)
      .groupBy(col("threshold"))
      .agg(sum(when(col("quality") >= col("threshold"), 1L).otherwise(0L))
             .as("n_docs"),
           sum(when(col("quality") >= col("threshold"), col("n_tok")).otherwise(0L))
             .as("n_tokens"),
           sum(col("n_tok")).as("total_tokens"))
      .select(col("threshold"), col("n_docs"), col("n_tokens"),
        r(col("n_tokens").cast("double") / col("total_tokens").cast("double"), 6)
          .as("token_share"))
      .orderBy(col("threshold"))
  }

  val corpusQualityCurveSql: String =
    s"""WITH q AS (${TextOps.textQualitySql}),
       |sized AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |grid AS (
       |  SELECT CAST(range AS DOUBLE) / ${CurveSteps}.0 AS threshold
       |  FROM range(0, $CurveSteps)),
       |agg AS (
       |  SELECT g.threshold,
       |         CAST(sum(CASE WHEN q.quality >= g.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN q.quality >= g.threshold THEN s.n_tok ELSE 0 END) AS BIGINT) AS n_tokens,
       |         CAST(sum(s.n_tok) AS BIGINT) AS total_tokens
       |  FROM q JOIN sized s USING (doc_id) CROSS JOIN grid g
       |  GROUP BY 1)
       |SELECT threshold, n_docs, n_tokens,
       |       ${sqlR("CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 6)} AS token_share
       |FROM agg ORDER BY threshold""".stripMargin

  // --------------------------------------- #139 ts_forecast_backtest

  private[graft] val BtHorizon = 7

  /** #139 ts_forecast_backtest: rolling-origin evaluation of the #115
    * Holt forecaster — hold out each series' final [[BtHorizon]]
    * observations, fit level+trend on the prefix (the SAME fold,
    * [[Round6Ops.holtFold]]), forecast h = 1…H, and score MAE against
    * the actuals next to the naive last-value baseline;
    * skill = 1 − MAE_holt/MAE_naive. The backtest is what turns a
    * forecaster from code into a trusted monitor — no model ships
    * without one.
    *
    * Same shape as #115: [[Round6Ops.foldSeries]] runs [[backtest]]
    * over each series' sorted daily values. Error sums fold
    * left-to-right over H doubles in both engines (same order → same
    * bits; no decimal needed). */
  def tsForecastBacktest(s: SparkSession, dir: String): DataFrame =
    tsForecastBacktestDf(Mhw.daily(s, dir))

  /** One ts_forecast_backtest row (the columns after n_obs). */
  private[graft] final case class BacktestRow(
      level: Option[Double], trend: Double, mae_holt: Option[Double],
      mae_naive: Option[Double], skill: Option[Double])

  /** The backtest of one series' sorted daily values, None below H + 2:
    * the Holt fit of all but the last H, its h-step forecasts (rounded
    * with [[graft.Parity.sqlR6d]]) and the naive last-value forecast,
    * each scored by its 6dp MAE over the last H values. SQL's rules
    * hold: a null nulls the sum it enters, and a NaN naive MAE counts
    * as above 0 (NaN sorts above every number). */
  private[graft] def backtest(xs: collection.Seq[Option[Double]]): Option[BacktestRow] =
    Option.when(xs.length >= BtHorizon + 2) {
      val n = xs.length
      val (l, b) = Round6Ops.holtFold(xs.take(n - BtHorizon))
      def mae(forecast: Int => Option[Double]): Option[Double] =
        (1 to BtHorizon).foldLeft(Option(0.0)) { (acc, h) =>
          for (a <- acc; x <- xs(n - BtHorizon - 1 + h); f <- forecast(h)) yield a + math.abs(x - f)
        }.map(t => r6d(t / BtHorizon.toDouble))
      val maeHolt = mae(h => l.map(l => sqlR6d(l + h * b)))
      val maeNaive = mae(_ => xs(n - BtHorizon - 1))
      BacktestRow(l, b, maeHolt, maeNaive,
        for (mh <- maeHolt; mn <- maeNaive if mn > 0.0 || mn.isNaN) yield r6d(1.0 - mh / mn))
    }

  def tsForecastBacktestDf(dl: DataFrame): DataFrame =
    Round6Ops.foldSeries(dl)(backtest)
      .filter(col("n_obs") >= BtHorizon + 2)
      .select(col("user_id"), col("n_obs"), col("st.*"))
      .orderBy(col("user_id"))

  val tsForecastBacktestSql: String = {
    val r6 = (x: String) => sqlR(x, 6)
    // the #115 list-state fold (DuckDB list_reduce struct bug), over the
    // train prefix — constants shared with Round6Ops (one forecaster)
    val (al, be) = (Round6Ops.HoltAlpha, Round6Ops.HoltBeta)
    val newL = r6(s"$al * e[1] + ${1 - al} * (acc[1] + acc[2])")
    val errsHolt =
      s"list_transform(range(1, ${BtHorizon + 1}), h -> abs(xs[len(xs) - $BtHorizon + CAST(h AS INT)] - ${r6("st[1] + h * st[2]")}))"
    val errsNaive =
      s"list_transform(range(1, ${BtHorizon + 1}), h -> abs(xs[len(xs) - $BtHorizon + CAST(h AS INT)] - xs[len(xs) - $BtHorizon]))"
    def mae(errs: String) = r6(s"list_reduce($errs, (a, x) -> a + x) / ${BtHorizon}.0")
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |series AS (
       |  SELECT user_id, count(*) AS n_obs, list(sst ORDER BY d) AS xs
       |  FROM daily GROUP BY 1),
       |train AS (
       |  SELECT user_id, n_obs, xs, xs[1:len(xs) - $BtHorizon] AS tr
       |  FROM series WHERE n_obs >= ${BtHorizon + 2}),
       |folded AS (
       |  SELECT user_id, n_obs, xs,
       |    list_reduce(
       |      list_prepend([tr[1], CAST(0.0 AS DOUBLE)],
       |        list_transform(tr[2:], x -> [x, CAST(0.0 AS DOUBLE)])),
       |      (acc, e) -> [
       |        $newL,
       |        ${r6(s"$be * ($newL - acc[1]) + ${1 - be} * acc[2]")}]) AS st
       |  FROM train),
       |scored AS (
       |  SELECT user_id, n_obs, st[1] AS level, st[2] AS trend,
       |         ${mae(errsHolt)} AS mae_holt,
       |         ${mae(errsNaive)} AS mae_naive
       |  FROM folded)
       |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs, level, trend,
       |       mae_holt, mae_naive,
       |       CASE WHEN mae_naive > 0.0
       |            THEN ${r6("1.0 - mae_holt / mae_naive")} END AS skill
       |FROM scored ORDER BY user_id""".stripMargin
  }

  // -------------------------------------------- #140 supplier_scorecard

  /** #140 supplier_scorecard: the vendor-quality report every warehouse
    * publishes — per supplier (name joined from the broadcast dim):
    * item volume, net revenue, return RATE (`l_returnflag = 'R'`),
    * revenue at risk in returned items, and mean discount granted.
    * Complements #110's order-to-ship SLA with the merchandise-quality
    * and pricing-posture axes (the synthetic schema carries no
    * receipt/commit dates, so lateness stays #110's ship-lag metric).
    * One fact scan, map-side partial aggregation on the supplier key,
    * broadcast dim join AFTER the rollup (supplier-cardinality, never
    * row-fanout). */
  def supplierScorecard(s: SparkSession, dir: String): DataFrame = {
    val returned = col("l_returnflag") === "R"
    val net = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val agg = Tables.lineitem(s, dir).groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
           dsum(net, 2).as("revenue"),
           r(dsum(when(returned, 1.0).otherwise(0.0)) / count(lit(1)), 6)
             .as("return_rate"),
           dsum(when(returned, net).otherwise(0.0), 2).as("returned_revenue"),
           davg(col("l_discount"), 6).as("mean_discount"))
    agg.join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
      col("l_suppkey") === col("s_suppkey"))
      .drop("s_suppkey")
      .orderBy(col("l_suppkey"))
  }

  val supplierScorecardSql: String =
    s"""SELECT l_suppkey, count(*) AS n_items,
       |       ${sqlSum("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
       |       ${sqlR(sqlSum("CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END") + " / count(*)", 6)} AS return_rate,
       |       ${sqlSum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 2)} AS returned_revenue,
       |       ${sqlAvg("l_discount", 6)} AS mean_discount,
       |       any_value(s_name) AS s_name
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------- #136 ts_cusum_alarm

  // the one copy of the CUSUM constants (ts_cusum_alarm, stream_cusum
  // and the oracle)
  private[graft] val CusumK = 0.5 // slack, in σ units
  private[graft] val CusumH = 4.0 // alarm threshold, in σ units

  /** #136 ts_cusum_alarm: the SEQUENTIAL one-sided CUSUM control chart
    * per series — s⁺_t = max(0, s⁺_{t−1} + (x_t − μ − K·σ)), alarm
    * whenever s⁺ crosses above H·σ from below; report per series the
    * alarm count and the maximum excursion. This is the page-by-page
    * drift ALARM (Page 1954) that complements #11f ts_changepoint's
    * retrospective argmax split: the changepoint op locates one shift
    * after the fact, the CUSUM chart counts how often the monitored
    * process would have paged.
    *
    * [[Round6Ops.foldSeries]] runs [[cusumChart]] over each series'
    * sorted daily values: μ and σ from exact decimal moments, then the
    * chart with per-step 6dp rounding (the oracle replays it with
    * list-typed state in list_reduce — the documented DuckDB
    * workaround). One shuffle, state O(1) per step, array bounded per
    * key. */
  def tsCusumAlarm(s: SparkSession, dir: String): DataFrame =
    tsCusumAlarmDf(Mhw.daily(s, dir))

  /** One ts_cusum_alarm row (the columns after n_obs). */
  private[graft] final case class CusumRow(mu: Option[Double], sigma: Double,
                                           cusum_max: Double, n_alarms: Long)

  /** The CUSUM chart of one series' sorted daily values, None below two
    * values. μ = Σx/n and σ (the n−1 sample deviation from Σx²) come
    * from exact DECIMAL(38,10) sums ([[graft.Parity.Sums]]: null, NaN
    * and ±Inf add nothing, n counts every day) and are rounded at 6dp.
    * The arithmetic follows SQL's rules: `greatest` skips a null (σ is 0
    * when μ is null; a step that meets a null restarts at 0), NaN sorts
    * above every number, and each step is rounded with
    * [[graft.Parity.sqlR6d]]. The only CUSUM chart: ts_cusum_alarm and
    * stream_cusum run it. */
  private[graft] def cusumChart(xs: collection.Seq[Option[Double]]): Option[CusumRow] = {
    val n = xs.length
    Option.when(n >= 2) {
      val acc = new Sums(2)
      xs.flatten.foreach { x => acc.addDouble(0, x); acc.addDouble(1, x * x) }
      val mu = acc.get(0).map(sx => r6d(sx / n))
      val sg = r6d(math.sqrt(
        (for (sxx <- acc.get(1); mu <- mu) yield (sxx - n * mu * mu) / (n - 1))
          .fold(0.0)(math.max(0.0, _))))
      var sp = 0.0; var mx = 0.0; var al = 0L; var above = false
      xs.foreach { x =>
        sp = sqlR6d((for (x <- x; mu <- mu) yield sp + (x - mu - CusumK * sg))
          .fold(0.0)(math.max(0.0, _)))
        mx = math.max(mx, sp)
        val now = sp > CusumH * sg
        if (now && !above) al += 1
        above = now
      }
      CusumRow(mu, sg, mx, al)
    }
  }

  def tsCusumAlarmDf(dl: DataFrame): DataFrame =
    Round6Ops.foldSeries(dl)(cusumChart)
      .filter(col("n_obs") >= 2)
      .select(col("user_id"), col("n_obs"), col("st.*"))
      .orderBy(col("user_id"))

  val tsCusumAlarmSql: String = {
    val r6 = (x: String) => sqlR(x, 6)
    // list-typed accumulator [sp, mx, al, ab] — the DuckDB 1.0.0
    // list_reduce struct-state bug workaround (see ts_holt)
    val sp = r6(s"greatest(CAST(0.0 AS DOUBLE), acc[1] + (e[1] - mu - $CusumK * sg))")
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |series AS (
       |  SELECT user_id, count(*) AS n_obs,
       |         ${sqlSum("sst")} AS sx, ${sqlSum("sst * sst")} AS sxx,
       |         list(sst ORDER BY d) AS xs
       |  FROM daily GROUP BY 1),
       |mom AS (
       |  SELECT user_id, n_obs, xs,
       |         ${r6("sx / n_obs")} AS mu,
       |         ${r6("sqrt(greatest(0.0, (sxx - n_obs * (" + r6("sx / n_obs") +
                ") * (" + r6("sx / n_obs") + ")) / (n_obs - 1)))")} AS sg
       |  FROM series WHERE n_obs >= 2),
       |folded AS (
       |  SELECT user_id, n_obs, mu, sg,
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0],
       |        list_transform(xs, x -> [x, 0.0, 0.0, 0.0])),
       |      (acc, e) -> [
       |        $sp,
       |        greatest(acc[2], $sp),
       |        acc[3] + (CASE WHEN $sp > $CusumH * sg AND acc[4] = 0.0
       |                       THEN 1.0 ELSE 0.0 END),
       |        CASE WHEN $sp > $CusumH * sg THEN 1.0 ELSE 0.0 END]) AS st
       |  FROM mom)
       |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs, mu, sg AS sigma,
       |       st[2] AS cusum_max, CAST(st[3] AS BIGINT) AS n_alarms
       |FROM folded ORDER BY user_id""".stripMargin
  }

  // -------------------------------------------- #137 events_ab_lift

  private[graft] val AbConvMin = 14L // engagement threshold, ≈ the median

  /** The ONE experiment arm assignment (md5 parity of the user key),
    * shared by #137 and its CUPED companion #141 — re-keying it in one
    * op but not the other would silently split users into different
    * arms across the two readouts of the same experiment. */
  private[graft] def armExpr: Column = armExprSalted("")

  /** Arm assignment under an optional salt prefix — '' is THE
    * experiment arm; an independent salt ('aa:') gives the #277 A/A
    * split, orthogonal by construction. Always CAST ... AS BIGINT:
    * without it the 60-bit decimal string coerces through DOUBLE under
    * non-ANSI sessions and the parity collapses. */
  private[graft] def armExprSalted(salt: String): Column = expr(
    s"CAST(conv(substring(md5(CAST(concat('$salt', CAST(user_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 2")

  private[graft] val armSqlCte: String = armSqlCteSalted("")

  private[graft] def armSqlCteSalted(salt: String): String =
    s"""users AS (
      |  SELECT user_id,
      |         ('0x' || substr(md5('$salt' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
      |  FROM (SELECT DISTINCT user_id FROM events))""".stripMargin

  /** #137 events_ab_lift: the A/B experiment readout — users are
    * deterministically split into two arms by md5 hash parity (the
    * #78 md5-uniform assignment discipline: reproducible, unit-keyed,
    * no RNG), a user "converts" on a metric event type when they
    * emitted it at least [[AbConvMin]] times (an engagement threshold —
    * mere presence is saturated in a dense corpus and collapses the
    * pooled variance to zero), and the report per event type is arm
    * sizes, conversion counts/rates, relative lift, and the
    * two-proportion z-statistic under the pooled-variance null — the
    * decision table every experimentation pipeline ships. Degenerate
    * cells guard to NULL (pa = 0 → no lift; se = 0 → no z) instead of
    * erroring under ANSI division.
    *
    * Scale shape: one (user, type) count rollup + one distinct
    * user→arm table (both ≤ users × |types|), a per-(type, arm) count
    * rollup, and a broadcast of the two arm totals — no window, no
    * per-user state. z's sqrt is IEEE-exact; divisions are 6dp-rounded
    * at the edges only. */
  /** The (type, arm sizes, conversion counts) cell table — the shared
    * input of the #137 readout and the #149 design table. */
  private def abCells(s: SparkSession, dir: String): DataFrame =
    abCellsSalted(s, dir, "")

  /** The cell machinery under an arbitrary arm salt — ONE audited copy
    * serves #137, #149 and the #277 A/A calibration. */
  private[graft] def abCellsSalted(s: SparkSession, dir: String,
                                   salt: String): DataFrame = {
    val users = Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("arm", armExprSalted(salt))
    // ONE aggregate row of conditional sums (the SQL sizes CTE): a
    // degenerate corpus whose users all hash to one arm yields n=0 on
    // the empty side, not an empty frame that would zero the crossJoin
    val sizes = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
    val conv = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= AbConvMin)
      .join(graft.Hints.keyDim(users), "user_id")
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("conv_a"),
           sum(when(col("arm") === 1, 1L).otherwise(0L)).as("conv_b"))
    conv.crossJoin(broadcast(sizes))
  }

  private def abPa = col("conv_a").cast("double") / col("n_a").cast("double")
  private def abPb = col("conv_b").cast("double") / col("n_b").cast("double")
  private def abPp = (col("conv_a") + col("conv_b")).cast("double") /
                     (col("n_a") + col("n_b")).cast("double")

  def eventsAbLift(s: SparkSession, dir: String): DataFrame = {
    val (pa, pb, pp) = (abPa, abPb, abPp)
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val bothArms = col("n_a") > 0 && col("n_b") > 0
    abCells(s, dir)
      .select(col("event_type"), col("n_a"), col("n_b"),
              col("conv_a"), col("conv_b"),
              when(col("n_a") > 0, r(pa, 6)).as("rate_a"),
              when(col("n_b") > 0, r(pb, 6)).as("rate_b"),
              when(bothArms && col("conv_a") > 0, r(pb / pa - 1.0, 6)).as("lift"),
              when(bothArms, when(se > 0.0, r((pb - pa) / se, 6))).as("z_score"))
      .orderBy(col("event_type"))
  }

  private val abPaSql = "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
  private val abPbSql = "(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
  private val abPpSql = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"

  /** SQL twin of [[abCells]] — the CTE prefix (arm assignment, arm
    * sizes, per-type conversion counts) shared by #137 and #149; ends
    * with a `cells` CTE of the same shape as the Spark frame. */
  private val abCellsSqlPrefix: String = abCellsSqlPrefixSalted("")

  /** SQL twin of [[abCellsSalted]]. */
  private[graft] def abCellsSqlPrefixSalted(salt: String): String =
    s"""WITH ${armSqlCteSalted(salt)},
       |sizes AS (
       |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM users),
       |conv AS (
       |  SELECT e.event_type,
       |         CAST(sum(CASE WHEN u.arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
       |         CAST(sum(CASE WHEN u.arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM (SELECT user_id, event_type FROM events
       |        GROUP BY 1, 2 HAVING count(*) >= $AbConvMin) e
       |  JOIN users u USING (user_id)
       |  GROUP BY 1),
       |cells AS (SELECT * FROM conv CROSS JOIN sizes)""".stripMargin

  val eventsAbLiftSql: String = {
    val (pa, pb, pp) = (abPaSql, abPbSql, abPpSql)
    val se = s"sqrt($pp * (1.0 - $pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    abCellsSqlPrefix +
    s"""
       |SELECT event_type, n_a, n_b, conv_a, conv_b,
       |       CASE WHEN n_a > 0 THEN ${sqlR(pa, 6)} END AS rate_a,
       |       CASE WHEN n_b > 0 THEN ${sqlR(pb, 6)} END AS rate_b,
       |       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a > 0
       |            THEN ${sqlR(s"$pb / $pa - 1.0", 6)} END AS lift,
       |       CASE WHEN n_a > 0 AND n_b > 0
       |            THEN (CASE WHEN $se > 0.0
       |                       THEN ${sqlR(s"($pb - $pa) / $se", 6)} END) END AS z_score
       |FROM cells ORDER BY event_type""".stripMargin
  }

  // --------------------------------------- #149 events_power_analysis

  // z_{α/2} at 5% two-sided + z_β at 80% power — one Scala-computed
  // constant interpolated into BOTH engines (identical double)
  private val ZPower = 1.959964 + 0.841621

  /** #149 events_power_analysis: the experiment DESIGN table that
    * belongs next to the #137 readout — per metric event type, from
    * the same cell table: the pooled base rate, the minimum detectable
    * effect at 5%/80% (MDE = (z_{α/2}+z_β)·√(p(1−p)(1/n_a+1/n_b))),
    * its relative form, the observed |Δ|, and whether the observed
    * effect clears the MDE ("was this experiment even big enough?").
    * Teams read this BEFORE trusting a flat #137 readout. Pure
    * arithmetic over the broadcast cells — no new scan. */
  def eventsPowerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val (pa, pb, pp) = (abPa, abPb, abPp)
    val seUnit = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val ok = col("n_a") > 0 && col("n_b") > 0
    val mde = r(lit(ZPower) * seUnit, 6)
    abCells(s, dir)
      .select(col("event_type"), col("n_a"), col("n_b"),
              when(ok, r(pp, 6)).as("p_pooled"),
              when(ok, mde).as("mde_abs"),
              when(ok && abPp > 0.0, r(mde / pp, 6)).as("mde_rel"),
              when(ok, r(abs(pb - pa), 6)).as("observed_effect"),
              when(ok, r(abs(pb - pa), 6) >= mde).as("detectable"))
      .orderBy(col("event_type"))
  }

  val eventsPowerAnalysisSql: String = {
    val (pa, pb, pp) = (abPaSql, abPbSql, abPpSql)
    val seUnit = s"sqrt($pp * (1.0 - $pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    val mde = sqlR(s"$ZPower * $seUnit", 6)
    val ok = "n_a > 0 AND n_b > 0"
    abCellsSqlPrefix +
    s"""
       |SELECT event_type, n_a, n_b,
       |       CASE WHEN $ok THEN ${sqlR(pp, 6)} END AS p_pooled,
       |       CASE WHEN $ok THEN $mde END AS mde_abs,
       |       CASE WHEN $ok AND $pp > 0.0 THEN ${sqlR(s"($mde) / $pp", 6)} END AS mde_rel,
       |       CASE WHEN $ok THEN ${sqlR(s"abs($pb - $pa)", 6)} END AS observed_effect,
       |       CASE WHEN $ok THEN ${sqlR(s"abs($pb - $pa)", 6)} >= $mde END AS detectable
       |FROM cells ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------- #141 events_cuped_lift

  /** #141 events_cuped_lift: the variance-reduced A/B readout — CUPED
    * (Deng et al. 2013): split the record at its midpoint timestamp,
    * use each user's PRE-period activity count as the covariate X for
    * their post-period metric Y, estimate θ = cov(X,Y)/var(X) pooled
    * over both arms, and report per event type the raw arm-mean lift
    * next to the adjusted lift (Ȳ_b − θX̄_b) − (Ȳ_a − θX̄_a) and the
    * achieved variance-reduction ratio 1 − var(Y−θX)/var(Y). The
    * production companion of #137: same experiment, tighter confidence
    * for the same traffic.
    *
    * Scale shape: the per-(user, type) pre/post counts are one
    * conditional rollup against a broadcast midpoint scalar; users
    * absent from a (type, period) cell contribute zeros via the dense
    * user×type grid (|types| is a bounded vocabulary, so the grid is
    * user-cardinality ×|types|, built by a broadcast cross of the
    * distinct-type dim — never a row fanout). θ and every moment are
    * decimal-exact sums; divisions 6dp-round at the edges. */
  def eventsCupedLift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val us = epochUs(col("ts"))
    val mid = ev.agg(
      floor((min(us) + max(us)) / lit(2.0)).cast("long").as("mid_us"))
    val users = ev.select(col("user_id")).distinct().withColumn("arm", armExpr)
    val types = ev.select(col("event_type")).distinct()
    val grid = graft.Hints.keyDim(users).crossJoin(broadcast(types))
    val counts = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(when(us < col("mid_us"), 1L).otherwise(0L)).as("x"),
           sum(when(us >= col("mid_us"), 1L).otherwise(0L)).as("y"))
    val xy = grid.join(counts, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"), col("arm"),
              coalesce(col("x"), lit(0L)).cast("double").as("x"),
              coalesce(col("y"), lit(0L)).cast("double").as("y"))
    val agg = xy.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
           dsum(col("x") * col("x")).as("sxx"),
           dsum(col("y") * col("y")).as("syy"),
           dsum(col("x") * col("y")).as("sxy"),
           sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
           dsum(when(col("arm") === 0, col("y")).otherwise(0.0)).as("sy_a"),
           dsum(when(col("arm") === 1, col("y")).otherwise(0.0)).as("sy_b"),
           dsum(when(col("arm") === 0, col("x")).otherwise(0.0)).as("sx_a"),
           dsum(when(col("arm") === 1, col("x")).otherwise(0.0)).as("sx_b"))
      .withColumn("n_b", col("n") - col("n_a"))
    val varX = (col("sxx") - col("sx") * col("sx") / col("n"))
    val covXY = (col("sxy") - col("sx") * col("sy") / col("n"))
    val varY = (col("syy") - col("sy") * col("sy") / col("n"))
    val withTheta = agg.withColumn("theta",
      when(varX > 0.0, r(covXY / varX, 6)).otherwise(lit(0.0)))
    val liftRaw = col("sy_b") / col("n_b") - col("sy_a") / col("n_a")
    val liftCuped = (col("sy_b") / col("n_b") -
                     col("theta") * (col("sx_b") / col("n_b"))) -
                    (col("sy_a") / col("n_a") -
                     col("theta") * (col("sx_a") / col("n_a")))
    val varResid = varY - lit(2.0) * col("theta") * covXY +
                   col("theta") * col("theta") * varX
    withTheta.select(col("event_type"), col("n"),
        col("n_a"), col("n_b"), col("theta"),
        r(liftRaw, 6).as("lift_raw"),
        r(liftCuped, 6).as("lift_cuped"),
        when(varY > 0.0, r(lit(1.0) - varResid / varY, 6)).as("var_reduction"))
      .orderBy(col("event_type"))
  }

  val eventsCupedLiftSql: String = {
    val varX = "(sxx - sx * sx / n)"
    val covXY = "(sxy - sx * sy / n)"
    val varY = "(syy - sy * sy / n)"
    val theta = s"CASE WHEN $varX > 0.0 THEN ${sqlR(s"$covXY / $varX", 6)} ELSE 0.0 END"
    val liftRaw = "sy_b / n_b - sy_a / n_a"
    val liftCuped = "(sy_b / n_b - theta * (sx_b / n_b)) - (sy_a / n_a - theta * (sx_a / n_a))"
    val varResid = s"$varY - 2.0 * theta * $covXY + theta * theta * $varX"
    s"""WITH mid AS (
       |  SELECT CAST(floor((min(epoch_us(CAST(ts AS TIMESTAMP))) +
       |                     max(epoch_us(CAST(ts AS TIMESTAMP)))) / 2.0) AS BIGINT) AS mid_us
       |  FROM events),
       |$armSqlCte,
       |grid AS (
       |  SELECT u.user_id, u.arm, t.event_type
       |  FROM users u CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
       |counts AS (
       |  SELECT user_id, event_type,
       |         CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid.mid_us THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid.mid_us THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events CROSS JOIN mid GROUP BY 1, 2),
       |xy AS (
       |  SELECT g.event_type, g.arm,
       |         CAST(COALESCE(c.x, 0) AS DOUBLE) AS x,
       |         CAST(COALESCE(c.y, 0) AS DOUBLE) AS y
       |  FROM grid g LEFT JOIN counts c USING (user_id, event_type)),
       |agg AS (
       |  SELECT event_type, count(*) AS n,
       |         ${sqlSum("x")} AS sx, ${sqlSum("y")} AS sy,
       |         ${sqlSum("x * x")} AS sxx, ${sqlSum("y * y")} AS syy,
       |         ${sqlSum("x * y")} AS sxy,
       |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(count(*) - sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         ${sqlSum("CASE WHEN arm = 0 THEN y ELSE 0.0 END")} AS sy_a,
       |         ${sqlSum("CASE WHEN arm = 1 THEN y ELSE 0.0 END")} AS sy_b,
       |         ${sqlSum("CASE WHEN arm = 0 THEN x ELSE 0.0 END")} AS sx_a,
       |         ${sqlSum("CASE WHEN arm = 1 THEN x ELSE 0.0 END")} AS sx_b
       |  FROM xy GROUP BY 1),
       |th AS (SELECT *, $theta AS theta FROM agg)
       |SELECT event_type, CAST(n AS BIGINT) AS n, n_a, n_b, theta,
       |       ${sqlR(liftRaw, 6)} AS lift_raw,
       |       ${sqlR(liftCuped, 6)} AS lift_cuped,
       |       CASE WHEN $varY > 0.0
       |            THEN ${sqlR(s"1.0 - ($varResid) / $varY", 6)} END AS var_reduction
       |FROM th ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------- #145 events_bot_score

  private val BotEntropyMax = 1.0 // nats; ln(|types|) ≈ 1.6 for 5 types
  private val BotCvMax = 0.5      // machine-regular interarrival

  /** #145 events_bot_score: the behavioral bot-likelihood feature table
    * — per user: event volume, events/day rate, type-mix Shannon
    * entropy (the #122 feature, composed), and the coefficient of
    * variation of interarrival gaps. The rule flag fires on the classic
    * bot signature: LOW type entropy (single-purpose) AND LOW gap CV
    * (machine-regular timing). The feature-builder + rule shape is what
    * an abuse pipeline ships first; the thresholds are the tunable
    * heuristic seam.
    *
    * Scale shape: gaps come from one per-user lag window (bounded by
    * events-per-user, the #53 contract), moments are decimal-exact,
    * entropy joins #122's user-cardinality output — three
    * user-cardinality frames joined on the user key. */
  def eventsBotScore(s: SparkSession, dir: String): DataFrame =
    eventsBotScoreDf(Tables.events(s, dir))

  def eventsBotScoreDf(ev: DataFrame): DataFrame = {
    val us = epochUs(col("ts"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gaps = ev.select(col("user_id"), col("event_id"), us.as("us"))
      .withColumn("gap", (col("us") - lag(col("us"), 1).over(w)).cast("double"))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
           dsum(col("gap")).as("sg"),
           dsum(col("gap") * col("gap")).as("sgg"))
      .withColumn("mean_gap", r(col("sg") / col("n_gaps"), 6))
      .withColumn("sd_gap", r(sqrt(greatest(lit(0.0),
        (col("sgg") - col("n_gaps") * col("mean_gap") * col("mean_gap")) /
          (col("n_gaps") - 1))), 6))
      .select(col("user_id"),
              when(col("n_gaps") >= 2 && col("mean_gap") > 0,
                r(col("sd_gap") / col("mean_gap"), 6)).as("cv_gap"))
    val spans = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(us).as("min_us"), max(us).as("max_us"))
      .withColumn("span_days",
        (col("max_us") - col("min_us")).cast("double") / 86400000000.0)
      .select(col("user_id"), col("n_events"),
              when(col("span_days") > 0, r(col("n_events") / col("span_days"), 6))
                .as("rate_per_day"))
    val ent = Round6Ops.eventsTypeEntropyDf(ev)
      .select(col("user_id"), col("entropy"))
    spans.join(gaps, Seq("user_id"), "left")
      .join(ent, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("rate_per_day"),
              col("entropy"), col("cv_gap"),
              (col("entropy") < BotEntropyMax && col("cv_gap") < BotCvMax)
                .as("is_bot_like"))
      .orderBy(col("user_id"))
  }

  val eventsBotScoreSql: String =
    s"""WITH ent AS (${Round6Ops.eventsTypeEntropySql}),
       |gaps AS (
       |  SELECT user_id,
       |         CAST(epoch_us(CAST(ts AS TIMESTAMP)) -
       |              lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
       |                (PARTITION BY user_id
       |                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
       |              AS DOUBLE) AS gap
       |  FROM events),
       |gm AS (
       |  SELECT user_id, count(*) AS n_gaps,
       |         ${sqlSum("gap")} AS sg, ${sqlSum("gap * gap")} AS sgg
       |  FROM gaps WHERE gap IS NOT NULL GROUP BY 1),
       |cv AS (
       |  SELECT user_id,
       |         CASE WHEN n_gaps >= 2 AND ${sqlR("sg / n_gaps", 6)} > 0
       |              THEN ${sqlR(
                        sqlR("sqrt(greatest(0.0, (sgg - n_gaps * (" +
                          sqlR("sg / n_gaps", 6) + ") * (" + sqlR("sg / n_gaps", 6) +
                          ")) / (n_gaps - 1)))", 6) + " / (" + sqlR("sg / n_gaps", 6) + ")", 6)}
       |         END AS cv_gap
       |  FROM gm),
       |spans AS (
       |  SELECT user_id, count(*) AS n_events,
       |         CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) -
       |              min(epoch_us(CAST(ts AS TIMESTAMP))) AS DOUBLE) / 86400000000.0 AS span_days
       |  FROM events GROUP BY 1)
       |SELECT s.user_id, CAST(s.n_events AS BIGINT) AS n_events,
       |       CASE WHEN s.span_days > 0
       |            THEN ${sqlR("s.n_events / s.span_days", 6)} END AS rate_per_day,
       |       e.entropy, c.cv_gap,
       |       (e.entropy < $BotEntropyMax AND c.cv_gap < $BotCvMax) AS is_bot_like
       |FROM spans s
       |LEFT JOIN cv c USING (user_id)
       |LEFT JOIN ent e USING (user_id)
       |ORDER BY s.user_id""".stripMargin

  // -------------------------------------------- #134 ts_periodogram

  private[graft] val PeriodogramPeriods = Seq(7, 14, 30)

  /** #134 ts_periodogram: spectral power of each user's daily series at
    * fixed candidate periods P ∈ {7, 14, 30} days — the mean-centered
    * discrete Fourier magnitude
    *   power(P) = (Σ(x−x̄)·cos φ)² + (Σ(x−x̄)·sin φ)²) / n,  φ = 2π·(day mod P)/P
    * — the seasonality detector that decides which period
    * #76 ts_seasonal_decompose should strip. Evaluating only a bounded
    * period grid keeps this a PLAIN AGGREGATE (unlike a full FFT, which
    * would need the whole series in one place): the mean-centering is
    * expanded algebraically (Σx·c − x̄·Σc) so one pass collects all five
    * sums as mergeable decimal partials — one shuffle, map-side ×3
    * period fan-out, no window, no array build.
    *
    * Parity: cos/sin are the libm calls whose last ulp can differ across
    * engines, so both are 6dp-rounded before use (#24f ln discipline);
    * taking day MOD P first keeps the phase argument in [0, 2π) where
    * argument reduction is exact. */
  def tsPeriodogram(s: SparkSession, dir: String): DataFrame =
    tsPeriodogramDf(Mhw.daily(s, dir))

  def tsPeriodogramDf(dl: DataFrame): DataFrame = {
    val day = datediff(col("d"), lit("1970-01-01"))
    val phase = lit(2.0 * math.Pi) * pmod(day, col("p")) / col("p")
    val terms = dl
      .withColumn("p", explode(array(PeriodogramPeriods.map(lit(_)): _*)))
      .withColumn("c", r(cos(phase), 6))
      .withColumn("sn", r(sin(phase), 6))
    terms.groupBy(col("user_id"), col("p"))
      .agg(count(lit(1)).as("n_obs"),
           dsum(col("sst")).as("sx"),
           dsum(col("sst") * col("c")).as("sxc"),
           dsum(col("sst") * col("sn")).as("sxs"),
           dsum(col("c")).as("sc"),
           dsum(col("sn")).as("ss"))
      .withColumn("a", col("sxc") - (col("sx") / col("n_obs")) * col("sc"))
      .withColumn("b", col("sxs") - (col("sx") / col("n_obs")) * col("ss"))
      .select(col("user_id"), col("p").cast("int").as("period"), col("n_obs"),
        r((col("a") * col("a") + col("b") * col("b")) / col("n_obs"), 6)
          .as("power"))
      .orderBy(col("user_id"), col("period"))
  }

  val tsPeriodogramSql: String = {
    val phase = "(2 * pi() * (datediff('day', DATE '1970-01-01', d) % p)) / p"
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |per AS (SELECT p FROM (VALUES (7), (14), (30)) periods(p)),
       |terms AS (
       |  SELECT user_id, p, sst,
       |         ${sqlR(s"cos($phase)", 6)} AS c,
       |         ${sqlR(s"sin($phase)", 6)} AS sn
       |  FROM daily CROSS JOIN per),
       |agg AS (
       |  SELECT user_id, p, count(*) AS n_obs,
       |         ${sqlSum("sst")} AS sx,
       |         ${sqlSum("sst * c")} AS sxc,
       |         ${sqlSum("sst * sn")} AS sxs,
       |         ${sqlSum("c")} AS sc,
       |         ${sqlSum("sn")} AS ss
       |  FROM terms GROUP BY 1, 2),
       |ab AS (
       |  SELECT user_id, p, n_obs,
       |         sxc - (sx / n_obs) * sc AS a,
       |         sxs - (sx / n_obs) * ss AS b
       |  FROM agg)
       |SELECT user_id, CAST(p AS INT) AS period, n_obs,
       |       ${sqlR("(a * a + b * b) / n_obs", 6)} AS power
       |FROM ab ORDER BY 1, 2""".stripMargin
  }
}
