package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-6 batch-10 analytics (SURVEY §2 #152): the Kaplan–Meier
  * survival curve over return times — censoring-aware "when does the
  * user come back?", the statistic naive inter-arrival means (#63)
  * get wrong at the observation edge (each user's LAST event has no
  * observed next; dropping it biases return times short, counting it
  * as churn biases them long — KM censoring is the correct handling).
  */
object Round6Ops3 {

  /** #152 events_survival_km: Kaplan–Meier over RETURN TIMES — for
    * every event, the duration (whole hours) until that user's next
    * event; each user's last event is right-CENSORED at the corpus
    * end (still "at risk" of returning when observation stopped). Per
    * duration hour t: the at-risk count, return/censor exits, the KM
    * factor (1 − d_t/n_t), and the survival curve
    * S(t) = Π_{u≤t} (1 − d_u/n_u) — the probability a user is still
    * away t hours after an event. THE return-time readout a
    * growth/engagement team publishes (and the principled version of
    * a session-timeout choice: the knee of this curve).
    *
    * Scale shape: durations come from ONE per-user lead window
    * (bounded by events-per-user, the #64 lag-features contract) plus
    * a broadcast corpus-end scalar; the curve lives on a DENSE hour
    * grid bounded by the corpus time span (never key- or
    * row-proportional), so the at-risk cumsum and the sequential
    * survival product run over a model-sized table. The product is a
    * 6dp-rounded left fold over the ordered factor array (the #115
    * Holt recurrence discipline: every step rounds, multiplication is
    * IEEE-exact, so the oracle's list_reduce replay is bit-identical).
    */
  def eventsSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
    val endRow = ev.agg(max(col("ts")).as("end_ts"))
    val durs = ev
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .crossJoin(broadcast(endRow))
      // microsecond-exact integer arithmetic (unix_micros / epoch_us):
      // truncation == floor for the non-negative durations here
      .select(
        expr("(unix_micros(coalesce(next_ts, end_ts)) - unix_micros(ts)) div 3600000000")
          .cast("long").as("dur"),
        col("next_ts").isNull.as("censored"))
    val byDur = durs.groupBy(col("dur"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d_ret"),
           sum(when(col("censored"), 1L).otherwise(0L)).as("d_cens"))
    val tot = durs.agg(max(col("dur")).as("max_dur"), count(lit(1)).as("n_obs"))
    val grid = tot.select(
      explode(sequence(lit(0L), col("max_dur"))).as("hour"), col("n_obs"))
    val dense = grid.join(byDur, grid("hour") === byDur("dur"), "left")
      .select(col("hour"), col("n_obs"),
              coalesce(col("d_ret"), lit(0L)).as("n_returned"),
              coalesce(col("d_cens"), lit(0L)).as("n_censored"))
    // the grid is bounded by the corpus span in hours (broadcast
    // scalar), so the single-partition cumulative window is over a
    // model-sized table — the #116 KS-grid contract, not a
    // key-proportional window
    val wPrev = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fac = dense
      .withColumn("n_risk",
        col("n_obs") - coalesce(
          sum(col("n_returned") + col("n_censored")).over(wPrev), lit(0L)))
      .withColumn("factor",
        when(col("n_risk") > 0,
             r(lit(1.0) - col("n_returned").cast("double") /
               col("n_risk").cast("double"), 6))
          .otherwise(lit(1.0)))
      .select(col("hour"), col("n_risk"), col("n_returned"),
              col("n_censored"), col("factor"))
    // sequential 6dp-rounded running product over the ordered factors —
    // one bounded array on one row, then re-exploded against the grid
    val fold = "slice(aggregate(rows, array(CAST(1.0 AS DOUBLE)), " +
      "(acc, x) -> concat(acc, array(" +
      sqlR("element_at(acc, size(acc)) * x.factor", 6) +
      "))), 2, size(rows))"
    fac.agg(sort_array(collect_list(struct(
        col("hour"), col("n_risk"), col("n_returned"), col("n_censored"),
        col("factor")))).as("rows"))
      .withColumn("surv", expr(fold))
      .select(explode(arrays_zip(col("rows"), col("surv"))).as("z"))
      .select(col("z.rows.hour").as("hour"),
              col("z.rows.n_risk").as("n_risk"),
              col("z.rows.n_returned").as("n_returned"),
              col("z.rows.n_censored").as("n_censored"),
              col("z.rows.factor").as("factor"),
              col("z.surv").as("survival"))
      .orderBy(col("hour"))
  }

  val eventsSurvivalKmSql: String = {
    val fold = "list_reduce(list_prepend([CAST(1.0 AS DOUBLE)], " +
      "list_transform(fs, x -> [x])), (acc, e) -> list_append(acc, " +
      sqlR("acc[len(acc)] * e[1]", 6) + "))"
    s"""WITH ev AS (SELECT user_id, ts, event_id FROM events),
       |endd AS (SELECT max(ts) AS end_ts FROM ev),
       |durs AS (
       |  SELECT CAST((epoch_us(COALESCE(next_ts, end_ts)) - epoch_us(ts)) // 3600000000 AS BIGINT) AS dur,
       |         next_ts IS NULL AS censored
       |  FROM (SELECT user_id, ts,
       |               lead(ts) OVER (PARTITION BY user_id
       |                              ORDER BY ts, event_id) AS next_ts
       |        FROM ev) g CROSS JOIN endd),
       |byd AS (
       |  SELECT dur,
       |         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d_ret,
       |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS d_cens
       |  FROM durs GROUP BY 1),
       |tot AS (SELECT max(dur) AS max_dur, count(*) AS n_obs FROM durs),
       |grid AS (
       |  SELECT CAST(g.g AS BIGINT) AS hour, n_obs
       |  FROM tot CROSS JOIN LATERAL
       |    (SELECT unnest(range(0, max_dur + 1)) AS g) g),
       |dense AS (
       |  SELECT hour, n_obs, COALESCE(d_ret, 0) AS n_returned,
       |         COALESCE(d_cens, 0) AS n_censored
       |  FROM grid LEFT JOIN byd ON grid.hour = byd.dur),
       |fac AS (
       |  SELECT hour,
       |         n_obs - COALESCE(sum(n_returned + n_censored)
       |           OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
       |                 AND 1 PRECEDING), 0) AS n_risk,
       |         n_returned, n_censored
       |  FROM dense),
       |fac2 AS (
       |  SELECT hour, CAST(n_risk AS BIGINT) AS n_risk, n_returned, n_censored,
       |         CASE WHEN n_risk > 0
       |              THEN ${sqlR("1.0 - CAST(n_returned AS DOUBLE) / n_risk", 6)}
       |              ELSE 1.0 END AS factor
       |  FROM fac),
       |folded AS (SELECT $fold AS s
       |           FROM (SELECT list(factor ORDER BY hour) AS fs FROM fac2))
       |SELECT f.hour, f.n_risk, f.n_returned, f.n_censored, f.factor,
       |       fl.s[CAST(f.hour AS INT) + 2] AS survival
       |FROM fac2 f CROSS JOIN folded fl
       |ORDER BY f.hour""".stripMargin
  }

  // ------------------------------------------ #159 events_markov_attribution

  private[graft] val ConvType = "purchase"
  private[graft] val MarkovSolveIters = 50

  /** #159 events_markov_attribution: Markov REMOVAL-EFFECT attribution
    * (Anderl et al. 2014) — the channel-attribution model that replaces
    * last-touch heuristics: user journeys (event sequences cut at the
    * first conversion) become a first-order Markov chain with START /
    * CONV / NULL states; a channel's credit is how much the chain's
    * conversion probability drops when that channel is removed (its
    * transitions absorbed into NULL), normalized across channels.
    *
    * Scale shape: the corpus-scale work — per-user ordered path
    * assembly (one sorted-struct collect per user, the #63 contract)
    * and transition counting — is one groupBy + HOF pipeline; the
    * transition matrix is |states|² ≤ ~50 rows, a MODEL artifact that
    * collects (the IVF-centroid / BPE-winner class), and the absorbing
    * fixed-point solve (`MarkovSolveIters` simultaneous rounds, one per
    * removal scenario) runs on that matrix with the Parity decimal
    * discipline: each term enters DECIMAL(38,10) (order-independent
    * sum), each state value rounds at 6dp per round — so the oracle's
    * recursive-CTE replay (list-state vector, decimal list_sum) lands
    * on identical bits. */
  /** The shared first-order journey model: absorbing-chain transition
    * probabilities (prev, next, 6dp prob) collected model-sized —
    * #159's derivation, also the input of #250's hitting times. */
  private[graft] def markovTransitions(s: SparkSession, dir: String)
      : Array[(String, String, Double)] = {
    val paths = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => x("event_type")).as("arr"))
    val cut = paths
      .select(expr(s"array_position(arr, '$ConvType')").as("pos"), col("arr"))
      .select(
        when(col("pos") > 0, expr("slice(arr, 1, CAST(pos AS INT) - 1)"))
          .otherwise(col("arr")).as("channels"),
        when(col("pos") > 0, lit("CONV")).otherwise(lit("NULL")).as("absorb"))
    val trans = cut
      .withColumn("prevs", concat(array(lit("START")), col("channels")))
      .withColumn("nexts", concat(col("channels"), array(col("absorb"))))
      .select(explode(arrays_zip(col("prevs"), col("nexts"))).as("t"))
      .select(col("t.prevs").as("prev"), col("t.nexts").as("next"))
    val tp = trans.groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", r(col("n") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("prev"))), 6))
      .select(col("prev"), col("next"), col("prob"))
    // model-sized collect: |states|² transition rows
    tp.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
  }

  def eventsMarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    val rows = markovTransitions(s, dir)
    val states = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
    val mat: Map[(String, String), Double] =
      rows.map { case (p, n, pr) => (p, n) -> pr }.toMap.withDefaultValue(0.0)
    // simultaneous fixed-point with the SQL-identical decimal discipline
    def solve(removed: Option[String]): Double = {
      var p: Map[String, Double] =
        states.map(st => st -> (if (st == "CONV") 1.0 else 0.0)).toMap
      for (_ <- 1 to MarkovSolveIters) {
        p = states.map { st =>
          st -> (st match {
            case "CONV" => 1.0
            case "NULL" => 0.0
            case c if removed.contains(c) => 0.0
            case c => graft.Parity.r6d(graft.Parity.exactSum(
              states.map(nx => mat((c, nx)) * p(nx))).getOrElse(0.0))
          })
        }.toMap
      }
      p.getOrElse("START", 0.0)
    }
    val channels = rows.map(_._1).filter(_ != "START").distinct.sorted
    val pFull = solve(None)
    val res = channels.map { c =>
      val pc = solve(Some(c))
      val re = if (pFull > 0.0) graft.Parity.r6d(1.0 - pc / pFull) else 0.0
      (c, pFull, pc, re)
    }
    val totRe = graft.Parity.exactSum(res.map(_._4)).getOrElse(0.0)
    import s.implicits._
    res.toSeq.map { case (c, pf, pc, re) =>
      (c, pf, pc, re,
       if (totRe > 0.0) graft.Parity.r6d(re / totRe) else 0.0)
    }.toDF("channel", "p_full", "p_removed", "removal_effect", "attribution")
      .orderBy(col("channel"))
  }

  /** The shared journey-chain CTE prefix (paths → transition matrix →
    * state list → row-major matrix `m`) — BOTH absorbing-chain oracles
    * (#159, #250) read THIS, never a re-derived copy. Starts with
    * `WITH RECURSIVE`; callers append their own iteration CTEs. */
  private[graft] def markovChainSqlPrefix: String = {
    val r6 = (x: String) => sqlR(x, 6)
    s"""WITH RECURSIVE paths AS (
       |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS arr
       |  FROM events GROUP BY 1),
       |cut AS (
       |  SELECT CASE WHEN pos IS NOT NULL THEN arr[1:pos-1] ELSE arr END AS channels,
       |         CASE WHEN pos IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS absorb
       |  FROM (SELECT arr, list_position(arr, '$ConvType') AS pos FROM paths)),
       |trans AS (
       |  SELECT t.prevs[i.i] AS prev, t.nexts[i.i] AS next FROM (
       |    SELECT list_prepend('START', channels) AS prevs,
       |           list_append(channels, absorb) AS nexts
       |    FROM cut) t
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.prevs) + 1)) AS i) i),
       |tc AS (SELECT prev, next, count(*) AS n FROM trans GROUP BY 1, 2),
       |tp AS (SELECT prev, next,
       |              ${r6("n / (sum(n) OVER (PARTITION BY prev))")} AS prob
       |       FROM tc),
       |sts AS (SELECT list(DISTINCT s ORDER BY s) AS states FROM
       |          (SELECT prev AS s FROM tp UNION SELECT next FROM tp)),
       |grid AS (
       |  SELECT a.s AS a, b.s AS b, COALESCE(tp.prob, 0.0) AS prob
       |  FROM (SELECT unnest(states) AS s FROM sts) a
       |  CROSS JOIN (SELECT unnest(states) AS s FROM sts) b
       |  LEFT JOIN tp ON tp.prev = a.s AND tp.next = b.s),
       |mrows AS (SELECT a, list(prob ORDER BY b) AS prow FROM grid GROUP BY a),
       |m AS (
       |  SELECT s.states,
       |         (SELECT list(prow ORDER BY a) FROM mrows) AS mat
       |  FROM sts s)""".stripMargin
  }

  val eventsMarkovAttributionSql: String = {
    val r6 = (x: String) => sqlR(x, 6)
    val decSumIJ = "CAST(list_sum(list_transform(range(1, len(m.states) + 1), " +
      "j -> CAST(m.mat[i][j] * it.ps[j] AS DECIMAL(38,10)))) AS DOUBLE)"
    markovChainSqlPrefix +
    s""",
       |scen AS (SELECT 'FULL' AS removed
       |         UNION ALL
       |         SELECT DISTINCT prev FROM tp WHERE prev <> 'START'),
       |it AS (
       |  SELECT 0 AS k, sc.removed,
       |         list_transform(m.states, x ->
       |           CASE WHEN x = 'CONV' THEN CAST(1.0 AS DOUBLE)
       |                ELSE CAST(0.0 AS DOUBLE) END) AS ps
       |  FROM scen sc CROSS JOIN m
       |  UNION ALL
       |  SELECT it.k + 1, it.removed,
       |         list_transform(range(1, len(m.states) + 1), i ->
       |           CASE WHEN m.states[i] = 'CONV' THEN CAST(1.0 AS DOUBLE)
       |                WHEN m.states[i] = 'NULL' THEN CAST(0.0 AS DOUBLE)
       |                WHEN it.removed <> 'FULL' AND m.states[i] = it.removed
       |                  THEN CAST(0.0 AS DOUBLE)
       |                ELSE ${r6(decSumIJ)} END) AS ps
       |  FROM it CROSS JOIN m WHERE it.k < $MarkovSolveIters),
       |fin AS (
       |  SELECT it.removed,
       |         it.ps[list_position(m.states, 'START')] AS p_start
       |  FROM it CROSS JOIN m WHERE it.k = $MarkovSolveIters),
       |pf AS (SELECT p_start AS p_full FROM fin WHERE removed = 'FULL'),
       |res AS (
       |  SELECT f.removed AS channel, pf.p_full, f.p_start AS p_removed,
       |         CASE WHEN pf.p_full > 0.0
       |              THEN ${r6("1.0 - f.p_start / pf.p_full")}
       |              ELSE 0.0 END AS removal_effect
       |  FROM fin f CROSS JOIN pf WHERE f.removed <> 'FULL'),
       |tot AS (SELECT CAST(sum(CAST(removal_effect AS DECIMAL(38,10))) AS DOUBLE)
       |          AS tot_re FROM res)
       |SELECT channel, p_full, p_removed, removal_effect,
       |       CASE WHEN tot_re > 0.0 THEN ${r6("removal_effect / tot_re")}
       |            ELSE 0.0 END AS attribution
       |FROM res CROSS JOIN tot
       |ORDER BY channel""".stripMargin
  }
}
