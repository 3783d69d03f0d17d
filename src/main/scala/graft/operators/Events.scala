package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Event-stream analytics: sessionization, JSON extraction, rolling
  * windows, pivots, as-of joins. Every operator here is a single shuffle
  * on the series key (`user_id`) — all window specs share the same
  * partitioning+ordering so Catalyst plans one exchange+sort, and the
  * deterministic (ts, event_id) ordering makes results reproducible
  * across engines.
  */
object Events {

  private def wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")

  /** 30-minute-gap sessionization (SURVEY §2 #16). A session breaks when
    * the gap to the previous event of the same user exceeds 30 min.
    * Classic gaps-and-islands: one window pass + one aggregation, both on
    * the same key — a single shuffle regardless of scale. */
  def sessionize(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.events(s, dir)
    val gapS = gapMinutes * 60L
    ev.withColumn("prev_ts", lag("ts", 1).over(wUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
             unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapS, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("brk").over(wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_s"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |                OR floor(epoch(CAST(ts AS TIMESTAMP))) - floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)) > 1800
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events,
      |       CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
      |FROM sess GROUP BY 1, 2""".stripMargin

  /** #16b sessionization via Spark's NATIVE `session_window` grouping —
    * the engine-level form of #16: Catalyst plans a dedicated
    * SessionWindowing + MergingSessions physical operator (sort-merge of
    * per-key overlapping windows) instead of a lag/sum window chain, and
    * the same expression runs unchanged under Structured Streaming with
    * state-store-backed session merging. Semantics differ from the
    * manual sessionizer deliberately: the window closes at gap >= 30 min
    * (half-open [start, last+gap) windows) at full µs precision, vs
    * #16's gap > 30 min on truncated seconds — the oracle pins the
    * native contract exactly. */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
              col("sw.end").as("session_end"), col("n_events"))

  val sessionWindowNativeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) >= 1800000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** JSON property extraction + aggregation (#17). `get_json_object` is a
    * codegen'd Catalyst expression — stays inside whole-stage codegen. */
  def jsonStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
           davg(col("k").cast("double"), 6).as("avg_k"),
           sum(col("k")).cast("long").as("sum_k"))

  val jsonStatsSql: String =
    s"""SELECT event_type, count(k) AS n,
       |       ${sqlAvg("CAST(k AS DOUBLE)", 6)} AS avg_k,
       |       CAST(sum(k) AS BIGINT) AS sum_k
       |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS INT) AS k
       |      FROM events)
       |GROUP BY 1""".stripMargin

  /** Per-user rolling mean/max over the 4 preceding + current events
    * (#18). The rolling sum accumulates in DECIMAL so the frame's
    * summation order can't produce cross-engine ulp drift. */
  def windowStats(s: SparkSession, dir: String): DataFrame = {
    val frame = wUser.rowsBetween(-4, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("roll_mean",
        r(sum(col("value").cast(Dec)).over(frame).cast("double") /
          count(lit(1)).over(frame), 6))
      .withColumn("roll_max", max(col("value")).over(frame))
  }

  val windowStatsSql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |       floor((CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE)
      |              / count(*) OVER w) * 1e6 + 0.5) / 1e6 AS roll_mean,
      |       max(value) OVER w AS roll_max
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin

  /** event_type → columns per user via conditional aggregation (#19).
    * Explicit conditionals rather than `.pivot()`: the output schema is
    * static (no driver-side distinct scan) and the plan is one partial
    * agg + one shuffle on user_id. */
  def pivotTypes(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val types = Seq("click", "view", "purchase", "signup", "error")
    val counts = types.map(t =>
      count(when(col("event_type") === t, 1)).as(s"n_$t"))
    val sums = Seq(
      dsum(when(col("event_type") === "purchase", col("value")), 4)
        .as("purchase_value"))
    ev.groupBy(col("user_id")).agg(counts.head, (counts.tail ++ sums): _*)
  }

  val pivotTypesSql: String =
    s"""SELECT user_id,
       |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       |  ${sqlSum("CASE WHEN event_type = 'purchase' THEN value END", 4)} AS purchase_value
       |FROM events GROUP BY 1""".stripMargin

  /** Cohort retention: users grouped by first-active day, counted by
    * days-since-cohort offset. Two keyed aggregations — first-seen per
    * user (one shuffle on user_id), then the cohort matrix (one shuffle
    * on the tiny (cohort, offset) key with map-side partials). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val retentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |),
      |first AS (
      |  SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1
      |)
      |SELECT cohort, datediff('day', cohort, d) AS day_offset,
      |       count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN first USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Conversion funnel: earliest view → first click after it → first
    * purchase after that, per user; emits per-stage user counts and
    * median stage latencies. Three keyed aggregations co-partitioned on
    * user_id (AQE coalesces the repeated exchanges); stage tables are
    * per-user and join back on the same key — no broadcast needed, no
    * row explosion. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      .filter(col("t_view").isNotNull)
    val c = ev.join(v, "user_id")
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" && col("ts") > col("t_view"),
        col("ts"))).as("t_click"))
      .filter(col("t_click").isNotNull)
    val p = ev.join(c, "user_id")
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
        col("ts"))).as("t_purchase"))
    p.agg(
      count(col("t_view")).as("n_view"),
      count(col("t_click")).as("n_click"),
      count(col("t_purchase")).as("n_purchase"),
      sum(unix_timestamp(col("t_click")) - unix_timestamp(col("t_view")))
        .cast("long").as("sum_view_to_click_s"),
      sum(when(col("t_purchase").isNotNull,
        unix_timestamp(col("t_purchase")) - unix_timestamp(col("t_click"))))
        .cast("long").as("sum_click_to_purchase_s"))
  }

  val funnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |),
      |v AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      |  FROM ev GROUP BY 1 HAVING min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
      |),
      |c AS (
      |  SELECT ev.user_id, t_view,
      |         min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END) AS t_click
      |  FROM ev JOIN v USING (user_id) GROUP BY 1, 2
      |  HAVING min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END) IS NOT NULL
      |),
      |p AS (
      |  SELECT ev.user_id, t_view, t_click,
      |         min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END) AS t_purchase
      |  FROM ev JOIN c USING (user_id) GROUP BY 1, 2, 3
      |)
      |SELECT count(t_view) AS n_view, count(t_click) AS n_click,
      |       count(t_purchase) AS n_purchase,
      |       CAST(sum(floor(epoch(t_click)) - floor(epoch(t_view))) AS BIGINT) AS sum_view_to_click_s,
      |       CAST(sum(CASE WHEN t_purchase IS NOT NULL
      |                THEN floor(epoch(t_purchase)) - floor(epoch(t_click)) END) AS BIGINT)
      |         AS sum_click_to_purchase_s
      |FROM p""".stripMargin

  /** As-of join (#20): each purchase ↔ the latest prior click of the same
    * user. Re-expressed as union + one window pass (max of click-ts over
    * the preceding frame) instead of a fact×fact range join — shuffles
    * each side once on user_id and never materializes the pair space. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
    ev.withColumn("click_ts", when(col("event_type") === "click", col("ts")))
      .withColumn("last_click_ts",
        max(col("click_ts")).over(
          wUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("purchase_ts"), col("last_click_ts"))
  }

  val asofJoinSql: String =
    """SELECT event_id AS purchase_id, user_id,
      |       CAST(ts AS TIMESTAMP) AS purchase_ts, last_click_ts
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |         max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |)
      |WHERE event_type = 'purchase'""".stripMargin

  /** #20b asof_join_nearest: the full as-of direction family in ONE
    * window pass — per purchase, the latest prior click (backward), the
    * earliest later click (forward), and whichever is nearer in event
    * time (nearest; ties break backward, the pandas `merge_asof`
    * convention). Same single user_id exchange as [[asofJoin]]: the
    * union-of-streams window form never materializes a pair space, and
    * adding directions costs two more frame aggregates over the SAME
    * sort — not new shuffles. */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val clickTs = when(col("event_type") === "click", col("ts"))
    val prevUs = graft.Parity.epochUs(col("prev_click_ts"))
    val nextUs = graft.Parity.epochUs(col("next_click_ts"))
    val pUs = graft.Parity.epochUs(col("ts"))
    Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_ts", clickTs)
      .withColumn("prev_click_ts",
        max(col("click_ts")).over(wUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_click_ts",
        min(col("click_ts")).over(wUser.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_click_ts",
        when(col("next_click_ts").isNull, col("prev_click_ts"))
          .when(col("prev_click_ts").isNull, col("next_click_ts"))
          .when(pUs - prevUs <= nextUs - pUs, col("prev_click_ts"))
          .otherwise(col("next_click_ts")))
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("purchase_ts"),
              col("prev_click_ts"), col("next_click_ts"), col("nearest_click_ts"))
  }

  val asofJoinNearestSql: String =
    """SELECT event_id AS purchase_id, user_id,
      |       CAST(ts AS TIMESTAMP) AS purchase_ts,
      |       prev_click_ts, next_click_ts,
      |       CASE WHEN next_click_ts IS NULL THEN prev_click_ts
      |            WHEN prev_click_ts IS NULL THEN next_click_ts
      |            WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(prev_click_ts)
      |                 <= epoch_us(next_click_ts) - epoch_us(CAST(ts AS TIMESTAMP))
      |              THEN prev_click_ts
      |            ELSE next_click_ts END AS nearest_click_ts
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |         max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts,
      |         min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |)
      |WHERE event_type = 'purchase'""".stripMargin

  /** #20e asof_join_tolerance: backward as-of with a max-staleness bound
    * — pandas `merge_asof(tolerance=...)`: a purchase only attributes to
    * its latest prior click when that click is within `tolUs` (1 hour
    * here); staler matches are nulled, with the staleness and a match
    * flag reported. Same single user_id exchange as [[asofJoin]] — the
    * tolerance is a per-row filter on the windowed carrier, not a new
    * plan shape. */
  def asofJoinTolerance(s: SparkSession, dir: String,
                        tolUs: Long = 3600L * 1000000L): DataFrame = {
    val staleUs =
      graft.Parity.epochUs(col("ts")) - graft.Parity.epochUs(col("last_click_ts"))
    Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_ts", when(col("event_type") === "click", col("ts")))
      .withColumn("last_click_ts",
        max(col("click_ts")).over(
          wUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("purchase_ts"),
              when(staleUs <= tolUs, col("last_click_ts")).as("matched_click_ts"),
              when(col("last_click_ts").isNotNull, staleUs).as("staleness_us"),
              coalesce(staleUs <= tolUs, lit(false)).as("matched"))
  }

  def asofJoinToleranceSql(tolUs: Long = 3600L * 1000000L): String =
    s"""SELECT event_id AS purchase_id, user_id,
       |       CAST(ts AS TIMESTAMP) AS purchase_ts,
       |       CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(last_click_ts) <= $tolUs
       |            THEN last_click_ts END AS matched_click_ts,
       |       CASE WHEN last_click_ts IS NOT NULL
       |            THEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(last_click_ts)
       |       END AS staleness_us,
       |       COALESCE(epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(last_click_ts) <= $tolUs,
       |                false) AS matched
       |FROM (
       |  SELECT event_id, user_id, ts, event_type,
       |         max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
       |  FROM events
       |  WHERE event_type IN ('click', 'purchase')
       |)
       |WHERE event_type = 'purchase'""".stripMargin
}
