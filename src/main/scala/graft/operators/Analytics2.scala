package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Analytics tranche 2 (SURVEY §2 H49-H53): exact per-group
  * percentiles, time-range window frames, CUBE grouping sets,
  * relational set operators, and inter-arrival gap analysis.
  *
  * Parity notes follow the playbook: no engine `round`/`quantile`
  * (portable formulas instead), decimal accumulation for every
  * order-sensitive double sum, explicit total tiebreak orders.
  */
object Analytics2 {

  private def sqlQuantile(v: String, p: Double): String = {
    val l = s"CAST(floor((count($v) - 1) * $p) AS INT)"
    val f = s"((count($v) - 1) * $p - floor((count($v) - 1) * $p))"
    val vs = s"list_sort(list($v))"
    val vl = s"$vs[$l + 1]"
    val vu = s"$vs[LEAST($l + 2, CAST(count($v) AS INT))]"
    sqlR(s"$vl + ($vu - $vl) * $f", 6)
  }

  /** #49 exact p50/p90/p99 of `value` per event type. Exact quantiles
    * need the whole group in one place, so this shape is only for
    * bounded-cardinality group keys (5 event types here) — each group's
    * values collect to one task. For high-cardinality keys or monster
    * groups at 100 TB the scale path is `approx_percentile`
    * (error-bounded, mergeable partials), conf-switched via
    * [[graft.Hints.ApproxQuantiles]] and spec-pinned. */
  def eventsPercentiles(s: SparkSession, dir: String): DataFrame = {
    val q = quantiles(s, col("value"), Seq(0.5, 0.9, 0.99))
    val Seq(p50, p90, p99) = q.at(col("vs")).map(r(_, 6))
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"), q.agg.as("vs"))
      .select(col("event_type"), col("n"),
              p50.as("p50"), p90.as("p90"), p99.as("p99"))
      .orderBy(col("event_type"))
  }

  val eventsPercentilesSql: String =
    s"""SELECT event_type, count(value) AS n,
       |       ${sqlQuantile("value", 0.5)} AS p50,
       |       ${sqlQuantile("value", 0.9)} AS p90,
       |       ${sqlQuantile("value", 0.99)} AS p99
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** #50 7-day trailing mean of `value` per user — the time-RANGE
    * window frame (not ROWS): every event sees exactly the events in
    * its trailing week. Ordered by event-time micros so the frame
    * bound is numeric and portable; one exchange on user_id. At scale
    * this is the standard feature-engineering shape: state per
    * partition is bounded by the frame span, not the history. */
  def eventsRolling7d(s: SparkSession, dir: String): DataFrame = {
    val us = epochUs(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(us)
      .rangeBetween(-7L * 86400 * 1000000, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("r_n", count(lit(1)).over(w))
      .withColumn("r_mean",
        r(sum(col("value").cast(Dec)).over(w).cast("double") / col("r_n"), 6))
      .select(col("event_id"), col("user_id"), col("r_n"), col("r_mean"))
  }

  val eventsRolling7dSql: String =
    s"""SELECT event_id, user_id,
       |       count(*) OVER w AS r_n,
       |       ${sqlR("CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) / (count(*) OVER w)", 6)} AS r_mean
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
       |             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** #51 CUBE(event_type, day-of-week): all four grouping sets in one
    * shuffle (partial aggs cover every set). Complements #37's ROLLUP.
    * NULL slots coalesce to sentinels for a total-order-safe compare. */
  def eventsCube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .cube(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(grouping_id().cast("long").as("gid"),
           count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("dow"), lit(-1)).cast("long").as("dow"),
              col("gid"), col("n"), col("sum_value"))

  val eventsCubeSql: String =
    s"""SELECT coalesce(event_type, 'ALL') AS event_type,
       |       CAST(coalesce(dayofweek(ts) + 1, -1) AS BIGINT) AS dow,
       |       CAST(2 * grouping(event_type) + grouping(dayofweek(ts) + 1) AS BIGINT) AS gid,
       |       count(*) AS n, ${sqlSum("value", 4)} AS sum_value
       |FROM events
       |GROUP BY CUBE(event_type, dayofweek(ts) + 1)""".stripMargin

  /** #52 set operators: customers ordering in both 1996 and 1997 but
    * not in 1998 — INTERSECT/EXCEPT compile to aggregate/anti-join
    * shapes sharing one custkey exchange. */
  def ordersSetOps(s: SparkSession, dir: String): DataFrame = {
    def custIn(y: Int): DataFrame =
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit(f"$y-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit(f"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
    custIn(1996).intersect(custIn(1997)).except(custIn(1998))
      .orderBy(col("o_custkey"))
  }

  val ordersSetOpsSql: String =
    """SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |INTERSECT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |EXCEPT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |ORDER BY 1""".stripMargin

  /** #53 inter-arrival gaps per user: lag over the per-user time order,
    * then mean/max gap seconds — the burstiness profile. Window and
    * aggregate share the user_id exchange. */
  def eventsInterarrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s",
        (epochUs(col("ts")) - lag(epochUs(col("ts")), 1).over(w)) / 1e6)
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
           davg(col("gap_s"), 2).as("mean_gap_s"),
           r(max(col("gap_s")), 2).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  val eventsInterarrivalSql: String =
    s"""WITH gaps AS (
       |  SELECT user_id,
       |         (epoch_us(ts) - lag(epoch_us(ts)) OVER
       |            (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap_s
       |  FROM events)
       |SELECT user_id, count(*) AS n_gaps,
       |       ${sqlAvg("gap_s", 2)} AS mean_gap_s,
       |       ${sqlR("max(gap_s)", 2)} AS max_gap_s
       |FROM gaps WHERE gap_s IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #70 per-user session statistics — a composition over the
    * sessionizer (#16): count, mean and exact p90 of session duration
    * per user. The quantile group is each user's own sessions —
    * bounded per key, so exact quantiles stay shuffle-local at scale. */
  def sessionStats(s: SparkSession, dir: String): DataFrame =
    Events.sessionize(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
           davg(col("duration_s").cast("double"), 2).as("mean_duration_s"),
           sort_array(collect_list(col("duration_s").cast("double"))).as("vs"))
      .select(col("user_id"), col("n_sessions"), col("mean_duration_s"),
              r(linQuantile(col("vs"), 0.9), 2).as("p90_duration_s"))
      .orderBy(col("user_id"))

  val sessionStatsSql: String = {
    val q90 = {
      val l = "CAST(floor((count(d) - 1) * 0.9) AS INT)"
      val f = "((count(d) - 1) * 0.9 - floor((count(d) - 1) * 0.9))"
      val vs = "list_sort(list(d))"
      sqlR(s"$vs[$l + 1] + ($vs[LEAST($l + 2, CAST(count(d) AS INT))] - $vs[$l + 1]) * $f", 2)
    }
    s"""WITH sess AS (${Events.sessionizeSql}),
       |d AS (SELECT user_id, CAST(duration_s AS DOUBLE) AS d FROM sess)
       |SELECT user_id, count(*) AS n_sessions,
       |       ${sqlAvg("d", 2)} AS mean_duration_s,
       |       $q90 AS p90_duration_s
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** #71 share-of-parent: each brand's revenue share and rank within
    * its part type. The window runs over the (tiny) post-aggregate
    * table; the share denominator accumulates in decimal so the window
    * sum is order-independent. */
  def brandRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("rev"))
    val wT = Window.partitionBy(col("p_type"))
    rev
      .withColumn("share",
        r(col("rev") / sum(col("rev").cast(Dec)).over(wT).cast("double"), 6))
      .withColumn("rnk",
        rank().over(wT.orderBy(col("rev").desc, col("p_brand"))).cast("long"))
      .orderBy(col("p_type"), col("rnk"))
  }

  val brandRevenueShareSql: String =
    s"""WITH rev AS (
       |  SELECT p_type, p_brand,
       |         ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2)
       |SELECT p_type, p_brand, rev,
       |       ${sqlR("rev / CAST(sum(CAST(rev AS DECIMAL(38,10))) OVER (PARTITION BY p_type) AS DOUBLE)", 6)} AS share,
       |       CAST(rank() OVER (PARTITION BY p_type ORDER BY rev DESC, p_brand) AS BIGINT) AS rnk
       |FROM rev ORDER BY p_type, rnk""".stripMargin

  /** #66 brand affinity (market-basket lift): for brand pairs
    * co-occurring in an order, lift = P(ab) / (P(a)·P(b)). The pair
    * space is per-order (≤ lines² per basket, never corpus²); the
    * brand marginals broadcast back. The association-rules shape for
    * recommender features. */
  def brandAffinity(s: SparkSession, dir: String, minPairs: Long = 20): DataFrame = {
    // the memoized graph-family base tables: ob (order, brand) distinct
    // and the weighted pair table — the (brand_a < brand_b) half of the
    // symmetric pair counts IS n_ab (every unordered co-occurrence is
    // counted once per direction), so the per-order self-join runs once
    // per session, shared with #80/#80b/#216
    val ob = Graph.brandOrders(s, dir)
    // total-orders is a lazy broadcast scalar, not a driver-side count —
    // constructing the plan must never run a job
    val tot = ob.agg(countDistinct(col("ok")).cast("double").as("n_total"))
    val marg = ob.groupBy(col("brand")).agg(count(lit(1)).as("n_orders"))
    val pairs = Graph.brandPairsW(s, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("brand_a"), col("dst").as("brand_b"),
              col("w").as("n_ab"))
      .filter(col("n_ab") >= minPairs)
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"), col("n_orders").as("n_a"))), "brand_a")
      .join(broadcast(marg.select(col("brand").as("brand_b"), col("n_orders").as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
              r((col("n_ab") * col("n_total")) / (col("n_a") * col("n_b")), 6)
                .as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(50)
  }

  val brandAffinitySql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT count(DISTINCT ok) AS n FROM ob),
       |marg AS (SELECT brand, count(*) AS n_orders FROM ob GROUP BY 1),
       |pairs AS (
       |  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
       |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
       |  GROUP BY 1, 2 HAVING count(*) >= 20)
       |SELECT brand_a, brand_b, n_ab, ma.n_orders AS n_a, mb.n_orders AS n_b,
       |       ${sqlR("(n_ab * CAST((SELECT n FROM tot) AS DOUBLE)) / (ma.n_orders * mb.n_orders)", 6)} AS lift
       |FROM pairs
       |JOIN marg ma ON brand_a = ma.brand
       |JOIN marg mb ON brand_b = mb.brand
       |ORDER BY lift DESC, brand_a, brand_b
       |LIMIT 50""".stripMargin

  /** #67 corpus-wide top bigrams: word-pair explode → count → bounded
    * top-k (TakeOrdered, no global sort). The n-gram statistics pass
    * of corpus analysis. */
  def docBigrams(s: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    // token array hoisted to its own projection: referenced inside the
    // per-bigram lambda the split would re-run per element (O(len²)/doc)
    Tables.documents(s, dir)
      .select(split(lower(trim(col("text"))), " ").as("t"))
      .select(explode(when(size(col("t")) >= 2,
        expr("transform(sequence(1, size(t) - 1)," +
             " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topN)
  }

  val docBigramsSql: String =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT unnest(CASE WHEN len(t) >= 2 THEN
      |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
      |    ELSE [] END) AS bigram
      |  FROM (SELECT string_split(lower(trim(text)), ' ') AS t FROM documents))
      |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** #68 int8 scalar quantization of embeddings + reconstruction
    * error: q = floor(x·127/maxAbs + 0.5) clamped, err = |x − q/s|.
    * The memory-compression pass of vector search (4× smaller than
    * float32; at 100 TB the index fits where floats wouldn't). The
    * global maxAbs is a broadcast scalar; everything else is map-side
    * until the per-label error aggregate. */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val x = col("xr").cast("double")
    val maxAbs = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .agg(max(abs(col("v").cast("double"))).as("max_abs"))
    val q = floor(x * lit(127.0) / col("max_abs") + 0.5)
    val qc = least(greatest(q, lit(-127.0)), lit(127.0))
    Tables.embeddings(s, dir)
      .crossJoin(broadcast(maxAbs))
      .select(col("label"), col("max_abs"), posexplode(col("embedding")).as(Seq("p", "xr")))
      .select(col("label"),
              abs(x - qc * col("max_abs") / lit(127.0)).as("err"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           davg(col("err"), 8).as("mean_abs_err"),
           r(max(col("err")), 8).as("max_abs_err"))
      .orderBy(col("label"))
  }

  val embQuantizeSql: String =
    s"""WITH mx AS (
       |  SELECT max(abs(CAST(v.v AS DOUBLE))) AS max_abs
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS v) v),
       |errs AS (
       |  SELECT label,
       |         abs(CAST(v.v AS DOUBLE) -
       |             LEAST(GREATEST(floor(CAST(v.v AS DOUBLE) * 127.0 / max_abs + 0.5), -127.0), 127.0)
       |               * max_abs / 127.0) AS err
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS v) v, mx)
       |SELECT label, count(*) AS n,
       |       ${sqlAvg("err", 8)} AS mean_abs_err,
       |       ${sqlR("max(err)", 8)} AS max_abs_err
       |FROM errs GROUP BY 1 ORDER BY 1""".stripMargin

  /** #69 hour-of-day seasonality per event type — the dayparting
    * profile (one shuffle, 24×|types| output). */
  def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"), davg(col("value"), 4).as("mean_value"))
      .orderBy(col("event_type"), col("hod"))

  val eventsHourlySql: String =
    s"""SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
       |       count(*) AS n, ${sqlAvg("value", 4)} AS mean_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #64 DAU/WAU: daily actives plus trailing-7-day distinct actives.
    * Sliding DISTINCT doesn't decompose like a sum, so the window is
    * unrolled: the day-grain (user, day) dedup explodes each row
    * into the ≤7 observation days it contributes to, then one
    * count-distinct per day — shuffle volume is 7× the day-grain
    * table (tiny after dedup), never the raw events. */
  def eventsDauWau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = daily.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = daily
      .select(col("user_id"),
              explode(sequence(col("day"), date_add(col("day"), 6))).as("obs_day"))
      .groupBy(col("obs_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("obs_day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  val eventsDauWauSql: String =
    """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM daily GROUP BY 1),
      |wau AS (
      |  SELECT CAST(u.u AS DATE) AS obs_day, count(DISTINCT user_id) AS wau
      |  FROM daily
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
      |      CAST(day AS TIMESTAMP), CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
      |      INTERVAL 1 DAY)) AS u) u
      |  GROUP BY 1)
      |SELECT day, dau, wau FROM dau JOIN wau ON day = obs_day
      |ORDER BY day""".stripMargin

  /** #65 month-over-month revenue growth: monthly decimal-exact sums,
    * then lag over the (tiny, post-aggregate) month axis. The global
    * window runs on ≤ months rows — aggregating first is what makes a
    * single-partition window harmless at any input scale. */
  def ordersMomGrowth(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(dsum(col("o_totalprice"), 4).as("rev"))
    monthly
      .withColumn("prev_rev", lag(col("rev"), 1).over(Window.orderBy(col("month"))))
      .withColumn("growth_pct",
        r(lit(100.0) * (col("rev") - col("prev_rev")) / col("prev_rev"), 4))
      .orderBy(col("month"))
  }

  val ordersMomGrowthSql: String =
    s"""WITH monthly AS (
       |  SELECT date_trunc('month', o_orderdate) AS month,
       |         ${sqlSum("o_totalprice", 4)} AS rev
       |  FROM orders GROUP BY 1)
       |SELECT month, rev,
       |       lag(rev) OVER (ORDER BY month) AS prev_rev,
       |       ${sqlR("100.0 * (rev - lag(rev) OVER (ORDER BY month)) / (lag(rev) OVER (ORDER BY month))", 4)} AS growth_pct
       |FROM monthly ORDER BY month""".stripMargin

  /** #61 FULL OUTER join: per-nation customer vs supplier balance
    * sheets — two partial-agg'd sides meet in one outer join, null
    * sides coalesced to zero (the reconciliation-report shape). */
  def nationBalanceFullOuter(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).groupBy(col("c_nationkey"))
      .agg(dsum(col("c_acctbal"), 4).as("cust_bal"), count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(s, dir).groupBy(col("s_nationkey"))
      .agg(dsum(col("s_acctbal"), 4).as("supp_bal"), count(lit(1)).as("n_supp"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
              coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
              coalesce(col("n_cust"), lit(0L)).as("n_cust"),
              coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"),
              coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val nationBalanceFullOuterSql: String =
    s"""SELECT coalesce(c.k, s.k) AS nationkey,
       |       coalesce(c.cust_bal, 0.0) AS cust_bal, coalesce(c.n_cust, 0) AS n_cust,
       |       coalesce(s.supp_bal, 0.0) AS supp_bal, coalesce(s.n_supp, 0) AS n_supp
       |FROM (SELECT c_nationkey AS k, ${sqlSum("c_acctbal", 4)} AS cust_bal,
       |             count(*) AS n_cust FROM customer GROUP BY 1) c
       |FULL OUTER JOIN
       |     (SELECT s_nationkey AS k, ${sqlSum("s_acctbal", 4)} AS supp_bal,
       |             count(*) AS n_supp FROM supplier GROUP BY 1) s
       |ON c.k = s.k
       |ORDER BY 1""".stripMargin

  /** #62 explicit GROUPING SETS (neither rollup nor cube): aggregate
    * by event type and by day-of-week in ONE pass — Spark 4's
    * Dataset.groupingSets; both sets share a single shuffle via the
    * Expand operator. */
  def eventsGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("dow", dayofweek(col("ts")))
      .groupingSets(Seq(Seq(col("event_type")), Seq(col("dow"))),
                    col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("dow"), lit(-1)).cast("long").as("dow"),
              col("n"), col("sum_value"))
      .orderBy(col("event_type"), col("dow"))

  val eventsGroupingSetsSql: String =
    s"""SELECT coalesce(event_type, 'ALL') AS event_type,
       |       CAST(coalesce(dow, -1) AS BIGINT) AS dow,
       |       count(*) AS n, ${sqlSum("value", 4)} AS sum_value
       |FROM (SELECT event_type, dayofweek(ts) + 1 AS dow, value FROM events)
       |GROUP BY GROUPING SETS ((event_type), (dow))
       |ORDER BY 1, 2""".stripMargin

  /** #63 per-user ordered event paths (first 20 types, '>' joined) —
    * the sequence-extraction shape for behavioral features /
    * conversation reconstruction. collect_list is unordered by
    * contract, so the order is imposed by sorting (ts, event_id,
    * type) structs post-collect — deterministic under any
    * partitioning; per-user state is the bounded sequence prefix. */
  def userEventPaths(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           concat_ws(">",
             slice(transform(
               array_sort(collect_list(struct(col("ts"), col("event_id"),
                                              col("event_type")))),
               x => x.getField("event_type")), 1, 20)).as("path"))
      .orderBy(col("user_id"))

  val userEventPathsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       array_to_string(list(event_type ORDER BY ts, event_id)[1:20], '>') AS path
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** #59 feature covariance over the leading 8 embedding dims, per
    * label (upper triangle): cov = (Σxy − ΣxΣy/n)/n with every sum
    * decimal-exact, so the one-pass formula is order-independent and
    * portable. The d² pair fan-out is a map-side double-explode; the
    * shuffle carries (label × 36) partial sums — covariance at 100 TB
    * is partial-agg cheap, the fan-out never shuffles. */
  def embCovariance(s: SparkSession, dir: String, d: Int = 8): DataFrame = {
    val pairs = Tables.embeddings(s, dir)
      .select(col("label"), slice(col("embedding"), 1, d).as("e"))
      .select(col("label"), col("e"), posexplode(col("e")).as(Seq("i0", "xr")))
      .select(col("label"), (col("i0") + 1).as("i"),
              col("xr").cast("double").as("x"), posexplode(col("e")).as(Seq("j0", "yr")))
      .select(col("label"), col("i"), (col("j0") + 1).as("j"),
              col("x"), col("yr").cast("double").as("y"))
      .filter(col("j") >= col("i"))
    pairs.groupBy(col("label"), col("i"), col("j"))
      .agg(r((dsum(col("x") * col("y")) -
              dsum(col("x")) * dsum(col("y")) / count(lit(1))) / count(lit(1)), 6)
             .as("cov"),
           count(lit(1)).as("n"))
      .orderBy(col("label"), col("i"), col("j"))
  }

  val embCovarianceSql: String =
    s"""SELECT label, i, j,
       |  ${sqlR(s"(${sqlSum("x * y")} - ${sqlSum("x")} * ${sqlSum("y")} / count(*)) / count(*)", 6)} AS cov,
       |  count(*) AS n
       |FROM (
       |  SELECT label, ii.i AS i, jj.j AS j,
       |         CAST(embedding[ii.i] AS DOUBLE) AS x,
       |         CAST(embedding[jj.j] AS DOUBLE) AS y
       |  FROM embeddings, range(1, 9) ii(i), range(1, 9) jj(j)
       |  WHERE jj.j >= ii.i)
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** #60 event-type transition matrix per user sequence (Markov
    * features): lag over the per-user time order, then transition
    * counts and conditional probabilities. Window and aggregate share
    * the user_id exchange; the matrix is |types|² regardless of scale. */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("prob",
        r(col("n") / sum(col("n")).over(Window.partitionBy(col("prev"))), 6))
      .orderBy(col("prev"), col("next"))
  }

  val eventsMarkovSql: String =
    s"""WITH trans AS (
       |  SELECT prev, event_type AS next, count(*) AS n
       |  FROM (SELECT event_type,
       |               lag(event_type) OVER (PARTITION BY user_id
       |                                     ORDER BY ts, event_id) AS prev
       |        FROM events)
       |  WHERE prev IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT prev, next, n,
       |       ${sqlR("n / (sum(n) OVER (PARTITION BY prev))", 6)} AS prob
       |FROM trans ORDER BY 1, 2""".stripMargin

  /** #58 salted JOIN — the join-side skew mitigation (complement of
    * #38's salted aggregation). Each event is enriched with its user's
    * total count via a join on (user_id, salt): the fact side's salt
    * spreads any hot user over `salts` reducers; the dim side is
    * replicated `salts`× so every salted partition can match. At
    * 100 TB this is the manual shape for skewed big-big joins (AQE
    * skew-join split is the automatic one; salting also covers
    * aggregation-free pipelines AQE can't re-plan). The oracle runs
    * the direct unsalted join — results are identical by construction. */
  def skewJoinSalted(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
    val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("user_n"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    ev.withColumn("salt", pmod(col("event_id"), lit(salts.toLong)).cast("int"))
      .join(dim, Seq("user_id", "salt"))
      .select(col("event_id"), col("user_id"), col("user_n"))
  }

  val skewJoinSaltedSql: String =
    """SELECT e.event_id, e.user_id, d.user_n
      |FROM events e
      |JOIN (SELECT user_id, count(*) AS user_n FROM events GROUP BY 1) d
      |USING (user_id)""".stripMargin

  /** #56 spend quartiles per order priority: ntile(4) over a totally
    * ordered (price, orderkey) window, then per-bucket stats. One
    * exchange on the partition key; ntile is deterministic because the
    * order is total. */
  def ordersNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("o_orderpriority"), col("quartile"))
      .agg(count(lit(1)).as("n"),
           r(min(col("o_totalprice")), 2).as("lo"),
           r(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("o_orderpriority"), col("quartile"))
  }

  val ordersNtileSql: String =
    s"""SELECT o_orderpriority, CAST(quartile AS BIGINT) AS quartile,
       |       count(*) AS n,
       |       ${sqlR("min(o_totalprice)", 2)} AS lo,
       |       ${sqlR("max(o_totalprice)", 2)} AS hi
       |FROM (SELECT o_orderpriority, o_totalprice,
       |             ntile(4) OVER (PARTITION BY o_orderpriority
       |                            ORDER BY o_totalprice, o_orderkey) AS quartile
       |      FROM orders)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #57 per-customer order span: first/last order date and the first
    * order's price via first_value/last_value over an explicit
    * unbounded frame (the "customer lifetime" shape — window and
    * reduction share one custkey exchange). */
  def customerOrderSpan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
              first(col("o_orderdate")).over(w).as("first_date"),
              last(col("o_orderdate")).over(w).as("last_date"),
              first(col("o_totalprice")).over(w).as("first_price"),
              count(lit(1)).over(w).as("n_orders"))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  val customerOrderSpanSql: String =
    """SELECT DISTINCT o_custkey,
      |       first_value(o_totalprice) OVER w AS first_price,
      |       first_value(o_orderdate) OVER w AS first_date,
      |       last_value(o_orderdate) OVER w AS last_date,
      |       count(*) OVER w AS n_orders
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey""".stripMargin

  /** #54 HyperLogLog distinct-user estimate per event type, alongside
    * the exact count. m=64 registers from a 60-bit md5-derived hash
    * (low 6 bits → bucket, high 54 → rank = 55 − bitlength). Register
    * maxes are mergeable partials — the property that lets the sketch
    * aggregate 100 TB with map-side combine and O(m) shuffle bytes per
    * group (Spark's approx_count_distinct is the production path; this
    * formulation is deterministic AND portable, so the oracle checks
    * the estimator bit-for-bit, not "approximately"). The register sum
    * is accumulated as exact integers (2^(55−rho) scaled) — no
    * order-dependent float accumulation anywhere. */
  def eventsApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    hllFinalize(hllRegisters(Tables.events(s, dir)))
      .join(broadcast(exact), Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  /** Register table (event_type, bucket, mr) of the portable HLL — the
    * mergeable partial. Works unchanged on a streaming frame (max is
    * the state merge), which is what Streaming.streamHll exploits. */
  def hllRegisters(ev: DataFrame): DataFrame = {
    val h = expr("CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)")
    ev.select(col("event_type"), h.as("h"))
      .select(col("event_type"), (col("h") % 64).as("bucket"),
              expr("h div 64").as("rest"))
      .withColumn("rho", lit(55) - length(ltrim(bin(col("rest")), "0")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("mr"))
  }

  /** Estimator over a register table: integer-exact register sum,
    * linear-counting correction for sparse registers. */
  def hllFinalize(regs: DataFrame): DataFrame =
    regs.groupBy(col("event_type"))
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - mr)")) +
            (lit(64L) - count(lit(1))) * expr("shiftleft(CAST(1 AS BIGINT), 55)")).as("sum_int"),
           (lit(64L) - count(lit(1))).as("v_empty"))
      .withColumn("e_raw", lit(0.709) * 4096.0 / (col("sum_int").cast("double") / math.pow(2, 55)))
      .withColumn("hll_est",
        r(when(col("v_empty") > 0 && col("e_raw") <= 160.0,
               lit(64.0) * log(lit(64.0) / col("v_empty")))
          .otherwise(col("e_raw")), 2))

  val eventsApproxDistinctSql: String =
    s"""WITH hashed AS (
       |  SELECT event_type,
       |         h % 64 AS bucket, h // 64 AS rest
       |  FROM (SELECT event_type,
       |               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |        FROM events)),
       |regs AS (
       |  SELECT event_type, bucket,
       |         max(55 - length(ltrim(bin(rest), '0'))) AS mr
       |  FROM hashed GROUP BY 1, 2),
       |est AS (
       |  SELECT event_type,
       |         sum(CAST(1 AS BIGINT) << (55 - mr)) +
       |           (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS sum_int,
       |         64 - count(*) AS v_empty
       |  FROM regs GROUP BY 1),
       |fin AS (
       |  SELECT event_type, v_empty,
       |         0.709 * 4096.0 / (CAST(sum_int AS DOUBLE) / ${math.pow(2, 55)}) AS e_raw
       |  FROM est)
       |SELECT f.event_type, x.n_exact,
       |       ${sqlR("CASE WHEN f.v_empty > 0 AND f.e_raw <= 160.0 " +
                      "THEN 64.0 * ln(64.0 / f.v_empty) ELSE f.e_raw END", 2)} AS hll_est
       |FROM fin f
       |JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |      FROM events GROUP BY 1) x USING (event_type)
       |ORDER BY 1""".stripMargin
}
