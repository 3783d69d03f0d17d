package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-5 batch-3 analytics: RFM segmentation, ML lag-feature
  * generation, and Zipf-fit corpus diagnostics (SURVEY §2 #92-#94).
  */
object Analytics3 {

  /** Oracle mirror of the exact boundaries (see [[graft.Parity.quantiles]]). */
  private def sqlQuantile(x: String, p: Double): String =
    graft.Parity.sqlQuantileAgg(x, p)

  // ------------------------------------------------------------- #92 RFM

  /** #92 events_rfm: recency/frequency/monetary customer segmentation
    * over `orders`. Scores are assigned against global QUARTILE
    * BOUNDARIES computed by aggregation — NOT by an `ntile` ranking
    * window, which would total-order every customer through one
    * partition. The boundary table is a single broadcast row (9
    * doubles); scoring is a map-only comparison on the per-customer
    * aggregate, so the whole plan is two hash aggregates + one
    * broadcast — the 100 TB shape. Boundaries come from
    * [[graft.Parity.quantiles]]: sorted-array interpolation
    * (bit-identical to the oracle), or under the
    * [[graft.Hints.ApproxQuantiles]] posture one mergeable
    * `approx_percentile` sketch per measure.
    *
    * Scoring convention: quartile scores 1-4; recency is
    * better-when-lower (score 4 = most recent quartile), frequency and
    * monetary better-when-higher. Boundaries are compared with strict
    * `>` so ties land in the lower score deterministically. */
  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val horizon = o.agg(max(col("o_orderdate")).as("d_max"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_d"),
           count(lit(1)).as("frequency"),
           dsum(col("o_totalprice"), 2).as("monetary"))
      .crossJoin(broadcast(horizon))
      .select(col("o_custkey"),
              datediff(col("d_max"), col("last_d")).cast("long").as("recency"),
              col("frequency"), col("monetary"))
    def bounds(nm: String, src: String): Seq[Column] = {
      val q = quantiles(s, col(src).cast("double"), Seq(0.25, 0.5, 0.75))
      q.at(q.agg).zip(Seq(25, 50, 75)).map { case (b, p) => r(b, 6).as(s"$nm$p") }
    }
    val allB = bounds("r", "recency") ++ bounds("f", "frequency") ++
      bounds("m", "monetary")
    val qs = cust.agg(allB.head, allB.tail: _*)
    def gt(c: Column, b: String): Column = when(c > col(b), 1).otherwise(0)
    cust.crossJoin(broadcast(qs))
      .withColumn("r_score",
        (lit(4) - gt(col("recency"), "r25") - gt(col("recency"), "r50") -
          gt(col("recency"), "r75")).cast("int"))
      .withColumn("f_score",
        (lit(1) + gt(col("frequency"), "f25") + gt(col("frequency"), "f50") +
          gt(col("frequency"), "f75")).cast("int"))
      .withColumn("m_score",
        (lit(1) + gt(col("monetary"), "m25") + gt(col("monetary"), "m50") +
          gt(col("monetary"), "m75")).cast("int"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_cust"), davg(col("monetary"), 2).as("avg_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val eventsRfmSql: String = {
    def b(x: String, nm: String): String =
      Seq(25, 50, 75).map(p => s"${sqlR(sqlQuantile(x, p / 100.0), 6)} AS $nm$p")
        .mkString(", ")
    s"""WITH horizon AS (SELECT max(o_orderdate) AS d_max FROM orders),
       |cust AS (
       |  SELECT o_custkey,
       |         CAST(datediff('day', max(o_orderdate), (SELECT d_max FROM horizon)) AS BIGINT) AS recency,
       |         count(*) AS frequency,
       |         ${dsumSql("o_totalprice", 2)} AS monetary
       |  FROM orders GROUP BY 1),
       |qs AS (
       |  SELECT ${b("CAST(recency AS DOUBLE)", "r")},
       |         ${b("CAST(frequency AS DOUBLE)", "f")},
       |         ${b("monetary", "m")}
       |  FROM cust),
       |scored AS (
       |  SELECT c.*,
       |    CAST(4 - (CASE WHEN recency > r25 THEN 1 ELSE 0 END)
       |           - (CASE WHEN recency > r50 THEN 1 ELSE 0 END)
       |           - (CASE WHEN recency > r75 THEN 1 ELSE 0 END) AS INT) AS r_score,
       |    CAST(1 + (CASE WHEN frequency > f25 THEN 1 ELSE 0 END)
       |           + (CASE WHEN frequency > f50 THEN 1 ELSE 0 END)
       |           + (CASE WHEN frequency > f75 THEN 1 ELSE 0 END) AS INT) AS f_score,
       |    CAST(1 + (CASE WHEN monetary > m25 THEN 1 ELSE 0 END)
       |           + (CASE WHEN monetary > m50 THEN 1 ELSE 0 END)
       |           + (CASE WHEN monetary > m75 THEN 1 ELSE 0 END) AS INT) AS m_score
       |  FROM cust c CROSS JOIN qs)
       |SELECT r_score, f_score, m_score, count(*) AS n_cust,
       |       ${davgSql("monetary", 2)} AS avg_monetary
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  private def dsumSql(x: String, d: Int): String = sqlSum(x, d)
  private def davgSql(x: String, d: Int): String = sqlAvg(x, d)

  // ---------------------------------------------- #93 lag feature builder

  /** #93 events_lag_features: the standard ML feature-engineering pass —
    * per-entity lagged values and a trailing-window mean as training
    * features. All windows partition by `user_id` (per-key, shuffle
    * scales with keys, no global ordering anywhere); the trailing mean
    * accumulates in DECIMAL so partial order can't flip a rounded digit
    * (Parity.dsum, but as a window aggregate). Deterministic order
    * under ts ties via the event_id tiebreak. */
  def eventsLagFeatures(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wr = w.rowsBetween(-3, -1)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("lag1", lag(col("value"), 1).over(w))
      .withColumn("lag2", lag(col("value"), 2).over(w))
      .withColumn("roll3",
        r(sum(col("value").cast(Dec)).over(wr).cast("double") /
          count(col("value")).over(wr), 6))
      .withColumn("delta", r(col("value") - col("lag1"), 6))
      .select(col("event_id"), col("user_id"), col("value"),
              col("lag1"), col("lag2"), col("roll3"), col("delta"))
  }

  val eventsLagFeaturesSql: String =
    s"""SELECT event_id, user_id, value,
       |  lag(value, 1) OVER w AS lag1,
       |  lag(value, 2) OVER w AS lag2,
       |  ${sqlR("CAST(sum(CAST(value AS DECIMAL(38,10))) OVER wr AS DOUBLE) / count(value) OVER wr", 6)} AS roll3,
       |  ${sqlR("value - lag(value, 1) OVER w", 6)} AS delta
       |FROM events
       |WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
       |       wr AS (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)""".stripMargin

  // ------------------------------------------------------- #94 Zipf fit

  /** #94 doc_zipf_fit: per-source Zipf diagnostic — log-log OLS of token
    * frequency against frequency rank. Natural corpora follow slope
    * ≈ −1; synthetic/templated text flattens toward 0, making the slope
    * a cheap distribution-naturalness screen for corpus QA. The ranking
    * window is over the per-source VOCABULARY (bounded by |vocab|, not
    * corpus size — document counts never enter a window), and the OLS
    * moments are decimal-exact sums with `ln` rounded to 6dp before
    * aggregation (libm last-ulp divergence across engines, same
    * convention as text_token_entropy). */
  def docZipfFit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("tok"))
    val xy = Tables.documents(s, dir)
      .select(col("source"),
              explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .select(col("source"),
              r(log(col("rnk")), 6).as("x"),
              r(log(col("n")), 6).as("y"))
    val k = count(lit(1)).cast("double")
    val sx = dsum(col("x")); val sy = dsum(col("y"))
    val sxy = dsum(col("x") * col("y"))
    val sxx = dsum(col("x") * col("x")); val syy = dsum(col("y") * col("y"))
    xy.groupBy(col("source"))
      // one-token vocabularies have zero rank variance (0/0 slope):
      // exclude rather than diverge on NULL-vs-NaN across engines
      .agg(count(lit(1)).as("n_vocab"),
           r((k * sxy - sx * sy) / (k * sxx - sx * sx), 6).as("slope"),
           r((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
             .as("intercept"),
           when(k * syy - sy * sy === 0, lit(null))
             .otherwise(r((k * sxy - sx * sy) * (k * sxy - sx * sy) /
               ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)).as("r2"))
      .filter(col("n_vocab") >= 2)
      .orderBy(col("source"))
  }

  // ------------------------------------------------- #109 cohort LTV

  /** #109 orders_cohort_ltv: the acquisition-cohort revenue triangle —
    * customers grouped by first-order month, revenue and active-buyer
    * counts tracked by months-since-acquisition. The canonical
    * lifetime-value report. Shape: one aggregate derives each
    * customer's cohort month (key-proportional, stays distributed), a
    * co-partitioned join tags every order with its customer's cohort
    * (both sides shuffle on o_custkey — no key-proportional broadcast),
    * and the triangle itself is a ≤ months² rollup. No windows over
    * customers or orders anywhere. */
  def ordersCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cohort = o.groupBy(col("o_custkey"))
      .agg(min(trunc(col("o_orderdate"), "month")).as("cohort_month"))
    o.join(cohort, "o_custkey")
      .withColumn("month_diff",
        (months_between(trunc(col("o_orderdate"), "month"), col("cohort_month")))
          .cast("int"))
      .groupBy(col("cohort_month").cast("string").as("cohort_month"),
               col("month_diff"))
      .agg(countDistinct(col("o_custkey")).as("active_cust"),
           count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice"), 2).as("revenue"))
      .orderBy(col("cohort_month"), col("month_diff"))
  }

  val ordersCohortLtvSql: String =
    s"""WITH cohort AS (
       |  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort_month
       |  FROM orders GROUP BY 1)
       |SELECT strftime(c.cohort_month, '%Y-%m-%d') AS cohort_month,
       |       CAST(datediff('month', c.cohort_month,
       |                     date_trunc('month', o.o_orderdate)) AS INT) AS month_diff,
       |       count(DISTINCT o.o_custkey) AS active_cust,
       |       count(*) AS n_orders,
       |       ${dsumSql("o_totalprice", 2)} AS revenue
       |FROM orders o JOIN cohort c ON o.o_custkey = c.o_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ #104 Welch t-test

  /** #104 events_welch_t: pairwise Welch two-sample t-statistics
    * between event types on `value` — the A/B-test primitive. One
    * decimal-exact moment pass (n, Σx, Σx²) reduces the corpus to a
    * |types|-row table; the |types|² pair grid is a broadcast
    * cross-join of that aggregate, so the fact table is scanned ONCE
    * and nothing key-proportional ever joins. Sample variance and the
    * Welch–Satterthwaite df use the textbook closed forms over the
    * exact moments; t and df round at 6dp (the cross-engine boundary
    * convention). p-values are deliberately out of scope: erf/Student
    * CDFs differ in the last ulp across libms — consumers threshold on
    * |t| with df in hand. */
  def eventsWelchT(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
           dsum(col("value")).as("sx"),
           dsum(col("value") * col("value")).as("sxx"))
      // a single-sample group has no variance: exclude it rather than
      // let the 0/(n-1) division diverge across engines (NULL vs NaN)
      .filter(col("n") >= 2)
      .select(col("event_type"), col("n"),
              (col("sx") / col("n")).as("mean"),
              ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
                .as("variance"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
                     col("mean").as("ma"), col("variance").as("va"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
                     col("mean").as("mb"), col("variance").as("vb"))
    val sea = col("va") / col("na"); val seb = col("vb") / col("nb")
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
              col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
              r((col("ma") - col("mb")) / sqrt(sea + seb), 6).as("t_stat"),
              r((sea + seb) * (sea + seb) /
                (sea * sea / (col("na") - 1) + seb * seb / (col("nb") - 1)), 6)
                .as("df_welch"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val eventsWelchTSql: String = {
    val sum = (x: String) => sqlSum(x)
    s"""WITH m AS (
       |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
       |         ${sum("value")} / count(*) AS mean,
       |         (${sum("value * value")} - ${sum("value")} * ${sum("value")} / count(*))
       |           / (count(*) - 1) AS variance
       |  FROM events GROUP BY 1 HAVING count(*) >= 2)
       |SELECT a.event_type AS type_a, b.event_type AS type_b,
       |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       |       ${sqlR("(a.mean - b.mean) / sqrt(a.variance / a.n + b.variance / b.n)", 6)} AS t_stat,
       |       ${sqlR("(a.variance / a.n + b.variance / b.n) * (a.variance / a.n + b.variance / b.n) / ((a.variance / a.n) * (a.variance / a.n) / (a.n - 1) + (b.variance / b.n) * (b.variance / b.n) / (b.n - 1))", 6)} AS df_welch
       |FROM m a JOIN m b ON a.event_type < b.event_type
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------- #105 revenue concentration

  /** #105 customer_pareto: revenue-concentration (Pareto) profile —
    * which slice of the customer base carries which share of revenue.
    * Like #92, the decile ASSIGNMENT comes from broadcast quantile
    * boundaries computed by aggregation, never an ntile window over all
    * customers: per-customer revenue (one groupBy) → 9 boundary scalars
    * (broadcast) → map-only decile tag → ≤10-row rollup. The cumulative
    * share window runs over those ≤10 rows. Boundaries come from
    * [[graft.Parity.quantiles]], exact or sketched with the posture
    * (same contract as #92). */
  def customerPareto(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice"), 2).as("revenue"))
    val q = quantiles(s, col("revenue"), (1 to 9).map(_ / 10.0))
    val bounds = q.at(q.agg).zip(1 to 9).map { case (b, d) => r(b, 6).as(s"b$d") }
    val qs = cust.agg(bounds.head, bounds.tail: _*)
    val decile = (1 to 9).map(d => when(col("revenue") > col(s"b$d"), 1).otherwise(0))
      .reduce(_ + _) + 1
    val byDecile = cust.crossJoin(broadcast(qs))
      .withColumn("decile", decile.cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("revenue"), 2).as("revenue"))
    val w = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("rev_share",
        r(col("revenue") /
          sum(col("revenue").cast(Dec)).over(Window.partitionBy()).cast("double"), 6))
      .withColumn("cum_share_top",
        r(sum(col("rev_share").cast(Dec)).over(w).cast("double"), 6))
      .select(col("decile"), col("n_cust"), col("revenue"),
              col("rev_share"), col("cum_share_top"))
      .orderBy(col("decile").desc)
  }

  val customerParetoSql: String = {
    val b = (1 to 9).map(d =>
      s"${sqlR(sqlQuantile("revenue", d / 10.0), 6)} AS b$d").mkString(", ")
    val dec = (1 to 9).map(d => s"(CASE WHEN revenue > b$d THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH cust AS (
       |  SELECT o_custkey, ${dsumSql("o_totalprice", 2)} AS revenue
       |  FROM orders GROUP BY 1),
       |qs AS (SELECT $b FROM cust),
       |tagged AS (
       |  SELECT c.revenue, CAST(1 + $dec AS INT) AS decile
       |  FROM cust c CROSS JOIN qs),
       |byd AS (
       |  SELECT decile, count(*) AS n_cust,
       |         ${dsumSql("revenue", 2)} AS revenue
       |  FROM tagged GROUP BY 1),
       |shares AS (
       |  SELECT decile, n_cust, revenue,
       |         ${sqlR("revenue / CAST(sum(CAST(revenue AS DECIMAL(38,10))) OVER () AS DOUBLE)", 6)} AS rev_share
       |  FROM byd)
       |SELECT decile, n_cust, revenue, rev_share,
       |       ${sqlR("CAST(sum(CAST(rev_share AS DECIMAL(38,10))) OVER (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)", 6)} AS cum_share_top
       |FROM shares ORDER BY decile DESC""".stripMargin
  }

  val docZipfFitSql: String = {
    val sum = (x: String) => sqlSum(x)
    val k = "CAST(count(*) AS DOUBLE)"
    val sx = sum("x"); val sy = sum("y"); val sxy = sum("x * y")
    val sxx = sum("x * x"); val syy = sum("y * y")
    val slope = s"($k * $sxy - $sx * $sy) / ($k * $sxx - $sx * $sx)"
    s"""WITH cnt AS (
       |  SELECT source, tok, count(*) AS n FROM (
       |    SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |    FROM documents)
       |  GROUP BY 1, 2),
       |xy AS (
       |  SELECT source,
       |         ${sqlR("ln(row_number() OVER (PARTITION BY source ORDER BY n DESC, tok))", 6)} AS x,
       |         ${sqlR("ln(n)", 6)} AS y
       |  FROM cnt)
       |SELECT source, count(*) AS n_vocab,
       |       ${sqlR(slope, 6)} AS slope,
       |       ${sqlR(s"($sy - ($slope) * $sx) / $k", 6)} AS intercept,
       |       CASE WHEN $k * $syy - $sy * $sy = 0 THEN NULL
       |            ELSE ${sqlR(s"($k * $sxy - $sx * $sy) * ($k * $sxy - $sx * $sy) / (($k * $sxx - $sx * $sx) * ($k * $syy - $sy * $sy))", 6)} END AS r2
       |FROM xy GROUP BY 1 HAVING count(*) >= 2 ORDER BY source""".stripMargin
  }

  // ------------------------------------------ #172 supplier_herfindahl

  /** #172 supplier_herfindahl: supply-chain CONCENTRATION per region —
    * the Herfindahl–Hirschman index (Σ share², ×10000) of supplier
    * revenue within each region, plus the top supplier's share. The
    * procurement-risk readout next to #105's customer Pareto: HHI
    * < 1500 is competitive, > 2500 says one supplier failure takes the
    * region down. Revenue = Σ extendedprice·(1−discount), the #12
    * pricing convention.
    *
    * Scale shape: per-supplier revenue is ONE lineitem groupBy (the
    * supplier key-equi join shuffles; nation/region are fixed 25/5-row
    * broadcast dims); region totals are a 5-row broadcast joined back —
    * never a window over supplier-cardinality rows; shares and the HHI
    * rollup are decimal-exact with 6dp stage rounding. */
  def supplierHerfindahl(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
      .groupBy(col("l_suppkey")).agg(dsum(col("v")).as("rev"))
    val suppRegion = rev
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("l_suppkey"), col("rev"))
    val totals = suppRegion.groupBy(col("region"))
      .agg(dsum(col("rev")).as("tot"))
    suppRegion.join(broadcast(totals), Seq("region"))
      .withColumn("share", r(col("rev") / col("tot"), 6))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_suppliers"),
           r(first(col("tot")), 2).as("total_revenue"),
           r(dsum(col("share") * col("share")) * 10000, 6).as("hhi"),
           max(col("share")).as("top_share"))
      .orderBy(col("region"))
  }

  val supplierHerfindahlSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, ${sqlSum("l_extendedprice * (1 - l_discount)")} AS rev
       |  FROM lineitem GROUP BY 1),
       |sr AS (
       |  SELECT r.r_name AS region, v.l_suppkey, v.rev
       |  FROM rev v
       |  JOIN supplier s ON v.l_suppkey = s.s_suppkey
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey),
       |tot AS (SELECT region, ${sqlSum("rev")} AS tot FROM sr GROUP BY 1),
       |sh AS (
       |  SELECT sr.region, ${sqlR("sr.rev / t.tot", 6)} AS share, t.tot
       |  FROM sr JOIN tot t ON sr.region = t.region)
       |SELECT region, count(*) AS n_suppliers,
       |       ${sqlR("any_value(tot)", 2)} AS total_revenue,
       |       ${sqlR(s"${sqlSum("share * share")} * 10000", 6)} AS hhi,
       |       max(share) AS top_share
       |FROM sh GROUP BY region ORDER BY region""".stripMargin
}
