package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-23 operator (SURVEY §2 #353): order fulfillment lag.
  * (#352 `stream_modality_balance` lives in
  * [[graft.streaming.Streaming.streamModalityBalance]] over the #219
  * registers.)
  */
object Round9Ops23 {

  // --------------------------------------- #353 orders_fulfillment_lag

  /** #353 orders_fulfillment_lag: the ORDER-TO-LAST-SHIP SLA panel per
    * priority class — for each order, days from order date to its LAST
    * line shipment (the customer-visible completion), rolled up per
    * priority as p50/p95 lag, the share blowing a 90-day SLA, and the
    * worst case. The operations readout the TPC-H adaptations skip:
    * #Q4 counts late-commit orders, #137 ages the open backlog — this
    * measures the COMPLETED pipeline's latency distribution, the
    * number a fulfillment SLA is actually written against (and the
    * per-priority contrast is the check that priority classes MEAN
    * something in the data).
    *
    * Scale shape: one orderkey-co-shuffled fact-fact join collapsed
    * map-side to per-order maxima BEFORE the join (the aggregate-then-
    * join discipline — lineitem reduces to one row per order first),
    * then a ≤|priorities| rollup; quantiles on per-priority lists
    * (exact-oracle contract) conf-switched to `approx_percentile`
    * sketches via [[graft.Hints.ApproxQuantiles]] — the five
    * aggregation buffers stay bounded at any order count. */
  def ordersFulfillmentLag(s: SparkSession, dir: String,
                           slaDays: Int = 90): DataFrame = {
    val lastShip = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("last_ship"))
    val lag = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
              to_date(col("o_orderdate")).as("od"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
              datediff(col("last_ship"), col("od")).as("lag_d"))
    val q = quantiles(s, col("lag_d").cast("double"), Seq(0.5, 0.95))
    val Seq(p50, p95) = q.at(col("vs")).map(r(_, 6))
    lag.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           q.agg.as("vs"),
           r(sum(when(col("lag_d") > slaDays, 1L).otherwise(0L))
               .cast("double") / count(lit(1)), 6).as("sla_breach_share"),
           max(col("lag_d")).as("max_lag_d"))
      .select(col("o_orderpriority"), col("n_orders"),
              p50.as("p50_lag_d"),
              p95.as("p95_lag_d"),
              col("sla_breach_share"), col("max_lag_d"))
      .orderBy(col("o_orderpriority"))
  }

  def ordersFulfillmentLagSql(slaDays: Int = 90): String = {
    def q(p: Double): String = {
      val l = s"CAST(floor((count(lag_d) - 1) * $p) AS INT)"
      val f = s"((count(lag_d) - 1) * $p - floor((count(lag_d) - 1) * $p))"
      val vs = "list_sort(list(CAST(lag_d AS DOUBLE)))"
      val vl = s"$vs[$l + 1]"
      val vu = s"$vs[LEAST($l + 2, CAST(count(lag_d) AS INT))]"
      sqlR(s"$vl + ($vu - $vl) * $f", 6)
    }
    s"""WITH last_ship AS (
       |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
       |  FROM lineitem GROUP BY 1),
       |lag AS (
       |  SELECT o.o_orderpriority,
       |         datediff('day', CAST(o.o_orderdate AS DATE), s.last_ship)
       |           AS lag_d
       |  FROM orders o JOIN last_ship s ON s.l_orderkey = o.o_orderkey)
       |SELECT o_orderpriority, count(*) AS n_orders,
       |       ${q(0.5)} AS p50_lag_d,
       |       ${q(0.95)} AS p95_lag_d,
       |       ${sqlR(
             s"CAST(sum(CASE WHEN lag_d > $slaDays THEN 1 ELSE 0 END) " +
             "AS DOUBLE) / count(*)", 6)} AS sla_breach_share,
       |       max(lag_d) AS max_lag_d
       |FROM lag GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
