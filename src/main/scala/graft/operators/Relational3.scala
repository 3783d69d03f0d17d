package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Third TPC-H tranche: the seven queries whose originals need
  * `partsupp` or receipt/commit dates, which the driver schema lacks —
  * adapted to equivalent shapes over `lineitem` (the observed
  * part↔supplier relation) while preserving each original's plan
  * stressor:
  *
  *   - Q2  correlated min-per-group (here: min unit price per part)
  *   - Q8  market-share ratio of conditional aggregates
  *   - Q9  multi-dim profit rollup with a cost model
  *   - Q11 scalar-subquery HAVING over a grouped value
  *   - Q16 distinct-count with NOT-IN supplier exclusion
  *   - Q20 two-level agg feeding a semi-join
  *   - Q21 multi-correlated EXISTS/NOT-EXISTS, de-correlated to one
  *         grouped pass (the scalable rewrite: one shuffle on orderkey
  *         instead of three fact self-joins)
  *
  * Completes 22/22 TPC-H coverage with Relational and Relational2.
  * Plan rules as elsewhere: dims broadcast, the lineitem scan is pruned
  * to the referenced columns, aggregates stay partial-agg friendly, and
  * top-N is a bounded TakeOrdered with a total tiebreak order.
  */
object Relational3 {

  /** Per-(part,supplier) unit price observed in lineitem — the stand-in
    * for partsupp.ps_supplycost. Decimal-exact mean, 6dp. `partKeys`
    * (small, broadcast) prunes the fact scan BEFORE the pair
    * aggregation — per-pair means are unaffected by dropping other
    * parts, so the filter commutes with the groupBy. */
  private def unitCost(s: SparkSession, dir: String,
                       partKeys: Option[DataFrame]): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
              (col("l_extendedprice") / col("l_quantity")).as("unit"))
    partKeys.fold(li)(pk =>
        li.join(broadcast(pk.select(col("p_partkey"))),
                col("l_partkey") === col("p_partkey"), "left_semi"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(davg(col("unit"), 6).as("cost"))
  }

  private val unitCostSql: String =
    s"""SELECT l_partkey, l_suppkey, ${sqlAvg("l_extendedprice / l_quantity", 6)} AS cost
       |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Q2 (adapted): for each size-15 part, the EUROPE supplier offering
    * it at the minimum observed unit price. The min-per-part is a
    * window over the (small) aggregated pair table, not a second scan;
    * part and supplier⋈nation⋈region broadcast. */
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val eurSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = Tables.part(s, dir).filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    val offers = unitCost(s, dir, Some(parts))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eurSup), col("l_suppkey") === col("s_suppkey"))
    offers
      .withColumn("min_cost", min(col("cost")).over(Window.partitionBy(col("p_partkey"))))
      .filter(col("cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
              col("p_partkey"), col("p_name"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    s"""WITH uc AS ($unitCostSql)
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
       |FROM uc
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE p_size = 15 AND r_name = 'EUROPE'
       |  AND cost = (SELECT min(uc2.cost) FROM uc uc2
       |              JOIN supplier s2 ON uc2.l_suppkey = s2.s_suppkey
       |              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
       |              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |              WHERE uc2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** Q8 (adapted): NATION_5's share of AMERICA-market STANDARD-part
    * revenue, by order year. One co-shuffle (lineitem⋈orders); every
    * dimension side broadcasts; the share is a ratio of two conditional
    * decimal sums in a single aggregate. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
    val amerCust = Tables.customer(s, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val stdParts = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                      col("o_orderdate") <  lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(amerCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(r(dsum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0.0))) /
             dsum(vol), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    s"""SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       |  ${sqlR(sqlSum("CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END") +
                " / " + sqlSum("l_extendedprice * (1.0 - l_discount)"), 6)} AS mkt_share
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |JOIN region ON cn.n_regionkey = r_regionkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q9 (adapted): profit on widget parts by supplier nation × order
    * year, costing units at 60% of p_retailprice (the partsupp stand-in
    * cost model). Dims broadcast; lineitem⋈orders co-shuffles once. */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val widgetParts = Tables.part(s, dir).filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.6) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(profit, 4).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    s"""SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity", 4)} AS sum_profit
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin

  /** Q11 (adapted): parts whose shipped value from NATION_3 suppliers
    * exceeds 0.05% of that nation's total — grouped value vs a scalar
    * subquery, the scalar broadcast as a 1-row cross join. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val n3sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val shipped = Tables.lineitem(s, dir)
      .join(broadcast(n3sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice"), 4).as("value"))
    val total = shipped.agg(dsum(col("value")).as("grand"))
    shipped.crossJoin(broadcast(total))
      .filter(col("value") > lit(0.0005) * col("grand"))
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  val q11Sql: String =
    s"""WITH shipped AS (
       |  SELECT l_partkey, ${sqlSum("l_extendedprice", 4)} AS value
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_3'
       |  GROUP BY 1)
       |SELECT l_partkey, value FROM shipped
       |WHERE value > 0.0005 * (SELECT ${sqlSum("value")} FROM shipped)
       |ORDER BY value DESC, l_partkey""".stripMargin

  /** Q16 (adapted): distinct supplier counts per (brand, type, size)
    * over the observed part↔supplier pairs, excluding one brand, PROMO
    * types, and suppliers in deficit (the NOT-IN shape, as a broadcast
    * anti-join). The pair-distinct and the count-distinct partial-agg
    * on the same key. */
  def q16SupplierCounts(s: SparkSession, dir: String): DataFrame = {
    val badSup = Tables.supplier(s, dir).filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 45))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q20 (adapted): EUROPE suppliers who shipped more than half the
    * per-supplier average of PROMO-part volume in 1996 — a two-level
    * aggregate (per-supplier sums, then their mean) feeding a semi-join
    * against the supplier dimension. */
  def q20PromoSuppliers(s: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(s, dir).filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val perSup = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity"), 2).as("qty"))
    val thresh = perSup.agg((davg(col("qty"), 6) * 0.5).as("half_avg"))
    val heavy = perSup.crossJoin(broadcast(thresh))
      .filter(col("qty") > col("half_avg"))
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(broadcast(heavy), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    s"""WITH per_sup AS (
       |  SELECT l_suppkey, ${sqlSum("l_quantity", 2)} AS qty
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE p_type = 'PROMO'
       |    AND l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  GROUP BY 1)
       |SELECT s_name, n_name
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'EUROPE'
       |  AND s_suppkey IN (
       |    SELECT l_suppkey FROM per_sup
       |    WHERE qty > (SELECT ${sqlAvg("qty", 6)} * 0.5 FROM per_sup))
       |ORDER BY s_name""".stripMargin

  /** Q21 (adapted): suppliers in ASIA who were the sole late shipper
    * (ship lag > 365 days) on a multi-supplier order. De-correlated:
    * the EXISTS / NOT-EXISTS pair collapses to one grouped pass over
    * the order — ≥2 distinct suppliers, exactly 1 distinct late
    * supplier — so the plan is a single orderkey shuffle instead of
    * three lineitem self-joins (the shape that matters at 100 TB). */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 365 DAYS")
    // two-level aggregate instead of double countDistinct: a distinct
    // aggregate pair would Expand the join output 3× before the
    // shuffle; per-(order,supplier) partials then a per-order reduce
    // move strictly less data at any scale
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1).otherwise(0)).as("is_late"))
    val perOrder = pairs
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"),
           max(when(col("is_late") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
    val asiaSup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    perOrder.groupBy(col("late_supp")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(asiaSup), col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Sql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |         count(DISTINCT l_suppkey) AS n_supp,
      |         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
      |                             THEN l_suppkey END) AS n_late,
      |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
      |                  THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1
      |  HAVING count(DISTINCT l_suppkey) >= 2
      |     AND count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
      |                             THEN l_suppkey END) = 1)
      |SELECT s_name, count(*) AS numwait
      |FROM per_order
      |JOIN supplier ON late_supp = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin
}
