package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._

/** Bucketed table source/sink (SURVEY §2 #97): hash-bucketed,
  * sort-ordered parquet tables whose layout is RECORDED in the catalog,
  * so Catalyst plans co-located joins with ZERO exchanges on either
  * side. This is the canonical 100 TB answer for a fact-to-fact join
  * that broadcast can't handle (both sides huge): pay the shuffle once
  * at write time, then every subsequent join/aggregation on the bucket
  * key is exchange-free — at 1000 executors that's the difference
  * between an all-to-all of two 100 TB tables per query and none.
  *
  * Bucket count is fixed at write time (8 here for the local fixture;
  * a real deployment sizes it to executors × a small factor) and both
  * sides MUST agree on it — mismatched counts fall back to a shuffle
  * (Spark only coalesces multiples). PlanSpec pins the exchange-free
  * shape with broadcast disabled.
  */
object Bucketed {

  /** The bucketed+sorted catalog table `graft_<short>_bkt<tag>` over
    * `dir`'s `table`, staged as artifact `bucketed_<table>`. The write is
    * the POINT of bucketing — pay the shuffle once, then every join on
    * the key is exchange-free — so it must happen once, not once per
    * query: if this session already registered the table AND the staged
    * copy is fresh, reuse it (warmup + timed bench passes, repeated
    * Verify calls). A stale copy — the source parquet regenerated under
    * us — drops and rewrites the table; so does a session whose catalog
    * lacks it (catalog metadata is session-scoped and the layout must
    * match the code that reads it). The table name carries the same
    * full-path tag as the copy, so two data dirs never share a table. */
  private def bucketed(s: SparkSession, dir: String, table: String,
                       short: String, key: String, buckets: Int): DataFrame = {
    val name = s"graft_${short}_bkt${Staging.tag(dir)}"
    Staging.staged(s"bucketed_$table", dir, s"$dir/$table.parquet",
                   reuse = s.catalog.tableExists(name)) { path =>
      s.sql(s"DROP TABLE IF EXISTS $name")
      Tables.load(s, dir, table).write.format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", path)
        .mode(SaveMode.Overwrite)
        .saveAsTable(name)
    }
    s.table(name)
  }

  /** The bucketed (lineitem, orders) pair for `dir`, written on first
    * touch — shared by every query that joins the two facts on the order
    * key (the layout pays for itself across the whole workload, not one
    * query). */
  private[graft] def factTables(s: SparkSession, dir: String,
                                buckets: Int = 8): (DataFrame, DataFrame) =
    (bucketed(s, dir, "lineitem", "li", "l_orderkey", buckets),
     bucketed(s, dir, "orders", "ord", "o_orderkey", buckets))

  /** Bucketed lineitem ⋈ orders on the order key (tables written on
    * first touch per sf dir), revenue rollup by priority. The join
    * carries NO Exchange on either side: both scans emit
    * hash-distributed, sorted buckets the SortMergeJoin consumes
    * directly. The post-join aggregate keys on `o_orderpriority` (not
    * the bucket key) so it re-shuffles its ≤5-row partials — the cheap
    * exchange survives, the expensive two never happen. */
  def lineitemBucketedJoin(s: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    val (li, o) = factTables(s, dir, buckets)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** #110 supplier_lead_time: order-to-ship latency per supplier — the
    * procurement SLA report. Rides the SAME bucketed layout as #97
    * (written once, reused by every order-key join this session): the
    * lineitem⋈orders join is exchange-free, then the per-supplier
    * rollup shuffles only its map-side partials on l_suppkey. The lead
    * distribution is decimal-exact mean + min/max + late-share (ship
    * > 60 days after order). */
  def supplierLeadTime(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = factTables(s, dir)
    val lead = datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), lead.as("lead_days"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
           davg(col("lead_days").cast("double"), 4).as("mean_lead"),
           min(col("lead_days")).as("min_lead"),
           max(col("lead_days")).as("max_lead"),
           r(dsum(when(col("lead_days") > 60, 1.0).otherwise(0.0)) /
             count(lit(1)), 6).as("late_share"))
      .orderBy(col("l_suppkey"))
  }

  val supplierLeadTimeSql: String =
    s"""SELECT l_suppkey, count(*) AS n_items,
       |       ${sqlR("CAST(sum(CAST(CAST(datediff('day', o_orderdate, l_shipdate) AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE) / count(*)", 4)} AS mean_lead,
       |       CAST(min(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_lead,
       |       CAST(max(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_lead,
       |       ${sqlR("CAST(sum(CAST(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60 THEN 1.0 ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE) / count(*)", 6)} AS late_share
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val lineitemBucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_items,
       |       ${sqlR(sqlSum("l_extendedprice * (1 - l_discount)"), 2)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
