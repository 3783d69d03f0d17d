package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-22 operators (SURVEY §2 #350-#351): incremental
  * materialized-aggregate maintenance and the event-lateness audit.
  */
object Round9Ops22 {

  // ------------------------------------------- #350 q1_incremental

  /** #350 q1_incremental: the #12 pricing summary maintained as a
    * MATERIALIZED AGGREGATE — partial state over the historical slice
    * (shipdate ≤ the cutoff) merged with a delta batch (after the
    * cutoff), proving state ⊕ delta ≡ full recompute bit-for-bit
    * against #12's own oracle. This is THE incremental-ETL contract a
    * lakehouse pipeline runs nightly: never rescan history, fold the
    * new partition into yesterday's aggregate. The merge is exact
    * because partials stay DECIMAL(38,10) until after the union-merge
    * (sum is algebraic over decimals — the same property that makes
    * the Parity sums map-side combinable); averages rebuild from
    * merged sums and counts, never from partial averages (the classic
    * incremental-avg bug).
    *
    * Scale shape: two partial scans (in production: one, over the new
    * partition only) each collapsing map-side to the 6-value key;
    * the merge is a union of two model-sized partial tables. */
  def q1Incremental(s: SparkSession, dir: String,
                    cutoff: String = "1998-03-01"): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val state = q1Partials(li.filter(col("l_shipdate") <= lit(cutoff)
      .cast("timestamp")))
    val delta = q1Partials(li.filter(col("l_shipdate") > lit(cutoff)
      .cast("timestamp")))
    q1Merge(state.unionByName(delta))
  }

  /** Decimal partial aggregates over a lineitem slice — the persisted
    * state of the materialized view. */
  private[graft] def q1Partials(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(Dec)).as("s_qty"),
           sum(col("l_extendedprice").cast(Dec)).as("s_base"),
           sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .cast(Dec)).as("s_disc"),
           sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
                (lit(1.0) + col("l_tax"))).cast(Dec)).as("s_charge"),
           sum(col("l_discount").cast(Dec)).as("s_discount"),
           count(lit(1)).as("cnt"))

  /** Fold partial-state rows into the #12 report — decimal sums add
    * exactly, then the #12 rounding boundary applies once. */
  private[graft] def q1Merge(parts: DataFrame): DataFrame =
    parts.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("s_qty")).as("s_qty"), sum(col("s_base")).as("s_base"),
           sum(col("s_disc")).as("s_disc"), sum(col("s_charge")).as("s_charge"),
           sum(col("s_discount")).as("s_discount"), sum(col("cnt")).as("cnt"))
      .select(col("l_returnflag"), col("l_linestatus"),
              r(col("s_qty").cast("double"), 4).as("sum_qty"),
              r(col("s_base").cast("double"), 4).as("sum_base_price"),
              r(col("s_disc").cast("double"), 4).as("sum_disc_price"),
              r(col("s_charge").cast("double"), 4).as("sum_charge"),
              r(col("s_qty").cast("double") / col("cnt"), 6).as("avg_qty"),
              r(col("s_base").cast("double") / col("cnt"), 6).as("avg_price"),
              r(col("s_discount").cast("double") / col("cnt"), 6).as("avg_disc"),
              col("cnt").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // -------------------------------------- #351 events_lateness_audit

  /** #351 events_lateness_audit: the EVENT-LATENESS distribution per
    * type — for each event, how far behind the highest event time
    * already seen (in arrival order, event_id as the arrival proxy)
    * did it arrive? Reported as p50/p95/p99/max lateness seconds plus
    * the share arriving strictly late. THE table a watermark is tuned
    * from: `withWatermark(delay)` drops events later than `delay`, so
    * the p99/max columns are the empirical cost curve of every delay
    * choice — #251 audits per-producer clock sanity; this measures
    * what the stream's stateful ops will actually experience. Lateness
    * is measured per type (per-feed watermarks, the deployment shape);
    * a global watermark reads the max over rows.
    *
    * Scale shape: the running high-watermark is a TWO-LEVEL PREFIX
    * MAX — never a single per-type sort. Rows bucket by event_id
    * range; the within-bucket running max window is bounded by the
    * bucket width, the cross-bucket prefix max runs over the
    * ≤|types|×|buckets| bucket-maxima table, and the combined
    * watermark is `greatest(within, prefix)` after a
    * (type, bucket)-keyed join back ([[graft.Hints.keyDim]]-gated:
    * broadcast at bench scale, co-partitioned shuffle at 100 TB). One
    * rollup follows; quantiles on collected per-type lateness lists
    * (exact-oracle contract) conf-switched to `approx_percentile`
    * sketches via [[graft.Hints.ApproxQuantiles]]. */
  def eventsLatenessAudit(s: SparkSession, dir: String): DataFrame =
    latenessAuditDf(Tables.events(s, dir))

  /** Default event_id bucket width for the two-level watermark scan —
    * each within-bucket window sorts at most this many rows per type.
    * Used as a FLOOR: the effective width grows with the observed id
    * range so the bucket-maxima table stays ≤ [[MaxLatenessBuckets]]
    * buckets per type regardless of id sparsity (a sparse/huge id
    * domain would otherwise blow the table past broadcast limits even
    * though each bucket row is tiny). */
  val LatenessBucketWidth = 65536L

  /** Hard cap on bucket count per type: 65536 buckets × ~16 B ≈ 1 MB
    * per type in the prefix-max table — always broadcastable. */
  val MaxLatenessBuckets = 65536L

  /** DataFrame-generic core: expects (event_type, event_id, ts).
    * `bucketWidth = 0` (the default) derives the width from the
    * observed id range as max(floor, range/[[MaxLatenessBuckets]]) —
    * IN-PLAN, as a broadcast-cross-joined 1-row aggregate: building
    * the DataFrame stays lazy (plan audits / explain / registration
    * probes run no scan — the round-11 advisory), and the range scan
    * executes once per action alongside the job that needs it. */
  def latenessAuditDf(ev: DataFrame, bucketWidth: Long = 0L): DataFrame = {
    val sel = ev
      .select(col("event_type"), col("event_id"),
              unix_timestamp(col("ts")).as("es"))
    val base =
      if (bucketWidth > 0)
        sel.withColumn("bkt", floor(col("event_id") / lit(bucketWidth)))
      else {
        // same arithmetic as the former driver-side derivation: Long
        // floor-division of the (non-negative) id range, floored at
        // LatenessBucketWidth; empty/null input coalesces to the floor
        val bwDf = ev.agg(coalesce(
          greatest(lit(LatenessBucketWidth),
            floor((max(col("event_id")).cast("long") -
                   min(col("event_id")).cast("long")) /
                  lit(MaxLatenessBuckets)).cast("long") + 1),
          lit(LatenessBucketWidth)).as("bw"))
        sel.crossJoin(broadcast(bwDf))
          .withColumn("bkt", floor(col("event_id") / col("bw")))
          .drop("bw")
      }
    // level 1: within-bucket running max (window bounded by bucketWidth)
    val wIn = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = base.withColumn("in_max", max(col("es")).over(wIn))
    // level 2: prefix max over STRICTLY EARLIER buckets, computed on
    // the map-side-combined bucket-maxima table (≤ types × buckets)
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = base
      .groupBy(col("event_type"), col("bkt"))
      .agg(max(col("es")).as("bm"))
      .withColumn("pre_max", max(col("bm")).over(wPre))
      .select(col("event_type"), col("bkt"), col("pre_max"))
    // greatest() skips NULLs, so the first bucket (pre_max null) falls
    // back to its within-bucket max — identical to the one-window plan
    val late = rows
      .join(graft.Hints.keyDim(pre), Seq("event_type", "bkt"))
      .withColumn("late_s",
        greatest(col("in_max"), col("pre_max")) - col("es"))
    val q = quantiles(ev.sparkSession, col("late_s").cast("double"), Seq(0.5, 0.95, 0.99))
    val Seq(p50, p95, p99) = q.at(col("vs")).map(r(_, 6))
    late.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           r(sum(when(col("late_s") > 0, 1L).otherwise(0L))
               .cast("double") / count(lit(1)), 6).as("late_share"),
           q.agg.as("vs"),
           max(col("late_s")).as("max_late_s"))
      .select(col("event_type"), col("n"), col("late_share"),
              p50.as("p50_late_s"),
              p95.as("p95_late_s"),
              p99.as("p99_late_s"),
              col("max_late_s"))
      .orderBy(col("event_type"))
  }

  val eventsLatenessAuditSql: String = {
    def q(p: Double): String = {
      val l = s"CAST(floor((count(late_s) - 1) * $p) AS INT)"
      val f = s"((count(late_s) - 1) * $p - floor((count(late_s) - 1) * $p))"
      val vs = "list_sort(list(CAST(late_s AS DOUBLE)))"
      val vl = s"$vs[$l + 1]"
      val vu = s"$vs[LEAST($l + 2, CAST(count(late_s) AS INT))]"
      sqlR(s"$vl + ($vu - $vl) * $f", 6)
    }
    s"""WITH late AS (
       |  SELECT event_type,
       |         max(es) OVER (PARTITION BY event_type ORDER BY event_id
       |           ROWS UNBOUNDED PRECEDING) - es AS late_s
       |  FROM (SELECT event_type, event_id,
       |               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
       |        FROM events))
       |SELECT event_type, count(*) AS n,
       |       ${sqlR(
             "CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE) " +
             "/ count(*)", 6)} AS late_share,
       |       ${q(0.5)} AS p50_late_s,
       |       ${q(0.95)} AS p95_late_s,
       |       ${q(0.99)} AS p99_late_s,
       |       max(late_s) AS max_late_s
       |FROM late GROUP BY event_type ORDER BY event_type""".stripMargin
  }
}
