package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Warehouse/pipeline analytics beyond the straight TPC-H set
  * (SURVEY §2 H): multi-dimensional rollups, skew-safe salted
  * aggregation, z-score anomaly flags, deterministic stratified
  * sampling, per-label embedding centroids, and connected-components
  * duplicate clustering.
  */
object Analytics {

  /** #37 ROLLUP over (event_type, day) with a grouping id — the
    * multi-dimensional aggregate shape (cube/rollup are one shuffle;
    * partial aggs cover every grouping set). NULL grouping slots are
    * coalesced to sentinels so the oracle compare is total-order safe. */
  def eventsRollup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .rollup(col("event_type"), to_date(col("ts")).as("day"))
      .agg(grouping_id().cast("long").as("gid"),
           count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("day"), lit("1900-01-01").cast("date")).as("day"),
              col("gid"), col("n"), col("sum_value"))

  val eventsRollupSql: String =
    s"""SELECT coalesce(event_type, 'ALL') AS event_type,
       |       coalesce(CAST(ts AS DATE), DATE '1900-01-01') AS day,
       |       CAST(2 * grouping(event_type) + grouping(CAST(ts AS DATE)) AS BIGINT) AS gid,
       |       count(*) AS n, ${sqlSum("value", 4)} AS sum_value
       |FROM events
       |GROUP BY ROLLUP(event_type, CAST(ts AS DATE))""".stripMargin

  /** #38 salted two-phase aggregation: the skew-mitigation shape for
    * hot keys at 100 TB — phase 1 aggregates on (key, salt) so no single
    * reducer owns a hot key, phase 2 merges the ≤16 partials per key.
    * Decimal accumulation is associative, so the result is bit-identical
    * to the direct aggregate (the oracle runs the direct form). */
  def eventsSaltedAgg(s: SparkSession, dir: String, salts: Int = 16): DataFrame =
    Tables.events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(sum(col("value").cast(Dec)).as("ps"), count(lit(1)).as("pc"))
      .groupBy(col("event_type"))
      .agg(r(sum(col("ps")).cast("double"), 4).as("sum_value"),
           sum(col("pc")).cast("long").as("n"))

  val eventsSaltedAggSql: String =
    s"""SELECT event_type, ${sqlSum("value", 4)} AS sum_value,
       |       count(*) AS n
       |FROM events GROUP BY 1""".stripMargin

  /** #39 z-score anomaly flags per series: mean/variance from exact
    * decimal sums (one partial-agg pass), broadcast back, |z| > 3. The
    * var formula (E[x²] − E[x]²) is one pass — no second scan. */
  def eventsAnomaly(s: SparkSession, dir: String, zTau: Double = 3.0): DataFrame = {
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy(col("user_id").as("su"))
      .agg(dsum(col("value")).as("sv"),
           dsum(col("value") * col("value")).as("svv"),
           count(lit(1)).as("n"))
      .select(col("su"), (col("sv") / col("n")).as("mean"),
        sqrt(greatest(col("svv") / col("n") -
          (col("sv") / col("n")) * (col("sv") / col("n")), lit(0.0)) + 1e-9).as("std"))
    ev.join(broadcast(stats), col("user_id") === col("su"))
      .withColumn("z", r((col("value") - col("mean")) / col("std"), 4))
      .filter(abs(col("z")) > zTau)
      .select(col("event_id"), col("user_id"), col("value"), col("z"))
  }

  val eventsAnomalySql: String =
    s"""WITH stats AS (
       |  SELECT user_id AS su,
       |         ${sqlSum("value")} / count(*) AS mean,
       |         sqrt(GREATEST(${sqlSum("value * value")} / count(*)
       |              - (${sqlSum("value")} / count(*)) * (${sqlSum("value")} / count(*)), 0.0) + 1e-9) AS std
       |  FROM events GROUP BY 1
       |)
       |SELECT event_id, user_id, value,
       |       floor(((value - mean) / std) * 1e4 + 0.5) / 1e4 AS z
       |FROM events JOIN stats ON user_id = su
       |WHERE abs(floor(((value - mean) / std) * 1e4 + 0.5) / 1e4) > 3.0""".stripMargin

  /** #40 deterministic stratified sampling: per-stratum rates via the
    * portable md5 hash of the row id — reproducible across engines,
    * runs, and partitionings (the sine-qua-non of auditable pipeline
    * sampling; `TABLESAMPLE` is neither). Map-only, no shuffle. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
        .cast("long") % 100
    val rate = when(col("lang") === "en", 10).otherwise(25)
    Tables.documents(s, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
      |      < CASE WHEN lang = 'en' THEN 10 ELSE 25 END""".stripMargin

  /** #41 per-label embedding centroids, one row per (label, dim):
    * decimal-exact per-dimension means — the "class prototype" pass of
    * an embedding pipeline. posexplode is map-side; the shuffle carries
    * (label × dim) partial sums only. */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("d"))
      .agg(davg(col("col").cast("double"), 6).as("mean_v"),
           count(lit(1)).as("n"))

  val embCentroidsSql: String =
    s"""SELECT label, d, ${sqlAvg("CAST(x AS DOUBLE)", 6)} AS mean_v, count(*) AS n
       |FROM (SELECT label, unnest(embedding) AS x,
       |             generate_subscripts(embedding, 1) AS d
       |      FROM embeddings)
       |GROUP BY 1, 2""".stripMargin

  /** #43 TF-IDF top terms per document: tf from one token explode, df
    * from the distinct-term inverted index, idf = ln((N+1)/(df+1))
    * (rounded before the product so cross-engine libm ulps can't leak
    * into the ranking). The per-doc top-5 is a row_number window on the
    * doc key — the same single shuffle the tf groupBy already made. */
  def docTfidf(s: SparkSession, dir: String, topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val terms = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("idf", r(log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("score", r(col("tf") * col("idf"), 4))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= topN)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
              col("score"), col("rnk").cast("long").as("rnk"))
  }

  val docTfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      |  FROM documents
      |),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf,
      |         floor((tf * (floor(ln((n_docs + 1.0) / (df + 1.0)) * 1e6 + 0.5) / 1e6)) * 1e4 + 0.5) / 1e4 AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, term, tf, score, rnk FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5""".stripMargin

  /** #44 heavy hitters: global top-10 hottest (user, event_type) pairs.
    * The aggregate shuffles partial counts; the top-N is Spark's
    * TakeOrderedAndProject — per-partition bounded heaps, never a full
    * sort. */
  def eventsHeavyHitters(s: SparkSession, dir: String, topN: Int = 10): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"), col("event_type"))
      .limit(topN)

  val eventsHeavyHittersSql: String =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY n DESC, user_id, event_type
      |LIMIT 10""".stripMargin

  /** #45 value histogram per event type: fixed-width buckets — the
    * classic distribution profile, one partial-agg shuffle. */
  def eventsHistogram(s: SparkSession, dir: String, width: Double = 25.0): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        floor(col("value") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
           r(min(col("value")), 4).as("min_v"), r(max(col("value")), 4).as("max_v"))

  val eventsHistogramSql: String =
    """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket,
      |       count(*) AS n,
      |       floor(min(value) * 1e4 + 0.5) / 1e4 AS min_v,
      |       floor(max(value) * 1e4 + 0.5) / 1e4 AS max_v
      |FROM events GROUP BY 1, 2""".stripMargin

  /** #46 interval join: count global error events inside each session's
    * [start, end] window. Scale shape: sessions explode into their day
    * bins and equi-join errors on the bin (range joins must become
    * bin-equi joins at 100 TB — a nested-loop range join would be
    * quadratic); the residual range predicate filters within the bin.
    * A session spanning b bins contributes b rows pre-aggregation. */
  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val sess = Events.sessionize(s, dir)
      .select(col("user_id"), col("session_start"), col("session_end"))
    val errs = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("ts").as("err_ts"), to_date(col("ts")).as("err_day"))
    val binned = sess.withColumn("day",
      explode(sequence(to_date(col("session_start")), to_date(col("session_end")))))
    binned.join(errs,
        col("day") === col("err_day") &&
        col("err_ts") >= col("session_start") && col("err_ts") <= col("session_end"),
        "left")
      .groupBy(col("user_id"), col("session_start"), col("session_end"))
      .agg(count(col("err_ts")).as("n_err"))
  }

  val eventsIntervalJoinSql: String =
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
      |),
      |spans AS (
      |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end
      |  FROM sess GROUP BY user_id, session_id
      |),
      |errs AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS err_ts FROM events WHERE event_type = 'error'
      |)
      |SELECT s.user_id, s.session_start, s.session_end,
      |       count(e.err_ts) AS n_err
      |FROM spans s LEFT JOIN errs e
      |  ON e.err_ts >= s.session_start AND e.err_ts <= s.session_end
      |GROUP BY 1, 2, 3""".stripMargin

  /** #47 running total per customer over order history — the cumulative
    * window shape. One shuffle on the partition key; the frame sum
    * accumulates in decimal so frame order can't drift across engines. */
  def ordersRunningTotal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
              col("o_totalprice"))
      .withColumn("running_total",
        r(sum(col("o_totalprice").cast(Dec)).over(w).cast("double"), 4))
  }

  val ordersRunningTotalSql: String =
    """SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER w AS DOUBLE)) * 1e4 + 0.5) / 1e4
      |         AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** #48 per-group ranking top-N (top-3 events by value per user) — the
    * ranking-window shape, deterministic via the id tiebreak. (Bounded
    * CollectTopK is the shuffle-light alternative used on the ANN paths;
    * this keeps the classic window form under oracle check too.) */
  def eventsRankTopk(s: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))))
      .filter(col("rnk") <= topN)
      .select(col("user_id"), col("event_id"), col("value"),
              col("rnk").cast("long").as("rnk"))
  }

  val eventsRankTopkSql: String =
    """SELECT user_id, event_id, value, rnk FROM (
      |  SELECT user_id, event_id, value,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rnk
      |  FROM events)
      |WHERE rnk <= 3""".stripMargin

  /** #42 duplicate clustering: connected components over the n-gram
    * Jaccard near-dup graph by iterative min-label propagation — the
    * standard distributed CC (each round is one join+groupBy on the
    * edge key; rounds ≤ component diameter, tiny for dup clusters).
    * Convergence is detected from the (strictly decreasing) label sum —
    * one scalar collect per round, never the data. Singleton docs keep
    * their own id as cluster. */
  def dedupClusters(s: SparkSession, dir: String, tau: Double = 0.3): DataFrame =
    // the multi-round label propagation is the most expensive dedup
    // query; persist its label table once per (corpus, τ) so the #148
    // report (and repeated bench passes) roll up the labels for free
    graft.Caches.persisted(s, ("dedup_clusters", dir, tau)) {
      dedupClustersDf(Tables.documents(s, dir), tau)
    }

  /** DataFrame-generic core: expects canonical (doc_id, text).
    *
    * Iteration hygiene: every round's label table has its lineage cut
    * (Lineage.cut: reliable checkpoint when a checkpoint dir is
    * configured, localCheckpoint otherwise), not persisted — (round
    * N's plan doesn't embed rounds 1..N-1, so planning stays O(1) per
    * round) and nothing enters the CacheManager registry, whose
    * persist/unpersist bookkeeping walks every cached plan in the
    * session. Convergence reads ONE scalar row per round — the
    * strictly decreasing label sum, whose agg is the action that
    * materializes the (lazily checkpointed) round: one job per round,
    * never the data. */
  def dedupClustersDf(input: DataFrame, tau: Double = 0.3): DataFrame = {
    val pairs = TextOps.dedupNgramJaccardDf(input, tau)
      .select(col("id_a"), col("id_b"))
    val ed = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
      .localCheckpoint()
    // lazy checkpoint: the convergence agg is the first action, so one
    // job per round both materializes the round and reads its label sum
    var cur = input.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
      .transform(graft.Lineage.cut)
    var lblSum = cur.agg(sum(col("lbl"))).head.getLong(0)
    var done = false
    while (!done) {
      val nb = ed.join(cur.select(col("id").as("nid"), col("lbl").as("nlbl")),
          col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("nlbl")).as("nb_lbl"))
      cur = cur.join(nb, cur("id") === nb("src"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nb_lbl"), col("lbl"))).as("lbl"))
        .transform(graft.Lineage.cut)
      val nextSum = cur.agg(sum(col("lbl"))).head.getLong(0)
      done = nextSum == lblSum
      lblSum = nextSum
    }
    cur.select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  /** #148 dedup_cluster_stats: the dedup REPORT over #42's connected
    * components — cluster-size histogram (how many clusters of each
    * size), plus the duplicate-document count each size class carries.
    * This is the number a curation run publishes ("N docs in M near-dup
    * clusters; largest cluster size K"); reading the histogram is how
    * boilerplate storms (one giant cluster) are caught before a keep-
    * first pass deletes half the corpus. Two bounded rollups over the
    * doc-cardinality label table. */
  def dedupClusterStats(s: SparkSession, dir: String, tau: Double = 0.3): DataFrame =
    dedupClusters(s, dir, tau)
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("sz") - 1).as("n_redundant_docs"))
      .orderBy(col("cluster_size"))

  def dedupClusterStatsSql(tau: Double = 0.3): String =
    s"""WITH cl AS (${dedupClustersSql(tau)}),
       |sizes AS (SELECT cluster, count(*) AS sz FROM cl GROUP BY 1)
       |SELECT sz AS cluster_size, count(*) AS n_clusters,
       |       CAST(sum(sz - 1) AS BIGINT) AS n_redundant_docs
       |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[dedupClusters]]: min label over the recursive
    * transitive closure of the same edge set. */
  /** #286 corpus_dedup_weight: duplication-aware SAMPLING WEIGHTS —
    * instead of hard-dropping near-duplicates (#55's keep-first), every
    * doc keeps weight 1/|its #42 cluster|, so each duplicated content
    * unit contributes exactly one doc-equivalent of training mass
    * however many copies exist (the soft-dedup reweighting used when
    * dropping is too blunt — near-dups may differ in the tails worth
    * keeping). Report per source: raw docs, effective docs (the 6dp
    * weight mass, decimal-summed), docs sitting in dup clusters, and
    * the effective ratio — the number that says which source's
    * apparent volume is actually redundancy.
    *
    * Scale shape: rides #42's persisted label table; sizes are one
    * cluster-keyed rollup joined back co-keyed; the source report is
    * one bounded rollup. No new expensive stage — the reweighting is
    * an identity-away from the clustering it reads. */
  def corpusDedupWeight(s: SparkSession, dir: String, tau: Double = 0.3): DataFrame = {
    val labels = dedupClusters(s, dir, tau)
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    val weighted = labels.join(sizes, "cluster")
      .withColumn("weight", r(lit(1.0) / col("cluster_size"), 6))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(weighted, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           dsum(col("weight"), 6).as("effective_docs"),
           count(when(col("cluster_size") > 1, 1)).as("n_in_dup_clusters"))
      .withColumn("effective_ratio",
        r(col("effective_docs") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  def corpusDedupWeightSql(tau: Double = 0.3): String =
    s"""WITH cl AS (${dedupClustersSql(tau)}),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY 1),
       |w AS (
       |  SELECT cl.doc_id, sizes.cluster_size,
       |         floor((1.0 / sizes.cluster_size) * 1e6 + 0.5) / 1e6 AS weight
       |  FROM cl JOIN sizes USING (cluster)),
       |g AS (
       |  SELECT d.source, count(*) AS n_docs,
       |         ${sqlSum("weight", 6)} AS effective_docs,
       |         CAST(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_in_dup_clusters
       |  FROM documents d JOIN w USING (doc_id)
       |  GROUP BY 1)
       |SELECT source, n_docs, effective_docs, n_in_dup_clusters,
       |       ${sqlR("effective_docs / n_docs", 6)} AS effective_ratio
       |FROM g ORDER BY source""".stripMargin

  def dedupClustersSql(tau: Double = 0.3): String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |           unnest(CASE WHEN len(t) >= 3 THEN
       |             list_transform(range(1, len(t) - 1),
       |                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |           ELSE [] END) AS s
       |    FROM toks)
       |),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jp AS (
       |  SELECT id_a, id_b
       |  FROM pairs JOIN cnt c1 ON id_a = c1.doc_id JOIN cnt c2 ON id_b = c2.doc_id
       |  WHERE floor((shared / (c1.n + c2.n - shared)) * 1e6 + 0.5) / 1e6 >= $tau
       |),
       |ed AS (SELECT id_a AS src, id_b AS dst FROM jp
       |       UNION SELECT id_b, id_a FROM jp),
       |r(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT ed.dst, r.lbl FROM r JOIN ed ON ed.src = r.id
       |)
       |SELECT id AS doc_id, min(lbl) AS cluster FROM r GROUP BY 1""".stripMargin
}
