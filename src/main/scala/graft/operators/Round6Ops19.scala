package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Round-6 batch-36 operators (SURVEY §2 #250-#253): absorbing-chain
  * hitting times, the clock-skew audit, single-source supply risk, and
  * the vocabulary coverage curve.
  */
object Round6Ops19 {

  // --------------------------------------- #250 events_markov_hitting_time

  /** Fixed-point rounds (the #159 contract). */
  val HitIters = 50

  /** #250 events_markov_hitting_time: the ABSORBING-CHAIN READOUT of
    * the #159 journey model — per transient state, the conversion
    * probability AND the expected number of steps to absorption
    * (t(s) = 1 + Σ P(s,·)·t(·), the fundamental-matrix row sums solved
    * by the same simultaneous fixed point as #159's removal effects).
    * #159 says which channel MATTERS; this says how LONG the journey
    * is from each state — the "steps to close" number funnel owners
    * track, and the pair (p_conv, exp_steps) ranks states by both
    * odds and distance.
    *
    * Scale shape: the transition model is the #159 model-sized
    * collect; both fixed points iterate driver-side over the ≤|states|²
    * matrix with exact decimal sums; the result is a |states|-row
    * table. */
  def eventsMarkovHittingTime(s: SparkSession, dir: String): DataFrame = {
    val rows = Round6Ops3.markovTransitions(s, dir)
    val states = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
    val mat: Map[(String, String), Double] =
      rows.map { case (p, n, pr) => (p, n) -> pr }.toMap.withDefaultValue(0.0)
    val absorbing = Set("CONV", "NULL")
    def decDot(v: Map[String, Double], st: String): Double =
      graft.Parity.exactSum(states.map(nx => mat((st, nx)) * v(nx))).getOrElse(0.0)
    var p: Map[String, Double] =
      states.map(st => st -> (if (st == "CONV") 1.0 else 0.0)).toMap
    var t: Map[String, Double] = states.map(_ -> 0.0).toMap
    for (_ <- 1 to HitIters) {
      p = states.map { st =>
        st -> (st match {
          case "CONV" => 1.0
          case "NULL" => 0.0
          case c => graft.Parity.r6d(decDot(p, c))
        })
      }.toMap
      t = states.map { st =>
        st -> (if (absorbing(st)) 0.0
               else graft.Parity.r6d(1.0 + decDot(t, st)))
      }.toMap
    }
    import s.implicits._
    states.filterNot(absorbing).toSeq
      .map(st => (st, p(st), t(st)))
      .toDF("state", "p_conv", "exp_steps")
      .orderBy(col("state"))
  }

  def eventsMarkovHittingTimeSql: String = {
    val r6 = (x: String) => sqlR(x, 6)
    val decDot = (v: String) =>
      "CAST(list_sum(list_transform(range(1, len(m.states) + 1), " +
      s"j -> CAST(m.mat[i][j] * it.$v[j] AS DECIMAL(38,10)))) AS DOUBLE)"
    Round6Ops3.markovChainSqlPrefix +
    s""",
       |it AS (
       |  SELECT 0 AS k,
       |         list_transform(m.states, x ->
       |           CASE WHEN x = 'CONV' THEN CAST(1.0 AS DOUBLE)
       |                ELSE CAST(0.0 AS DOUBLE) END) AS ps,
       |         list_transform(m.states, x -> CAST(0.0 AS DOUBLE)) AS ts
       |  FROM m
       |  UNION ALL
       |  SELECT it.k + 1,
       |         list_transform(range(1, len(m.states) + 1), i ->
       |           CASE WHEN m.states[i] = 'CONV' THEN CAST(1.0 AS DOUBLE)
       |                WHEN m.states[i] = 'NULL' THEN CAST(0.0 AS DOUBLE)
       |                ELSE ${r6(decDot("ps"))} END) AS ps,
       |         list_transform(range(1, len(m.states) + 1), i ->
       |           CASE WHEN m.states[i] IN ('CONV', 'NULL')
       |                  THEN CAST(0.0 AS DOUBLE)
       |                ELSE ${r6("1.0 + " + decDot("ts"))} END) AS ts
       |  FROM it CROSS JOIN m WHERE it.k < $HitIters),
       |fin AS (
       |  SELECT m.states[i.i] AS state, it.ps[i.i] AS p_conv,
       |         it.ts[i.i] AS exp_steps
       |  FROM it CROSS JOIN m
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(m.states) + 1)) AS i) i
       |  WHERE it.k = $HitIters)
       |SELECT state, p_conv, exp_steps FROM fin
       |WHERE state NOT IN ('CONV', 'NULL')
       |ORDER BY state""".stripMargin
  }

  // ------------------------------------------------------ #251 dq_clock_skew

  /** #251 dq_clock_skew: the CLOCK-SKEW audit — per producer (user),
    * events ordered by their sequence ids and checked for timestamp
    * MONOTONICITY: adjacent pairs where time runs backwards, the
    * inversion rate, and the worst backstep in seconds. The feed
    * defect #36b's watermarked dedup and every windowed aggregate
    * (#35) silently absorb until lateness exceeds the watermark: a
    * client with a drifting clock, an NTP step, or a replay-with-new-
    * ids all show up here first, and the max backstep IS the
    * watermark this library's streaming ops should be configured
    * with.
    *
    * Scale shape: one per-producer lag window (bounded by events per
    * producer), one rollup per producer — no joins. */
  def dqClockSkew(s: SparkSession, dir: String): DataFrame =
    dqClockSkewDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (user_id, ts, event_id). */
  def dqClockSkewDf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val lagged = ev
      .select(col("user_id"), epochUs(col("ts")).as("us"), col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("back",
        when(col("us") < col("prev_us"), col("prev_us") - col("us"))
          .otherwise(lit(0L)))
    lagged.groupBy(col("user_id"))
      .agg((count(lit(1)) + 1).as("n_events"),
           count(lit(1)).as("n_pairs"),
           sum(when(col("back") > 0, 1L).otherwise(0L)).as("n_inversions"),
           r(max(col("back")) / lit(1e6), 6).as("max_backstep_s"))
      .withColumn("inversion_rate",
        r(col("n_inversions") / col("n_pairs").cast("double"), 6))
      .select(col("user_id"), col("n_events"), col("n_pairs"),
              col("n_inversions"), col("inversion_rate"),
              col("max_backstep_s"))
      .orderBy(col("user_id"))
  }

  val dqClockSkewSql: String =
    s"""WITH lagged AS (
       |  SELECT user_id, us, prev_us,
       |         CASE WHEN us < prev_us THEN prev_us - us ELSE 0 END AS back
       |  FROM (
       |    SELECT user_id, epoch_us(ts) AS us,
       |           lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |                                      ORDER BY event_id) AS prev_us
       |    FROM events)
       |  WHERE prev_us IS NOT NULL)
       |SELECT user_id, count(*) + 1 AS n_events, count(*) AS n_pairs,
       |       CAST(sum(CASE WHEN back > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_inversions,
       |       ${sqlR("sum(CASE WHEN back > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)}
       |         AS inversion_rate,
       |       ${sqlR("max(back) / 1e6", 6)} AS max_backstep_s
       |FROM lagged GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------- #252 supplier_single_source

  /** Risk list size. */
  val SingleSourceTopK = 20

  /** #252 supplier_single_source: DOMINANT-SOURCE supply risk — per
    * part, the supplier concentration (distinct suppliers, the top
    * supplier's revenue share) and the risk score revenue×top_share,
    * ranked top [[SingleSourceTopK]]; a fully single-sourced part is
    * the top_share = 1 extreme, and the corpus single-source count
    * rides on every row. The procurement-risk LIST beside #172's
    * index: HHI says the region is concentrated, THIS names the exact
    * parts where one supplier failure costs the most revenue — what a
    * dual-sourcing program actually works from.
    *
    * Scale shape: one (part, supplier) aggregation, a per-part window
    * bounded by suppliers-per-part, corpus context as a broadcast
    * 1-row aggregate, the list via sort+limit (bounded heaps). */
  def supplierSingleSource(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(r(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
             .as("rev"))
    val wPart = Window.partitionBy(col("l_partkey"))
    val byPart = ps
      .withColumn("n_suppliers", count(lit(1)).over(wPart))
      .withColumn("revenue", r(sum(col("rev").cast("decimal(38,10)"))
        .over(wPart).cast("double"), 2))
      .withColumn("rk", row_number().over(
        wPart.orderBy(col("rev").desc, col("l_suppkey"))))
      .filter(col("rk") === 1)
      .select(col("l_partkey"), col("l_suppkey").as("top_suppkey"),
              col("n_suppliers").cast("long").as("n_suppliers"),
              col("revenue"),
              r(col("rev") / col("revenue"), 6).as("top_share"))
      .withColumn("risk", r(col("revenue") * col("top_share"), 2))
      // lazily pinned: byPart feeds BOTH the totals rollup and the
      // top-K readout — without the pin the lineitem groupBy + three
      // windows run once per consumer subtree
      .transform(graft.Lineage.pinLazy)
    val totals = byPart.agg(
      count(lit(1)).as("n_parts"),
      sum(when(col("n_suppliers") === 1, 1L).otherwise(0L)).as("n_single"))
    val top = byPart
      .orderBy(col("risk").desc, col("l_partkey"))
      .limit(SingleSourceTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("risk").desc, col("l_partkey"))).cast("long"))
    top.crossJoin(broadcast(totals))
      .withColumn("single_share",
        r(col("n_single") / col("n_parts").cast("double"), 6))
      .select(col("rank"), col("l_partkey").as("p_partkey"),
              col("top_suppkey").as("s_suppkey"), col("n_suppliers"),
              col("revenue"), col("top_share"), col("risk"),
              col("n_single"), col("single_share"))
      .orderBy(col("rank"))
  }

  val supplierSingleSourceSql: String =
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${sqlR(sqlSum("l_extendedprice * (1.0 - l_discount)"), 2)} AS rev
       |  FROM lineitem GROUP BY 1, 2),
       |byp AS (
       |  SELECT l_partkey, l_suppkey AS top_suppkey,
       |         CAST(n_suppliers AS BIGINT) AS n_suppliers, revenue,
       |         ${sqlR("rev / revenue", 6)} AS top_share,
       |         ${sqlR(s"revenue * (${sqlR("rev / revenue", 6)})", 2)} AS risk
       |  FROM (
       |    SELECT l_partkey, l_suppkey, rev,
       |           count(*) OVER (PARTITION BY l_partkey) AS n_suppliers,
       |           ${sqlR("CAST(sum(CAST(rev AS DECIMAL(38,10))) OVER (PARTITION BY l_partkey) AS DOUBLE)", 2)} AS revenue,
       |           row_number() OVER (PARTITION BY l_partkey
       |                              ORDER BY rev DESC, l_suppkey) AS rk
       |    FROM ps)
       |  WHERE rk = 1),
       |tot AS (
       |  SELECT count(*) AS n_parts,
       |         CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_single
       |  FROM byp),
       |top AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY risk DESC, l_partkey)
       |              AS BIGINT) AS rank
       |  FROM byp ORDER BY risk DESC, l_partkey LIMIT $SingleSourceTopK)
       |SELECT rank, l_partkey AS p_partkey, top_suppkey AS s_suppkey,
       |       n_suppliers, revenue, top_share, risk, tot.n_single,
       |       ${sqlR("tot.n_single / CAST(tot.n_parts AS DOUBLE)", 6)}
       |         AS single_share
       |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin

  // ------------------------------------------------ #253 text_vocab_coverage

  /** Vocabulary cutoffs the curve is sampled at. */
  val VocabCutoffs = Seq(100, 1000, 10000)

  /** #253 text_vocab_coverage: the VOCABULARY COVERAGE CURVE — what
    * fraction of all corpus tokens the top-k most frequent types cover,
    * sampled at k ∈ {100, 1k, 10k}. The tokenizer-design number BEFORE
    * training one: the coverage at the planned vocab size IS the
    * whole-word hit rate a WordPiece/BPE vocab starts from (#153
    * learns the merges; this says how far plain words get), its
    * complement is #114's OOV rate at that cutoff, and a corpus whose
    * curve flattens early (#94's steep Zipf slope) affords a smaller
    * vocabulary.
    *
    * Scale shape: one token aggregation to the vocabulary (corpus →
    * |vocab| rows), then the #193 VALUE-BUCKET identity instead of a
    * vocabulary-wide rank: types covered at a cutoff depend only on HOW
    * MANY types sit in each frequency bucket (ties within a bucket all
    * carry the same count, so it never matters WHICH words the rank
    * picks), so the only total-order window runs over the ≤|distinct
    * frequency values| bucket table — Zipf-bounded (≈√n_tokens), never
    * the billions-of-types vocabulary a web corpus has. */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame =
    textVocabCoverageDf(Tables.documents(s, dir))

  /** DataFrame-generic core: expects (doc_id, text). */
  def textVocabCoverageDf(docs: DataFrame): DataFrame = {
    val byc = docs
      .select(explode(lowerTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_types"))
    // types ranked before this bucket: cumulative over buckets by c
    // desc — a bucket-table window, not a vocab-table one
    val wPrev = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byc.withColumn("cum_before",
      coalesce(sum(col("n_types")).over(wPrev), lit(0L)))
    val cuts = VocabCutoffs.map(k =>
      struct(lit(k.toLong).as("cutoff"))).toArray
    cum
      .crossJoin(broadcast(
        docs.sparkSession.range(1).select(explode(array(cuts: _*)).as("p"))
          .select(col("p.cutoff"))))
      .groupBy(col("cutoff"))
      .agg(sum(col("n_types")).as("vocab_size"),
           sum(col("c") * col("n_types")).as("n_tokens"),
           sum(col("c") * greatest(lit(0L), least(col("n_types"),
               col("cutoff") - col("cum_before")))).as("tokens_covered"))
      .withColumn("n_types_used", least(col("cutoff"), col("vocab_size")))
      .withColumn("coverage",
        r(col("tokens_covered") / col("n_tokens").cast("double"), 6))
      .withColumn("oov_rate",
        r(lit(1.0) - col("tokens_covered") / col("n_tokens").cast("double"), 6))
      .select(col("cutoff"), col("vocab_size"), col("n_types_used"),
              col("n_tokens"), col("tokens_covered"), col("coverage"),
              col("oov_rate"))
      .orderBy(col("cutoff"))
  }

  val textVocabCoverageSql: String =
    s"""WITH vocab AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
       |    FROM documents)
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT w, c,
       |         CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk
       |  FROM vocab),
       |cuts AS (SELECT unnest([${VocabCutoffs.mkString(", ")}]) AS cutoff)
       |SELECT CAST(cutoff AS BIGINT) AS cutoff,
       |       max(rnk) AS vocab_size,
       |       least(CAST(cutoff AS BIGINT), max(rnk)) AS n_types_used,
       |       CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN rnk <= cutoff THEN c ELSE 0 END) AS BIGINT)
       |         AS tokens_covered,
       |       ${sqlR("sum(CASE WHEN rnk <= cutoff THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE)", 6)}
       |         AS coverage,
       |       ${sqlR("1.0 - sum(CASE WHEN rnk <= cutoff THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE)", 6)}
       |         AS oov_rate
       |FROM ranked CROSS JOIN cuts
       |GROUP BY cutoff ORDER BY cutoff""".stripMargin
}
