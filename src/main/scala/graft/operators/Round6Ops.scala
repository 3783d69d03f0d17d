package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Round-6 operator batch (SURVEY §2 #115, #116, #118, #121, #122):
  * Holt double-exponential smoothing, grid-resolution two-sample
  * Kolmogorov–Smirnov distance, fixed-length token-sequence packing
  * stats, banded non-equi price joins, and per-user behavioral entropy.
  * Same contracts as every other batch: Parity decimal/rounding
  * discipline end-to-end, no key-proportional global windows, joins
  * either broadcast-bounded or banded.
  */
object Round6Ops {

  // --------------------------------------------------------- #115 ts_holt

  // the one copy of the Holt constants: ts_holt, the #139 backtest and
  // stream_holt fold with holtFold, and the oracles spell them from here
  private[graft] val HoltAlpha = 0.5
  private[graft] val HoltBeta = 0.3
  private[graft] val HoltHorizon = 7

  /** #115 ts_holt: Holt's linear-trend (double-exponential) smoothing
    * per series with zero initial trend (l₀ = x₀, b₀ = 0):
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * and an h-step forecast l + h·b — the level/trend monitor and
    * short-horizon forecaster of an ops pipeline (the batch twin of the
    * streaming EWMA family).
    *
    * The recursion is inherently sequential PER SERIES: [[foldSeries]]
    * runs [[holtFold]] over each series' sorted daily values (≤366·years
    * elements; series are independent → linear scaling, one shuffle).
    * Each step rounds l and b half-up at
    * 6dp ([[graft.Parity.sqlR6d]]), so the fold is bit-identical to the
    * oracle's `list_reduce` replay (both fold left-to-right over the
    * same doubles). Gaps in the daily record advance the fold by
    * observation (no implicit NaN-fill), matching the
    * `list(sst ORDER BY d)` replay. */
  def tsHolt(s: SparkSession, dir: String): DataFrame =
    tsHoltDf(Mhw.daily(s, dir))

  /** Each series of a daily frame (user_id, d, sst) as (user_id, n_obs,
    * st): `fold` over its values in day order (a null sst keeps its
    * slot), run by a UDF on the groupBy's sorted value array. The one
    * shape of the day-grain folds (#115, #136, #139, #174). */
  private[operators] def foldSeries[R: TypeTag](dl: DataFrame)(
      fold: Seq[Option[Double]] => R): DataFrame =
    dl.groupBy(col("user_id")).agg(count(lit(1)).as("n_obs"), udf(fold).apply(
      transform(sort_array(collect_list(struct(col("d"), col("sst")))), p => p("sst"))).as("st"))

  /** The Holt recursion over one series' sorted daily values: the final
    * (level, trend). A null value nulls the level from its step on, as
    * SQL arithmetic does, and the trend then reads 0.0: ts_holt's
    * output contract, where the trend is never null. Each step is
    * rounded with [[graft.Parity.sqlR6d]]. The only Holt fold: ts_holt,
    * the #139 backtest (over the train prefix) and stream_holt run it. */
  private[graft] def holtFold(xs: collection.Seq[Option[Double]]): (Option[Double], Double) =
    xs.tail.foldLeft((xs.head, 0.0)) { case ((l, b), x) =>
      val nl = for (x <- x; l <- l)
        yield sqlR6d(HoltAlpha * x + (1 - HoltAlpha) * (l + b))
      (nl, (for (nl <- nl; l <- l)
        yield sqlR6d(HoltBeta * (nl - l) + (1 - HoltBeta) * b)).getOrElse(0.0))
    }

  /** One ts_holt row: the fitted level and trend, and the
    * [[HoltHorizon]]-step forecast (6dp, NaN kept). */
  private[graft] final case class HoltRow(level: Option[Double], trend: Double,
                                          forecast: Option[Double])

  private[graft] def holt(xs: collection.Seq[Option[Double]]): HoltRow = {
    val (l, b) = holtFold(xs)
    HoltRow(l, b, l.map(l => r6d(l + HoltHorizon * b)))
  }

  def tsHoltDf(dl: DataFrame): DataFrame =
    foldSeries(dl)(holt).select(col("user_id"), col("n_obs"), col("st.*"))

  val tsHoltSql: String = {
    val r6 = (x: String) => sqlR(x, 6) // Parity's ONE rounding fragment
    // state is a 2-element DOUBLE list [l, b], NOT a struct: DuckDB
    // 1.0.0's list_reduce mis-evaluates struct-typed accumulators past
    // two elements (verified: single lambda application correct, 3-el
    // fold wrong) while list-typed state folds exactly
    val newL = r6(s"$HoltAlpha * e[1] + ${1 - HoltAlpha} * (acc[1] + acc[2])")
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |series AS (
       |  SELECT user_id, count(*) AS n_obs, list(sst ORDER BY d) AS xs
       |  FROM daily GROUP BY 1),
       |folded AS (
       |  SELECT user_id, n_obs,
       |    list_reduce(
       |      list_prepend([xs[1], CAST(0.0 AS DOUBLE)],
       |        list_transform(xs[2:], x -> [x, CAST(0.0 AS DOUBLE)])),
       |      (acc, e) -> [
       |        $newL,
       |        ${r6(s"$HoltBeta * ($newL - acc[1]) + ${1 - HoltBeta} * acc[2]")}]) AS st
       |  FROM series)
       |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
       |       st[1] AS level, st[2] AS trend,
       |       ${r6(s"st[1] + $HoltHorizon * st[2]")} AS forecast
       |FROM folded""".stripMargin
  }

  // ------------------------------------------------ #174 ts_holt_winters

  // the one copy of the Holt-Winters constants (ts_holt_winters,
  // stream_holt_winters and the oracle)
  private[graft] val HwAlpha = 0.5
  private[graft] val HwBeta = 0.3
  private[graft] val HwGamma = 0.2
  private[graft] val HwSeason = 7

  /** #174 ts_holt_winters: additive Holt–Winters triple-exponential
    * smoothing per series (season m = 7, the weekly cycle #166 shows
    * the event stream has) — #115's level/trend recursion plus a
    * rotating seasonal register:
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * classic init (l₀ = first-week mean, b₀ = 0, s_i = x_i − l₀),
    * output = the state plus the next full week of seasonal forecasts
    * l + h·b + s_{t+h−m}. The short-horizon forecaster to use once
    * #134/#135 has shown a real weekly line in the spectrum — #139
    * backtests Holt WITHOUT seasonality; this is the model that
    * removes the weekly residual it leaves.
    *
    * Scale shape: identical to #115 — [[foldSeries]] runs
    * [[holtWinters]] (state = 9 doubles), every step 6dp-rounded so
    * the oracle's list_reduce replay (9-element LIST state — the DuckDB
    * struct-accumulator bug workaround) is bit-identical; series are
    * independent, one shuffle, nothing key-proportional. */
  def tsHoltWinters(s: SparkSession, dir: String): DataFrame =
    tsHoltWintersDf(Mhw.daily(s, dir))

  /** One ts_holt_winters series: the final level and trend and the
    * forecasts h = 1…m, each null once a null value reached it. */
  private[graft] final case class HwRow(level: Option[Double], trend: Option[Double],
                                        forecasts: Seq[Option[Double]])

  /** The Holt-Winters recursion over one series' sorted daily values,
    * None below m + 1 values. A null value flows through the SQL
    * arithmetic (it nulls what it touches); every step, the first-week
    * mean and the forecasts are rounded with [[graft.Parity.sqlR6d]].
    * The only Holt-Winters fold: ts_holt_winters and
    * stream_holt_winters run it. */
  private[graft] def holtWinters(xs: collection.Seq[Option[Double]]): Option[HwRow] =
    Option.when(xs.length >= HwSeason + 1) {
      val first = xs.take(HwSeason)
      val l0 = first.foldLeft(Option(0.0))((a, x) => for (a <- a; x <- x) yield a + x)
        .map(t => sqlR6d(t / HwSeason))
      val init = (l0, Option(0.0), first.map(x => for (x <- x; l <- l0) yield sqlR6d(x - l)))
      val (l, b, ss) = xs.drop(HwSeason).foldLeft(init) { case ((l, b, ss), x) =>
        val sm = ss.head
        val nl = for (x <- x; sm <- sm; l <- l; b <- b)
          yield sqlR6d(HwAlpha * (x - sm) + (1 - HwAlpha) * (l + b))
        val nb = for (nl <- nl; l <- l; b <- b)
          yield sqlR6d(HwBeta * (nl - l) + (1 - HwBeta) * b)
        val ns = for (x <- x; nl <- nl; sm <- sm)
          yield sqlR6d(HwGamma * (x - nl) + (1 - HwGamma) * sm)
        (nl, nb, ss.tail :+ ns)
      }
      HwRow(l, b, ss.indices.map(i =>
        for (l <- l; b <- b; s <- ss(i)) yield sqlR6d(l + (i + 1) * b + s)))
    }

  def tsHoltWintersDf(dl: DataFrame): DataFrame =
    foldSeries(dl)(holtWinters)
      .filter(col("n_obs") >= HwSeason + 1)
      .select(col("user_id"), col("n_obs"),
              col("st.level"), col("st.trend"), posexplode(col("st.forecasts")))
      .select(col("user_id"), col("n_obs"), col("level"), col("trend"),
              (col("pos") + 1).cast("int").as("h"), col("col").as("forecast"))
      .orderBy(col("user_id"), col("h"))

  val tsHoltWintersSql: String = {
    val r6 = (x: String) => sqlR(x, 6)
    val m = HwSeason
    val l0 = r6(s"list_reduce(xs[1:$m], (a, x) -> a + x) / $m")
    val sInit = (1 to m).map(i => r6(s"xs[$i] - l0")).mkString(", ")
    val pad = (1 to m + 1).map(_ => "CAST(0.0 AS DOUBLE)").mkString(", ")
    val newL = r6(s"$HwAlpha * (e[1] - acc[3]) + ${1 - HwAlpha} * (acc[1] + acc[2])")
    val newB = r6(s"$HwBeta * (($newL) - acc[1]) + ${1 - HwBeta} * acc[2]")
    val newS = r6(s"$HwGamma * (e[1] - ($newL)) + ${1 - HwGamma} * acc[3]")
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |series AS (
       |  SELECT user_id, count(*) AS n_obs, list(sst ORDER BY d) AS xs
       |  FROM daily GROUP BY 1 HAVING count(*) >= ${m + 1}),
       |init AS (
       |  SELECT user_id, n_obs, xs, $l0 AS l0 FROM series),
       |folded AS (
       |  SELECT user_id, n_obs,
       |    list_reduce(
       |      list_prepend(list_append([l0, CAST(0.0 AS DOUBLE), $sInit], CAST(0.0 AS DOUBLE)),
       |        list_transform(xs[${m + 1}:], x -> [x, $pad])),
       |      (acc, e) -> [
       |        $newL, $newB, acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
       |        $newS, CAST(0.0 AS DOUBLE)]) AS st
       |  FROM init)
       |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
       |       st[1] AS level, st[2] AS trend, CAST(h.h AS INT) AS h,
       |       ${r6("st[1] + h.h * st[2] + st[2 + h.h]")} AS forecast
       |FROM folded CROSS JOIN (SELECT unnest(range(1, ${m + 1})) AS h) h
       |ORDER BY user_id, h""".stripMargin
  }

  // ------------------------------------------------- #116 events_ks_2samp

  private[graft] val KsBins = 64

  /** #116 events_ks_2samp: two-sample Kolmogorov–Smirnov distance
    * between every pair of event types' value distributions — the
    * nonparametric complement of #104's Welch t (distribution shift,
    * not just mean shift; the drift monitor for reward/score columns).
    *
    * Exact KS needs a merged sort of both samples — a per-type ranking
    * window over a key-proportional table, banned here. Instead the
    * ECDFs are evaluated at the [[KsBins]] edges of one shared
    * equi-width grid (global min/max, broadcast scalars):
    * D̂ = max_edges |F̂_a − F̂_b|, under-estimating D by at most the
    * largest single-bin mass (the #83 quantile-sketch error contract).
    * Histogram counts are mergeable O(bins) partials; the cumsum
    * windows run over the 64-row-per-type dense grid, never over
    * events. */
  def eventsKs2samp(s: SparkSession, dir: String): DataFrame =
    eventsKs2sampDf(Tables.events(s, dir))

  def eventsKs2sampDf(ev: DataFrame): DataFrame = {
    val counts = ev.crossJoin(broadcast(ksBounds(ev)))
      .groupBy(col("event_type"), ksBin.as("bin"))
      .agg(count(lit(1)).as("c"))
    ksFromCounts(counts, ev.select(col("event_type")).distinct())
  }

  /** Global value bounds — the shared grid both samples are binned on. */
  private[graft] def ksBounds(ev: DataFrame): DataFrame =
    ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))

  /** Bin of `value` on the [lo, hi] equi-width grid (degenerate
    * lo = hi → bin 0). */
  private[graft] def ksBin: Column =
    when(col("hi") === col("lo"), lit(0)).otherwise(
      least(lit(KsBins - 1),
        floor(((col("value") - col("lo")) / (col("hi") - col("lo"))) * KsBins)
          .cast("int")))

  /** D̂ per type pair from per-(type, bin) counts — the post-histogram
    * stage, shared with the streaming twin (#129) whose state IS the
    * counts. All windows run over the types × [[KsBins]] dense grid. */
  private[graft] def ksFromCounts(counts: DataFrame, types: DataFrame): DataFrame = {
    // dense (type × bin) grid so every type has a cum value at every
    // edge — types × 64 rows, all windows bounded by the grid
    val grid = types
      .crossJoin(types.sparkSession.range(KsBins)
        .select(col("id").cast("int").as("bin")))
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("event_type")
    val cdf = grid.join(counts, Seq("event_type", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
      .select(col("event_type"), col("bin"),
              (col("cum").cast("double") / col("n").cast("double")).as("f"))
    val a = cdf.select(col("event_type").as("type_a"), col("bin"), col("f").as("fa"))
    val b = cdf.select(col("event_type").as("type_b"), col("bin"), col("f").as("fb"))
    a.join(b, Seq("bin")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(r(max(abs(col("fa") - col("fb"))), 6).as("ks_d"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val eventsKs2sampSql: String =
    s"""WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       |counts AS (
       |  SELECT event_type,
       |         CASE WHEN b.hi = b.lo THEN 0
       |              ELSE LEAST(${KsBins - 1},
       |                CAST(floor(((value - b.lo) / (b.hi - b.lo)) * $KsBins) AS INT))
       |         END AS bin,
       |         count(*) AS c
       |  FROM events CROSS JOIN bounds b GROUP BY 1, 2),
       |grid AS (
       |  SELECT t.event_type, g.bin
       |  FROM (SELECT DISTINCT event_type FROM events) t
       |  CROSS JOIN (SELECT CAST(range AS INT) AS bin FROM range(0, $KsBins)) g),
       |cdf AS (
       |  SELECT g.event_type, g.bin,
       |         CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY g.event_type
       |              ORDER BY g.bin ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
       |         CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY g.event_type) AS DOUBLE) AS f
       |  FROM grid g LEFT JOIN counts c
       |    ON g.event_type = c.event_type AND g.bin = c.bin)
       |SELECT a.event_type AS type_a, b.event_type AS type_b,
       |       ${sqlR("max(abs(a.f - b.f))", 6)} AS ks_d
       |FROM cdf a JOIN cdf b ON a.bin = b.bin AND a.event_type < b.event_type
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------- #118 doc_pack_sequences

  private val SeqLen = 256L

  /** #118 doc_pack_sequences: fixed-length training-sequence packing
    * stats — concatenate each source's documents in doc_id order and
    * chop into [[SeqLen]]-token sequences (the pretraining dataloader's
    * packing step); report per source the sequence count, fill ratio
    * (= 1 − padding waste of the final sequence) and how many documents
    * straddle a sequence boundary (get split across training examples).
    *
    * Same DISTRIBUTED PREFIX SUM shape as #91 corpus_shard_pack: token
    * start offsets come from a bucket-local cumsum (windows of
    * ≤ bucketDocs rows) plus a per-source offset over the bucket
    * AGGREGATE — no partition ever holds a whole source. The offsets
    * depend only on (source, doc_id, n_tokens), so the plain
    * single-window SQL replay is a valid oracle. */
  def docPackSequences(s: SparkSession, dir: String,
                       bucketDocs: Long = 1000L): DataFrame =
    docPackSequencesDf(Tables.documents(s, dir), bucketDocs)

  def docPackSequencesDf(docs: DataFrame, bucketDocs: Long = 1000L): DataFrame = {
    val sized = docs.select(col("doc_id"), col("source"),
      size(lowerTokens(col("text"))).cast("long").as("n_tok"),
      (col("doc_id") / lit(bucketDocs)).cast("long").as("bkt"))
    val wLocal = Window.partitionBy("source", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sized.withColumn("cum_local", sum(col("n_tok")).over(wLocal))
    val wBkt = Window.partitionBy("source").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sized.groupBy(col("source"), col("bkt"))
      .agg(sum(col("n_tok")).as("bkt_tok"))
      .withColumn("off", coalesce(sum(col("bkt_tok")).over(wBkt), lit(0L)))
      .select(col("source"), col("bkt"), col("off"))
    val placed = local.join(graft.Hints.keyDim(offsets), Seq("source", "bkt"))
      .withColumn("start", col("off") + col("cum_local") - col("n_tok"))
      .withColumn("crossing",
        (floor(col("start") / lit(SeqLen.toDouble)) =!=
         floor((col("start") + col("n_tok") - 1) / lit(SeqLen.toDouble)))
          .cast("int"))
    placed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("crossing")).as("n_crossing"))
      .withColumn("n_sequences",
        floor((col("total_tokens") + SeqLen - 1) / lit(SeqLen.toDouble)).cast("long"))
      .withColumn("fill_ratio",
        r(col("total_tokens").cast("double") /
          (col("n_sequences") * SeqLen).cast("double"), 6))
      .orderBy(col("source"))
  }

  val docPackSequencesSql: String =
    s"""WITH sized AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |placed AS (
       |  SELECT doc_id, source, n_tok,
       |         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start
       |  FROM sized),
       |flags AS (
       |  SELECT source, n_tok,
       |         CASE WHEN floor(start / ${SeqLen}.0) <>
       |                   floor((start + n_tok - 1) / ${SeqLen}.0)
       |              THEN 1 ELSE 0 END AS crossing
       |  FROM placed),
       |agg AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |         CAST(sum(crossing) AS BIGINT) AS n_crossing
       |  FROM flags GROUP BY 1)
       |SELECT source, n_docs, total_tokens, n_crossing,
       |       CAST(floor((total_tokens + ${SeqLen - 1}) / ${SeqLen}.0) AS BIGINT) AS n_sequences,
       |       ${sqlR(s"CAST(total_tokens AS DOUBLE) / CAST(CAST(floor((total_tokens + ${SeqLen - 1}) / ${SeqLen}.0) AS BIGINT) * $SeqLen AS DOUBLE)", 6)} AS fill_ratio
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------- #121 part_price_band_join

  private val PriceDelta = 1.0

  /** #121 part_price_band_join: banded non-equi self-join — pairs of
    * parts from DIFFERENT brands whose retail prices lie within
    * [[PriceDelta]] of each other, rolled up per brand pair (the
    * competitive-pricing / near-duplicate-listing probe). The naive
    * |price_a − price_b| ≤ δ predicate plans a cartesian; the scalable
    * shape is INTEGER BANDING: band = ⌊price/δ⌋, one side fans out to
    * its 3 adjacent bands (map-side ×3), the join is a plain hash
    * equi-join on the band, and the exact |Δ| ≤ δ filter runs only
    * within candidate bands. Candidate volume is Σ per-band
    * occupancy² — bounded by price concentration, never all-pairs
    * (the interval-join #46 argument, applied to a value band).
    * `pk_a < pk_b` on the UNDUPLICATED pair (each pair meets in
    * exactly one band: b's own) keeps the count exact. */
  def partPriceBandJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"),
              col("p_retailprice").as("price"))
    val a = p
      .withColumn("band",
        explode(array((-1 to 1).map(k =>
          floor(col("price") / PriceDelta).cast("long") + k): _*)))
      .select(col("pk").as("pk_a"), col("brand").as("brand_a"),
              col("price").as("price_a"), col("band"))
    val b = p
      .withColumn("band", floor(col("price") / PriceDelta).cast("long"))
      .select(col("pk").as("pk_b"), col("brand").as("brand_b"),
              col("price").as("price_b"), col("band"))
    a.join(b, Seq("band"))
      .filter(col("pk_a") < col("pk_b") &&
              col("brand_a") =!= col("brand_b") &&
              abs(col("price_a") - col("price_b")) <= PriceDelta)
      .groupBy(least(col("brand_a"), col("brand_b")).as("brand_lo"),
               greatest(col("brand_a"), col("brand_b")).as("brand_hi"))
      .agg(count(lit(1)).as("n_pairs"),
           davg(abs(col("price_a") - col("price_b")), 6).as("avg_gap"))
      .orderBy(col("brand_lo"), col("brand_hi"))
  }

  val partPriceBandJoinSql: String =
    s"""SELECT LEAST(a.p_brand, b.p_brand) AS brand_lo,
       |       GREATEST(a.p_brand, b.p_brand) AS brand_hi,
       |       count(*) AS n_pairs,
       |       ${sqlAvg("abs(a.p_retailprice - b.p_retailprice)", 6)} AS avg_gap
       |FROM part a JOIN part b
       |  ON a.p_partkey < b.p_partkey
       | AND a.p_brand <> b.p_brand
       | AND abs(a.p_retailprice - b.p_retailprice) <= $PriceDelta
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- #125 events_pmi

  /** #125 events_pmi: pointwise mutual information between event types
    * over per-user co-occurrence — PMI(a,b) = ln(P(a,b)/(P(a)·P(b)))
    * with user-level presence probabilities. The association-mining
    * feature (which behaviors travel together) in the same family as
    * #66 brand_affinity's lift, but information-theoretic and over the
    * events stream. Scale shape: the distinct (user, type) table is
    * ≤ users × |types|; the per-user type self-join fans out ≤ |types|²
    * per user (types are a bounded vocabulary); marginals broadcast
    * back. The libm ln is 6dp-rounded before use (#24f discipline). */
  def eventsPmi(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).cast("double").as("n_users"))
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
               col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"),
              r(r(log((col("n_ab") * col("n_users")) /
                      (col("n_a") * col("n_b"))), 6), 6).as("pmi"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val eventsPmiSql: String =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |nu AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM ut),
       |marg AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
       |pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
       |  FROM ut a JOIN ut b ON a.user_id = b.user_id
       |                     AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT p.type_a, p.type_b, p.n_ab,
       |       ${sqlR(sqlR("ln((p.n_ab * nu.n_users) / (ma.n * mb.n))", 6), 6)} AS pmi
       |FROM pairs p
       |JOIN marg ma ON p.type_a = ma.event_type
       |JOIN marg mb ON p.type_b = mb.event_type
       |CROSS JOIN nu
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- #127 orders_backlog_aging

  /** #127 orders_backlog_aging: the open-order backlog aged as of the
    * corpus' last order date — per (priority, age bucket): order count
    * and value at risk. The operational WIP report every warehouse
    * runs. One scan + one bounded groupBy; the as-of date is a
    * broadcast scalar, never a driver-side collect. */
  def ordersBacklogAging(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val asof = o.agg(max(to_date(col("o_orderdate"))).as("asof"))
    val age = datediff(col("asof"), to_date(col("o_orderdate")))
    val bucket = when(age <= 30, "a_0_30").when(age <= 90, "b_31_90")
      .when(age <= 365, "c_91_365").otherwise("d_365_plus")
    o.filter(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(asof))
      .groupBy(col("o_orderpriority"), bucket.as("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice"), 2).as("value_at_risk"))
      .orderBy(col("o_orderpriority"), col("age_bucket"))
  }

  val ordersBacklogAgingSql: String =
    s"""WITH cutoff AS (SELECT max(CAST(o_orderdate AS DATE)) AS d FROM orders)
       |SELECT o_orderpriority,
       |       CASE WHEN datediff('day', CAST(o_orderdate AS DATE), cutoff.d) <= 30 THEN 'a_0_30'
       |            WHEN datediff('day', CAST(o_orderdate AS DATE), cutoff.d) <= 90 THEN 'b_31_90'
       |            WHEN datediff('day', CAST(o_orderdate AS DATE), cutoff.d) <= 365 THEN 'c_91_365'
       |            ELSE 'd_365_plus' END AS age_bucket,
       |       count(*) AS n_orders,
       |       ${sqlSum("o_totalprice", 2)} AS value_at_risk
       |FROM orders CROSS JOIN cutoff
       |WHERE o_orderstatus <> 'F'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------- #122 events_type_entropy

  /** #122 events_type_entropy: Shannon entropy of each user's
    * event-type mix — the behavioral-diversity feature (bots and
    * single-purpose accounts sit near 0; exploratory users near
    * ln(n_types)). Same two-exchange windows-then-group shape and the
    * same round-the-libm-ln-before-use discipline as #24f
    * text_token_entropy (ln is the one libm call whose last ulp
    * differs across engines; 6dp-rounding it first makes the decimal
    * sum identical). Event-type cardinality is bounded, so every
    * window here runs over ≤ |types| rows per user. */
  def eventsTypeEntropy(s: SparkSession, dir: String): DataFrame =
    eventsTypeEntropyDf(Tables.events(s, dir))

  def eventsTypeEntropyDf(ev: DataFrame): DataFrame = {
    val cnt = ev
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("user_id")
    val p = col("c") / col("n")
    cnt.withColumn("n", sum(col("c")).over(w))
      .withColumn("n_types", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(first(col("n")).as("n_events"),
           first(col("n_types")).as("n_types"),
           dsum(-(p * r(log(p), 6)), 6).as("entropy"))
      .orderBy(col("user_id"))
  }

  val eventsTypeEntropySql: String =
    s"""WITH cnt AS (
       |  SELECT user_id, event_type, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |tot AS (
       |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types
       |  FROM cnt GROUP BY 1)
       |SELECT c.user_id, t.n AS n_events, t.n_types,
       |       ${sqlSum("-((c.c / t.n) * (" + sqlR("ln(c.c / t.n)", 6) + "))", 6)} AS entropy
       |FROM cnt c JOIN tot t USING (user_id)
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
}
