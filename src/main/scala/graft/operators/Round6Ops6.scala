package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-6 batch-20 analytics (SURVEY §2 #188-#191): langid quality
  * metrics, behavior-chain entropy, SPC control charts, and seasonal
  * indices.
  */
object Round6Ops6 {

  // ----------------------------------------------- #188 text_langid_eval

  /** #188 text_langid_eval: the METRIC layer over #23's confusion
    * matrix — per language: support, predictions, true positives,
    * precision, recall, F1, plus corpus accuracy. #23 pins the
    * classifier's raw (lang × predicted) counts; this is the readout a
    * curation team actually thresholds on before trusting the router
    * for mixture decisions (#74/#185 weight by lang — a low-recall
    * language silently starves its own weight).
    *
    * Scale shape: rides #23's single corpus scan; everything here is
    * algebra on the ≤|langs|² matrix (window sums on a model table). */
  def textLangidEval(s: SparkSession, dir: String): DataFrame = {
    val cm = TextOps.textLangid(s, dir)
    // Per-language rows come from BOTH roles of the matrix (truth and
    // prediction, full outer) so a language with zero true positives —
    // the exact failure this readout exists to surface — still gets a
    // row with recall 0 instead of silently vanishing with the missing
    // diagonal cell.
    // Single reference to cm (one corpus scan): each matrix cell plays
    // its truth role and its prediction role via one explode, then one
    // groupBy per language folds both.
    val roles = cm.select(explode(array(
        struct(col("lang").as("l"), lit(true).as("is_true"), col("n"),
               when(col("lang") === col("predicted"), col("n")).otherwise(0L)
                 .as("tp")),
        struct(col("predicted").as("l"), lit(false).as("is_true"), col("n"),
               lit(0L).as("tp")))).as("e"))
      .select(col("e.l").as("lang"), col("e.is_true"), col("e.n"), col("e.tp"))
    val per = roles.groupBy(col("lang"))
      .agg(sum(when(col("is_true"), col("n")).otherwise(0L)).as("n_true"),
           sum(when(!col("is_true"), col("n")).otherwise(0L)).as("n_pred"),
           sum(when(col("is_true"), col("tp")).otherwise(0L)).as("n_tp"))
    val wAll = Window.partitionBy()
    val prec = when(col("n_pred") > 0, r(col("n_tp") / col("n_pred"), 6))
      .otherwise(lit(0.0))
    val rec = when(col("n_true") > 0, r(col("n_tp") / col("n_true"), 6))
      .otherwise(lit(0.0))
    per
      .withColumn("accuracy",
        r(sum(col("n_tp")).over(wAll) / sum(col("n_true")).over(wAll), 6))
      .select(col("lang"), col("n_true"), col("n_pred"), col("n_tp"),
              prec.as("precision"), rec.as("recall"), col("accuracy"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          r(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 6)).otherwise(lit(0.0)))
      .select(col("lang"), col("n_true"), col("n_pred"), col("n_tp"),
              col("precision"), col("recall"), col("f1"), col("accuracy"))
      .orderBy(col("lang"))
  }

  val textLangidEvalSql: String = {
    val p6 = sqlR("n_tp / n_pred", 6)
    val r6v = sqlR("n_tp / n_true", 6)
    val prec = s"CASE WHEN n_pred > 0 THEN $p6 ELSE 0.0 END"
    val rec = s"CASE WHEN n_true > 0 THEN $r6v ELSE 0.0 END"
    s"""WITH cm AS (${TextOps.textLangidSql}),
       |bt AS (
       |  SELECT lang, sum(n) AS n_true,
       |         sum(CASE WHEN lang = predicted THEN n ELSE 0 END) AS n_tp
       |  FROM cm GROUP BY 1),
       |bp AS (SELECT predicted AS lang_p, sum(n) AS n_pred FROM cm GROUP BY 1),
       |t AS (SELECT ${sqlR("sum(CASE WHEN lang = predicted THEN n ELSE 0 END) / sum(n)", 6)} AS accuracy FROM cm),
       |j AS (
       |  SELECT COALESCE(lang, lang_p) AS lang,
       |         CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
       |         CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
       |         CAST(COALESCE(n_tp, 0) AS BIGINT) AS n_tp
       |  FROM bt FULL OUTER JOIN bp ON bt.lang = bp.lang_p)
       |SELECT lang, n_true, n_pred, n_tp,
       |       $prec AS precision, $rec AS recall,
       |       CASE WHEN ($prec) + ($rec) > 0
       |            THEN ${sqlR(s"2 * ($prec) * ($rec) / (($prec) + ($rec))", 6)}
       |            ELSE 0.0 END AS f1,
       |       accuracy
       |FROM j CROSS JOIN t ORDER BY lang""".stripMargin
  }

  // ------------------------------------------- #189 events_markov_entropy

  /** #189 events_markov_entropy: per-state Shannon entropy of the #60
    * behavior chain's transition rows plus the occupancy-weighted
    * ENTROPY RATE — how predictable the next action is given the
    * current one, the single number that says whether the #60 matrix
    * is worth deploying as a recommender prior (rate ≈ ln|types| means
    * the chain explains nothing; ≈ 0 means behavior is deterministic).
    * Occupancy is the empirical source-state frequency — the honest
    * plug-in weighting, not an eigenvector solve.
    *
    * Scale shape: transition counts are the #60 aggregation (one lag
    * window + one groupBy); entropies, occupancies and the rate are
    * decimal-window algebra on the ≤|types|² model table. ln terms are
    * 6dp-rounded before the decimal sum (the #125 discipline). */
  def eventsMarkovEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val wPrev = Window.partitionBy(col("prev"))
    val wAll = Window.partitionBy()
    val p = col("n") / sum(col("n")).over(wPrev)
    // p > 0 guard: a probability that 6dp-rounds to zero must contribute
    // 0 (the p·ln p limit) on BOTH engines — unguarded, Spark's log(0)
    // is NULL (term silently dropped) while DuckDB's ln(0) is -inf,
    // which NaNs the decimal sum and aborts the oracle.
    val hTerm = when(r(p, 6) > 0,
      r(-r(p, 6) * r(log(r(p, 6)), 6), 6)).otherwise(lit(0.0))
    val perState = trans
      .withColumn("h_term", hTerm)
      .groupBy(col("prev"))
      .agg(sum(col("n")).as("n_from"),
           dsum(col("h_term"), 6).as("entropy"))
      .withColumn("occupancy",
        r(col("n_from") / sum(col("n_from")).over(wAll), 6))
    perState
      .withColumn("entropy_rate",
        r(sum(r(col("occupancy") * col("entropy"), 6).cast("decimal(38,10)"))
          .over(wAll).cast("double"), 6))
      .select(col("prev").as("state"), col("n_from"), col("occupancy"),
              col("entropy"), col("entropy_rate"))
      .orderBy(col("state"))
  }

  val eventsMarkovEntropySql: String = {
    val p = "n / (sum(n) OVER (PARTITION BY prev))"
    val p6 = sqlR(p, 6)
    val hTerm =
      s"CASE WHEN ($p6) > 0 THEN ${sqlR(s"-($p6) * (${sqlR(s"ln($p6)", 6)})", 6)} ELSE 0.0 END"
    s"""WITH trans AS (
       |  SELECT prev, event_type AS next, count(*) AS n
       |  FROM (SELECT event_type,
       |               lag(event_type) OVER (PARTITION BY user_id
       |                                     ORDER BY ts, event_id) AS prev
       |        FROM events)
       |  WHERE prev IS NOT NULL
       |  GROUP BY 1, 2),
       |ht AS (SELECT prev, n, $hTerm AS h_term FROM trans),
       |st AS (
       |  SELECT prev, CAST(sum(n) AS BIGINT) AS n_from,
       |         ${sqlSum("h_term", 6)} AS entropy
       |  FROM ht GROUP BY 1),
       |occ AS (
       |  SELECT prev, n_from, entropy,
       |         ${sqlR("n_from / (sum(n_from) OVER ())", 6)} AS occupancy
       |  FROM st)
       |SELECT prev AS state, n_from, occupancy, entropy,
       |       ${sqlR(s"CAST(sum(CAST((${sqlR("occupancy * entropy", 6)}) AS DECIMAL(38,10))) OVER () AS DOUBLE)", 6)} AS entropy_rate
       |FROM occ ORDER BY state""".stripMargin
  }

  // ---------------------------------------- #190 lineitem_returns_pchart

  /** #190 lineitem_returns_pchart: the SPC p-chart over monthly return
    * rates — per ship month: lines, returns (`l_returnflag = 'R'`),
    * the rate, the corpus center line p̄, binomial 3σ control limits
    * p̄ ± 3·√(p̄(1−p̄)/n) (LCL floored at 0), and the out-of-control
    * flag. Statistical process control for the returns pipeline: #143's
    * CUSUM finds small sustained per-user shifts; the p-chart is the
    * classic month-grain process monitor an ops review reads.
    *
    * Scale shape: one month-key aggregation (calendar month via
    * year()/month() — both engines extract proleptic-Gregorian UTC
    * fields identically); the center line is a broadcast scalar; limits
    * and flags are map-only algebra on the ≤|months| model table. */
  def lineitemReturnsPchart(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ym"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
    val monthly = li.groupBy(col("ym"))
      .agg(count(lit(1)).as("n_lines"), sum(col("ret")).as("n_returns"))
    val totals = monthly.agg(
      r(sum(col("n_returns")) / sum(col("n_lines")), 6).as("p_bar"))
    val sigma = sqrt(col("p_bar") * (lit(1) - col("p_bar")) / col("n_lines"))
    monthly.crossJoin(broadcast(totals))
      .withColumn("rate", r(col("n_returns") / col("n_lines"), 6))
      .withColumn("ucl", r(col("p_bar") + lit(3) * sigma, 6))
      .withColumn("lcl", r(greatest(lit(0.0), col("p_bar") - lit(3) * sigma), 6))
      .withColumn("out_of_control",
        col("rate") > col("ucl") || col("rate") < col("lcl"))
      .select(col("ym"), col("n_lines"), col("n_returns"), col("rate"),
              col("p_bar"), col("lcl"), col("ucl"), col("out_of_control"))
      .orderBy(col("ym"))
  }

  val lineitemReturnsPchartSql: String = {
    val sigma = "sqrt(p_bar * (1 - p_bar) / n_lines)"
    s"""WITH m AS (
       |  SELECT CAST(year(CAST(l_shipdate AS TIMESTAMP)) * 100 +
       |              month(CAST(l_shipdate AS TIMESTAMP)) AS INT) AS ym,
       |         count(*) AS n_lines,
       |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
       |  FROM lineitem GROUP BY 1),
       |t AS (SELECT ${sqlR("CAST(sum(n_returns) AS DOUBLE) / CAST(sum(n_lines) AS DOUBLE)", 6)} AS p_bar FROM m),
       |x AS (
       |  SELECT m.ym, m.n_lines, m.n_returns, t.p_bar,
       |         ${sqlR("m.n_returns / m.n_lines", 6)} AS rate,
       |         ${sqlR(s"t.p_bar + 3 * $sigma", 6)} AS ucl,
       |         ${sqlR(s"greatest(0.0, t.p_bar - 3 * $sigma)", 6)} AS lcl
       |  FROM m CROSS JOIN t)
       |SELECT ym, n_lines, n_returns, rate, p_bar, lcl, ucl,
       |       (rate > ucl OR rate < lcl) AS out_of_control
       |FROM x ORDER BY ym""".stripMargin
  }

  // ---------------------------------------- #191 orders_seasonal_index

  /** #191 orders_seasonal_index: the classical monthly SEASONAL INDEX
    * of order revenue — per calendar month (1-12): observation years,
    * mean monthly revenue across years, and the index (that mean over
    * the across-months mean, so the indices average to 1). The
    * month-grain multiplicative profile beside #174's week-grain
    * additive model and #76's per-series decomposition: the one-table
    * answer to "how much is December worth vs June" a planning cycle
    * starts from.
    *
    * Scale shape: one (year, month)-key revenue aggregation (decimal
    * sums), then 12-row model-table algebra (means, window
    * normalization). */
  def ordersSeasonalIndex(s: SparkSession, dir: String): DataFrame = {
    // mean revenue held as INTEGER CENTS after the single 2dp rounding:
    // re-casting a ~1e8-magnitude computed double back to decimal for
    // the grand mean diverges at the ulp level between engines (the
    // shortest-repr vs binary-expansion cast split) — integer cents
    // make every later step exact in both
    val perMonth = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
              col("o_totalprice"))
      .groupBy(col("m"))
      .agg(countDistinct(col("y")).as("n_years"),
           dsum(col("o_totalprice")).as("total"))
      .withColumn("cents",
        floor(col("total") / col("n_years") * 100 + 0.5).cast("long"))
    val wAll = Window.partitionBy()
    perMonth
      .withColumn("mean_rev", col("cents") / lit(100.0))
      .withColumn("grand_mean",
        sum(col("cents")).over(wAll).cast("double") /
          (lit(100.0) * count(lit(1)).over(wAll)))
      .withColumn("seasonal_index", r(col("mean_rev") / col("grand_mean"), 6))
      .select(col("m").as("month"), col("n_years"), col("mean_rev"),
              col("seasonal_index"))
      .orderBy(col("month"))
  }

  val ordersSeasonalIndexSql: String =
    s"""WITH pm AS (
       |  SELECT month(CAST(o_orderdate AS TIMESTAMP)) AS m,
       |         CAST(count(DISTINCT year(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS n_years,
       |         ${sqlSum("o_totalprice")} AS total
       |  FROM orders GROUP BY 1),
       |c AS (
       |  SELECT m, n_years,
       |         CAST(floor(total / n_years * 100 + 0.5) AS BIGINT) AS cents
       |  FROM pm),
       |g AS (
       |  SELECT m, n_years, cents / 100.0 AS mean_rev,
       |         CAST(sum(cents) OVER () AS DOUBLE) /
       |           (100.0 * (count(*) OVER ())) AS grand_mean
       |  FROM c)
       |SELECT CAST(m AS INT) AS month, n_years, mean_rev,
       |       ${sqlR("mean_rev / grand_mean", 6)} AS seasonal_index
       |FROM g ORDER BY month""".stripMargin

  // ------------------------------------------------ #192 doc_vocab_drift

  private[graft] val VocabDriftTopK = 200

  /** #192 doc_vocab_drift: token-distribution DRIFT between two corpus
    * halves (deterministic doc-id hash split — the stand-in for
    * yesterday's crawl vs today's): per top-K token the two
    * frequencies, shares, and Jensen–Shannon contribution, tail mass
    * folded into one `__other__` bucket, plus the total JS divergence.
    * The TEXT twin of #113's embedding centroid drift — the monitor
    * that catches an upstream scraper change (new boilerplate, a lost
    * domain, a language shift) from raw token statistics before any
    * model sees the data.
    *
    * Scale shape: two half-tagged token counts in ONE scan (conditional
    * aggregation, no join of halves); the top-K vocabulary is a
    * sort+limit (TakeOrdered — bounded, never a ranking window); the
    * JS table is K+1 model rows; ln terms are 6dp-rounded before the
    * decimal window sum (#125). */
  def docVocabDrift(s: SparkSession, dir: String): DataFrame = {
    val half = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
                     16, 10).cast("long") % 2).cast("int")
    val toks = Tables.documents(s, dir)
      .select(half.as("h"), explode(graft.functions.TextFunctions.lowerTokens(col("text")))
        .as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy(col("tok"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("n_a"),
           sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_b"))
    val top = counts
      .orderBy((col("n_a") + col("n_b")).desc, col("tok"))
      .limit(VocabDriftTopK)
    val tot = counts.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    val withOther = top
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("n_a"), col("n_b"), col("tot_a"), col("tot_b"))
      .unionByName(
        top.agg(sum(col("n_a")).as("sa"), sum(col("n_b")).as("sb"))
          .crossJoin(broadcast(tot))
          .select(lit("__other__").as("tok"),
                  (col("tot_a") - col("sa")).as("n_a"),
                  (col("tot_b") - col("sb")).as("n_b"),
                  col("tot_a"), col("tot_b")))
    val pa = r(col("n_a") / col("tot_a"), 6)
    val pb = r(col("n_b") / col("tot_b"), 6)
    val withShares = withOther
      .withColumn("p_a", pa).withColumn("p_b", pb)
      .withColumn("m2", (col("p_a") + col("p_b")) / 2)
    val term = (p: org.apache.spark.sql.Column) =>
      when(p > 0, r(p * r(log(p / col("m2")), 6), 6)).otherwise(lit(0.0))
    withShares
      .withColumn("js_term",
        r((term(col("p_a")) + term(col("p_b"))) / 2, 6))
      .withColumn("js_total",
        r(sum(col("js_term").cast("decimal(38,10)")).over(Window.partitionBy())
          .cast("double"), 6))
      .select(col("tok"), col("n_a"), col("n_b"), col("p_a"), col("p_b"),
              col("js_term"), col("js_total"))
      .orderBy(col("js_term").desc, col("tok"))
  }

  val docVocabDriftSql: String = {
    def term(p: String) =
      s"CASE WHEN $p > 0 THEN ${sqlR(s"$p * (${sqlR(s"ln($p / m2)", 6)})", 6)} ELSE 0.0 END"
    s"""WITH toks AS (
       |  SELECT CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS INT) AS h,
       |         t.t AS tok
       |  FROM documents, LATERAL (SELECT unnest(string_split(lower(trim(text)), ' ')) AS t) t
       |  WHERE length(t.t) > 0),
       |counts AS (
       |  SELECT tok,
       |         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
       |               CAST(sum(n_b) AS BIGINT) AS tot_b FROM counts),
       |top AS (SELECT * FROM counts
       |        ORDER BY n_a + n_b DESC, tok LIMIT $VocabDriftTopK),
       |uni AS (
       |  SELECT t.tok, t.n_a, t.n_b, x.tot_a, x.tot_b
       |  FROM top t CROSS JOIN tot x
       |  UNION ALL
       |  SELECT '__other__', x.tot_a - s.sa, x.tot_b - s.sb, x.tot_a, x.tot_b
       |  FROM (SELECT CAST(sum(n_a) AS BIGINT) AS sa,
       |               CAST(sum(n_b) AS BIGINT) AS sb FROM top) s
       |  CROSS JOIN tot x),
       |sh AS (
       |  SELECT tok, n_a, n_b,
       |         ${sqlR("n_a / tot_a", 6)} AS p_a, ${sqlR("n_b / tot_b", 6)} AS p_b,
       |         ((${sqlR("n_a / tot_a", 6)}) + (${sqlR("n_b / tot_b", 6)})) / 2 AS m2
       |  FROM uni),
       |js AS (
       |  SELECT tok, n_a, n_b, p_a, p_b,
       |         ${sqlR(s"((${term("p_a")}) + (${term("p_b")})) / 2", 6)} AS js_term
       |  FROM sh)
       |SELECT tok, n_a, n_b, p_a, p_b, js_term,
       |       ${sqlR("CAST(sum(CAST(js_term AS DECIMAL(38,10))) OVER () AS DOUBLE)", 6)} AS js_total
       |FROM js ORDER BY js_term DESC, tok""".stripMargin
  }

  // --------------------------------------------- #193 events_activity_gini

  /** #193 events_activity_gini: the LORENZ CURVE + Gini coefficient of
    * per-user event activity — what share of total activity the
    * most-active users carry, and the single inequality number. The
    * user-axis complement of #105 (customer revenue Pareto) and #172
    * (supplier HHI): an abuse review reads it next to #145/#186
    * (a Gini drifting toward 1 means a shrinking cohort generates the
    * traffic — bot farms or power-user capture).
    *
    * Scale shape: the classic Gini needs a full rank over users — a
    * key-proportional window, banned here. Activity counts are SMALL
    * INTEGERS, so the computation VALUE-BUCKETS instead: one groupBy
    * per user, one groupBy per distinct activity level (≤ max-events-
    * per-user rows — a model table), then the exact grouped-data
    * trapezoidal Lorenz identity G = 1 − Σ s_i(V_{i−1} + V_i) with
    * integer-exact cumulative masses. */
  def eventsActivityGini(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
    val buckets = perUser.groupBy(col("n_ev"))
      .agg(count(lit(1)).as("n_users"))
    val wCum = Window.partitionBy().orderBy(col("n_ev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val enriched = buckets
      .withColumn("mass", col("n_ev") * col("n_users"))
      .withColumn("cum_users", sum(col("n_users")).over(wCum))
      .withColumn("cum_mass", sum(col("mass")).over(wCum))
      .withColumn("tot_users", sum(col("n_users")).over(wAll))
      .withColumn("tot_mass", sum(col("mass")).over(wAll))
    val vi = col("cum_mass").cast("double") / col("tot_mass")
    val viPrev = (col("cum_mass") - col("mass")).cast("double") / col("tot_mass")
    val si = col("n_users").cast("double") / col("tot_users")
    enriched
      .withColumn("pop_share", r(si, 6))
      .withColumn("cum_pop_share", r(col("cum_users") / col("tot_users"), 6))
      .withColumn("cum_mass_share", r(vi, 6))
      .withColumn("gini_term", r(si * (viPrev + vi), 6))
      .withColumn("gini",
        r(lit(1.0) - sum(col("gini_term").cast("decimal(38,10)")).over(wAll)
          .cast("double"), 6))
      .select(col("n_ev").as("events_per_user"), col("n_users"),
              col("pop_share"), col("cum_pop_share"), col("cum_mass_share"),
              col("gini"))
      .orderBy(col("events_per_user"))
  }

  val eventsActivityGiniSql: String = {
    val vi = "CAST(cum_mass AS DOUBLE) / tot_mass"
    val viPrev = "CAST(cum_mass - mass AS DOUBLE) / tot_mass"
    val si = "CAST(n_users AS DOUBLE) / tot_users"
    s"""WITH pu AS (SELECT user_id, count(*) AS n_ev FROM events GROUP BY 1),
       |b AS (SELECT n_ev, count(*) AS n_users FROM pu GROUP BY 1),
       |e AS (
       |  SELECT n_ev, n_users, n_ev * n_users AS mass,
       |         sum(n_users) OVER (ORDER BY n_ev) AS cum_users,
       |         sum(n_ev * n_users) OVER (ORDER BY n_ev) AS cum_mass,
       |         sum(n_users) OVER () AS tot_users,
       |         sum(n_ev * n_users) OVER () AS tot_mass
       |  FROM b),
       |g AS (
       |  SELECT n_ev, n_users, cum_users, tot_users, cum_mass, tot_mass,
       |         ${sqlR(si, 6)} AS pop_share,
       |         ${sqlR("CAST(cum_users AS DOUBLE) / tot_users", 6)} AS cum_pop_share,
       |         ${sqlR(vi, 6)} AS cum_mass_share,
       |         ${sqlR(s"($si) * (($viPrev) + ($vi))", 6)} AS gini_term
       |  FROM e)
       |SELECT CAST(n_ev AS BIGINT) AS events_per_user,
       |       CAST(n_users AS BIGINT) AS n_users,
       |       pop_share, cum_pop_share, cum_mass_share,
       |       ${sqlR("1.0 - CAST(sum(CAST(gini_term AS DECIMAL(38,10))) OVER () AS DOUBLE)", 6)} AS gini
       |FROM g ORDER BY events_per_user""".stripMargin
  }

  // ------------------------------------------- #194 events_burstiness

  /** #194 events_burstiness: per-user temporal BURSTINESS over the
    * active span — Fano factor (variance/mean of hourly counts, dense
    * grid including silent hours) and the Goh–Barabási burstiness
    * index B = (σ−μ)/(σ+μ) ∈ (−1, 1): B → −1 is a metronome, B ≈ 0
    * Poisson, B → 1 bursty. The temporal fingerprint BETWEEN #145
    * (cadence regularity via gap CV) and #186 (peak rate): a scraper
    * shows B ≈ −1 at high rate, a human B > 0.
    *
    * Scale shape: one (user, hour) count + one per-user moment rollup
    * (silent hours enter via span arithmetic, never materialized:
    * Σc over dense grid = n_events, Σc² = Σ over nonzero hours);
    * everything integer-exact until the final IEEE moments. */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    val hour = expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
    val perHour = Tables.events(s, dir)
      .select(col("user_id"), hour.as("h"))
      .groupBy(col("user_id"), col("h")).agg(count(lit(1)).as("c"))
    val mu = col("n_events").cast("double") / col("n_hours")
    val ex2 = col("sum_c2").cast("double") / col("n_hours")
    val vr = ex2 - mu * mu
    perHour.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
           sum(col("c") * col("c")).as("sum_c2"),
           (max(col("h")) - min(col("h")) + 1).as("n_hours"))
      .filter(col("n_hours") >= 2)
      .withColumn("mean_per_hour", r(mu, 6))
      .withColumn("fano", r(vr / mu, 6))
      .withColumn("burstiness",
        when(sqrt(greatest(vr, lit(0.0))) + mu > 0,
          r((sqrt(greatest(vr, lit(0.0))) - mu) /
            (sqrt(greatest(vr, lit(0.0))) + mu), 6)))
      .select(col("user_id"), col("n_events"), col("n_hours"),
              col("mean_per_hour"), col("fano"), col("burstiness"))
      .orderBy(col("user_id"))
  }

  val eventsBurstinessSql: String = {
    val mu = "CAST(n_events AS DOUBLE) / n_hours"
    val ex2 = "CAST(sum_c2 AS DOUBLE) / n_hours"
    val vr = s"(($ex2) - ($mu) * ($mu))"
    val sd = s"sqrt(greatest($vr, 0.0))"
    s"""WITH ph AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
       |         count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       |         CAST(sum(c * c) AS BIGINT) AS sum_c2,
       |         CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours
       |  FROM ph GROUP BY 1 HAVING max(h) - min(h) + 1 >= 2)
       |SELECT user_id, n_events, n_hours,
       |       ${sqlR(mu, 6)} AS mean_per_hour,
       |       ${sqlR(s"$vr / ($mu)", 6)} AS fano,
       |       CASE WHEN ($sd) + ($mu) > 0
       |            THEN ${sqlR(s"(($sd) - ($mu)) / (($sd) + ($mu))", 6)}
       |       END AS burstiness
       |FROM m ORDER BY user_id""".stripMargin
  }

  // -------------------------------------------- #195 corpus_epoch_plan

  private[graft] val EpochBudgetMultiple = 2L
  private[graft] val MaxEpochs = 4L

  /** #195 corpus_epoch_plan: the SAMPLING PLAN that turns the #185
    * temperature weights into an executable allocation — with a token
    * budget of 2× the corpus under the τ = 0.5 mixture, per (lang,
    * source): available tokens, natural share, mixture weight, the
    * weight's target allocation, epochs needed, and the grant after
    * the ≤4-epoch repetition cap (Muennighoff 2023: repeating data
    * past ~4 epochs stops buying loss) — `capped` rows are the groups
    * whose boost the budget CANNOT realize, the number the mixture
    * owner must reconcile before launch. #77 allocates within one
    * corpus by quality; this allocates across corpora by weight.
    *
    * Scale shape: one token count per group, then pure model-table
    * algebra (the τ grid point is the IEEE-exact dyadic sqrt); targets
    * are integer tokens (floor + 0.5 on identical doubles). */
  def corpusEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
              size(graft.functions.TextFunctions.tokens(col("text")))
                .cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"))
    val wAll = Window.partitionBy()
    val share = col("n_tokens").cast("double") /
      sum(col("n_tokens")).over(wAll).cast("double")
    val planned = g
      .withColumn("share", r(share, 6))
      .withColumn("w10", r(sqrt(share), 10).cast("decimal(18,10)"))
      .withColumn("weight",
        r(col("w10").cast("double") / sum(col("w10")).over(wAll).cast("double"), 6))
      .withColumn("budget",
        (sum(col("n_tokens")).over(wAll) * EpochBudgetMultiple))
      .withColumn("target_tokens",
        floor(col("budget").cast("double") * col("weight") + 0.5).cast("long"))
      .withColumn("granted_tokens",
        least(col("target_tokens"), col("n_tokens") * MaxEpochs))
    planned
      .withColumn("epochs_needed",
        r(col("target_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn("capped", col("target_tokens") > col("n_tokens") * MaxEpochs)
      .select(col("lang"), col("source"), col("n_tokens"), col("share"),
              col("weight"), col("target_tokens"), col("epochs_needed"),
              col("granted_tokens"), col("capped"))
      .orderBy(col("lang"), col("source"))
  }

  val corpusEpochPlanSql: String =
    s"""WITH g AS (
       |  SELECT lang, source,
       |         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1, 2),
       |sh AS (
       |  SELECT lang, source, n_tokens,
       |         CAST(n_tokens AS DOUBLE) /
       |           CAST(CAST(sum(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS p,
       |         CAST(CAST(sum(n_tokens) OVER () AS BIGINT) * $EpochBudgetMultiple AS BIGINT) AS budget
       |  FROM g),
       |wt AS (
       |  SELECT lang, source, n_tokens, budget, ${sqlR("p", 6)} AS share,
       |         CAST(${sqlR("sqrt(p)", 10)} AS DECIMAL(18,10)) AS w10
       |  FROM sh),
       |pl AS (
       |  SELECT lang, source, n_tokens, share,
       |         ${sqlR("CAST(w10 AS DOUBLE) / CAST(sum(w10) OVER () AS DOUBLE)", 6)} AS weight,
       |         CAST(floor(CAST(budget AS DOUBLE) *
       |           (${sqlR("CAST(w10 AS DOUBLE) / CAST(sum(w10) OVER () AS DOUBLE)", 6)}) + 0.5) AS BIGINT) AS target_tokens
       |  FROM wt)
       |SELECT lang, source, n_tokens, share, weight, target_tokens,
       |       ${sqlR("CAST(target_tokens AS DOUBLE) / n_tokens", 6)} AS epochs_needed,
       |       LEAST(target_tokens, n_tokens * $MaxEpochs) AS granted_tokens,
       |       target_tokens > n_tokens * $MaxEpochs AS capped
       |FROM pl ORDER BY lang, source""".stripMargin

  // ---------------------------------------- #196 events_conversion_lag

  /** #196 events_conversion_lag: FIRST-TOUCH → first-conversion lag —
    * per converting user the whole hours from their first event of any
    * kind to their first purchase, rolled up into an hour-bucket
    * histogram with counts and mean lag. The funnel-velocity readout
    * between #20b (did the ordered steps happen) and #152 (return-time
    * survival): how long the product takes to convert a fresh user,
    * the number an onboarding experiment moves.
    *
    * Scale shape: two conditional min-aggregates in ONE per-user pass
    * (no self-join of the event stream), map-only bucketing, a ≤4-row
    * rollup with a decimal-exact mean. */
  def eventsConversionLag(s: SparkSession, dir: String): DataFrame = {
    val us = epochUs(col("ts"))
    val lags = Tables.events(s, dir)
      .select(col("user_id"), us.as("us"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"),
           min(when(col("event_type") === Round6Ops3.ConvType, col("us")))
             .as("first_conv_us"))
      .filter(col("first_conv_us").isNotNull)
      .withColumn("lag_hours",
        expr("(first_conv_us - first_us) div 3600000000"))
    val bucket = when(col("lag_hours") === 0, lit("a_under_1h"))
      .when(col("lag_hours") <= 6, lit("b_1_6h"))
      .when(col("lag_hours") <= 24, lit("c_7_24h"))
      .otherwise(lit("d_over_24h"))
    lags.select(col("lag_hours"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
           davg(col("lag_hours").cast("double"), 6).as("mean_lag_hours"))
      .orderBy(col("bucket"))
  }

  val eventsConversionLagSql: String =
    s"""WITH lags AS (
       |  SELECT user_id,
       |         (min(CASE WHEN event_type = '${Round6Ops3.ConvType}'
       |                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) -
       |          min(epoch_us(CAST(ts AS TIMESTAMP)))) // 3600000000 AS lag_hours
       |  FROM events GROUP BY 1
       |  HAVING min(CASE WHEN event_type = '${Round6Ops3.ConvType}'
       |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) IS NOT NULL),
       |b AS (
       |  SELECT lag_hours,
       |         CASE WHEN lag_hours = 0 THEN 'a_under_1h'
       |              WHEN lag_hours <= 6 THEN 'b_1_6h'
       |              WHEN lag_hours <= 24 THEN 'c_7_24h'
       |              ELSE 'd_over_24h' END AS bucket
       |  FROM lags)
       |SELECT bucket, count(*) AS n_users,
       |       ${sqlAvg("CAST(lag_hours AS DOUBLE)", 6)} AS mean_lag_hours
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------- #197 graph_assortativity

  /** #197 graph_assortativity: DEGREE assortativity of the #31d kNN
    * graph (Newman 2002) — the Pearson correlation of endpoint degrees
    * over the symmetric edge list, plus node/edge counts and mean
    * degree. The last panel of the graph-health battery: #181 finds
    * hubs, #171 measures local closure, this says whether hubs link to
    * hubs (assortative, r > 0 — near-dup clique cores) or to leaves
    * (disassortative, r < 0 — hub-and-spoke false neighborhoods).
    *
    * Scale shape: degrees are one groupBy over the edge list; the
    * correlation joins each edge to its two endpoint degrees (two
    * key-equi joins against a node-cardinality table) and reduces to
    * decimal-exact moment sums — no pair space beyond the edges. */
  def graphAssortativity(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // the memoized symmetric kNN edge set shared with #302/#313/#347
    val und = Round9Ops2.knnUndCached(s, dir, k)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val joined = und
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
      .select(col("dx").cast("double").as("x"), col("dy").cast("double").as("y"))
    val m = joined.agg(
      count(lit(1)).cast("double").as("m"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val cxy = col("sxy") - col("sx") * col("sy") / col("m")
    val cxx = col("sxx") - col("sx") * col("sx") / col("m")
    val cyy = col("syy") - col("sy") * col("sy") / col("m")
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
                        dsum(col("deg").cast("double")).as("sum_deg"))
    m.crossJoin(broadcast(nodes))
      .select(col("n_nodes"),
              (col("m") / 2).cast("long").as("n_edges"),
              r(col("sum_deg") / col("n_nodes"), 6).as("mean_degree"),
              when(cxx > 0 && cyy > 0,
                r(cxy / (sqrt(cxx) * sqrt(cyy)), 6)).as("assortativity"))
  }

  def graphAssortativitySql(k: Int = 3): String = {
    val cxy = "(sxy - sx * sy / m)"
    val cxx = "(sxx - sx * sx / m)"
    val cyy = "(syy - sy * sy / m)"
    s"""WITH g AS (SELECT q_id, vec_id FROM (${Similarity.knnGraphSql(k)})),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT q_id AS src, vec_id AS dst FROM g
       |    UNION ALL
       |    SELECT vec_id AS src, q_id AS dst FROM g)),
       |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
       |xy AS (
       |  SELECT CAST(a.deg AS DOUBLE) AS x, CAST(b.deg AS DOUBLE) AS y
       |  FROM und u JOIN deg a ON u.src = a.node JOIN deg b ON u.dst = b.node),
       |m AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS m,
       |         ${sqlSum("x")} AS sx, ${sqlSum("y")} AS sy,
       |         ${sqlSum("x * y")} AS sxy, ${sqlSum("x * x")} AS sxx,
       |         ${sqlSum("y * y")} AS syy
       |  FROM xy),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |              ${sqlSum("CAST(deg AS DOUBLE)")} AS sum_deg FROM deg)
       |SELECT nd.n_nodes, CAST(m.m / 2 AS BIGINT) AS n_edges,
       |       ${sqlR("nd.sum_deg / nd.n_nodes", 6)} AS mean_degree,
       |       CASE WHEN $cxx > 0 AND $cyy > 0
       |            THEN ${sqlR(s"$cxy / (sqrt($cxx) * sqrt($cyy))", 6)}
       |       END AS assortativity
       |FROM m CROSS JOIN nd""".stripMargin
  }

  // ------------------------------------------------ #199 doc_feature_corr

  /** The four per-document quality-battery features the correlation
    * audit runs over, in output order. */
  private[graft] val CorrFeatures = Seq("chars", "flesch", "quality", "tokens")

  /** #199 doc_feature_corr: the FEATURE-REDUNDANCY audit over the text
    * quality battery — pairwise Pearson correlations between document
    * length (chars), Flesch ease (#175), the combined quality score
    * (#22) and token count, over every document. The readout a
    * curation team checks before adding another gate: two features
    * correlating at |r| ≳ 0.9 filter the same documents twice (one
    * threshold inherits the other's bias), and a quality score that
    * correlates strongly with raw length is measuring size, not
    * quality.
    *
    * Scale shape: ONE map-only scan computes all four features and
    * every moment (4 sums + 10 second moments, decimal-exact) in a
    * single aggregate; the 6-row correlation table is pure algebra on
    * that one-row model result, unpacked with one explode so the
    * aggregate subplan appears exactly once.
    *
    * Numeric discipline: Pearson correlation is invariant under
    * positive affine rescaling, so each feature is expressed in
    * bounded units (chars and tokens in thousands, Flesch in
    * hundreds) BEFORE the moment accumulation — every cross-product
    * then stays far below the ~1e8 double→decimal cast-divergence
    * magnitude the #191 seasonal index documents (a 1e5-char document
    * with a pathological Flesch would otherwise push chars·flesch to
    * ~1e9, where the two engines' decimal casts split at the ulp). */
  def docFeatureCorr(s: SparkSession, dir: String): DataFrame = {
    val w = TextOps2.fleschWords
    val flesch = TextOps2.fleschEase(w, TextOps2.fleschSentences,
                                     TextOps2.fleschSyllables)
    val feats: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "chars" -> r(length(col("text")) / lit(1000.0), 6),
      "flesch" -> r(flesch / lit(100.0), 6),
      "quality" -> TextOps.qualityCol,
      "tokens" -> r(w / lit(1000.0), 6))
    val base = Tables.documents(s, dir)
      .filter(w > 0)
      .select(feats.map { case (n0, c) => c.as(n0) }: _*)
    val pairs = for {
      i <- CorrFeatures.indices; j <- i until CorrFeatures.length
    } yield (CorrFeatures(i), CorrFeatures(j))
    val aggs = count(lit(1)).cast("double").as("n") +:
      (CorrFeatures.map(f => dsum(col(f)).as(s"s_$f")) ++
       pairs.map { case (a, b) => dsum(col(a) * col(b)).as(s"ss_${a}_$b") })
    val m = base.agg(aggs.head, aggs.tail: _*)
    def cm(a: String, b: String) = {
      val (x, y) = if (a <= b) (a, b) else (b, a)
      col(s"ss_${x}_$y") - col(s"s_$a") * col(s"s_$b") / col("n")
    }
    val pairStructs = pairs.filter { case (a, b) => a != b }.map { case (a, b) =>
      struct(lit(a).as("feature_a"), lit(b).as("feature_b"),
             when(cm(a, a) > 0 && cm(b, b) > 0,
               r(cm(a, b) / (sqrt(cm(a, a)) * sqrt(cm(b, b))), 6)).as("corr"))
    }
    m.select(col("n").cast("long").as("n_docs"),
             explode(array(pairStructs: _*)).as("p"))
      .select(col("p.feature_a"), col("p.feature_b"), col("n_docs"),
              col("p.corr"))
      .orderBy(col("feature_a"), col("feature_b"))
  }

  val docFeatureCorrSql: String = {
    val w = TextOps2.fleschWordsSql
    val flesch = TextOps2.fleschEaseSql(
      w, TextOps2.fleschSentencesSql, TextOps2.fleschSyllablesSql)
    val defs = Map(
      "chars" -> sqlR("length(text) / 1000.0", 6),
      "flesch" -> sqlR(s"($flesch) / 100.0", 6),
      "quality" -> TextOps.qualitySqlFrag,
      "tokens" -> sqlR(s"($w) / 1000.0", 6))
    val featSel = CorrFeatures.map(f => s"${defs(f)} AS $f").mkString(",\n         ")
    val pairs = for {
      i <- CorrFeatures.indices; j <- i until CorrFeatures.length
    } yield (CorrFeatures(i), CorrFeatures(j))
    val moments = (s"CAST(count(*) AS DOUBLE) AS n" +:
      (CorrFeatures.map(f => s"${sqlSum(f)} AS s_$f") ++
       pairs.map { case (a, b) => s"${sqlSum(s"$a * $b")} AS ss_${a}_$b" }))
      .mkString(",\n         ")
    def cmf(a: String, b: String) = {
      val (x, y) = if (a <= b) (a, b) else (b, a)
      s"(ss_${x}_$y - s_$a * s_$b / n)"
    }
    val sel = pairs.filter { case (a, b) => a != b }.map { case (a, b) =>
      s"""SELECT '$a' AS feature_a, '$b' AS feature_b,
         |       CAST(n AS BIGINT) AS n_docs,
         |       CASE WHEN ${cmf(a, a)} > 0 AND ${cmf(b, b)} > 0
         |            THEN ${sqlR(s"${cmf(a, b)} / (sqrt(${cmf(a, a)}) * sqrt(${cmf(b, b)}))", 6)}
         |       END AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (
       |  SELECT $featSel
       |  FROM documents WHERE $w > 0),
       |m AS (
       |  SELECT $moments
       |  FROM f)
       |$sel
       |ORDER BY feature_a, feature_b""".stripMargin
  }
}
