package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Sketch-based and statistical pipeline operators (SURVEY §2 #72-#76):
  * Count-Min heavy hitters, bloom-filter semi-join pruning, corpus
  * mixing weights, per-series autocorrelation, and day-of-week seasonal
  * decomposition.
  *
  * Like the portable HLL (#54), the sketches here are deterministic and
  * integer-exact: register contents are md5-derived, every aggregate is
  * mergeable (map-side combinable — O(sketch) shuffle bytes no matter
  * the input size), and the DuckDB oracle replays the estimator
  * bit-for-bit rather than "approximately".
  */
object Sketches {

  // ------------------------------------------------------ #72 Count-Min

  /** CMS geometry: depth 4 independent rows × width 64 counters. */
  private val CmsDepth = 4
  private val CmsWidth = 64

  /** md5-derived position of the row's `user_id` key in CMS row `r`
    * (reads the `r` and `user_id` columns of the enclosing frame). */
  private def cmsPos: Column =
    expr(s"CAST(conv(substring(md5(CAST(concat(CAST(r AS STRING), ':', " +
         s"CAST(user_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)") % CmsWidth

  /** Count-Min register table (r, pos, cnt) over event rows keyed by
    * user_id. Counts are mergeable partials: at 100 TB the map-side
    * combine collapses each partition to ≤ depth×width rows before the
    * shuffle, and the same aggregation runs unchanged as streaming
    * state (sum is the merge operator — see Streaming.streamCms). */
  def cmsRegisters(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("r"), cmsPos.as("pos"))
      .groupBy(col("r"), col("pos"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate candidate keys against a register table and rank the
    * top `k` (estimate DESC, key ASC). The register table is broadcast —
    * it is ≤ depth×width rows by construction. Candidates here are the
    * distinct keys (fine at bench SF); at 100 TB the candidate set is
    * whatever sampler/prior produced it — the sketch itself never stores
    * keys, which is the point. */
  def cmsTopK(regs: DataFrame, candidates: DataFrame, exact: DataFrame,
              k: Int): DataFrame = {
    val est = candidates
      .select(col("user_id"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("user_id"), col("r"), cmsPos.as("pos"))
      .join(broadcast(regs), Seq("r", "pos"))
      .groupBy(col("user_id"))
      .agg(min(col("cnt")).as("cms_est"))
    // Top-k via TakeOrderedAndProject (per-partition bounded heaps, like
    // eventsHeavyHitters) — the global row_number window this replaced
    // would sort EVERY candidate key on one executor at 100 TB key
    // cardinality. The rank window that remains runs over ≤ k rows.
    val top = est.join(exact, Seq("user_id"))
      .orderBy(col("cms_est").desc, col("user_id"))
      .limit(k)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cms_est").desc, col("user_id")))
          .cast("int"))
      .select(col("user_id"), col("cms_est"), col("n_exact"), col("rank"))
  }

  /** #72 events_cms: top-10 heaviest users by Count-Min estimate, with
    * the exact row count alongside (the CMS guarantee est ≥ exact is
    * spec-pinned). */
  def eventsCms(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val ev = Tables.events(s, dir)
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    cmsTopK(cmsRegisters(ev), ev.select(col("user_id")).distinct(), exact, k)
  }

  /** Shared CTE fragments so the batch oracle and the streaming oracle
    * stay character-identical where they overlap. */
  private def cmsHashSql(rExpr: String): String =
    s"('0x' || substr(md5($rExpr || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % $CmsWidth"

  private[operators] def cmsFinalizeSql(regsCte: String): String =
    s"""$regsCte,
       |keys AS (SELECT DISTINCT user_id FROM events),
       |kh AS (
       |  SELECT k.user_id, i.r, ${cmsHashSql("i.r::VARCHAR")} AS pos
       |  FROM keys k CROSS JOIN rs i),
       |est AS (
       |  SELECT kh.user_id, min(c.cnt) AS cms_est
       |  FROM kh JOIN regs c ON c.r = kh.r AND c.pos = kh.pos
       |  GROUP BY 1),
       |exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1)
       |SELECT user_id, cms_est, n_exact, CAST(rank AS INT) AS rank FROM (
       |  SELECT e.user_id, e.cms_est, x.n_exact,
       |         row_number() OVER (ORDER BY e.cms_est DESC, e.user_id) AS rank
       |  FROM est e JOIN exact x USING (user_id))
       |WHERE rank <= 10""".stripMargin

  val eventsCmsSql: String = cmsFinalizeSql(
    s"""WITH rs AS (SELECT unnest([0,1,2,3]) AS r),
       |regs AS (
       |  SELECT r, pos, count(*) AS cnt FROM (
       |    SELECT i.r, ${cmsHashSql("i.r::VARCHAR")} AS pos
       |    FROM events CROSS JOIN rs i)
       |  GROUP BY 1, 2)""".stripMargin)

  // ---------------------------------------- #73 bloom-filter semi-join

  /** Bloom geometry: 4 words × 60 usable bits (bit 63 untouched — DuckDB
    * and the JVM agree on `1L << b` only below the sign bit), k = 3. */
  private val BloomWords = 4
  private val BloomBitsPerWord = 60
  private val BloomBits = BloomWords * BloomBitsPerWord
  private val BloomK = 3

  private def bloomBit(i: Int): Column =
    expr(s"CAST(conv(substring(md5(CAST(concat('$i:', CAST(user_id AS STRING)) " +
         s"AS BINARY)), 1, 15), 16, 10) AS BIGINT)") % BloomBits

  /** #73 events_bloom_join: runtime-filter shape. Build a 240-bit bloom
    * over the purchase-user set (bit_or aggregate → 4 long words — a
    * CONSTANT-size build no matter how many members), broadcast it, and
    * pre-filter the full event scan before the exact membership join.
    * Output per event type: rows scanned, rows passing the bloom, rows
    * actually belonging to members, and the false-positive overshoot —
    * no false negatives, pinned in SketchesSpec. At 100 TB this is the
    * semi-join pruning Spark's own runtime filters do, made explicit
    * and portable. */
  def eventsBloomJoin(s: SparkSession, dir: String): DataFrame =
    bloomProbeReport(s, dir,
      bloomWords(Tables.events(s, dir)
        .filter(col("event_type") === "purchase").select(col("user_id"))))

  /** Bloom word table (w, bits) from rows carrying a `user_id` key.
    * bit_or is idempotent, so NO distinct is needed before the build —
    * one partial-agg groupBy over ≤4 word groups, and the identical
    * aggregation runs as streaming state (bit_or is the merge operator —
    * Streaming.streamBloom). */
  def bloomWords(keyed: DataFrame): DataFrame =
    keyed
      .select(explode(array((0 until BloomK).map(bloomBit): _*)).as("bit"))
      .select(expr(s"CAST(bit div $BloomBitsPerWord AS INT)").as("w"),
              expr(s"shiftleft(CAST(1 AS BIGINT), CAST(bit % $BloomBitsPerWord AS INT))").as("mask"))
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))

  /** Probe the full event scan against a bloom word table and report
    * per-type pass/member/false-positive counts (shared by the batch
    * and streaming paths). */
  def bloomProbeReport(s: SparkSession, dir: String, bits: DataFrame): DataFrame = {
    val ev = Tables.events(s, dir)
    val members = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    // conditional agg pivots the ≤4 rows to one (w0..w3) row, absent
    // words coalesce to 0
    val wordAggs = (0 until BloomWords).map(w =>
      coalesce(max(when(col("w") === w, col("bits"))), lit(0L)).as(s"w$w"))
    val bloomRow = bits.agg(wordAggs.head, wordAggs.tail: _*)
    val words = array((0 until BloomWords).map(w => col(s"w$w")): _*)
    val pass = (0 until BloomK).map { i =>
      expr(s"(shiftright(element_at(ws, CAST(b$i div $BloomBitsPerWord AS INT) + 1), " +
           s"CAST(b$i % $BloomBitsPerWord AS INT)) & 1) = 1")
    }
    val probed = ev.crossJoin(broadcast(bloomRow))
      .withColumn("ws", words)
      .withColumns(Map((0 until BloomK).map(i => s"b$i" -> bloomBit(i)): _*))
      .withColumn("bloom_pass", pass.reduce(_ && _))
      .join(members.withColumn("is_member", lit(true)), Seq("user_id"), "left")
    probed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           count(when(col("bloom_pass"), 1)).as("n_pass"),
           count(when(col("is_member"), 1)).as("n_member"))
      .withColumn("n_false_pos", col("n_pass") - col("n_member"))
      .orderBy(col("event_type"))
  }

  val eventsBloomJoinSql: String = {
    def bitSql(i: Int, key: String): String =
      s"('0x' || substr(md5('$i:' || CAST($key AS VARCHAR)), 1, 15))::BIGINT % $BloomBits"
    val passFrags = (0 until BloomK).map { i =>
      val b = bitSql(i, "e.user_id")
      s"((list_extract([b.w0, b.w1, b.w2, b.w3], CAST(($b) // $BloomBitsPerWord AS INT) + 1) " +
      s">> CAST(($b) % $BloomBitsPerWord AS INT)) & 1) = 1"
    }
    s"""WITH members AS (
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
       |mbits AS (
       |  SELECT bit FROM (
       |    SELECT unnest([${(0 until BloomK).map(i => bitSql(i, "user_id")).mkString(", ")}]) AS bit
       |    FROM members)),
       |words AS (
       |  SELECT bit // $BloomBitsPerWord AS w,
       |         bit_or(1::BIGINT << CAST(bit % $BloomBitsPerWord AS INT)) AS bits
       |  FROM mbits GROUP BY 1),
       |bloom AS (
       |  SELECT ${(0 until BloomWords).map(w =>
             s"coalesce(max(CASE WHEN w = $w THEN bits END), 0) AS w$w").mkString(", ")}
       |  FROM words),
       |probed AS (
       |  SELECT e.event_type,
       |         (${passFrags.mkString(") AND (")}) AS bloom_pass,
       |         m.user_id IS NOT NULL AS is_member
       |  FROM events e CROSS JOIN bloom b
       |  LEFT JOIN members m ON m.user_id = e.user_id)
       |SELECT event_type, count(*) AS n_rows,
       |       count(CASE WHEN bloom_pass THEN 1 END) AS n_pass,
       |       count(CASE WHEN is_member THEN 1 END) AS n_member,
       |       count(CASE WHEN bloom_pass THEN 1 END) -
       |         count(CASE WHEN is_member THEN 1 END) AS n_false_pos
       |FROM probed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------- #74 corpus mixing weights

  /** #74 corpus_mix_weights: per-(lang, source) token inventory and
    * temperature-scaled sampling weights — the data-mixing step of a
    * training pipeline (upweight small domains, α = 0.5). weight ∝
    * share^α, normalized. sqrt is IEEE-correctly-rounded (bit-identical
    * cross-engine, unlike pow); normalization sums DECIMAL(18,10)
    * weights so the total is order-independent. One scan + one 2-key
    * groupBy; the normalizing window runs over ≤ |langs|×|sources|
    * rows. */
  /** #74's mergeable token inventory: per (lang, source) doc and token
    * counts — both merge by addition, so the SAME aggregate is the
    * streaming state in [[graft.streaming.Streaming.streamMixWeights]]. */
  def mixRegisters(docs: DataFrame): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    docs
      .select(col("lang"), col("source"), size(toks).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  def corpusMixWeights(s: SparkSession, dir: String): DataFrame =
    mixFinalize(mixRegisters(Tables.documents(s, dir)))

  /** Share/weight readout over the ≤(langs×sources) register table. */
  def mixFinalize(g: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val share = col("n_tokens").cast("double") /
      sum(col("n_tokens")).over(all).cast("double")
    val w10 = r(sqrt(share), 10).cast("decimal(18,10)")
    g.withColumn("share", r(share, 6))
      .withColumn("weight",
        r(w10.cast("double") / sum(w10).over(all).cast("double"), 6))
      .orderBy(col("lang"), col("source"))
  }

  val corpusMixWeightsSql: String =
    s"""WITH g AS (
       |  SELECT lang, source, count(*) AS n_docs,
       |         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1, 2),
       |sh AS (
       |  SELECT lang, source, n_docs, n_tokens,
       |         CAST(n_tokens AS DOUBLE) /
       |           CAST(CAST(sum(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS share
       |  FROM g),
       |wt AS (
       |  SELECT *, CAST(${sqlR("sqrt(share)", 10)} AS DECIMAL(18,10)) AS w10 FROM sh)
       |SELECT lang, source, n_docs, n_tokens,
       |       ${sqlR("share", 6)} AS share,
       |       ${sqlR("CAST(w10 AS DOUBLE) / CAST(sum(w10) OVER () AS DOUBLE)", 6)} AS weight
       |FROM wt ORDER BY 1, 2""".stripMargin

  // ------------------------------------------ #75 autocorrelation

  /** #75 ts_autocorr: per-series lag-1/lag-2 autocorrelation of `value`
    * over the per-user time order. Pearson over (v, lag v) pairs,
    * assembled from decimal-exact moment sums so both engines compute
    * the identical IEEE expression at the end. The lag window and the
    * aggregation share one user_id exchange. Zero-variance series →
    * NULL (nullif guards the denominator). */
  def tsAutocorr(s: SparkSession, dir: String): DataFrame =
    tsAutocorrDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (user_id, ts, event_id, value). */
  def tsAutocorrDf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def acf(x: Column, y: Column): Column = {
      val n = count(y).cast("double")
      val sx = dsum(when(y.isNotNull, x))
      val sy = dsum(y)
      val sxy = dsum(x * y)
      val sxx = dsum(when(y.isNotNull, x * x))
      val syy = dsum(y * y)
      r((n * sxy - sx * sy) /
        nullif(sqrt(greatest(lit(0d), n * sxx - sx * sx) *
                    greatest(lit(0d), n * syy - sy * sy)), lit(0d)), 6)
    }
    ev
      .select(col("user_id"), col("value").as("v"),
              lag(col("value"), 1).over(w).as("l1"),
              lag(col("value"), 2).over(w).as("l2"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
           acf(col("v"), col("l1")).as("acf1"),
           acf(col("v"), col("l2")).as("acf2"))
      .orderBy(col("user_id"))
  }

  val tsAutocorrSql: String = {
    def acf(x: String, y: String): String = {
      val n = s"CAST(count($y) AS DOUBLE)"
      val sx = sqlSum(s"CASE WHEN $y IS NOT NULL THEN $x END")
      val sy = sqlSum(y)
      val sxy = sqlSum(s"$x * $y")
      val sxx = sqlSum(s"CASE WHEN $y IS NOT NULL THEN $x * $x END")
      val syy = sqlSum(s"$y * $y")
      sqlR(s"($n * $sxy - $sx * $sy) / " +
           s"nullif(sqrt(greatest(0.0, $n * $sxx - $sx * $sx) * " +
           s"greatest(0.0, $n * $syy - $sy * $sy)), 0.0)", 6)
    }
    s"""WITH lagged AS (
       |  SELECT user_id, value AS v,
       |         lag(value, 1) OVER w AS l1,
       |         lag(value, 2) OVER w AS l2
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, count(*) AS n,
       |       ${acf("v", "l1")} AS acf1,
       |       ${acf("v", "l2")} AS acf2
       |FROM lagged GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ------------------------------------ #82 deterministic split

  /** #82 corpus_split: seedless train/val/test assignment — the
    * md5-uniform of doc_id against fixed 80/10/10 boundaries. Every doc
    * lands in exactly one split, independent of partitioning, scan
    * order, or corpus growth (a doc keeps its split when new data
    * arrives — the property a 100 TB incremental pipeline needs, and
    * why this is NOT randomSplit, whose assignment depends on partition
    * layout). Output: per-(lang, split) doc/token inventory. */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    val u = expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)")
      .cast("double") / math.pow(2, 60)
    Tables.documents(s, dir)
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
             .as("n_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val corpusSplitSql: String =
    s"""WITH assigned AS (
       |  SELECT lang,
       |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
       |              ELSE 'test' END AS split,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
       |  FROM (SELECT *,
       |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |            / ${math.pow(2, 60)} AS u
       |        FROM documents))
       |SELECT lang, split, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------ #83 histogram quantile sketch

  private val QsBins = 64

  /** Per-type value ranges — the sketch's "model side": bin edges must
    * be fixed before counting, so a streaming deployment computes (or
    * configures) them up front and the unbounded pass only maintains
    * counts. */
  private[graft] def qsRanges(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))

  /** Histogram registers: per-(type, bin) counts against fixed ranges.
    * Sum-mergeable — the same expression is the streaming state in
    * [[graft.streaming.Streaming.streamQuantile]], so stream registers
    * are bit-identical to the batch sketch. Stream-static broadcast
    * join: the tiny ranges table is the static side. */
  private[graft] def qsBinned(ev: DataFrame, ranges: DataFrame): DataFrame =
    ev.join(broadcast(ranges), "event_type")
      .withColumn("bin",
        coalesce(least(lit(QsBins - 1),
          floor((col("value") - col("vmin")) /
                nullif(col("vmax") - col("vmin"), lit(0d)) * QsBins).cast("int")), lit(0)))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Estimate p50/p90/p99 from the ≤ types×bins register table. */
  private[graft] def qsFinalize(binned: DataFrame, ranges: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val cum = binned
      .withColumn("cum_hi", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_lo", col("cum_hi") - col("cnt"))
      .join(broadcast(ranges), "event_type")
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    def est(q: Double): Column = {
      val target = lit(q) * col("n").cast("double")
      val frac = (target - col("cum_lo").cast("double")) / col("cnt").cast("double")
      val width = (col("vmax") - col("vmin")) / QsBins
      r(min(when(col("cum_hi").cast("double") >= target,
        col("vmin") + (col("bin").cast("double") + least(lit(1d), greatest(lit(0d), frac))) * width)), 6)
    }
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
           est(0.5).as("p50_est"), est(0.9).as("p90_est"), est(0.99).as("p99_est"))
      .orderBy(col("event_type"))
  }

  /** #83 events_quantile_sketch: mergeable equi-width histogram
    * quantiles — the O(bins)-state alternative to exact percentiles
    * (which co-locate every value of a group). Pass 1: per-type
    * min/max (algebraic). Pass 2: per-(type, bin) counts (algebraic,
    * ≤64 rows/group survive the map side). Estimates interpolate
    * linearly inside the target bin, so |est − exact| ≤ one bin width —
    * the bound SketchesSpec pins against #49's exact percentiles. Both
    * passes are map-side-combinable: at 100 TB the shuffle carries
    * O(types × bins) rows, never values. */
  def eventsQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val ranges = qsRanges(ev)
    qsFinalize(qsBinned(ev, ranges), ranges)
  }

  val eventsQuantileSketchSql: String = {
    def est(q: Double): String = {
      val target = s"$q * CAST(n AS DOUBLE)"
      val frac = s"(($target) - CAST(cum_lo AS DOUBLE)) / CAST(cnt AS DOUBLE)"
      val width = s"(vmax - vmin) / $QsBins"
      sqlR(s"min(CASE WHEN CAST(cum_hi AS DOUBLE) >= $target THEN " +
           s"vmin + (CAST(bin AS DOUBLE) + least(1.0, greatest(0.0, $frac))) * ($width) END)", 6)
    }
    s"""WITH ranges AS (
       |  SELECT event_type, min(value) AS vmin, max(value) AS vmax
       |  FROM events GROUP BY 1),
       |binned AS (
       |  SELECT event_type, bin, count(*) AS cnt FROM (
       |    SELECT e.event_type,
       |           coalesce(least($QsBins - 1, CAST(floor((e.value - r.vmin) /
       |             nullif(r.vmax - r.vmin, 0.0) * $QsBins) AS INT)), 0) AS bin
       |    FROM events e JOIN ranges r USING (event_type))
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT b.*, r.vmin, r.vmax,
       |         CAST(sum(cnt) OVER (PARTITION BY b.event_type ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hi,
       |         CAST(sum(cnt) OVER (PARTITION BY b.event_type ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt AS cum_lo,
       |         CAST(sum(cnt) OVER (PARTITION BY b.event_type) AS BIGINT) AS n
       |  FROM binned b JOIN ranges r USING (event_type))
       |SELECT event_type, max(n) AS n,
       |       ${est(0.5)} AS p50_est, ${est(0.9)} AS p90_est, ${est(0.99)} AS p99_est
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------ #89 KMV distinct-set overlap

  /** KMV geometry: k minimum hash values per set; hashes uniform on
    * [0, 16^15) = [0, 2^60) — 15 md5 hex digits, the same portable
    * construction as the CMS positions. */
  private[graft] val KmvK = 256
  private val KmvM = 1152921504606846976L // 16^15 = 2^60, exact in double

  /** #89 events_kmv_overlap: audience-overlap estimation between event
    * types from k-minimum-values sketches (Bar-Yossef et al. 2002;
    * the KMV/theta-sketch family) — |A∩B|, |A∪B| and Jaccard for every
    * type pair WITHOUT co-locating the distinct sets. The sketch is a
    * bounded aggregate: per type, the k smallest distinct user hashes
    * (CollectTopK min-heaps — map-side k-element heaps, O(k) rows per
    * partition cross the wire, never the users). Union/Jaccard come
    * from the k smallest of the two sketches' union: with U the k-min
    * union sample and X = |U ∩ A ∩ B|, Ĵ = X/k, |A∪B|^ = (k−1)·M/U_(k)
    * (exact when the union sample isn't full), |A∩B|^ = Ĵ·|A∪B|^.
    * Exact intersections ride along for the report via the user-keyed
    * distinct self-join (fan-out ≤ types² per user — bounded).
    * At 100 TB: one (type, hash)-distinct shuffle + a 5-row sketch
    * crossjoin — the sketch side never scales with users; sketches are
    * mergeable (k-min of k-mins), so segments/days union for free. */
  def eventsKmvOverlap(s: SparkSession, dir: String, k: Int = KmvK): DataFrame =
    eventsKmvOverlapDf(Tables.events(s, dir), k)

  /** The portable 60-bit user hash (reads the `user_id` column). */
  private[graft] def kmvHash: Column =
    conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
         16, 10).cast("long")

  /** Per-type k-min sketch over a (event_type, h)-DISTINCT frame.
    * CollectTopK min-heaps; the same aggregate is the streaming state in
    * [[graft.streaming.Streaming.streamKmv]] (k-min is the merge
    * operator), so drained stream sketches are bit-identical. */
  private[graft] def kmvSketches(hashed: DataFrame, k: Int = KmvK): DataFrame =
    hashed.groupBy(col("event_type"))
      .agg(array_sort(call_function("collect_top_k", col("h"), lit(k), lit(true)))
        .as("ks"))

  /** Pair estimates from the ≤ types-row sketch table, with exact
    * distinct/intersection columns recomputed from the raw events for
    * the report. */
  private[graft] def kmvFinalize(sk: DataFrame, ev: DataFrame,
                                 k: Int = KmvK): DataFrame = {
    val du = ev.select(col("event_type"), col("user_id")).distinct()
    val nd = du.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
    val ix = du.as("x").join(du.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter_exact"))
    val side = sk.join(nd, "event_type")
    val pairs = side.select(col("event_type").as("type_a"), col("ks").as("ks_a"),
                            col("nd").as("nd_a"))
      .crossJoin(side.select(col("event_type").as("type_b"), col("ks").as("ks_b"),
                             col("nd").as("nd_b")))
      .filter(col("type_a") < col("type_b"))
      .join(ix, Seq("type_a", "type_b"), "left")
      .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
    val uarr = slice(array_sort(array_union(col("ks_a"), col("ks_b"))), 1, k)
    val kk = size(uarr).cast("double")
    val kth = element_at(uarr, size(uarr)).cast("double")
    val x = size(array_intersect(array_intersect(uarr, col("ks_a")), col("ks_b")))
      .cast("double")
    val uRaw = when(size(uarr) < k, kk)
      .otherwise((kk - 1) * lit(KmvM.toDouble) / kth)
    val jRaw = x / kk
    pairs.select(
        col("type_a"), col("type_b"),
        r(jRaw, 6).as("jaccard_est"),
        r(uRaw, 2).as("union_est"),
        r(jRaw * uRaw, 2).as("inter_est"),
        col("inter_exact"),
        (col("nd_a") + col("nd_b") - col("inter_exact")).as("union_exact"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** DataFrame-generic core: expects (event_type, user_id). */
  def eventsKmvOverlapDf(ev: DataFrame, k: Int = KmvK): DataFrame = {
    graft.functions.GraftFunctions.ensure(ev.sparkSession)
    val hashed = ev.select(col("event_type"), kmvHash.as("h")).distinct()
    kmvFinalize(kmvSketches(hashed, k), ev, k)
  }

  /** Oracle: identical hashes, k-min lists (row_number ≤ k), union
    * sample arithmetic and rounding. */
  def eventsKmvOverlapSql(k: Int = KmvK): String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |hs AS (
       |  SELECT DISTINCT event_type,
       |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM events),
       |sk AS (
       |  SELECT event_type, list(h ORDER BY h) AS ks FROM (
       |    SELECT event_type, h,
       |           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |    FROM hs)
       |  WHERE rk <= $k GROUP BY 1),
       |nd AS (SELECT event_type, count(*) AS nd FROM du GROUP BY 1),
       |ix AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b,
       |         count(*) AS inter_exact
       |  FROM du x JOIN du y
       |    ON x.user_id = y.user_id AND x.event_type < y.event_type
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         list_sort(list_distinct(a.ks || b.ks))[1:$k] AS u,
       |         a.ks AS ks_a, b.ks AS ks_b, na.nd AS nd_a, nb.nd AS nd_b,
       |         coalesce(i.inter_exact, 0) AS inter_exact
       |  FROM sk a JOIN sk b ON a.event_type < b.event_type
       |  JOIN nd na ON na.event_type = a.event_type
       |  JOIN nd nb ON nb.event_type = b.event_type
       |  LEFT JOIN ix i ON i.type_a = a.event_type AND i.type_b = b.event_type),
       |est AS (
       |  SELECT type_a, type_b, nd_a, nd_b, inter_exact,
       |         CAST(len(list_intersect(list_intersect(u, ks_a), ks_b)) AS DOUBLE)
       |           / CAST(len(u) AS DOUBLE) AS j_raw,
       |         CASE WHEN len(u) < $k THEN CAST(len(u) AS DOUBLE)
       |              ELSE (CAST(len(u) AS DOUBLE) - 1) * ${KmvM.toDouble}
       |                   / CAST(u[len(u)] AS DOUBLE) END AS u_raw
       |  FROM pr)
       |SELECT type_a, type_b,
       |       ${sqlR("j_raw", 6)} AS jaccard_est,
       |       ${sqlR("u_raw", 2)} AS union_est,
       |       ${sqlR("j_raw * u_raw", 2)} AS inter_est,
       |       inter_exact,
       |       nd_a + nd_b - inter_exact AS union_exact
       |FROM est ORDER BY 1, 2""".stripMargin

  // -------------------------------- #76 seasonal decomposition

  /** #76 ts_seasonal_decompose: split each series into a day-of-week
    * seasonal component (per-(user, dow) mean) and a residual;
    * seasonality strength = 1 − var(residual)/var(total) (the STL
    * strength statistic over a weekly period). Two aggregations and a
    * join, all partitioned by user_id — co-partitioned, nothing
    * broadcast (the seasonal table is key-proportional). */
  def tsSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    tsSeasonalDecomposeDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (user_id, ts, value). */
  def tsSeasonalDecomposeDf(evIn: DataFrame): DataFrame = {
    val ev = evIn
      .select(col("user_id"), dayofweek(col("ts")).as("dow"), col("value").as("v"))
    val seas = ev.groupBy(col("user_id"), col("dow"))
      .agg(davg(col("v"), 6).as("seas"))
    def popVar(x: Column): Column = {
      val n = count(x).cast("double")
      dsum(x * x) / n - (dsum(x) / n) * (dsum(x) / n)
    }
    ev.join(seas, Seq("user_id", "dow"))
      .withColumn("resid", col("v") - col("seas"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
           r(popVar(col("v")), 6).as("var_total"),
           r(popVar(col("resid")), 6).as("var_resid"),
           r(greatest(lit(0d),
               lit(1d) - popVar(col("resid")) / nullif(popVar(col("v")), lit(0d))), 6)
             .as("strength"))
      .orderBy(col("user_id"))
  }

  val tsSeasonalDecomposeSql: String = {
    def popVar(x: String): String =
      s"(${sqlSum(s"$x * $x")} / CAST(count($x) AS DOUBLE) - " +
      s"(${sqlSum(x)} / CAST(count($x) AS DOUBLE)) * " +
      s"(${sqlSum(x)} / CAST(count($x) AS DOUBLE)))"
    s"""WITH ev AS (
       |  SELECT user_id, dayofweek(ts) + 1 AS dow, value AS v FROM events),
       |seas AS (
       |  SELECT user_id, dow, ${sqlAvg("v", 6)} AS seas
       |  FROM ev GROUP BY 1, 2),
       |joined AS (
       |  SELECT e.user_id, e.v, e.v - s.seas AS resid
       |  FROM ev e JOIN seas s ON s.user_id = e.user_id AND s.dow = e.dow)
       |SELECT user_id, count(*) AS n,
       |       ${sqlR(popVar("v"), 6)} AS var_total,
       |       ${sqlR(popVar("resid"), 6)} AS var_resid,
       |       ${sqlR(s"greatest(0.0, 1.0 - ${popVar("resid")} / nullif(${popVar("v")}, 0.0))", 6)}
       |         AS strength
       |FROM joined GROUP BY user_id ORDER BY user_id""".stripMargin
  }
}
