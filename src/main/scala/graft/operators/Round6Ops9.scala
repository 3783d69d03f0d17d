package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Round-6 batch-26 operators (SURVEY §2 #208-#211): LLM-corpus
  * provenance and geometry audits — statistical watermark detection,
  * cross-source shingle overlap, embedding effective rank, and
  * per-document lexical diversity.
  */
object Round6Ops9 {

  // ---------------------------------------------------- #208 text_watermark

  /** Detection threshold: z > 4 ≈ 3e-5 one-sided false-positive rate. */
  val WmZThreshold = 4.0

  /** The green rule: a bigram is green when its md5's last hex digit's
    * high bit is 0 — an exact 50/50 split of hash space. */
  private val GreenDigits = Seq("0", "1", "2", "3", "4", "5", "6", "7")

  /** #208 text_watermark: statistical WATERMARK detection (Kirchenbauer
    * et al. 2023) — for each document, every adjacent token bigram is
    * hashed (the previous token seeds the partition, exactly the
    * detector's reconstruction of the generator's green list) and
    * classified green/red by an exact 50/50 hash rule; the one-sided
    * z = (2·greens − n)/√n tests the null "human text hits green at
    * rate γ=½". Docs with z > [[WmZThreshold]] are flagged machine-
    * generated-with-watermark. The provenance screen a training corpus
    * runs BEFORE ingestion: watermarked model output recycled into
    * pretraining is the self-consumption failure mode, and this is the
    * published detector for it.
    *
    * Scale shape: entirely per-row higher-order expressions (bigram
    * list → hash → filter/count) — map-only, no explode, no shuffle,
    * whole-stage codegen; the corpus never leaves its scan partitions. */
  def textWatermark(s: SparkSession, dir: String): DataFrame =
    textWatermarkDf(Tables.documents(s, dir))

  /** DataFrame-generic core: expects canonical (doc_id, text). */
  def textWatermarkDf(input: DataFrame): DataFrame = {
    val toks = lowerTokens(col("text"))
    val hs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        md5(concat(element_at(toks, i), lit(" "),
                   element_at(toks, i + 1)).cast("binary"))))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    input
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_scored"),
              size(filter(col("hs"),
                h => substring(h, 32, 1).isin(GreenDigits: _*))).as("n_green"))
      .withColumn("green_frac",
        when(col("n_scored") > 0,
          r(col("n_green") / col("n_scored").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("z",
        when(col("n_scored") > 0,
          r((lit(2.0) * col("n_green") - col("n_scored")) /
            sqrt(col("n_scored").cast("double")), 6))
          .otherwise(lit(0.0)))
      .withColumn("watermarked", col("z") > WmZThreshold)
      .orderBy(col("doc_id"))
  }

  val textWatermarkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) >= 2 THEN
       |           list_transform(range(1, len(t)),
       |                          i -> md5(t[i] || ' ' || t[i+1]))
       |         ELSE [] END AS hs
       |  FROM t),
       |c AS (
       |  SELECT doc_id, len(hs) AS n_scored,
       |         len(list_filter(hs, x -> substr(x, 32, 1) IN
       |           (${GreenDigits.map("'" + _ + "'").mkString(",")}))) AS n_green
       |  FROM h)
       |SELECT doc_id, n_scored, n_green,
       |       CASE WHEN n_scored > 0
       |         THEN ${sqlR("n_green / CAST(n_scored AS DOUBLE)", 6)}
       |         ELSE 0.0 END AS green_frac,
       |       CASE WHEN n_scored > 0
       |         THEN ${sqlR("(2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE))", 6)}
       |         ELSE 0.0 END AS z,
       |       (CASE WHEN n_scored > 0
       |         THEN ${sqlR("(2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE))", 6)}
       |         ELSE 0.0 END) > $WmZThreshold AS watermarked
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- #209 corpus_source_overlap

  /** KMV sketch size for the per-source shingle signatures. */
  val SrcKmvK = 256
  private val KmvM = 1152921504606846976L // 16^15 = 2^60, exact in double

  /** #209 corpus_source_overlap: cross-source CONTENT-OVERLAP matrix —
    * per source pair, the (estimated and exact) Jaccard overlap of
    * their word-3-gram shingle vocabularies from [[SrcKmvK]]-min KMV
    * signatures over 60-bit shingle hashes. The corpus-composition
    * audit behind #74's mixing weights: two "different" sources sharing
    * half their shingles double-count their content mass (mirror sites,
    * syndicated feeds, scraped re-posts), and dedup budgeting (#90)
    * needs to know WHICH pairs collide before running pairwise dedup.
    * The sketch math is #89's, re-based from user sets to shingle
    * vocabularies.
    *
    * Scale shape: shingle fan-out → (source, hash) distinct → one
    * groupBy builds each source's O(k) signature (CollectTopK
    * min-heaps, mergeable partials); the pair grid crosses only the
    * ≤|sources| sketch rows. The exact columns (verification at test
    * SF, droppable at 100 TB) self-join the distinct frame on the hash
    * — an inverted-index join bounded by per-shingle source counts,
    * never a pair scan over shingles. */
  def corpusSourceOverlap(s: SparkSession, dir: String,
                          k: Int = SrcKmvK): DataFrame =
    corpusSourceOverlapDf(Tables.documents(s, dir), k)

  /** DataFrame-generic core: expects (source, text). */
  def corpusSourceOverlapDf(docs: DataFrame, k: Int = SrcKmvK): DataFrame = {
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    // memoized + persisted per input plan: the distinct (source, hash)
    // vocabulary feeds BOTH the sketch rollup and the exact-audit
    // self-join below — without it the shingle explode + md5 + distinct
    // (the operator's heavy stage) executes once per consumer subtree
    // (twice at ExactAudit=on). Persist (not localCheckpoint): the
    // InMemoryRelation keeps Catalyst size statistics, so the audit
    // self-join's strategy choice still sees a measured input (a
    // checkpoint's LogicalRDD stub would not — measured 4.3 s → 6.9 s
    // when this table was lazily checkpointed instead).
    val hs = graft.Caches.persisted(docs.sparkSession,
        ("src_overlap_hs", docs.semanticHash())) {
      docs
        .select(col("source"), explode(shingles3(lowerTokens(col("text")))).as("sh"))
        .select(col("source"),
                conv(substring(md5(col("sh").cast("binary")), 1, 15), 16, 10)
                  .cast("long").as("h"))
        .distinct()
    }
    val sk = hs.groupBy(col("source"))
      .agg(array_sort(call_function("collect_top_k", col("h"), lit(k), lit(true)))
             .as("ks"),
           count(lit(1)).as("nd"))
    // exact verification columns ride a shingle-vocabulary self-join —
    // audit-only (droppable at 100 TB), so the join is conf-gated
    // ([[graft.Hints.ExactAudit]]): gate off → NULL exacts, no second
    // shuffle of the shingle vocabulary (plan pinned in PostureSpec)
    val exact = graft.Hints.exactAudit(docs.sparkSession)
    val grid = sk.select(col("source").as("source_a"), col("ks").as("ks_a"),
                         col("nd").as("nd_a"))
      .crossJoin(sk.select(col("source").as("source_b"), col("ks").as("ks_b"),
                           col("nd").as("nd_b")))
      .filter(col("source_a") < col("source_b"))
    val pairs =
      if (!exact) grid.withColumn("inter_exact", lit(null).cast("long"))
      else {
        val ix = hs.as("x").join(hs.as("y"),
            col("x.h") === col("y.h") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
          .agg(count(lit(1)).as("inter_exact"))
        grid.join(ix, Seq("source_a", "source_b"), "left")
          .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
      }
    val uarr = slice(array_sort(array_union(col("ks_a"), col("ks_b"))), 1, k)
    val kk = size(uarr).cast("double")
    val kth = element_at(uarr, size(uarr)).cast("double")
    val x = size(array_intersect(array_intersect(uarr, col("ks_a")), col("ks_b")))
      .cast("double")
    val uRaw = when(size(uarr) < k, kk)
      .otherwise((kk - 1) * lit(KmvM.toDouble) / kth)
    val jRaw = x / kk
    pairs.select(
        col("source_a"), col("source_b"), col("nd_a"), col("nd_b"),
        r(jRaw, 6).as("jaccard_est"),
        r(uRaw, 2).as("union_est"),
        r(jRaw * uRaw, 2).as("inter_est"),
        col("inter_exact"),
        (col("nd_a") + col("nd_b") - col("inter_exact")).as("union_exact"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def corpusSourceOverlapSql(k: Int = SrcKmvK): String =
    s"""WITH toks AS (
       |  SELECT source, string_split(lower(trim(text)), ' ') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source, s FROM (
       |    SELECT source,
       |           unnest(CASE WHEN len(t) >= 3 THEN
       |             list_distinct(list_transform(range(1, len(t) - 1),
       |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |           ELSE [] END) AS s
       |    FROM toks)),
       |hs AS (
       |  SELECT DISTINCT source,
       |         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
       |  FROM sh),
       |sk AS (
       |  SELECT source, list(h ORDER BY h) AS ks, max(nd) AS nd FROM (
       |    SELECT source, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h) AS rk,
       |           count(*) OVER (PARTITION BY source) AS nd
       |    FROM hs)
       |  WHERE rk <= $k GROUP BY 1),
       |ix AS (
       |  SELECT x.source AS source_a, y.source AS source_b, count(*) AS inter_exact
       |  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         list_sort(list_distinct(a.ks || b.ks))[1:$k] AS u,
       |         a.ks AS ks_a, b.ks AS ks_b, a.nd AS nd_a, b.nd AS nd_b
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |est AS (
       |  SELECT source_a, source_b, nd_a, nd_b,
       |         len(u) AS kk, u[len(u)] AS kth,
       |         len(list_filter(u, v -> list_contains(ks_a, v)
       |                            AND list_contains(ks_b, v))) AS x
       |  FROM pr),
       |fin AS (
       |  SELECT source_a, source_b, nd_a, nd_b,
       |         CAST(x AS DOUBLE) / kk AS j_raw,
       |         CASE WHEN kk < $k THEN CAST(kk AS DOUBLE)
       |              ELSE (kk - 1) * ${KmvM.toDouble} / kth END AS u_raw
       |  FROM est)
       |SELECT source_a, source_b, nd_a, nd_b,
       |       ${sqlR("j_raw", 6)} AS jaccard_est,
       |       ${sqlR("u_raw", 2)} AS union_est,
       |       ${sqlR("j_raw * u_raw", 2)} AS inter_est,
       |       coalesce(ix.inter_exact, 0) AS inter_exact,
       |       nd_a + nd_b - coalesce(ix.inter_exact, 0) AS union_exact
       |FROM fin LEFT JOIN ix USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------ #210 emb_effective_rank

  /** Leading dimensions the covariance runs over (the #59/#203 d²
    * fan-out bound). */
  val ErDims = 16

  /** #210 emb_effective_rank: EFFECTIVE RANK of the embedding cloud via
    * the participation ratio PR = (tr C)² / tr(C²) of the covariance —
    * the eigenvalue-spectrum summary computable WITHOUT an
    * eigendecomposition (tr C = Σλ, tr C² = Σλ² for symmetric C): how
    * many directions does the space actually use? PR ≈ d means an
    * isotropic, fully-used space; PR ≈ 1 means everything collapsed
    * onto one axis. The single-number capacity audit beside #162
    * (anisotropy measures the mean offset; PR measures spectral
    * concentration) and the pre-check for #31c's PCA budget — if
    * PR ≪ target components, the tail carries nothing.
    *
    * Scale shape: ONE corpus pass fans each vector into its d(d+1)/2
    * upper-triangle products (the #59 shape, d bounded at [[ErDims]]);
    * dimension means come from the diagonal rows of the same aggregate
    * (no second scan); everything after is algebra on the 136-row
    * model table with 6dp-rounded entries decimal-summed. */
  def embEffectiveRank(s: SparkSession, dir: String): DataFrame =
    embEffectiveRankDf(Tables.embeddings(s, dir))

  /** DataFrame-generic core: expects (vec_id, embedding ARRAY<FLOAT>). */
  def embEffectiveRankDf(emb: DataFrame, d: Int = ErDims): DataFrame = {
    // short vectors would under-populate high-dimension cells and skew
    // every per-cell n — drop them up front (none exist in the fixed-
    // width table; the generic core must not silently mis-normalize)
    val pairs = emb
      .filter(size(col("embedding")) >= d)
      .select(slice(col("embedding"), 1, d).as("e"))
      .select(col("e"), posexplode(col("e")).as(Seq("i0", "xr")))
      .select((col("i0") + 1).as("i"), col("xr").cast("double").as("x"),
              posexplode(col("e")).as(Seq("j0", "yr")))
      .select(col("i"), (col("j0") + 1).as("j"),
              col("x"), col("yr").cast("double").as("y"))
      .filter(col("j") >= col("i"))
    val m = pairs.groupBy(col("i"), col("j"))
      .agg(dsum(col("x") * col("y")).as("sxy"),
           dsum(when(col("i") === col("j"), col("x"))).as("sx_diag"),
           count(lit(1)).as("n"))
    val dims = m.filter(col("i") === col("j"))
      .select(col("i").as("k"), col("sx_diag").as("sx"))
    val c = m
      .join(dims.withColumnRenamed("k", "i").withColumnRenamed("sx", "sx_i"),
            Seq("i"))
      .join(dims.withColumnRenamed("k", "j").withColumnRenamed("sx", "sx_j"),
            Seq("j"))
      .withColumn("c_ij",
        r(col("sxy") / col("n") -
          (col("sx_i") / col("n")) * (col("sx_j") / col("n")), 6))
      .withColumn("tr_term", when(col("i") === col("j"), col("c_ij"))
        .otherwise(lit(0.0)))
      .withColumn("tr2_term",
        r(when(col("i") === col("j"), lit(1.0)).otherwise(lit(2.0)) *
          col("c_ij") * col("c_ij"), 6))
    c.agg(max(col("n")).as("n"),
          r(dsum(col("tr_term")), 6).as("tr_c"),
          r(dsum(col("tr2_term")), 6).as("tr_c2"))
      .withColumn("d", lit(d.toLong))
      .withColumn("eff_rank",
        r(col("tr_c") * col("tr_c") / col("tr_c2"), 6))
      .withColumn("eff_rank_ratio", r(col("eff_rank") / col("d"), 6))
      .select(col("n"), col("d"), col("tr_c"), col("tr_c2"), col("eff_rank"),
              col("eff_rank_ratio"))
  }

  def embEffectiveRankSql(d: Int = ErDims): String =
    s"""WITH pairs AS (
       |  SELECT ii.i AS i, jj.j AS j,
       |         CAST(embedding[ii.i] AS DOUBLE) AS x,
       |         CAST(embedding[jj.j] AS DOUBLE) AS y
       |  FROM embeddings, range(1, ${d + 1}) ii(i), range(1, ${d + 1}) jj(j)
       |  WHERE jj.j >= ii.i AND len(embedding) >= $d),
       |m AS (
       |  SELECT i, j, ${sqlSum("x * y")} AS sxy,
       |         ${sqlSum("CASE WHEN i = j THEN x END")} AS sx_diag,
       |         count(*) AS n
       |  FROM pairs GROUP BY 1, 2),
       |dims AS (SELECT i AS k, sx_diag AS sx FROM m WHERE i = j),
       |c AS (
       |  SELECT m.i, m.j, m.n,
       |         ${sqlR("m.sxy / m.n - (di.sx / m.n) * (dj.sx / m.n)", 6)} AS c_ij
       |  FROM m JOIN dims di ON di.k = m.i JOIN dims dj ON dj.k = m.j),
       |t AS (
       |  SELECT i, j, n,
       |         CASE WHEN i = j THEN c_ij ELSE 0.0 END AS tr_term,
       |         ${sqlR("(CASE WHEN i = j THEN 1.0 ELSE 2.0 END) * c_ij * c_ij", 6)}
       |           AS tr2_term
       |  FROM c),
       |agg AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n,
       |         ${sqlR(sqlSum("tr_term"), 6)} AS tr_c,
       |         ${sqlR(sqlSum("tr2_term"), 6)} AS tr_c2
       |  FROM t)
       |SELECT n, CAST($d AS BIGINT) AS d, tr_c, tr_c2,
       |       ${sqlR("tr_c * tr_c / tr_c2", 6)} AS eff_rank,
       |       ${sqlR(s"${sqlR("tr_c * tr_c / tr_c2", 6)} / $d", 6)} AS eff_rank_ratio
       |FROM agg""".stripMargin

  // ----------------------------------------------------------- #211 doc_ttr

  /** #211 doc_ttr: per-document LEXICAL DIVERSITY — type count, token
    * count, type-token ratio, Guiraud's root TTR (types/√tokens, the
    * length-stabilized form) and Herdan's C (ln types / ln tokens, the
    * log-log slope): the vocabulary-richness feature family quality
    * filters use beside #24f's entropy (entropy weights the
    * distribution; TTR counts the support) — template/boilerplate
    * spam scores low on both, and #22's composite inherits whichever
    * is cheapest. Herdan guards the ln(1)=0 denominator (single-token
    * docs report 0).
    *
    * Scale shape: map-only per-row array expressions (size /
    * array_distinct over the token list) — no explode, no shuffle, the
    * same scan discipline as #208; libm ln is 6dp-rounded before the
    * ratio per the Parity contract. */
  def docTtr(s: SparkSession, dir: String): DataFrame =
    docTtrDf(Tables.documents(s, dir))

  /** DataFrame-generic core: expects canonical (doc_id, text). */
  def docTtrDf(input: DataFrame): DataFrame = {
    val toks = lowerTokens(col("text"))
    input
      .select(col("doc_id"), size(toks).as("n_tokens"),
              size(array_distinct(toks)).as("n_types"))
      .withColumn("ttr", r(col("n_types") / col("n_tokens").cast("double"), 6))
      .withColumn("guiraud",
        r(col("n_types") / sqrt(col("n_tokens").cast("double")), 6))
      .withColumn("herdan_c",
        when(col("n_tokens") > 1,
          r(r(log(col("n_types").cast("double")), 6) /
            r(log(col("n_tokens").cast("double")), 6), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val docTtrSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         len(string_split(lower(trim(text)), ' ')) AS n_tokens,
       |         len(list_distinct(string_split(lower(trim(text)), ' ')))
       |           AS n_types
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_types,
       |       ${sqlR("n_types / CAST(n_tokens AS DOUBLE)", 6)} AS ttr,
       |       ${sqlR("n_types / sqrt(CAST(n_tokens AS DOUBLE))", 6)} AS guiraud,
       |       CASE WHEN n_tokens > 1
       |         THEN ${sqlR(
             s"(${sqlR("ln(CAST(n_types AS DOUBLE))", 6)}) / " +
             s"(${sqlR("ln(CAST(n_tokens AS DOUBLE))", 6)})", 6)}
       |         ELSE 0.0 END AS herdan_c
       |FROM t ORDER BY doc_id""".stripMargin
}
