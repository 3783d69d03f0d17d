package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Round-6 similarity/evaluation operators (SURVEY §2 #117, #119,
  * #133, #170, #176, #181): Matryoshka prefix-dimension retrieval
  * evaluation, kNN label voting, silhouette, the nearest-centroid
  * confusion matrix, retrieval exposure bias, and hubness — the
  * evaluation harnesses a vector-curation pipeline runs NEXT TO its
  * retrieval operators.
  */
object Similarity3 {

  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** #117 emb_matryoshka_eval: retrieval quality of PREFIX-truncated
    * embeddings (Matryoshka representation learning, Kusupati et al.
    * 2022): for each prefix dimension m ∈ {8,16,32,64}, top-k
    * candidates by m-dim cosine are compared against the full-dim
    * top-k; the report is mean recall@k per m — the measurement that
    * decides how far a 100 TB vector corpus can truncate its index
    * (8× storage cut at m=8) before retrieval degrades.
    *
    * One corpus scan: each candidate row fans out ×|dims| map-side
    * (slice + cosine are codegen'd higher-order expressions), per-
    * (query, m) shortlists come from bounded map-side collect_top_k
    * heaps — no ranking window, no shuffle of scored pairs (the
    * knn_brute shape, ×4). The m=64 row doubles as the self-check
    * (recall ≡ 1). */
  def embMatryoshkaEval(s: SparkSession, dir: String, k: Int = 5,
                        nQueries: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    // prefix-slice + prefix-norm ONCE per (vector, m) — 4 rows per
    // vector map-side — so each scored pair pays a single decimal dot,
    // not three (the norms would otherwise recompute per pair)
    def prefixed(df: DataFrame): DataFrame = df
      .withColumn("m", explode(array(MatryoshkaDims.map(lit): _*)))
      .withColumn("pe", slice(col("embedding"), lit(1), col("m")))
      .withColumn("pn", sqrt(dotDec(col("pe"), col("pe"))))
    val emb = Tables.embeddings(s, dir)
    val qs = prefixed(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("m"),
              col("pe").as("q_pe"), col("pn").as("q_pn"))
    val scored = prefixed(emb)
      .join(broadcast(qs), Seq("m"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("m"), col("vec_id"),
              r(dotDec(col("pe"), col("q_pe")) / (col("pn") * col("q_pn")), 6)
                .as("score"))
    val top = scored
      .groupBy(col("q_id"), col("m"))
      // collect_top_k(_, k, false) keeps the k LARGEST by struct order
      // (the knnBrute topK contract): (score, -vec_id) descending ==
      // score desc, vec_id asc
      .agg(call_function("collect_top_k",
        struct(col("score"), (-col("vec_id")).as("neg_id")),
        lit(k), lit(false)).as("arr"))
      .select(col("q_id"), col("m"), explode(col("arr")).as("e"))
      .select(col("q_id"), col("m"), (-col("e.neg_id")).as("vec_id"))
    // the reference set is nQueries × k rows — broadcast it (Catalyst
    // can't size the post-aggregate side, so left alone this plans a
    // sort-merge join of two tiny frames)
    val full = broadcast(top.filter(col("m") === MatryoshkaDims.max)
      .select(col("q_id").as("f_qid"), col("vec_id").as("full_id")))
    top.join(full, col("q_id") === col("f_qid") &&
                   col("vec_id") === col("full_id"), "left")
      .groupBy(col("q_id"), col("m"))
      .agg((sum(when(col("full_id").isNotNull, 1).otherwise(0))
              .cast("double") / k).as("recall"))
      .groupBy(col("m"))
      .agg(davg(col("recall"), 6).as("mean_recall"))
      .orderBy(col("m"))
  }

  def embMatryoshkaEvalSql(k: Int = 5, nQueries: Int = 5): String = {
    val dims = MatryoshkaDims.mkString(", ")
    def cosm = sqlR(
      s"""${sqlDotDec("e.embedding[1:d.m]", "q.q_emb[1:d.m]")} /
         | (sqrt(${sqlDotDec("e.embedding[1:d.m]", "e.embedding[1:d.m]")}) *
         |  sqrt(${sqlDotDec("q.q_emb[1:d.m]", "q.q_emb[1:d.m]")}))"""
        .stripMargin.replace('\n', ' '), 6)
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |           WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.q_id, d.m, e.vec_id, $cosm AS score
       |  FROM embeddings e
       |  JOIN q ON e.vec_id <> q.q_id
       |  CROSS JOIN (SELECT unnest([$dims]) AS m) d),
       |top AS (
       |  SELECT q_id, m, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id, m
       |                                 ORDER BY score DESC, vec_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $k),
       |recall AS (
       |  SELECT t.q_id, t.m,
       |         CAST(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |           / $k AS recall
       |  FROM top t LEFT JOIN (SELECT q_id, vec_id FROM top
       |                        WHERE m = ${MatryoshkaDims.max}) f
       |    ON t.q_id = f.q_id AND t.vec_id = f.vec_id
       |  GROUP BY 1, 2)
       |SELECT m, ${sqlAvg("recall", 6)} AS mean_recall
       |FROM recall GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------- #124 emb_rank_fusion

  private val RrfK = 60
  private val RrfDepth = 20

  /** #124 emb_rank_fusion: reciprocal-rank fusion (Cormack et al. 2009)
    * of two retrievers — exact-cosine brute kNN and the 1-bit
    * Hamming-sketch kNN — per query: each retriever contributes its
    * top-[[RrfDepth]] with weight 1/(60+rank), the fused score is the
    * sum (a missing list contributes 0), and the fused top-k is
    * re-ranked on (score desc, vec_id). The standard cheap ensembling
    * step of a retrieval pipeline (dense + sketch/lexical): both
    * retrievers are already scale-shaped (broadcast queries, map-only
    * scans, bounded heaps), and the fusion itself joins two
    * queries×depth-row lists — model-sized. */
  def embRankFusion(s: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val emb = Tables.embeddings(s, dir)
    val cos = Similarity.knnBruteDf(
        emb.select(col("vec_id"), col("embedding")),
        emb.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        RrfDepth)
      .select(col("q_id"), col("vec_id"),
              (lit(1.0) / (lit(RrfK) + col("rank"))).as("w_cos"))
    val ham = Similarity2.embHammingKnn(s, dir, RrfDepth, nQueries)
      .select(col("q_id"), col("vec_id"),
              (lit(1.0) / (lit(RrfK) + col("rank"))).as("w_ham"))
    // union + groupBy, not a FULL OUTER join (which can't broadcast and
    // plans a sort-merge join of two tiny lists): each (q, doc) has ≤2
    // contributions and one IEEE addition is commutative, so the
    // grouped sum is bit-equal to the oracle's coalesce(a)+coalesce(b)
    val fused = cos.select(col("q_id"), col("vec_id"), col("w_cos").as("w"))
      .unionByName(ham.select(col("q_id"), col("vec_id"), col("w_ham").as("w")))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(r(sum(col("w")), 6).as("rrf"))
    fused.groupBy(col("q_id"))
      .agg(call_function("collect_top_k",
        struct(col("rrf"), (-col("vec_id")).as("neg_id")), lit(k), lit(false))
        .as("arr"))
      .select(col("q_id"), posexplode(reverse(array_sort(col("arr")))))
      .select(col("q_id"), (-col("col.neg_id")).as("vec_id"),
              col("col.rrf").as("rrf"), (col("pos") + 1).cast("int").as("rank"))
  }

  def embRankFusionSql(k: Int = 5, nQueries: Int = 5): String = {
    def pack(off: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32),
         | i -> CASE WHEN embedding[i + ${off + 1}] > 0
         |      THEN (CAST(1 AS BIGINT) << i) ELSE (CAST(0 AS BIGINT)) END))
         | AS BIGINT)""".stripMargin.replace('\n', ' ')
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |           WHERE vec_id < $nQueries),
       |cosr AS (
       |  SELECT q_id, vec_id, CAST(1.0 AS DOUBLE) / ($RrfK + rnk) AS w_cos FROM (
       |    SELECT q.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${sqlR(sqlCosine("q.q_emb", "e.embedding"), 6)} DESC, e.vec_id) AS rnk
       |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
       |  WHERE rnk <= $RrfDepth),
       |packed AS (
       |  SELECT vec_id, ${pack(0)} AS lo, ${pack(32)} AS hi FROM embeddings),
       |pq AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi FROM packed
       |       WHERE vec_id < $nQueries),
       |hamr AS (
       |  SELECT q_id, vec_id, CAST(1.0 AS DOUBLE) / ($RrfK + rnk) AS w_ham FROM (
       |    SELECT pq.q_id, p.vec_id,
       |           row_number() OVER (PARTITION BY pq.q_id ORDER BY
       |             bit_count(xor(p.lo, pq.q_lo)) + bit_count(xor(p.hi, pq.q_hi)),
       |             p.vec_id) AS rnk
       |    FROM packed p JOIN pq ON p.vec_id <> pq.q_id)
       |  WHERE rnk <= $RrfDepth),
       |fused AS (
       |  SELECT COALESCE(c.q_id, h.q_id) AS q_id,
       |         COALESCE(c.vec_id, h.vec_id) AS vec_id,
       |         ${sqlR("COALESCE(c.w_cos, CAST(0.0 AS DOUBLE)) + COALESCE(h.w_ham, CAST(0.0 AS DOUBLE))", 6)} AS rrf
       |  FROM cosr c FULL OUTER JOIN hamr h
       |    ON c.q_id = h.q_id AND c.vec_id = h.vec_id)
       |SELECT q_id, vec_id, rrf, CAST(rnk AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY rrf DESC, vec_id) AS rnk
       |  FROM fused)
       |WHERE rnk <= $k""".stripMargin
  }

  // ------------------------------------------------- #119 knn_label_vote

  /** #119 knn_label_vote: kNN majority-vote label probe — hold out
    * every 5th vector, predict its label from its k nearest TRAIN
    * neighbors (full-dim cosine), report per-label accuracy. The
    * label-quality / embedding-quality eval of a curation pipeline
    * (labels whose neighborhoods can't predict them are noise
    * candidates — the kNN flavor of confident-learning audits).
    *
    * The held-out set is an EVAL SAMPLE (bounded by contract, like the
    * query sets of every ANN operator) and broadcasts; the train side
    * streams map-only through the same bounded collect_top_k heaps as
    * knn_brute — no ranking window, no pair shuffle. Majority vote =
    * max over the ≤k-row (label, votes) table per probe; ties break to
    * the smaller label (spelled identically in the oracle). */
  def knnLabelVote(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    // norms ONCE per vector (a decimal dot per row, not per pair), then
    // the knn_brute lossless two-phase scoring: the native codegen'd
    // float_dot prefilter keeps only pairs within 2e-6 of each probe's
    // kth-best fast cosine (|float_dot − dotDec| < ~1e-12), and the
    // expensive decimal-exact cosine re-ranks just those ~k survivors
    // per probe — without this the exact path ran 3 decimal dots per
    // PAIR and owned 43% of the full-suite bench at sf0.1
    val emb = Tables.embeddings(s, dir)
      .withColumn("nrm", norm(col("embedding")))
    val test = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
              col("nrm").as("t_norm"), col("label").as("true_label"))
    val train = emb.filter(col("vec_id") % 5 =!= 0)
    val fast = train.crossJoin(broadcast(test))
      .withColumn("fc",
        call_function("float_dot", col("embedding"), col("t_emb")) /
          (col("nrm") * col("t_norm")))
    val th = fast.groupBy(col("t_id"))
      .agg(call_function("collect_top_k", col("fc"), lit(k), lit(false)).as("arr"))
      .select(col("t_id"), array_min(col("arr")).as("fc_kth"))
    val votes = fast.join(broadcast(th), "t_id")
      .filter(col("fc") >= col("fc_kth") - 2e-6)
      .select(col("t_id"), col("true_label"), col("vec_id"), col("label"),
              r(dotDec(col("embedding"), col("t_emb")) /
                (col("nrm") * col("t_norm")), 6).as("score"))
      .groupBy(col("t_id"), col("true_label"))
      // (score, -vec_id) descending == score desc, vec_id asc; label
      // rides along (vec_id is unique, so it never orders)
      .agg(call_function("collect_top_k",
        struct(col("score"), (-col("vec_id")).as("neg_id"), col("label")),
        lit(k), lit(false)).as("arr"))
      .select(col("t_id"), col("true_label"), explode(col("arr")).as("e"))
      .groupBy(col("t_id"), col("true_label"), col("e.label").as("label"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy(col("t_id"), col("true_label"))
      .agg(max(struct(col("votes"), (-col("label")).as("neg_l"))).as("best"))
      .select(col("t_id"), col("true_label"),
              (-col("best.neg_l")).cast("int").as("pred_label"))
    pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_test"),
           sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
             .as("n_correct"))
      .withColumn("accuracy",
        r(col("n_correct").cast("double") / col("n_test").cast("double"), 6))
      .orderBy(col("label"))
  }

  // ------------------------------------------------ #133 emb_silhouette

  /** #133 emb_silhouette: simplified (centroid-based) silhouette score
    * per label — for each vector, a = distance to its own label
    * centroid, b = nearest other-label centroid distance,
    * s = (b − a)/max(a, b); reported as the per-label mean. The
    * cluster-quality / label-coherence audit a labeled embedding corpus
    * runs before trusting the labels for curation (medoid-free variant;
    * classic silhouette's all-pairs a/b is unusable at corpus scale).
    *
    * Scale shape: centroids are a labels×dim aggregate (mergeable
    * decimal partials, one shuffle over exploded dims), packed into a
    * MODEL-SIZED array table that broadcasts; per-vector distances are
    * then one map-side crossJoin(broadcast) scan — corpus rows × |labels|
    * candidate rows, never vector×vector. Distances use the decimal
    * zip_with accumulator ([[graft.functions.VectorFunctions.distSqDec]]),
    * sqrt is IEEE-exact, and the per-vector silhouette is 6dp-rounded
    * before the decimal mean. */
  def embSilhouette(s: SparkSession, dir: String): DataFrame =
    embSilhouetteDf(Tables.embeddings(s, dir))

  def embSilhouetteDf(emb: DataFrame): DataFrame = {
    val cent = emb.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(davg(col("col").cast("double"), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
                     p => p("m")).as("centroid"))
      .select(col("label").as("c_label"), col("centroid"))
    val dist = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
              col("c_label"),
              sqrt(distSqDec(col("embedding"), col("centroid"))).as("dist"))
    dist.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("c_label") === col("label"), col("dist"))).as("a"),
           min(when(col("c_label") =!= col("label"), col("dist"))).as("b"))
      .withColumn("sil",
        r((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), davg(col("sil"), 6).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  val embSilhouetteSql: String =
    s"""WITH cent AS (
       |  SELECT label AS c_label, list(m ORDER BY d) AS centroid FROM (
       |    SELECT label, d, ${sqlAvg("CAST(x AS DOUBLE)", 6)} AS m
       |    FROM (SELECT label, unnest(embedding) AS x,
       |                 generate_subscripts(embedding, 1) AS d
       |          FROM embeddings)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |dist AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |         sqrt(${sqlDistSqDec("e.embedding", "c.centroid")}) AS dist
       |  FROM embeddings e CROSS JOIN cent c),
       |ab AS (
       |  SELECT vec_id, label,
       |         min(CASE WHEN c_label = label THEN dist END) AS a,
       |         min(CASE WHEN c_label <> label THEN dist END) AS b
       |  FROM dist GROUP BY 1, 2)
       |SELECT label, count(*) AS n_vecs,
       |       ${sqlAvg(sqlR("(b - a) / GREATEST(a, b)", 6), 6)} AS mean_silhouette
       |FROM ab GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- #142 emb_recall_curve

  private val RecallKs = Seq(1, 5, 10)
  private val RecallMaxK = 10

  /** #142 emb_recall_curve: the ANN index acceptance test — recall@k of
    * the #31 LSH retriever against the #30 exact top-k for
    * k ∈ {1, 5, 10}, micro-averaged over the query set. The measurement
    * that decides whether the bucketed index can replace the exact scan
    * at deployment (the #117 Matryoshka eval's sibling, aimed at the
    * index instead of the embedding width).
    *
    * Both retrievers already produce (q_id, vec_id, rank) with the same
    * rounding and tie rule; this op joins the two queries×k-row lists
    * (model-sized), fans the matches out over the bounded k grid, and
    * rolls up — every input is an already-scale-shaped operator, the
    * curve adds only bounded joins. */
  def embRecallCurve(s: SparkSession, dir: String, nQueries: Int = 5): DataFrame = {
    val lsh = Similarity.annLsh(s, dir, k = RecallMaxK, nQueries = nQueries)
      .select(col("q_id"), col("vec_id"), col("rank").as("rank_lsh"))
    val exact = Similarity.knnBrute(s, dir, k = RecallMaxK, nQueries = nQueries)
      .select(col("q_id"), col("vec_id"), col("rank").as("rank_exact"))
    val matches = exact.join(lsh, Seq("q_id", "vec_id"))
    val ks = {
      import s.implicits._
      RecallKs.map(k => (k, nQueries.toLong * k)).toDF("k", "denom")
    }
    matches.crossJoin(broadcast(ks))
      .groupBy(col("k"), col("denom"))
      .agg(sum(when(col("rank_exact") <= col("k") &&
                    col("rank_lsh") <= col("k"), 1L).otherwise(0L))
             .as("n_hits"))
      .select(col("k"), col("n_hits"),
              r(col("n_hits").cast("double") / col("denom").cast("double"), 6)
                .as("recall"))
      .orderBy(col("k"))
  }

  def embRecallCurveSql(nQueries: Int = 5): String =
    s"""WITH lsh AS (
       |  SELECT q_id, vec_id, rank AS rank_lsh
       |  FROM (${Similarity.annLshSql(k = RecallMaxK, nQueries = nQueries)})),
       |exact AS (
       |  SELECT q_id, vec_id, rank AS rank_exact
       |  FROM (${Similarity.knnBruteSql(k = RecallMaxK, nQueries = nQueries)})),
       |ks AS (SELECT k FROM (VALUES ${RecallKs.map(k => s"($k)").mkString(", ")}) t(k)),
       |m AS (
       |  SELECT e.q_id, e.vec_id, e.rank_exact, l.rank_lsh
       |  FROM exact e JOIN lsh l USING (q_id, vec_id))
       |SELECT k, CAST(sum(CASE WHEN rank_exact <= k AND rank_lsh <= k
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       ${sqlR(s"CAST(sum(CASE WHEN rank_exact <= k AND rank_lsh <= k THEN 1 ELSE 0 END) AS DOUBLE) / ($nQueries.0 * k)", 6)} AS recall
       |FROM m CROSS JOIN ks
       |GROUP BY k ORDER BY k""".stripMargin

  // --------------------------------------------- #146 ann_recall_matrix

  /** #146 ann_recall_matrix: the index BAKE-OFF — recall@k of each
    * approximate retriever family against the exact top-k, one row per
    * retriever (#142 sweeps k for ONE retriever; this sweeps
    * retrievers at one k): the IVF cell-probe index (#31b) and the
    * 1-bit Hamming sketch (#95). The table an infra team reads to pick
    * which index backs the 100 TB corpus. Every input chain is the
    * already-scale-shaped operator; the matrix adds only
    * queries×k-row joins. */
  private val MatrixRetrievers = Seq("hamming", "ivf")

  def annRecallMatrix(s: SparkSession, dir: String, k: Int = 5,
                      nQueries: Int = 5): DataFrame = {
    // union the (cheap) retrieved lists FIRST, join the expensive exact
    // chain ONCE — not once per union branch
    val exact = Similarity.knnBrute(s, dir, k, nQueries)
      .select(col("q_id"), col("vec_id"))
    def tagged(name: String, retrieved: DataFrame): DataFrame =
      retrieved.select(lit(name).as("retriever"), col("q_id"), col("vec_id"))
    val retrieved =
      tagged("hamming", Similarity2.embHammingKnn(s, dir, k, nQueries))
        .unionByName(tagged("ivf", Similarity.annIvf(s, dir, k, nQueries)))
    val hits = retrieved.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("retriever")).agg(count(lit(1)).as("n_hits"))
    val names = {
      import s.implicits._
      MatrixRetrievers.toDF("retriever")
    }
    // zero-hit retrievers keep their row (the bake-off must show a
    // failing index, not drop it)
    names.join(hits, Seq("retriever"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall",
        r(col("n_hits").cast("double") / (nQueries * k).toDouble, 6))
      .orderBy(col("retriever"))
  }

  def annRecallMatrixSql(k: Int = 5, nQueries: Int = 5): String =
    s"""WITH exact AS (
       |  SELECT q_id, vec_id FROM (${Similarity.knnBruteSql(k, nQueries)})),
       |retrieved AS (
       |  SELECT 'hamming' AS retriever, q_id, vec_id
       |  FROM (${Similarity2.embHammingKnnSql(k, nQueries)})
       |  UNION ALL
       |  SELECT 'ivf' AS retriever, q_id, vec_id
       |  FROM (${Similarity.annIvfSql(k, nQueries)})),
       |hits AS (
       |  SELECT r.retriever, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM retrieved r JOIN exact USING (q_id, vec_id) GROUP BY 1),
       |names AS (SELECT retriever
       |          FROM (VALUES ${MatrixRetrievers.map(n => s"('$n')").mkString(", ")}) t(retriever))
       |SELECT n.retriever, COALESCE(h.n_hits, 0) AS n_hits,
       |       ${sqlR(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${nQueries * k}.0", 6)} AS recall
       |FROM names n LEFT JOIN hits h USING (retriever)
       |ORDER BY n.retriever""".stripMargin

  /** #151 emb_triplet_mining: HARD-TRIPLET mining over the labeled
    * corpus — for each anchor (the #119 held-out sample), the hardest
    * positive (same-label train vector with MINIMUM cosine) and the
    * hardest negative (different-label train vector with MAXIMUM
    * cosine), plus the triplet margin pos_sim − neg_sim. Margin < 0
    * flags a VIOLATED triplet — the mining step of metric-learning /
    * contrastive fine-tuning (Schroff et al. 2015, FaceNet): these are
    * exactly the pairs the next training round should see.
    *
    * Scale shape: the anchor set broadcasts (bounded eval sample, the
    * #119 contract); the train side streams ONE map-only scan through
    * the knn_brute two-phase discipline — the codegen'd float_dot
    * prefilter finds each anchor's conditional extremes (min-same fc,
    * max-diff fc) in one bounded groupBy, only candidates within 2e-6
    * of an extreme pay the decimal-exact cosine, and the final
    * argmin/argmax is a struct-ordered min/max (score 6dp-rounded
    * BEFORE the pick so ties break on vec_id identically in both
    * engines). No ranking window, no pair materialization. */
  def embTripletMining(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val emb = Tables.embeddings(s, dir).withColumn("nrm", norm(col("embedding")))
    val anchors = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
              col("nrm").as("a_norm"), col("label").as("a_label"))
    val train = emb.filter(col("vec_id") % 5 =!= 0)
    val fast = train.crossJoin(broadcast(anchors))
      .withColumn("fc",
        call_function("float_dot", col("embedding"), col("a_emb")) /
          (col("nrm") * col("a_norm")))
      .withColumn("same", col("label") === col("a_label"))
    val th = fast.groupBy(col("a_id"))
      .agg(min(when(col("same"), col("fc"))).as("pos_min"),
           max(when(!col("same"), col("fc"))).as("neg_max"))
    val survivors = fast.join(broadcast(th), "a_id")
      .filter((col("same") && col("fc") <= col("pos_min") + 2e-6) ||
              (!col("same") && col("fc") >= col("neg_max") - 2e-6))
      .select(col("a_id"), col("a_label"), col("same"), col("vec_id"),
              r(dotDec(col("embedding"), col("a_emb")) /
                (col("nrm") * col("a_norm")), 6).as("score"))
    survivors.groupBy(col("a_id"), col("a_label"))
      // min(struct(score, vec_id)): min score, tie -> min vec_id;
      // max(struct(score, -vec_id)): max score, tie -> min vec_id
      .agg(min(when(col("same"), struct(col("score"), col("vec_id")))).as("pos"),
           max(when(!col("same"),
             struct(col("score"), (-col("vec_id")).as("nid")))).as("neg"))
      .select(col("a_id").as("anchor_id"), col("a_label").as("label"),
              col("pos.vec_id").as("pos_id"), col("pos.score").as("pos_sim"),
              (-col("neg.nid")).as("neg_id"), col("neg.score").as("neg_sim"),
              r(col("pos.score") - col("neg.score"), 6).as("margin"),
              (col("pos.score") - col("neg.score") < 0.0).as("violated"))
      .orderBy(col("anchor_id"))
  }

  def embTripletMiningSql(): String = {
    val cosab = sqlR(sqlCosine("e.embedding", "a.a_emb"), 6)
    s"""WITH anchors AS (SELECT vec_id AS a_id, embedding AS a_emb,
       |                        label AS a_label
       |                 FROM embeddings WHERE vec_id % 5 = 0),
       |train AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
       |scored AS (
       |  SELECT a.a_id, a.a_label, e.vec_id,
       |         e.label = a.a_label AS same, $cosab AS score
       |  FROM train e CROSS JOIN anchors a),
       |pos AS (
       |  SELECT a_id, vec_id AS pos_id, score AS pos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |                                 ORDER BY score, vec_id) AS rnk
       |    FROM scored WHERE same)
       |  WHERE rnk = 1),
       |neg AS (
       |  SELECT a_id, vec_id AS neg_id, score AS neg_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |                                 ORDER BY score DESC, vec_id) AS rnk
       |    FROM scored WHERE NOT same)
       |  WHERE rnk = 1)
       |SELECT a.a_id AS anchor_id, a.a_label AS label,
       |       p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
       |       ${sqlR("p.pos_sim - n.neg_sim", 6)} AS margin,
       |       (p.pos_sim - n.neg_sim < 0.0) AS violated
       |FROM anchors a
       |LEFT JOIN pos p ON a.a_id = p.a_id
       |LEFT JOIN neg n ON a.a_id = n.a_id
       |ORDER BY 1""".stripMargin
  }

  def knnLabelVoteSql(k: Int = 5): String = {
    val cosab = sqlR(sqlCosine("e.embedding", "t.t_emb"), 6)
    s"""WITH test AS (SELECT vec_id AS t_id, embedding AS t_emb,
       |                     label AS true_label
       |              FROM embeddings WHERE vec_id % 5 = 0),
       |train AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
       |scored AS (
       |  SELECT t.t_id, t.true_label, e.vec_id, e.label, $cosab AS score
       |  FROM train e CROSS JOIN test t),
       |nbrs AS (
       |  SELECT t_id, true_label, label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY t_id
       |                                 ORDER BY score DESC, vec_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $k),
       |votes AS (
       |  SELECT t_id, true_label, label, count(*) AS votes
       |  FROM nbrs GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT t_id, true_label, label AS pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY t_id
       |                                 ORDER BY votes DESC, label) AS rnk
       |    FROM votes)
       |  WHERE rnk = 1)
       |SELECT true_label AS label, count(*) AS n_test,
       |       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       ${sqlR("CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS accuracy
       |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------- #170 emb_centroid_classifier_eval

  /** #170 emb_centroid_classifier_eval: nearest-CENTROID classifier
    * confusion matrix (Rocchio) — train per-label centroids on the
    * even-id cohort (#113's split rule), classify the held-out odd-id
    * cohort by nearest centroid (decimal-exact squared distance, 6dp
    * before the argmin, label-asc tiebreak), and report the full
    * true×predicted matrix with per-true-label shares and overall
    * accuracy. The cheapest label-quality probe there is: where #119's
    * kNN vote needs a neighbor search, this needs |labels| distance
    * evaluations per vector — the first screen run on a freshly
    * labeled corpus, and the confusion matrix that says WHICH label
    * pairs the embedding space confounds.
    *
    * Scale shape: centroids are label-count × dim aggregates (map-side
    * combinable); the classify pass is one map-only scan against the
    * broadcast |labels|×dim centroid table; the readout (≤|labels|²
    * rows) carries the window sums. Nothing is ever collected. */
  def embCentroidClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cent = emb.filter(col("vec_id") % 2 === 0)
      .select(col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy(col("label"), col("p"))
      .agg(davg(col("x").cast("double"), 6).as("c"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("p"), col("c")))),
                     t => t("c")).as("carr"))
      .select(col("label").as("cand_label"), col("carr"))
    val scored = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("label").as("true_label"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", r(distSqDec(col("embedding"), col("carr")), 6))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(min(struct(col("dist"), col("cand_label"))).as("m"))
      .select(col("true_label"), col("m.cand_label").as("pred_label"))
    val wTrue = org.apache.spark.sql.expressions.Window.partitionBy(col("true_label"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    scored.groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_of_true", r(col("n") / sum(col("n")).over(wTrue), 6))
      .withColumn("accuracy",
        r(sum(when(col("true_label") === col("pred_label"), col("n"))
            .otherwise(0L)).over(wAll) / sum(col("n")).over(wAll), 6))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val embCentroidClassifierEvalSql: String = {
    val davg6 =
      "floor((CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / count(x)) * 1e6 + 0.5) / 1e6"
    val d = "(CAST(t.embedding[i] AS DOUBLE) - c.carr[i])"
    s"""WITH tr AS (
       |  SELECT label, u.i AS p, CAST(embedding[u.i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN LATERAL
       |    (SELECT unnest(range(0, len(embedding))) AS i) u
       |  WHERE vec_id % 2 = 0),
       |cp AS (SELECT label, p, $davg6 AS c FROM tr GROUP BY 1, 2),
       |cent AS (SELECT label AS cand_label, list(c ORDER BY p) AS carr
       |         FROM cp GROUP BY 1),
       |sc AS (
       |  SELECT t.vec_id, t.label AS true_label, c.cand_label,
       |         ${sqlR(s"CAST(list_sum(list_transform(range(1, len(t.embedding) + 1), i -> CAST($d * $d AS DECIMAL(18,10)))) AS DOUBLE)", 6)} AS dist
       |  FROM embeddings t CROSS JOIN cent c
       |  WHERE t.vec_id % 2 = 1),
       |pick AS (
       |  SELECT true_label, cand_label AS pred_label,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY dist, cand_label) AS rk
       |  FROM sc),
       |cm AS (SELECT true_label, pred_label, count(*) AS n
       |       FROM pick WHERE rk = 1 GROUP BY 1, 2)
       |SELECT true_label, pred_label, n,
       |       ${sqlR("n / (sum(n) OVER (PARTITION BY true_label))", 6)} AS share_of_true,
       |       ${sqlR("(sum(CASE WHEN true_label = pred_label THEN n ELSE 0 END) OVER ()) / (sum(n) OVER ())", 6)} AS accuracy
       |FROM cm ORDER BY true_label, pred_label""".stripMargin
  }

  // ----------------------------------------- #176 knn_exposure_bias

  /** #176 knn_exposure_bias: retrieval EXPOSURE audit — for the #30
    * brute-force top-k results, each label's share of retrieved slots
    * vs its corpus base rate, with the exposure lift. The fairness
    * readout every retrieval stack owes its consumers: lift ≫ 1 labels
    * dominate result pages beyond their prevalence (a skewed-centroid
    * or hubness symptom — #162's anisotropy check is the usual
    * culprit), lift ≪ 1 labels are starved. Evaluated per label over
    * ALL labels (zero-retrieval labels included via the label spine).
    *
    * Scale shape: rides #30's scoring scan (broadcast queries, bounded
    * top-k heaps — the retrieved set is queries×k rows); base rates
    * are one |labels|-key count; the audit itself is a model-sized
    * join. */
  def knnExposureBias(s: SparkSession, dir: String, k: Int = 5,
                      nQueries: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val retrieved = Similarity.knnBrute(s, dir, k, nQueries)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_retrieved"))
    val base = emb.groupBy(col("label")).agg(count(lit(1)).as("n_corpus"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    base.join(retrieved, Seq("label"), "left")
      .select(col("label"), col("n_corpus"),
              coalesce(col("n_retrieved"), lit(0L)).as("n_retrieved"))
      .withColumn("base_rate", r(col("n_corpus") / sum(col("n_corpus")).over(wAll), 6))
      .withColumn("exposure", r(col("n_retrieved") / sum(col("n_retrieved")).over(wAll), 6))
      .withColumn("lift",
        when(col("base_rate") > 0, r(col("exposure") / col("base_rate"), 6)))
      .orderBy(col("label"))
  }

  def knnExposureBiasSql(k: Int = 5, nQueries: Int = 5): String =
    s"""WITH res AS (SELECT vec_id FROM (${Similarity.knnBruteSql(k, nQueries)})),
       |ret AS (
       |  SELECT e.label, count(*) AS n_retrieved
       |  FROM res r JOIN embeddings e ON r.vec_id = e.vec_id
       |  GROUP BY 1),
       |base AS (SELECT label, count(*) AS n_corpus FROM embeddings GROUP BY 1),
       |j AS (
       |  SELECT b.label, b.n_corpus,
       |         CAST(COALESCE(r.n_retrieved, 0) AS BIGINT) AS n_retrieved
       |  FROM base b LEFT JOIN ret r ON b.label = r.label)
       |SELECT label, n_corpus, n_retrieved,
       |       ${sqlR("n_corpus / (sum(n_corpus) OVER ())", 6)} AS base_rate,
       |       ${sqlR("n_retrieved / (sum(n_retrieved) OVER ())", 6)} AS exposure,
       |       CASE WHEN ${sqlR("n_corpus / (sum(n_corpus) OVER ())", 6)} > 0
       |            THEN ${sqlR(s"(${sqlR("n_retrieved / (sum(n_retrieved) OVER ())", 6)}) / (${sqlR("n_corpus / (sum(n_corpus) OVER ())", 6)})", 6)}
       |       END AS lift
       |FROM j ORDER BY label""".stripMargin

  // ------------------------------------------------- #181 emb_hubness

  /** #181 emb_hubness: the k-OCCURRENCE distribution over the #31d kNN
    * graph (Radovanović 2010) — for each vector, how many OTHER
    * vectors' k-nearest lists it appears in (its in-degree N_k), rolled
    * up into the N_k histogram plus the distribution's skewness. THE
    * high-dimensional retrieval pathology check: positive skew means a
    * few hub vectors dominate everyone's neighbor lists (the root cause
    * behind #176's exposure lift and SemDeDup over-pruning around
    * hubs); N_k = 0 rows are the anti-hubs retrieval can never reach.
    *
    * Scale shape: in-degrees are one groupBy over the kNN edge list
    * (k·n rows), the spine join keeps zero-degree vectors, the
    * histogram is a ≤max(N_k)-row rollup and the skewness moments are
    * integer-exact sums over vector-cardinality rows — no new pair
    * space anywhere. */
  def embHubness(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val indeg = Similarity.knnGraph(s, dir, k)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("nk"))
    val perVec = Tables.embeddings(s, dir).select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("nk"), lit(0L)).as("nk"))
    // moments as decimal sums of DOUBLE powers: integer nk³ would wrap
    // int64 for a hub with nk ≥ 2^21 (Spark wraps silently, DuckDB
    // raises — exactly the regime a hubness audit exists to measure)
    val nkd = col("nk").cast("double")
    val mom = perVec.agg(
      count(lit(1)).as("n"), dsum(nkd).as("s1"),
      dsum(nkd * nkd).as("s2"),
      dsum(nkd * nkd * nkd).as("s3"))
      .select(col("n"),
              r(col("s1") / col("n"), 6).as("mu"),
              r(col("s2") / col("n"), 6).as("ex2"),
              r(col("s3") / col("n"), 6).as("ex3"))
      .select(col("n"), col("mu"), col("ex2"), col("ex3"),
              (col("ex2") - col("mu") * col("mu")).as("vr"))
      .select(col("n"),
              when(col("vr") > 0,
                r((col("ex3") - lit(3) * col("mu") * col("ex2")
                   + lit(2) * col("mu") * col("mu") * col("mu")) /
                  (sqrt(col("vr")) * sqrt(col("vr")) * sqrt(col("vr"))), 6))
                .as("skewness"))
    perVec.groupBy(col("nk").as("k_occurrence"))
      .agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(mom))
      .select(col("k_occurrence"), col("n_vectors"),
              r(col("n_vectors") / col("n"), 6).as("share"),
              col("skewness"))
      .orderBy(col("k_occurrence"))
  }

  def embHubnessSql(k: Int = 3): String = {
    val mu = sqlR("s1 / n", 6)
    val ex2 = sqlR("s2 / n", 6)
    val ex3 = sqlR("s3 / n", 6)
    s"""WITH g AS (SELECT vec_id FROM (${Similarity.knnGraphSql(k)})),
       |indeg AS (SELECT vec_id, count(*) AS nk FROM g GROUP BY 1),
       |pv AS (
       |  SELECT CAST(COALESCE(i.nk, 0) AS BIGINT) AS nk
       |  FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.vec_id),
       |rawm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         ${sqlSum("CAST(nk AS DOUBLE)")} AS s1,
       |         ${sqlSum("CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)")} AS s2,
       |         ${sqlSum("CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)")} AS s3
       |  FROM pv),
       |mom AS (
       |  SELECT n, $mu AS mu, $ex2 AS ex2, $ex3 AS ex3,
       |         ($ex2) - ($mu) * ($mu) AS vr
       |  FROM rawm),
       |sk AS (
       |  SELECT n,
       |         CASE WHEN vr > 0
       |              THEN ${sqlR("(ex3 - 3 * mu * ex2 + 2 * mu * mu * mu) / (sqrt(vr) * sqrt(vr) * sqrt(vr))", 6)}
       |         END AS skewness
       |  FROM mom)
       |SELECT h.nk AS k_occurrence, h.n_vectors,
       |       ${sqlR("h.n_vectors / s.n", 6)} AS share, s.skewness
       |FROM (SELECT nk, count(*) AS n_vectors FROM pv GROUP BY 1) h
       |CROSS JOIN sk s
       |ORDER BY k_occurrence""".stripMargin
  }
}
