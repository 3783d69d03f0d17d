package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.VectorFunctions._

/** #31g ann_pq — product-quantization ANN (Jégou et al. 2011, the
  * billion-vector workhorse under FAISS/ScaNN-style indexes).
  *
  * The 64-dim embedding splits into 8 contiguous 8-dim subspaces; each
  * subspace gets a 16-centroid codebook from a deterministic k-means
  * (init = the first 16 vectors' sub-slices, Lloyd iterations with
  * decimal-exact 8dp means — the same parity discipline as the IVF
  * coarse quantizer in Similarity.trainCentroids). A vector encodes as
  * 8 four-bit codes: 256 bytes of float become 8 bytes — the compression
  * that lets 100 TB of vectors sit in cluster RAM.
  *
  * Queries score by ADC (asymmetric distance computation): per query,
  * one 8×16 lookup table of exact sub-dot-products (decimal-rounded so
  * the ADC sum is order-independent), then every corpus vector's
  * approximate dot is 8 table lookups + an exact decimal sum. The ADC
  * shortlist (top 32) is re-ranked with the exact decimal cosine — the
  * standard refine step — and the final top-k is emitted with exact
  * scores, which is what makes the whole pipeline oracle-checkable
  * bit-for-bit: DuckDB replays codebook training, encoding, the LUT,
  * the ADC ranking, and the re-rank as chained CTEs.
  *
  * Scale shape: training touches the corpus `iters` times (sub-vector
  * rows are map-side slices, the centroid update is a partial-agg
  * groupBy over 8×16×8 cells); encoding is MAP-ONLY — the codebook is a
  * 1 KB plan literal (8×16×8 floats), each row computes its own argmax
  * with no join, no shuffle. ADC scoring is ALSO map-only: the
  * ≤ nq×8×16-value LUT (computed once in Spark with the exact decimal
  * sub-dots, then collected — model-sized, like the codebook) is inlined
  * as literal arrays, so each corpus row evaluates every query's ADC sum
  * as 8 `element_at` lookups with no join and no (query × corpus)
  * shuffle; the only exchange after encode is the nq-row heap combine.
  */
object SimilarityPq {

  private[operators] val SubSpaces = 8
  private val SubDim = 8
  private val Codes = 16

  /** Left-fold ‖c‖²/2 (matches sqlHalfNormSeq's fold order). */
  private def halfNormSeq(c: Array[Float]): Double =
    c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble) / 2

  private def subSlice(emb: Column, m: Int): Column =
    slice(emb, m * SubDim + 1, SubDim)

  /** Column-valued subspace index (LUT side, where m is data). */
  private def subSliceC(emb: Column, m: Column): Column =
    slice(emb, m * SubDim + 1, lit(SubDim))

  /** Per-row code for subspace `m` against a collected codebook: argmax
    * of (sub·c − ‖c‖²/2) with larger-code tiebreak, as a greatest()
    * literal expression — map-only, like Similarity.assignNearest. */
  private def codeExpr(cb: Map[(Int, Int), Array[Float]], m: Int): Column = {
    val sub = subSlice(col("embedding"), m)
    val cands = cb.collect { case ((`m`, code), c) =>
      struct(
        (call_function("float_dot", sub, lit(c)) - lit(halfNormSeq(c))).as("score"),
        lit(code).as("code"))
    }.toSeq
    greatest(cands: _*).getField("code")
  }

  /** Deterministic per-subspace k-means: returns ((m, code) -> centroid).
    * Init: sub-slices of vectors 0..15. Each Lloyd round re-assigns via
    * the literal argmax and recomputes decimal-exact 8dp means (codes
    * that lose all members drop out, same as the oracle chain). Only the
    * 8×16×8-float codebook is ever collected — model-sized. */
  /** Memoized [[trainCodebooks]] per (session, dir, iters): the PQ
    * model is a pure function of (corpus, iters) and both #31g ann_pq
    * and #160 emb_pq_distortion train the identical (8×16, iters=2)
    * codebooks — train once per session, share the collected model
    * (the in-session analog of the #365 persisted artifact's frozen
    * codebooks). */
  private[graft] def codebooksCached(s: SparkSession, dir: String,
                                     iters: Int)(train: => DataFrame)
      : Map[(Int, Int), Array[Float]] =
    graft.Caches.model(s, ("pq_codebooks", dir, iters)) {
      trainCodebooks(train, iters)
    }

  private[graft] def trainCodebooks(corpus: DataFrame, iters: Int): Map[(Int, Int), Array[Float]] = {
    graft.functions.GraftFunctions.ensure(corpus.sparkSession)
    val init = corpus.filter(col("vec_id") < Codes)
      .select(col("vec_id"), col("embedding"))
      .collect().map { row =>
        val id = row.getLong(0).toInt
        val emb = row.getSeq[Float](1).toArray
        (0 until SubSpaces).map(m =>
          (m, id) -> emb.slice(m * SubDim, (m + 1) * SubDim))
      }.flatten.toMap
    (1 to iters).foldLeft(init) { (cb, _) =>
      // one projected column per subspace argmax: each expression stays
      // well under the 64 KB codegen method limit, so the encode pass
      // runs inside whole-stage codegen (a single exploded expression
      // with all 8×16 literal centroids falls back to interpreted eval)
      val structCols = (0 until SubSpaces).map(m =>
        struct(lit(m).as("m"), col(s"code_$m").as("code"),
               subSlice(col("embedding"), m).as("sub")))
      withCodes(corpus, cb).select(explode(array(structCols: _*)).as("a"))
        .select(col("a.m"), col("a.code"), posexplode(col("a.sub")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(davg(col("col").cast("double"), 8).as("mean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          val arr = new Array[Float](SubDim)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3).toFloat)
          key -> arr
        }
    }
  }

  /** Project the 8 per-subspace codes as separate columns (codegen-
    * friendly — see trainCodebooks). */
  private[graft] def withCodes(df: DataFrame, cb: Map[(Int, Int), Array[Float]]): DataFrame =
    df.withColumns(Map((0 until SubSpaces).map(m => s"code_$m" -> codeExpr(cb, m)): _*))

  /** The ADC lookup value q_sub·c, decimal-rounded to 6dp so the 8-term
    * ADC sum is order-independent on both engines. */
  private def lutVal(qSub: Column, c: Column): Column =
    r(dotDec(qSub, c), 6).cast("decimal(18,6)")

  def annPq(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
            iters: Int = 2, shortlist: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = Similarity.pinnedEmbeddings(s, dir)
    val cb = codebooksCached(s, dir, iters)(corpus)
    val codes = withCodes(corpus, cb)
      .select(col("vec_id") +: (0 until SubSpaces).map(m => col(s"code_$m")): _*)
    adcTopK(corpus, codes, cb, k, nQueries, shortlist)
  }

  /** The ADC query tail from an ALREADY-ENCODED code table — shared by
    * [[annPq]] (codes computed in-plan) and the persisted-index probe
    * ([[AnnIndex.probePq]], codes read from the parquet artifact; ints
    * round-trip exactly, so the two are bit-identical). `corpus`
    * supplies the query vectors and the raw embeddings the exact
    * re-rank fetches for the shortlist — the primary-storage fetch a
    * real PQ deployment performs, sized by `shortlist`, never by the
    * corpus. */
  private[operators] def adcTopK(corpus: DataFrame, codes: DataFrame,
                                 cb: Map[(Int, Int), Array[Float]],
                                 k: Int, nQueries: Int,
                                 shortlist: Int): DataFrame = {
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.ensure(s)
    // per-query LUT: nq×8×16 exact sub-dots. Computed in Spark (so the
    // decimal fold is bit-identical to the oracle's), then collected —
    // nq×128 values, model-sized like the codebook itself.
    val cbDf = s.createDataFrame(cb.toSeq.map { case ((m, code), c) => (m, code, c) })
      .toDF("m", "code", "c")
    val qs = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val lutArr: Map[Long, Array[Array[java.math.BigDecimal]]] = qs
      .crossJoin(broadcast(cbDf))
      .select(col("q_id"), col("m"), col("code"),
              lutVal(subSliceC(col("q_emb"), col("m")), col("c")).as("v"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        // dense code-indexed slots; codes dropped during Lloyd leave a
        // zero that no row can select (codeExpr only assigns survivors)
        val a = Array.fill(SubSpaces, Codes)(java.math.BigDecimal.ZERO)
        rows.foreach(r => a(r.getInt(1))(r.getInt(2)) = r.getDecimal(3))
        q -> a
      }
    // ADC: map-only — per corpus row, each query's approximate dot is 8
    // element_at lookups into the literal LUT + an exact decimal sum
    // (identical values to the old broadcast-join-then-groupBy plan, but
    // with no join and no queries×corpus shuffle — the round-7 bench
    // showed that shuffle dominating the operator). The `+` chain over
    // decimal(18,6) terms is exact; the (28,6) cast reproduces the old
    // sum() aggregate's result type.
    val perQ = lutArr.keys.toSeq.sorted.map { q =>
      val adc = (0 until SubSpaces).map { m =>
        element_at(
          array(lutArr(q)(m).map(v => lit(v).cast("decimal(18,6)")): _*),
          col(s"code_$m") + 1)
      }.reduce(_ + _)
      struct(lit(q).as("q_id"), adc.cast("decimal(28,6)").as("adc"))
    }
    val approx = codes
      .select(col("vec_id"), explode(array(perQ: _*)).as("a"))
      .select(col("a.q_id").as("q_id"), col("vec_id"), col("a.adc").as("adc"))
      .filter(col("vec_id") =!= col("q_id"))
    // shortlist via bounded map-side top-k heaps (collect_top_k), NOT a
    // ranking window: partitionBy(q_id) over the full (query × corpus)
    // ADC table would make ONE task sort the whole corpus per query.
    // Largest-struct ordering (adc DESC, then -vec_id DESC = vec_id ASC)
    // reproduces the old window's (adc DESC, vec_id ASC) tiebreak.
    val short = approx
      .groupBy(col("q_id"))
      .agg(call_function("collect_top_k",
        struct(col("adc"), (-col("vec_id")).as("neg_id")),
        lit(shortlist), lit(false)).as("arr"))
      .select(col("q_id"), explode(col("arr")).as("a"))
      .select(col("q_id"), (-col("a.neg_id")).as("vec_id"))
    // refine: exact decimal cosine over the shortlist only
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    short
      .join(qs, Seq("q_id"))
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("cosine",
        r(dotDec(col("q_emb"), col("embedding")) /
          (norm(col("q_emb")) * norm(col("embedding"))), 6))
      .withColumn("rank", row_number().over(wFinal).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** Column-valued sub-slice for the oracle/LUT sides where the subspace
    * index is data, not a literal. */
  private def subSliceSql(emb: String, m: String): String =
    s"list_slice($emb, $m * $SubDim + 1, $m * $SubDim + $SubDim)"

  /** DuckDB oracle: the identical deterministic per-subspace k-means
    * (one chained CTE keyed by subspace — assignment via the
    * sequential-fold FloatDot mirror with code-DESC tiebreak, update via
    * decimal-exact 8dp means quantized to float), then the same
    * encode → LUT → ADC → shortlist → exact re-rank. */
  /** Shared chained-CTE replay of the per-subspace deterministic
    * k-means: defines `ms`/`subs`/`pc0..pc{iters}` (codebooks) and
    * `codes` (final per-(vector, subspace) assignment with its
    * sub-slice) — the common prefix of the #31g retriever oracle and
    * the #160 distortion oracle. */
  private def pqChainSql(iters: Int, trainWhere: String = "TRUE"): String = {
    def score(sub: String) = s"(${sqlDotSeq(sub, "c.c")} - ${sqlHalfNormSeq("c.c")})"
    def assign(prev: String, out: String, where: String = "TRUE") =
      s"""$out AS (
         |  SELECT vec_id, m, sub, code FROM (
         |    SELECT s.vec_id, s.m, s.sub, c.code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |             ${score("s.sub")} DESC, c.code DESC) AS rn
         |    FROM subs s JOIN $prev c ON c.m = s.m WHERE $where)
         |  WHERE rn = 1
         |)"""
    def update(prevAssign: String, out: String) =
      s"""$out AS (
         |  SELECT m, code, list(CAST(mean AS FLOAT) ORDER BY d) AS c FROM (
         |    SELECT m, code, d, ${sqlAvg("CAST(x AS DOUBLE)", 8)} AS mean FROM (
         |      SELECT m, code, unnest(sub) AS x, generate_subscripts(sub, 1) AS d
         |      FROM $prevAssign)
         |    GROUP BY m, code, d)
         |  GROUP BY m, code
         |)"""
    // `trainWhere` restricts the TRAINING rows (init + Lloyd updates —
    // the #367 append-without-retrain oracle trains on the index slice
    // only); the final `codes` assignment always covers the full corpus
    val lloyd = (1 to iters).map(it =>
      assign(s"pc${it - 1}", s"pa$it", trainWhere) + ",\n" + update(s"pa$it", s"pc$it"))
      .mkString(",\n")
    s"""WITH ms AS (SELECT unnest([${(0 until SubSpaces).mkString(", ")}]) AS m),
       |subs AS (
       |  SELECT vec_id, ms.m, ${subSliceSql("embedding", "ms.m")} AS sub
       |  FROM embeddings CROSS JOIN ms),
       |pc0 AS (
       |  SELECT m, CAST(vec_id AS INT) AS code, sub AS c FROM subs
       |  WHERE vec_id < $Codes AND ($trainWhere)),
       |$lloyd,
       |${assign(s"pc$iters", "codes")}""".stripMargin
  }

  def annPqSql(k: Int = 5, nQueries: Int = 5, iters: Int = 2,
               shortlist: Int = 32, trainWhere: String = "TRUE"): String = {
    pqChainSql(iters, trainWhere) +
    s""",
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.m, c.code,
       |         CAST(${sqlR(sqlDotDec(subSliceSql("q.embedding", "c.m"), "c.c"), 6)}
       |              AS DECIMAL(18,6)) AS v
       |  FROM embeddings q CROSS JOIN pc$iters c
       |  WHERE q.vec_id < $nQueries),
       |adc AS (
       |  SELECT l.q_id, co.vec_id, sum(l.v) AS adc
       |  FROM codes co JOIN lut l ON l.m = co.m AND l.code = co.code
       |  WHERE co.vec_id <> l.q_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS srn
       |    FROM adc)
       |  WHERE srn <= $shortlist),
       |rer AS (
       |  SELECT s.q_id, s.vec_id,
       |         ${sqlR(sqlCosine("q.embedding", "e.embedding"), 6)} AS cosine
       |  FROM short s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings e ON e.vec_id = s.vec_id)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM rer)
       |WHERE rank <= $k""".stripMargin
  }

  // ----------------------------------------------- #160 emb_pq_distortion

  /** #160 emb_pq_distortion: the QUANTIZER bake-off — reconstruction
    * error of the two compression codecs this engine ships, side by
    * side: the #31g product quantizer (8 bytes/vector: concat of
    * selected sub-centroids) vs the #68 int8 scalar quantizer
    * (64 bytes/vector). Per codec: per-dimension mean squared error
    * and the worst single vector — the memory-vs-fidelity table that
    * decides which index codec a 100 TB vector corpus deploys
    * (#146/#150 measure recall after the codec choice; this measures
    * the codec itself).
    *
    * Scale shape: both codecs are map-only over one corpus scan each —
    * PQ reconstruction joins the code table against the model-sized
    * broadcast codebook; int8 against a broadcast max-abs scalar.
    * Squared errors accumulate decimal-exact per vector (8dp), the
    * two-row readout is a global rollup. */
  def embPqDistortion(s: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = Similarity.pinnedEmbeddings(s, dir)
    // PQ path: encode, reconstruct from the broadcast codebook
    val cb = codebooksCached(s, dir, iters)(corpus)
    val cbDf = s.createDataFrame(cb.toSeq.map { case ((m, code), c) => (m, code, c) })
      .toDF("m", "code", "c")
    val structCols = (0 until SubSpaces).map(m =>
      struct(lit(m).as("m"), col(s"code_$m").as("code"),
             subSlice(col("embedding"), m).as("sub")))
    val pqVec = withCodes(corpus, cb)
      .select(col("vec_id"), explode(array(structCols: _*)).as("a"))
      .select(col("vec_id"), col("a.m").as("m"), col("a.code").as("code"),
              col("a.sub").as("sub"))
      .join(broadcast(cbDf), Seq("m", "code"))
      .select(col("vec_id"), distSqDec(col("sub"), col("c")).as("t"))
      .groupBy(col("vec_id")).agg(dsum(col("t"), 8).as("sqerr"))
    // int8 path: the #68 dequantization error, squared
    val maxAbs = corpus.select(posexplode(col("embedding")).as(Seq("p", "v")))
      .agg(max(abs(col("v").cast("double"))).as("max_abs"))
    val x = col("xr").cast("double")
    val q = floor(x * lit(127.0) / col("max_abs") + 0.5)
    val qc = least(greatest(q, lit(-127.0)), lit(127.0))
    val e = x - qc * col("max_abs") / lit(127.0)
    val i8Vec = corpus.crossJoin(broadcast(maxAbs))
      .select(col("vec_id"), col("max_abs"),
              posexplode(col("embedding")).as(Seq("p", "xr")))
      .select(col("vec_id"), (e * e).as("t"))
      .groupBy(col("vec_id")).agg(dsum(col("t"), 8).as("sqerr"))
    def rollup(vecs: DataFrame, name: String, bytes: Long): DataFrame =
      vecs.agg(count(lit(1)).as("n_vectors"),
               r(dsum(col("sqerr")) / (count(lit(1)) * lit(64L)), 8).as("mse_per_dim"),
               r(max(col("sqerr")), 8).as("max_vec_sqerr"))
        .select(lit(name).as("quantizer"), lit(bytes).as("bytes_per_vec"),
                col("n_vectors"), col("mse_per_dim"), col("max_vec_sqerr"))
    rollup(pqVec, "pq8x16", 8L)
      .unionByName(rollup(i8Vec, "int8", 64L))
      .orderBy(col("quantizer"))
  }

  def embPqDistortionSql(iters: Int = 2): String = {
    def roll(src: String, name: String, bytes: Int) =
      s"""SELECT '$name' AS quantizer, CAST($bytes AS BIGINT) AS bytes_per_vec,
         |       count(*) AS n_vectors,
         |       ${sqlR(s"${sqlSum("sqerr")} / (count(*) * 64)", 8)} AS mse_per_dim,
         |       ${sqlR("max(sqerr)", 8)} AS max_vec_sqerr
         |FROM $src""".stripMargin
    pqChainSql(iters) +
    s""",
       |recon AS (
       |  SELECT co.vec_id, ${sqlDistSqDec("co.sub", "c.c")} AS t
       |  FROM codes co JOIN pc$iters c ON c.m = co.m AND c.code = co.code),
       |pqv AS (SELECT vec_id, ${sqlSum("t", 8)} AS sqerr FROM recon GROUP BY 1),
       |mx AS (
       |  SELECT max(abs(CAST(v.v AS DOUBLE))) AS max_abs
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS v) v),
       |i8e AS (
       |  SELECT vec_id,
       |         (CAST(v.v AS DOUBLE) -
       |          LEAST(GREATEST(floor(CAST(v.v AS DOUBLE) * 127.0 / max_abs + 0.5), -127.0), 127.0)
       |            * max_abs / 127.0) AS e
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS v) v, mx),
       |i8v AS (SELECT vec_id, ${sqlSum("e * e", 8)} AS sqerr FROM i8e GROUP BY 1)
       |${roll("pqv", "pq8x16", 8)}
       |UNION ALL
       |${roll("i8v", "int8", 64)}
       |ORDER BY quantizer""".stripMargin
  }
}
