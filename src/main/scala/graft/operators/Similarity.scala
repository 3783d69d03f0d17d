package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (SURVEY §2 E29-E32):
  * exact stats, brute-force cosine top-k, random-hyperplane LSH ANN, and
  * cosine near-dup pairs.
  *
  * Scale shape: queries are a broadcast dimension — the corpus is
  * scanned map-only for scoring. The LSH path buckets the corpus once
  * (reusable across query batches) and probes buckets instead of
  * scanning; the bucketed join is the 100 TB path, brute force is the
  * recall baseline it's measured against (SimilaritySpec).
  */
object Similarity {

  /** #29 per-vector stats: dimension, exact component sum, L2 norm. */
  def embNorms(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      r(aggregate(col("embedding"),
          lit(new java.math.BigDecimal(0)).cast("decimal(28,10)"),
          (acc, x) => (acc + x.cast("double").cast("decimal(18,10)"))
            .cast("decimal(28,10)"))
        .cast("double"), 6).as("comp_sum"),
      r(norm(col("embedding")), 6).as("l2_norm"))

  val embNormsSql: String =
    s"""SELECT vec_id, label, len(embedding) AS dim,
       |  floor((CAST(list_sum(list_transform(embedding,
       |     x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,10)))) AS DOUBLE)) * 1e6 + 0.5) / 1e6
       |    AS comp_sum,
       |  floor((${sqlNorm("embedding")}) * 1e6 + 0.5) / 1e6 AS l2_norm
       |FROM embeddings""".stripMargin

  /** Bounded top-k per query via CollectTopK: map-side k-element heaps,
    * the shuffle carries ≤ k rows per partition per query — the
    * scale-correct replacement for ranking-window top-k (which shuffles
    * every scored row). Ordering matches row_number(cosine DESC, vec_id
    * ASC): the heap key is (cosine, −vec_id) descending. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(scored.sparkSession)
    scored.groupBy(col("q_id"))
      .agg(call_function("collect_top_k",
        struct(col("cosine"), (-col("vec_id")).as("neg_id")), lit(k), lit(false))
        .as("arr"))
      .select(col("q_id"), posexplode(reverse(array_sort(col("arr")))))
      .select(col("q_id"), (-col("col.neg_id")).as("vec_id"),
              col("col.cosine").as("cosine"),
              (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact top-k over candidate pairs with a lossless fast prefilter.
    *
    * Input: (q_id, q_emb, q_norm, vec_id, embedding, e_norm) pair rows.
    * The codegen'd FloatDot cosine ranks all pairs; only pairs within
    * 2e-6 of the per-query kth-best fast cosine are re-scored with the
    * decimal-exact dot. Losslessness: |fast − exact| < 1e-12, so any
    * pair excluded by the 2e-6 slack has a rounded (6dp) exact cosine
    * strictly below every kept pair's — it can neither beat nor tie into
    * the exact top-k. Turns O(pairs) decimal lambda evaluations into
    * O(pairs) primitive loops + O(k·queries) decimal ones. */
  private[operators] def topKExact(cands: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(cands.sparkSession)
    val fast = cands.withColumn("fc",
      call_function("float_dot", col("q_emb"), col("embedding")) /
        (col("q_norm") * col("e_norm")))
    // kth-largest fast cosine per query: same bounded heap, k values only
    val th = fast.groupBy(col("q_id"))
      .agg(call_function("collect_top_k", col("fc"), lit(k), lit(false)).as("arr"))
      .select(col("q_id"), array_min(col("arr")).as("fc_kth"))
    fast.join(broadcast(th), "q_id")
      .filter(col("fc") >= col("fc_kth") - 2e-6)
      .withColumn("cosine",
        r(dotDec(col("q_emb"), col("embedding")) / (col("q_norm") * col("e_norm")), 6))
      .transform(topK(_, k))
  }

  private[operators] def queries(s: SparkSession, dir: String, nQueries: Int): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** #30 brute-force cosine top-k: broadcast the query set, score the
    * corpus map-only, bounded partial top-k per query (see [[topK]]).
    * Deterministic: cosine rounded before ranking, vec_id tiebreak. */
  def knnBrute(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5): DataFrame =
    // queries×k-row result memoized per (corpus, params): the exact
    // top-k is the ground-truth baseline of #142/#146/#176 and the #150
    // nprobe curve — the full-corpus scoring scan behind it runs once
    // per session, not once per consumer (the knn_graph precedent)
    graft.Caches.persisted(s, ("knn_brute", dir, k, nQueries)) {
      knnBruteDf(Tables.embeddings(s, dir), queries(s, dir, nQueries), k)
    }

  /** DataFrame-generic core: corpus (vec_id, embedding), queries
    * (q_id, q_emb). */
  def knnBruteDf(corpusIn: DataFrame, qsIn: DataFrame, k: Int = 5): DataFrame = {
    // norms are computed once per vector BEFORE the pair join — the pair
    // space then costs one primitive-loop dot, not three decimal ones
    val corpus = corpusIn.withColumn("e_norm", norm(col("embedding")))
    val qs = qsIn.withColumn("q_norm", norm(col("q_emb")))
    corpus.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .transform(topKExact(_, k))
  }

  def knnBruteSql(k: Int = 5, nQueries: Int = 5): String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $nQueries
       |),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |         floor((${sqlCosine("q.q_emb", "e.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
       |)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  // ------------------------------------------------------------------- LSH

  /** First 48 bits of md5 as a long — the portable cross-engine hash
    * (DuckDB: `('0x' || substr(md5(s),1,12))::BIGINT`). */
  private def md5hex48(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
  }

  /** Deterministic md5-derived hyperplanes: `tables` hash tables ×
    * `bits` planes × `dim` components, each w = (md5₄₈("p:t:i:d") mod
    * 2001 − 1000)/1000 quantized to float — identical across runs/JVMs,
    * constant-folded into the plan as literals, and reproducible inside
    * the DuckDB oracle from the same formula. */
  private[graft] def planes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Float]]] =
    Array.tabulate(tables, bits, dim) { (t, i, d) =>
      ((md5hex48(s"p:$t:$i:$d") % 2001 - 1000) / 1000.0).toFloat
    }

  private[graft] def bucketExpr(emb: Column, plane: Array[Array[Float]]): Column =
    plane.zipWithIndex.map { case (w, i) =>
      // native codegen'd FloatDot (GraftExtensions) — a tight primitive
      // loop instead of the boxed aggregate/zip_with lambda chain
      val dot = call_function("float_dot", emb, lit(w))
      when(dot >= 0, 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** #31 ANN via random-hyperplane LSH: bucket the corpus per hash
    * table, probe the query's buckets, exact-cosine only the candidates,
    * rank. Oracle-checked end-to-end: the SQL regenerates the planes
    * from the md5 formula and mirrors FloatDot's sequential IEEE sum, so
    * bucket signs are bit-identical. Recall vs [[knnBrute]] is asserted
    * in SimilaritySpec (random uniform vectors are LSH's worst case —
    * real clustered embeddings bucket far better). */
  def annLsh(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
             tables: Int = 16, bits: Int = 6): DataFrame =
    // queries×k-row result memoized per (corpus, params): #142's recall
    // curve re-retrieves the same lists this query emits
    graft.Caches.persisted(s, ("ann_lsh", dir, k, nQueries, tables, bits)) {
      annLshUncached(s, dir, k, nQueries, tables, bits)
    }

  private def annLshUncached(s: SparkSession, dir: String, k: Int, nQueries: Int,
                             tables: Int, bits: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val ps = planes(tables, bits, 64)
    def withBuckets(df: DataFrame, embCol: String): DataFrame =
      df.withColumn("tb", explode(array(
        ps.zipWithIndex.map { case (p, t) =>
          struct(lit(t).as("t"), bucketExpr(col(embCol), p).as("b"))
        }: _*)))
    // the bucket join carries only (vec_id, tb) — the candidate pair
    // space is deduped on bare ids (cheap long-pair distinct, no array
    // shuffle), then vectors + norms (computed once per vector) join
    // back: broadcast on the query side, co-partitioned on vec_id on the
    // corpus side
    val emb = Tables.embeddings(s, dir)
    val corpusB = withBuckets(emb, "embedding").select(col("vec_id"), col("tb"))
    val qsB = withBuckets(queries(s, dir, nQueries), "q_emb")
      .select(col("q_id"), col("tb"))
    val candIds = corpusB.join(broadcast(qsB), Seq("tb"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val cands = candIds
      .join(emb.withColumn("e_norm", norm(col("embedding"))), "vec_id")
      .join(broadcast(queries(s, dir, nQueries)
        .withColumn("q_norm", norm(col("q_emb")))), "q_id")
    cands.transform(topKExact(_, k))
  }

  /** The shared LSH bucket CTE prefix (`w` planes → `wl` row lists →
    * `cb` per-vector bucket signs) — every oracle that regenerates the
    * md5-plane buckets (#31 LSH, #32 cosine dedup, #31d kNN graph,
    * #264 contamination) reads THIS, never a re-derived copy.
    * `leadCtes` prepends caller CTEs (must not reference w/wl/cb);
    * `src` is the vector relation (aliased `e`); `extra` columns are
    * carried through `cb` between vec_id and t. */
  private[graft] def lshBucketSqlPrefix(tables: Int, bits: Int,
      leadCtes: String = "", src: String = "embeddings",
      extra: Seq[String] = Nil): String = {
    val exSel = extra.map(c => s"e.$c, ").mkString
    val exOut = extra.map(c => s"$c, ").mkString
    val grp = (1 to 2 + extra.size).mkString(", ")
    s"""WITH ${leadCtes}w AS (
       |  SELECT t, i, d,
       |         CAST(CAST(((('0x' || substr(md5('p:' || t || ':' || i || ':' || d), 1, 12))::BIGINT % 2001) - 1000) / 1000.0 AS FLOAT) AS DOUBLE) AS w
       |  FROM range(0, $tables) rt(t) CROSS JOIN range(0, $bits) ri(i) CROSS JOIN range(0, 64) rd(d)
       |),
       |wl AS (SELECT t, i, list(w ORDER BY d) AS wl FROM w GROUP BY 1, 2),
       |cb AS (
       |  SELECT vec_id, ${exOut}t, CAST(sum(CASE WHEN dot >= 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS b
       |  FROM (
       |    SELECT e.vec_id, ${exSel}wl.t, wl.i,
       |           list_reduce(list_transform(range(1, 65),
       |             d -> CAST(e.embedding[d] AS DOUBLE) * wl.wl[d]), (x, y) -> x + y) AS dot
       |    FROM $src e CROSS JOIN wl)
       |  GROUP BY $grp
       |)""".stripMargin
  }

  /** DuckDB oracle for [[annLsh]]: planes regenerated in-SQL from the
    * md5 formula, dots via the sequential-fold mirror of FloatDot
    * (bit-identical signs), then the same bucket join + exact cosine +
    * top-k as the brute oracle. */
  def annLshSql(k: Int = 5, nQueries: Int = 5,
                tables: Int = 16, bits: Int = 6): String =
    lshBucketSqlPrefix(tables, bits) +
    s""",
       |qb AS (SELECT vec_id AS q_id, t, b FROM cb WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT DISTINCT q.q_id, c.vec_id
       |  FROM cb c JOIN qb q ON c.t = q.t AND c.b = q.b AND c.vec_id <> q.q_id
       |),
       |scored AS (
       |  SELECT n.q_id, n.vec_id,
       |         floor((${sqlCosine("q.embedding", "e.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM cand n
       |  JOIN embeddings q ON q.vec_id = n.q_id
       |  JOIN embeddings e ON e.vec_id = n.vec_id
       |)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  // ------------------------------------------------------------------- IVF

  /** Deterministic Lloyd iterations entirely in DataFrame ops: centroid
    * means use decimal-exact averaging (order-independent → identical
    * assignments every run); only the k×dim centroid table is ever
    * collected (the "model" — tiny). */
  /** Session-pinned corpus per (session, plan): the eager
    * localCheckpoint every similarity/ANN operator opens with is paid
    * once per session instead of once per call, and the family shares
    * ONE set of pinned blocks instead of accumulating per-call copies
    * (the [[graft.Caches]] registry bounds + clears them). Audit mode
    * falls through to the unpinned frame, as before. */
  private[graft] def pinnedCorpus(df: DataFrame): DataFrame =
    graft.Caches.getOrUpdate(df.sparkSession,
      ("pinned_corpus", df.semanticHash())) { graft.Lineage.pin(df) }

  private[graft] def pinnedEmbeddings(s: SparkSession, dir: String): DataFrame =
    pinnedCorpus(Tables.embeddings(s, dir))

  /** Memoized [[trainCentroids]] per (session, key): the Lloyd model is
    * a pure function of its training slice and parameters, and the
    * similarity battery trains the IDENTICAL (k=16, iters=3) model in
    * eight operators (#31b/#150/#31f/#31i/#198/#232/#248 and #156's
    * k=16 grid point) — train once per session, share the collected
    * model: the in-session analog of the #363 persisted index's
    * build-once/probe-many contract. `key` must name the training
    * slice + params (corpus identity, slice tag, k, iters). */
  private[graft] def centroidsCached(s: SparkSession, key: Any)
      (train: => DataFrame, k: Int, iters: Int): Array[(Int, Array[Float])] =
    graft.Caches.model(s, ("centroids", key, k, iters)) {
      trainCentroids(train, k, iters)
    }

  private[graft] def trainCentroids(corpus: DataFrame, k: Int, iters: Int): Array[(Int, Array[Float])] = {
    // init = the first k vectors BY ID of the given corpus (identical to
    // `vec_id < k` on the contiguous full corpus; well-defined for
    // training subsets — the #198 stability probe trains on a half)
    var centroids: Array[(Int, Array[Float])] =
      corpus.orderBy("vec_id").limit(k)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
    val dims = centroids.head._2.length
    for (_ <- 1 to iters) {
      val assigned = assignNearest(corpus, centroids)
      // one davg over posexploded (cluster, dim) rows instead of 64 agg
      // columns: the generated aggregate stays small (one expression),
      // the shuffle carries k×dims partial sums either way, and the
      // decimal-exact 8dp means are bit-identical to the columnar form
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(graft.Parity.davg(col("col").cast("double"), 8).as("m"))
        .collect()
      centroids = means.groupBy(_.getInt(0)).toArray.map { case (cid, rows) =>
        val arr = new Array[Float](dims)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
        (cid, arr)
      }.sortBy(_._1)
    }
    centroids
  }

  /** Nearest-centroid assignment via the native FloatDot expression:
    * argmin ‖x−c‖² = argmax (x·c − ‖c‖²/2); centroids are plan literals. */
  private[graft] def assignNearest(df: DataFrame, centroids: Array[(Int, Array[Float])],
                            embCol: String = "embedding"): DataFrame = {
    val scored = centroids.map { case (cid, c) =>
      struct(
        (call_function("float_dot", col(embCol), lit(c)) - lit(halfNorm(c))).as("score"),
        lit(cid).as("cluster"))
    }
    df.withColumn("cluster", greatest(scored: _*).getField("cluster"))
  }

  /** ‖c‖²/2 as a left-fold double sum — the same order the oracle's
    * sequential-fold fragment uses, so scores are bit-identical. */
  private def halfNorm(c: Array[Float]): Double =
    c.map(x => x.toDouble * x.toDouble).sum / 2.0

  /** #31b ANN via IVF (inverted-file index): k-means coarse quantizer,
    * corpus partitioned by nearest centroid ONCE, queries probe only the
    * `nProbe` nearest cells — the standard billion-vector layout (the
    * cluster id is the partition/bucket key at 100 TB; probing touches
    * nProbe/k of the corpus). Rows-only oracle; recall vs brute is
    * spec-pinned alongside the LSH path. */
  def annIvf(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
             nCells: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame =
    // queries×k-row result memoized per (corpus, params): the #146
    // bake-off re-retrieves the same lists this query emits
    graft.Caches.persisted(s,
        ("ann_ivf", dir, k, nQueries, nCells, nProbe, iters)) {
      annIvfUncached(s, dir, k, nQueries, nCells, nProbe, iters)
    }

  private def annIvfUncached(s: SparkSession, dir: String, k: Int, nQueries: Int,
                             nCells: Int, nProbe: Int, iters: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    // the training loop scans the corpus iters+1 times — materialize
    // once, session-shared (pinnedEmbeddings), and share the trained
    // model with the rest of the k=16 battery (centroidsCached)
    val corpus = pinnedEmbeddings(s, dir)
    val centroids = centroidsCached(s, (dir, "full"))(corpus, nCells, iters)
    val bucketed = assignNearest(corpus.withColumn("e_norm", norm(col("embedding"))), centroids)
      .select(col("vec_id"), col("embedding"), col("e_norm"), col("cluster"))
    // query-side: nProbe nearest cells via the same scoring, as array
    val qs = queries(s, dir, nQueries)
    val qScored = centroids.map { case (cid, c) =>
      struct(
        (call_function("float_dot", col("q_emb"), lit(c)) - lit(halfNorm(c))).as("score"),
        lit(cid).as("cluster"))
    }
    val probed = qs
      .withColumn("q_norm", norm(col("q_emb")))
      .withColumn("p", explode(slice(reverse(array_sort(array(qScored: _*))), 1, nProbe)))
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("p.cluster").as("probe"))
    val cands = bucketed.join(broadcast(probed), col("cluster") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
    cands.transform(topKExact(_, k))
  }

  /** Shared chained-CTE replay of the deterministic k-means: defines
    * `c0..c{iters}` (centroid tables) and `bucketed` (final
    * assignment) — init cells = first `nCells` vectors, assignment via
    * the sequential-fold FloatDot mirror, centroid means via the
    * decimal-exact 8dp average quantized to float. */
  private[graft] def ivfChainSql(nCells: Int, iters: Int, sfx: String = "",
                                 trainWhere: String = "TRUE"): String =
    "WITH " + ivfChainBody(nCells, iters, sfx, trainWhere)

  /** The k-means CTE chain WITHOUT the leading WITH, so two chains (the
    * #198 stability probe trains full + half) can share one WITH list.
    * `trainWhere` restricts the TRAINING rows (init + Lloyd updates);
    * the final `bucketed$sfx` assignment always covers the full corpus. */
  private def ivfChainBody(nCells: Int, iters: Int, sfx: String,
                           trainWhere: String = "TRUE"): String = {
    def score(emb: String) =
      s"(${sqlDotSeq(emb, "c.c")} - ${sqlHalfNormSeq("c.c")})"
    def assign(prev: String, out: String, where: String) =
      s"""$out AS (
         |  SELECT vec_id, embedding, cl FROM (
         |    SELECT e.vec_id, e.embedding, c.cl,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             ${score("e.embedding")} DESC, c.cl DESC) AS rn
         |    FROM embeddings e CROSS JOIN $prev c WHERE $where)
         |  WHERE rn = 1
         |)"""
    def update(prevAssign: String, out: String) =
      s"""$out AS (
         |  SELECT cl, list(CAST(m AS FLOAT) ORDER BY d) AS c FROM (
         |    SELECT cl, d, ${graft.Parity.sqlAvg("CAST(x AS DOUBLE)", 8)} AS m FROM (
         |      SELECT cl, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS d
         |      FROM $prevAssign)
         |    GROUP BY cl, d)
         |  GROUP BY cl
         |)"""
    val lloyd = (1 to iters).map(it =>
      assign(s"c${it - 1}$sfx", s"a$it$sfx", trainWhere) + ",\n" +
        update(s"a$it$sfx", s"c$it$sfx"))
      .mkString(",\n")
    s"""c0$sfx AS (
       |  SELECT vec_id AS cl, embedding AS c FROM (
       |    SELECT vec_id, embedding FROM embeddings WHERE $trainWhere
       |    ORDER BY vec_id LIMIT $nCells)
       |),
       |$lloyd,
       |${assign(s"c$iters$sfx", s"bucketed$sfx", "TRUE")}""".stripMargin
  }

  /** Score fragment against a centroid table alias `c` (shared by the
    * probe CTE below). */
  private def ivfScoreSql(emb: String): String =
    s"(${sqlDotSeq(emb, "c.c")} - ${sqlHalfNormSeq("c.c")})"

  /** #287 emb_ivf_incremental: the IVF index-MAINTENANCE readout — the
    * coarse quantizer trains on the existing INDEX slice only (the
    * amortized day-1 model; delta vectors must not retrain it), every
    * vector assigns to its nearest cell, and the per-cell report
    * compares index vs delta occupancy: counts, shares, the
    * delta/index share drift, and a rebalance flag (a cell drawing ≥2×
    * its index share from the incoming batch, or delta landing in an
    * index-empty cell). This is the monitor that decides when a
    * deployed IVF index re-trains: #31b assumes the cell layout fits
    * the data; this detects when the incoming distribution has walked
    * away from it (the #282 companion for the vector side).
    *
    * Scale shape: training scans only the index slice (bounded Lloyd
    * rounds, model-sized collects); assignment is the same map-only
    * literal argmax as #31b; the readout is one ≤nCells rollup with
    * driver-scalar totals. */
  def embIvfIncremental(s: SparkSession, dir: String, nCells: Int = 16,
                        iters: Int = 3, mod: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = pinnedEmbeddings(s, dir)
    val isDelta = pmod(col("vec_id"), lit(mod.toLong)) === (mod - 1)
    val cents = centroidsCached(s, (dir, s"idx-mod$mod"))(
      corpus.filter(!isDelta), nCells, iters)
    val ti = corpus.filter(!isDelta).count()
    val td = corpus.filter(isDelta).count()
    assignNearest(corpus, cents)
      .groupBy(col("cluster").cast("long").as("cl"))
      .agg(count(when(!isDelta, 1)).as("n_index"),
           count(when(isDelta, 1)).as("n_delta"))
      .withColumn("share_index", r(col("n_index") / lit(ti.toDouble), 6))
      .withColumn("share_delta", r(col("n_delta") / lit(td.toDouble), 6))
      .withColumn("drift",
        when(col("share_index") > 0,
             r(col("share_delta") / col("share_index"), 6)))
      .withColumn("rebalance",
        col("n_delta") > 0 &&
          (col("n_index") === 0 || coalesce(col("drift") >= 2.0, lit(false))))
      .orderBy(col("cl"))
  }

  /** Oracle: the shared k-means chain restricted to index-slice
    * TRAINING (assignment still covers the corpus), then the same
    * occupancy report. */
  def embIvfIncrementalSql(nCells: Int = 16, iters: Int = 3,
                           mod: Int = 5): String = {
    val delta = s"vec_id % $mod = ${mod - 1}"
    ivfChainSql(nCells, iters, trainWhere = s"vec_id % $mod <> ${mod - 1}") +
    s""",
       |g AS (
       |  SELECT cl,
       |         CAST(sum(CASE WHEN $delta THEN 0 ELSE 1 END) AS BIGINT) AS n_index,
       |         CAST(sum(CASE WHEN $delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
       |  FROM bucketed GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(n_index) AS DOUBLE) AS ti,
       |         CAST(sum(n_delta) AS DOUBLE) AS td FROM g),
       |sh AS (
       |  SELECT cl, n_index, n_delta,
       |         ${sqlR("n_index / ti", 6)} AS share_index,
       |         ${sqlR("n_delta / td", 6)} AS share_delta
       |  FROM g CROSS JOIN t),
       |dr AS (
       |  SELECT *, CASE WHEN share_index > 0
       |                 THEN ${sqlR("share_delta / share_index", 6)} END AS drift
       |  FROM sh)
       |SELECT cl, n_index, n_delta, share_index, share_delta, drift,
       |       n_delta > 0 AND (n_index = 0 OR coalesce(drift >= 2.0, false))
       |         AS rebalance
       |FROM dr ORDER BY cl""".stripMargin
  }

  /** DuckDB oracle for [[annIvf]]: the identical deterministic k-means
    * ([[ivfChainSql]]), then the same probe + exact cosine + top-k.
    * `trainWhere` restricts the TRAINING slice (the append-without-
    * retrain oracle: the #366 probe answers from a day-1 model while
    * assignments cover the full corpus — exactly this chain's shape). */
  def annIvfSql(k: Int = 5, nQueries: Int = 5,
                nCells: Int = 16, nProbe: Int = 4, iters: Int = 3,
                trainWhere: String = "TRUE"): String = {
    def score(emb: String) = ivfScoreSql(emb)
    ivfChainSql(nCells, iters, trainWhere = trainWhere) +
    s""",
       |probed AS (
       |  SELECT q_id, cl FROM (
       |    SELECT e.vec_id AS q_id, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${score("e.embedding")} DESC, c.cl DESC) AS rn
       |    FROM embeddings e CROSS JOIN c$iters c
       |    WHERE e.vec_id < $nQueries)
       |  WHERE rn <= $nProbe
       |),
       |cand AS (
       |  SELECT p.q_id, b.vec_id
       |  FROM bucketed b JOIN probed p ON b.cl = p.cl AND b.vec_id <> p.q_id
       |),
       |scored AS (
       |  SELECT n.q_id, n.vec_id,
       |         floor((${sqlCosine("q.embedding", "e.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM cand n
       |  JOIN embeddings q ON q.vec_id = n.q_id
       |  JOIN embeddings e ON e.vec_id = n.vec_id
       |)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  private[graft] val ElbowGrid = Seq(4, 8, 16, 32)

  /** #156 emb_kmeans_elbow: the k-SELECTION curve for the IVF coarse
    * quantizer — within-cluster inertia (Σ‖x − c(x)‖²) at each cell
    * count on a fixed grid, from the SAME deterministic Lloyd trainer
    * the #31b index uses. The elbow of this curve is how nCells gets
    * chosen before building the index (#150 then tunes nProbe on the
    * built index — this operator sits one step earlier in the same
    * deployment workflow). Also reports live cell count (cells that
    * kept members) — a flat inertia with dying cells means k overshot.
    *
    * Scale shape: per grid point, the trainer's iters+1 bounded scans
    * (centroids are plan literals / a model-sized broadcast, the #31b
    * contract) plus ONE decimal-exact distance scan — grid × (iters+2)
    * corpus passes total, never a pairwise table. Inertia accumulates
    * in DECIMAL (order-independent) and rounds at 6dp. */
  def embKmeansElbow(s: SparkSession, dir: String,
                     iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = pinnedEmbeddings(s, dir)
    ElbowGrid.map { k =>
      val centroids = centroidsCached(s, (dir, "full"))(corpus, k, iters)
      val centDf = s.createDataFrame(centroids.toSeq).toDF("cluster", "c")
      assignNearest(corpus, centroids)
        .join(broadcast(centDf), "cluster")
        .select(col("cluster"), distSqDec(col("embedding"), col("c")).as("d2"))
        .agg(countDistinct(col("cluster")).as("n_cells_used"),
             count(lit(1)).as("n_vectors"),
             dsum(col("d2"), 6).as("inertia"))
        .select(lit(k).as("n_cells"), col("n_cells_used"),
                col("n_vectors"), col("inertia"),
                r(col("inertia") / col("n_vectors"), 6).as("mean_sq_dist"))
    }.reduce(_ unionByName _).orderBy(col("n_cells"))
  }

  def embKmeansElbowSql(iters: Int = 3): String = {
    val chains = ElbowGrid.zipWithIndex.map { case (k, i) =>
      val c = ivfChainSql(k, iters, s"_k$k")
      if (i == 0) c else "," + c.stripPrefix("WITH ")
    }.mkString("\n")
    val rows = ElbowGrid.map { k =>
      s"""SELECT $k AS n_cells,
         |       count(DISTINCT b.cl) AS n_cells_used,
         |       count(*) AS n_vectors,
         |       ${sqlSum(sqlDistSqDec("b.embedding", "c.c"), 6)} AS inertia,
         |       ${sqlR(s"(${sqlSum(sqlDistSqDec("b.embedding", "c.c"), 6)}) / count(*)", 6)} AS mean_sq_dist
         |FROM bucketed_k$k b JOIN c${iters}_k$k c ON b.cl = c.cl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$chains\n$rows\nORDER BY n_cells"
  }

  private[graft] val NprobeGrid = Seq(1, 2, 4, 8)

  /** #150 ann_nprobe_curve: the IVF TUNING curve — recall@k against
    * the exact top-k at each nProbe on a fixed grid, from ONE trained
    * index: nProbe's candidate set is a prefix of the widest probe's
    * (cells are probed in score order), so the k-means trains once,
    * the corpus buckets once, candidates materialize once at
    * max(nProbe) carrying their probe rank, and the grid is a bounded
    * map-side fan-out + per-(probe, query) collect_top_k heaps. This
    * is THE deployment knob for an IVF index (recall vs probe cost);
    * sweeping it must not cost |grid| retrains. */
  def annNprobeCurve(s: SparkSession, dir: String, k: Int = 5,
                     nQueries: Int = 5, nCells: Int = 16,
                     iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = pinnedEmbeddings(s, dir)
    val centroids = centroidsCached(s, (dir, "full"))(corpus, nCells, iters)
    val bucketed = assignNearest(corpus.withColumn("e_norm", norm(col("embedding"))), centroids)
      .select(col("vec_id"), col("embedding"), col("e_norm"), col("cluster"))
    val qs = queries(s, dir, nQueries)
    val qScored = centroids.map { case (cid, c) =>
      struct(
        (call_function("float_dot", col("q_emb"), lit(c)) - lit(halfNorm(c))).as("score"),
        lit(cid).as("cluster"))
    }
    val pMax = NprobeGrid.max
    val probed = qs
      .withColumn("q_norm", norm(col("q_emb")))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
              posexplode(slice(reverse(array_sort(array(qScored: _*))), 1, pMax)))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
              (col("pos") + 1).cast("int").as("probe_rank"),
              col("col.cluster").as("probe"))
    val scored = bucketed.join(broadcast(probed), col("cluster") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("probe_rank"), col("vec_id"),
              r(dotDec(col("q_emb"), col("embedding")) /
                (col("q_norm") * col("e_norm")), 6).as("cosine"))
    val topk = scored
      .withColumn("np", explode(array(NprobeGrid.map(lit(_)): _*)))
      .filter(col("probe_rank") <= col("np"))
      .groupBy(col("np"), col("q_id"))
      .agg(call_function("collect_top_k",
        struct(col("cosine"), (-col("vec_id")).as("neg"), col("vec_id").as("v")),
        lit(k), lit(false)).as("arr"))
      .select(col("np"), explode(col("arr")).as("e"), col("q_id"))
      .select(col("np"), col("q_id"), col("e.v").as("vec_id"))
    val exact = knnBrute(s, dir, k, nQueries).select(col("q_id"), col("vec_id"))
    val hits = topk.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("np")).agg(count(lit(1)).as("n_hits"))
    val grid = {
      import s.implicits._
      NprobeGrid.toDF("np")
    }
    grid.join(hits, Seq("np"), "left")
      .select(col("np").cast("int").as("n_probe"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              r(coalesce(col("n_hits"), lit(0L)).cast("double") /
                (nQueries * k).toDouble, 6).as("recall"))
      .orderBy(col("n_probe"))
  }

  def annNprobeCurveSql(k: Int = 5, nQueries: Int = 5,
                        nCells: Int = 16, iters: Int = 3): String = {
    val pMax = NprobeGrid.max
    ivfChainSql(nCells, iters) +
    s""",
       |probed AS (
       |  SELECT q_id, cl, CAST(rn AS INT) AS probe_rank FROM (
       |    SELECT e.vec_id AS q_id, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${ivfScoreSql("e.embedding")} DESC, c.cl DESC) AS rn
       |    FROM embeddings e CROSS JOIN c$iters c
       |    WHERE e.vec_id < $nQueries)
       |  WHERE rn <= $pMax
       |),
       |scored AS (
       |  SELECT p.q_id, p.probe_rank, b.vec_id,
       |         floor((${sqlCosine("q.embedding", "e.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM bucketed b
       |  JOIN probed p ON b.cl = p.cl AND b.vec_id <> p.q_id
       |  JOIN embeddings q ON q.vec_id = p.q_id
       |  JOIN embeddings e ON e.vec_id = b.vec_id
       |),
       |grid AS (SELECT np FROM (VALUES ${NprobeGrid.map(p => s"($p)").mkString(", ")}) t(np)),
       |ranked AS (
       |  SELECT g.np, s.q_id, s.vec_id,
       |         row_number() OVER (PARTITION BY g.np, s.q_id
       |           ORDER BY s.cosine DESC, s.vec_id) AS rnk
       |  FROM scored s CROSS JOIN grid g
       |  WHERE s.probe_rank <= g.np),
       |topk AS (SELECT np, q_id, vec_id FROM ranked WHERE rnk <= $k),
       |exact AS (SELECT q_id, vec_id FROM (${knnBruteSql(k, nQueries)})),
       |hits AS (
       |  SELECT np, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM topk JOIN exact USING (q_id, vec_id) GROUP BY 1)
       |SELECT CAST(g.np AS INT) AS n_probe,
       |       COALESCE(h.n_hits, 0) AS n_hits,
       |       ${sqlR(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${nQueries * k}.0", 6)} AS recall
       |FROM grid g LEFT JOIN hits h ON g.np = h.np
       |ORDER BY 1""".stripMargin
  }

  /** #32 cosine near-duplicate pairs: candidates from an LSH bucket
    * SELF-join (the same deterministic md5 hyperplanes as [[annLsh]] /
    * [[knnGraph]]), exact-cosine verified, label-blocked as a
    * post-filter. The pair space is Σ bucket² — bounded by the banding
    * parameters — NOT O(n²) per label block: a skewed label (billions
    * of vectors under one label at 100 TB) can no longer go quadratic.
    * Precision is exact (every emitted pair passes the decimal-exact
    * cosine ≥ τ); recall is the LSH collision probability, pinned vs
    * the exhaustive [[embDedupCosineExactDf]] baseline in LshSpec.
    * The oracle replays the buckets bit-identically, like knn_graph. */
  def embDedupCosine(s: SparkSession, dir: String, tau: Double = 0.35): DataFrame =
    // verified-pair table memoized per (corpus, τ) — #270 method
    // agreement consumes the SAME pair set this query emits (the #42
    // dedup_clusters precedent), so the 16-table bucket self-join +
    // exact-cosine verify runs once per session, not once per consumer
    graft.Caches.persisted(s, ("cosine_pairs", dir, tau)) {
      embDedupCosineDf(Tables.embeddings(s, dir), tau)
    }

  /** DataFrame-generic core: expects (vec_id, embedding, label). */
  def embDedupCosineDf(input: DataFrame, tau: Double = 0.35,
                       tables: Int = 16, bits: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.ensure(input.sparkSession)
    val ps = planes(tables, bits, 64)
    val buck = input.withColumn("tb", explode(array(
        ps.zipWithIndex.map { case (p, t) =>
          struct(lit(t).as("t"), bucketExpr(col("embedding"), p).as("b"))
        }: _*)))
      .select(col("vec_id"), col("tb"))
    // the bucket join carries only (vec_id, tb); pairs dedupe on bare
    // ids before the vectors join back (cheap long-pair distinct)
    val candIds = buck.select(col("tb"), col("vec_id").as("id_a"))
      .join(buck.select(col("tb"), col("vec_id").as("id_b")), Seq("tb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val e = input.withColumn("nrm", norm(col("embedding")))
    candIds
      .join(e.select(col("vec_id").as("id_a"), col("label"),
                     col("embedding").as("emb_a"), col("nrm").as("n_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("label").as("label_b"),
                     col("embedding").as("emb_b"), col("nrm").as("n_b")), "id_b")
      // label blocking as a post-filter on candidates (the reference
      // near-dup contract: only same-label pairs are duplicates)
      .filter(col("label") === col("label_b"))
      // fast prefilter via the native FloatDot expression: its IEEE sum
      // differs from dotDec by < 1e-12, and the authoritative gate is the
      // 6dp ROUND-HALF-UP decimal cosine — which admits true cosines down
      // to tau − 5e-7 — so the slack must cover the rounding window, not
      // just the float error: 1e-6 ≥ 5e-7 + 1e-12. The (slow) decimal dot
      // then runs only on survivors
      .filter(call_function("float_dot", col("emb_a"), col("emb_b")) /
              (col("n_a") * col("n_b")) >= tau - 1e-6)
      .withColumn("cosine",
        r(dotDec(col("emb_a"), col("emb_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cosine") >= tau)
      .select(col("label"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** The pre-LSH exhaustive form — O(n²) per label block — retained as
    * the recall baseline ([[embDedupCosineDf]] output is a subset of
    * this by construction; LshSpec pins the recall). Not registered as
    * a query: the all-pairs shape is exactly what a skewed label makes
    * quadratic at scale. */
  def embDedupCosineExactDf(input: DataFrame, tau: Double = 0.35): DataFrame = {
    graft.functions.GraftFunctions.ensure(input.sparkSession)
    val e = input.withColumn("nrm", norm(col("embedding")))
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("n_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("n_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .filter(call_function("float_dot", col("emb_a"), col("emb_b")) /
              (col("n_a") * col("n_b")) >= tau - 1e-6)
      .withColumn("cosine",
        r(dotDec(col("emb_a"), col("emb_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cosine") >= tau)
      .select(col("label"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Oracle: LSH buckets regenerated in-SQL (md5 planes + the
    * sequential-fold FloatDot mirror — bit-identical signs), bucket
    * self-join, label post-filter, exact cosine ≥ τ. */
  def embDedupCosineSql(tau: Double = 0.35,
                        tables: Int = 16, bits: Int = 6): String =
    lshBucketSqlPrefix(tables, bits) +
    s""",
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cb a JOIN cb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
       |)
       |SELECT a.label, n.id_a, n.id_b,
       |       floor((${sqlCosine("a.embedding", "b.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |FROM cand n
       |JOIN embeddings a ON a.vec_id = n.id_a
       |JOIN embeddings b ON b.vec_id = n.id_b
       |WHERE a.label = b.label
       |  AND floor((${sqlCosine("a.embedding", "b.embedding")}) * 1e6 + 0.5) / 1e6 >= $tau""".stripMargin

  /** #31f emb_semantic_dedup (SemDeDup, Abbas et al. 2023, arXiv:
    * 2303.09540): k-means-cluster the corpus with the same
    * deterministic Lloyd quantizer as [[annIvf]], then prune within
    * each cluster — a vector is dropped when a LOWER-id vector in its
    * cluster has cosine ≥ τ (keep-first, fully deterministic). Emits
    * every vector with its cluster and kept flag — the canonical
    * semantic-dedup curation pass over an embedded corpus.
    *
    * Scale shape: the pair space is Σ cluster², and SemDeDup's
    * published contract is that cluster COUNT scales with the corpus
    * (bounded cluster size, k ≈ √n or larger) — `nCells` is the scale
    * lever, the within-cluster self-join is the algorithm, not an
    * accident. Only the k×dim centroid model is ever collected. The
    * oracle replays the k-means chain and pruning rule exactly. */
  def embSemanticDedup(s: SparkSession, dir: String, tau: Double = 0.3,
                       nCells: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = pinnedEmbeddings(s, dir)
    val centroids = centroidsCached(s, (dir, "full"))(corpus, nCells, iters)
    // truncate lineage: the bucketed table feeds both self-join sides
    // and the final output
    val bucketed = assignNearest(
        corpus.withColumn("e_norm", norm(col("embedding"))), centroids)
      .select(col("vec_id"), col("embedding"), col("e_norm"), col("cluster"))
      .transform(graft.Lineage.pin)
    val b = bucketed.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("e_norm").as("n_b"))
    val dups = bucketed
      .select(col("cluster"), col("vec_id"),
        col("embedding").as("emb_a"), col("e_norm").as("n_a"))
      .join(b, Seq("cluster"))
      .filter(col("id_b") < col("vec_id"))
      // lossless fast prefilter (1e-6 slack covers the 6dp round-half-up
      // window of the decimal gate plus float error), exact decimal
      // cosine decides
      .filter(call_function("float_dot", col("emb_a"), col("emb_b")) /
              (col("n_a") * col("n_b")) >= tau - 1e-6)
      .filter(r(dotDec(col("emb_a"), col("emb_b")) /
                (col("n_a") * col("n_b")), 6) >= tau)
      .select(col("vec_id")).distinct()
      .withColumn("dup", lit(1))
    bucketed.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
              col("dup").isNull.as("kept"))
  }

  /** Oracle: the shared k-means CTE chain ([[ivfChainSql]]) + the same
    * lower-id within-cluster pruning rule on exact rounded cosines. */
  def embSemanticDedupSql(tau: Double = 0.3, nCells: Int = 16,
                          iters: Int = 3): String =
    ivfChainSql(nCells, iters) +
    s""",
       |dups AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM bucketed a JOIN bucketed b
       |    ON a.cl = b.cl AND b.vec_id < a.vec_id
       |  WHERE floor((${sqlCosine("a.embedding", "b.embedding")}) * 1e6 + 0.5) / 1e6 >= $tau
       |)
       |SELECT b.vec_id, b.cl AS cluster, d.vec_id IS NULL AS kept
       |FROM bucketed b LEFT JOIN dups d ON b.vec_id = d.vec_id""".stripMargin

  /** #31i corpus_curate_semantic: the fused text+embedding curation
    * pass — the end-to-end shape of modern LLM training-data curation
    * (quality gate, then semantic dedup of the survivors):
    *  1. quality gate on `documents` (the same formula as #22/#55) —
    *     a map-side projection over the documents scan, no extra
    *     shuffle;
    *  2. join `embeddings` on doc_id = vec_id — the one co-keyed
    *     fact⋈fact shuffle in the plan;
    *  3. the SAME deterministic k-means as ann_ivf / emb_semantic_dedup
    *     trained on the FULL embedding corpus (the cluster model is a
    *     property of the corpus, invariant to the gate; only the
    *     k×dim centroid table is collected/broadcast);
    *  4. SemDeDup keep-first pruning within each cluster AMONG THE
    *     GATED vectors (lower-id survivor, exact decimal cosine ≥ τ).
    * Output: one row per gated doc with its cluster and kept flag.
    * Scale: pair space is Σ gated-cluster² with cluster count as the
    * lever (SemDeDup contract); the gate only shrinks it. */
  def corpusCurateSemantic(s: SparkSession, dir: String,
                           minQuality: Double = 0.5, tau: Double = 0.3,
                           nCells: Int = 16, iters: Int = 3): DataFrame =
    corpusCurateSemanticDf(Tables.documents(s, dir), Tables.embeddings(s, dir),
                           minQuality, tau, nCells, iters)

  /** DataFrame-generic core: `documents` needs (doc_id, text, lang,
    * source); `embeddings` needs (vec_id, embedding) with vec_id in the
    * doc_id domain. */
  def corpusCurateSemanticDf(documents: DataFrame, embeddings: DataFrame,
                             minQuality: Double = 0.5, tau: Double = 0.3,
                             nCells: Int = 16, iters: Int = 3): DataFrame = {
    import graft.functions.TextFunctions._
    graft.functions.GraftFunctions.ensure(documents.sparkSession)
    val toks = lowerTokens(col("text"))
    val len = length(col("text"))
    val punct = regexp_count(col("text"), lit("[.,;:!?]"))
    val stop = markerCount(toks, stopwordsEn)
    val gated = documents
      .withColumn("quality",
        r(lit(0.4) * (stop / size(toks)) +
          lit(0.3) * (lit(1.0) - punct / len) +
          lit(0.3) * least(lit(1.0), len / lit(500.0)), 6))
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
    val corpus = pinnedCorpus(embeddings)
    val centroids = centroidsCached(documents.sparkSession,
      ("sh", embeddings.semanticHash(), "full"))(corpus, nCells, iters)
    val bucketed = assignNearest(
        corpus.withColumn("e_norm", norm(col("embedding"))), centroids)
      .join(gated, col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
              col("embedding"), col("e_norm"), col("cluster"))
      .transform(graft.Lineage.pin)
    val b = bucketed.select(col("cluster"), col("doc_id").as("id_b"),
      col("embedding").as("emb_b"), col("e_norm").as("n_b"))
    val dups = bucketed
      .select(col("cluster"), col("doc_id"),
        col("embedding").as("emb_a"), col("e_norm").as("n_a"))
      .join(b, Seq("cluster"))
      .filter(col("id_b") < col("doc_id"))
      .filter(call_function("float_dot", col("emb_a"), col("emb_b")) /
              (col("n_a") * col("n_b")) >= tau - 1e-6)
      .filter(r(dotDec(col("emb_a"), col("emb_b")) /
                (col("n_a") * col("n_b")), 6) >= tau)
      .select(col("doc_id")).distinct()
      .withColumn("dup", lit(1))
    bucketed.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
              col("cluster").cast("long").as("cluster"),
              col("dup").isNull.as("kept"))
  }

  /** Oracle: quality CTE + the shared k-means chain + the same gated
    * within-cluster pruning rule on exact rounded cosines. */
  def corpusCurateSemanticSql(minQuality: Double = 0.5, tau: Double = 0.3,
                              nCells: Int = 16, iters: Int = 3): String =
    ivfChainSql(nCells, iters) +
    s""",
       |q AS (${TextOps.textQualitySql}),
       |gated AS (
       |  SELECT d.doc_id, d.lang, d.source, q.quality
       |  FROM documents d JOIN q USING (doc_id)
       |  WHERE q.quality >= $minQuality),
       |gb AS (
       |  SELECT g.doc_id, g.lang, g.source, g.quality, b.cl, b.embedding
       |  FROM gated g JOIN bucketed b ON b.vec_id = g.doc_id),
       |dups AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM gb a JOIN gb b ON a.cl = b.cl AND b.doc_id < a.doc_id
       |  WHERE floor((${sqlCosine("a.embedding", "b.embedding")}) * 1e6 + 0.5) / 1e6 >= $tau)
       |SELECT g.doc_id, g.lang, g.source, g.quality, g.cl AS cluster,
       |       d.doc_id IS NULL AS kept
       |FROM gb g LEFT JOIN dups d ON g.doc_id = d.doc_id""".stripMargin

  /** #31d knn_graph: the all-corpus kNN graph — top-k cosine neighbours
    * for EVERY vector, the input structure of graph-based corpus
    * curation (SemDeDup-style cluster pruning, kNN classifiers).
    * Brute force would be O(n²) pair scoring; here candidates come from
    * an LSH bucket SELF-join (same deterministic md5 hyperplanes as
    * ann_lsh), so the pair space is Σ bucket², bounded by the banding
    * parameters — the scale path for n in the billions. Exact cosine +
    * bounded top-k heap only on candidates; the oracle replays the
    * buckets bit-identically. Vectors whose buckets contain no
    * neighbour are absent (graph isolates) — identically in both
    * engines. */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3,
               tables: Int = 8, bits: Int = 6): DataFrame =
    // memoized per (corpus, params): eight graph-battery operators
    // (#158/#171/#302/#303/#313/#314, kNN eval chains) consume this
    // table; without the registry each rebuilt the full LSH bucket
    // self-join + exact re-rank per query (~2-3 s apiece at sf0.1)
    graft.Caches.persisted(s, ("knn_graph", dir, k, tables, bits)) {
      knnGraphDf(Tables.embeddings(s, dir), k, tables, bits)
    }

  /** DataFrame-generic core: expects (vec_id, embedding). */
  def knnGraphDf(emb: DataFrame, k: Int = 3,
                 tables: Int = 8, bits: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.ensure(emb.sparkSession)
    val ps = planes(tables, bits, 64)
    val buck = emb.withColumn("tb", explode(array(
        ps.zipWithIndex.map { case (p, t) =>
          struct(lit(t).as("t"), bucketExpr(col("embedding"), p).as("b"))
        }: _*)))
      .select(col("vec_id"), col("tb"))
    val candIds = buck.select(col("tb"), col("vec_id").as("q_id"))
      .join(buck, Seq("tb"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val wn = emb.withColumn("e_norm", norm(col("embedding")))
    candIds
      .join(wn, "vec_id")
      .join(wn.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                      col("e_norm").as("q_norm")), "q_id")
      .transform(topKExact(_, k))
  }

  /** Oracle: LSH buckets regenerated in-SQL (md5 planes + sequential
    * FloatDot mirror), bucket self-join, exact cosine, ranked top-k. */
  def knnGraphSql(k: Int = 3, tables: Int = 8, bits: Int = 6): String =
    lshBucketSqlPrefix(tables, bits) +
    s""",
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id
       |  FROM cb a JOIN cb b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id
       |),
       |scored AS (
       |  SELECT n.q_id, n.vec_id,
       |         floor((${sqlCosine("q.embedding", "e.embedding")}) * 1e6 + 0.5) / 1e6 AS cosine
       |  FROM cand n
       |  JOIN embeddings q ON q.vec_id = n.q_id
       |  JOIN embeddings e ON e.vec_id = n.vec_id
       |)
       |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  // ------------------------------------------------------------- #31c PCA

  /** #31c emb_pca: dominant principal component of the leading `d`
    * embedding dimensions by power iteration — the dimensionality-
    * reduction primitive of embedding pipelines (whitening, PCA'd ANN
    * indexes). The heavy work is ONE corpus scan building the d×d
    * covariance matrix with exact decimal moment sums; the iteration
    * itself is O(d²) per round on a d-row frame — data-size-independent,
    * like the IVF centroid loop. Determinism: v₀ is the uniform unit
    * vector, every matvec accumulates products in DECIMAL(38,10)
    * (order-independent), and v is rounded to 8dp each round, so the
    * DuckDB chained-CTE replay lands on identical bits. No collect —
    * the whole chain is lazy DataFrames. */
  def embPca(s: SparkSession, dir: String, d: Int = 8, iters: Int = 5): DataFrame =
    pcaModel(s, dir, d, iters)

  /** Memoized PCA model table (dim, loading, eigenvalue) per
    * (corpus, d, iters): the d×d covariance scan + power iteration is
    * MODEL-sized output consumed by TWO queries (#31c emb_pca, #31e
    * emb_project) — without the registry each ran the full corpus
    * covariance scan independently (guide §1.2 step 1: share, then
    * optimize). Same registry discipline as knn_graph/knn_brute;
    * PlanAudit mode bypasses the memo so explain sees the builder
    * plan. */
  private def pcaModel(s: SparkSession, dir: String, d: Int, iters: Int): DataFrame =
    graft.Caches.persisted(s, ("emb_pca_model", dir, d, iters)) {
      embPcaDf(Tables.embeddings(s, dir), d, iters)
    }

  /** DataFrame-generic core: expects an `embedding` array column. */
  def embPcaDf(input: DataFrame, d: Int = 8, iters: Int = 5): DataFrame = {
    val spark = input.sparkSession
    // full (both-triangle) covariance of leading d dims, rounded 8dp
    val pairs = input
      .select(slice(col("embedding"), 1, d).as("e"))
      .select(col("e"), posexplode(col("e")).as(Seq("i0", "xr")))
      .select(col("e"), (col("i0") + 1).as("ci"), col("xr").cast("double").as("x"),
              posexplode(col("e")).as(Seq("j0", "yr")))
      .select(col("ci"), (col("j0") + 1).as("cj"),
              col("x"), col("yr").cast("double").as("y"))
    // localCheckpoint (eager), not persist: the iteration below consumes
    // each round's frame twice, so a lazy lineage DOUBLES per round —
    // 2^iters plan copies and a 100×-slower query. Truncating lineage on
    // the d×d matrix and the d-row vector keeps the plan O(1) per round;
    // the decimal arithmetic still runs in Spark, so oracle parity is
    // byte-identical.
    val cov = pairs.groupBy(col("ci"), col("cj"))
      .agg(r((dsum(col("x") * col("y")) -
              dsum(col("x")) * dsum(col("y")) / count(lit(1))) / count(lit(1)), 8)
             .as("c"))
      .localCheckpoint()
    def matvec(v: DataFrame): DataFrame =
      cov.join(broadcast(v), col("cj") === col("j"))
        .groupBy(col("ci").as("i"))
        .agg(dsum(col("c") * col("v")).as("w"))
    val v0 = math.floor(1.0 / math.sqrt(d.toDouble) * 1e8 + 0.5) / 1e8
    var v = spark.range(1, d + 1)
      .select(col("id").cast("int").as("j"), lit(v0).as("v"))
    for (_ <- 1 to iters) {
      val w = matvec(v)
      val nrm = w.agg(sqrt(dsum(col("w") * col("w"))).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), r(col("w") / col("nrm"), 8).as("v"))
        .localCheckpoint()
    }
    // Rayleigh step: one more matvec; ‖Cv‖ of a unit v estimates λ₁
    val lam = matvec(v).agg(r(sqrt(dsum(col("w") * col("w"))), 6).as("eigenvalue"))
    v.crossJoin(broadcast(lam))
      .select(col("j").as("dim"), col("v").as("loading"), col("eigenvalue"))
      .orderBy(col("dim"))
  }

  /** Shared chained-CTE replay of the power iteration: defines `cov`,
    * `v0..v{iters}` (loadings) and `wf` (final matvec). */
  private def pcaChainSql(d: Int, iters: Int): String = {
    val v0 = math.floor(1.0 / math.sqrt(d.toDouble) * 1e8 + 0.5) / 1e8
    def matvec(vPrev: String, out: String) =
      s"""$out AS (
         |  SELECT ci AS i, ${sqlSum("c * v")} AS w
         |  FROM cov JOIN $vPrev ON cj = j GROUP BY 1
         |)"""
    def normalize(w: String, out: String) =
      s"""$out AS (
         |  SELECT i AS j, ${sqlR(s"w / (SELECT sqrt(${sqlSum("w * w")}) FROM $w)", 8)} AS v
         |  FROM $w
         |)"""
    val rounds = (1 to iters).map(it =>
      matvec(s"v${it - 1}", s"w$it") + ",\n" + normalize(s"w$it", s"v$it"))
      .mkString(",\n")
    s"""WITH cov AS (
       |  SELECT ci, cj,
       |    ${sqlR(s"(${sqlSum("x * y")} - ${sqlSum("x")} * ${sqlSum("y")} / count(*)) / count(*)", 8)} AS c
       |  FROM (
       |    SELECT ii.i AS ci, jj.j AS cj,
       |           CAST(embedding[ii.i] AS DOUBLE) AS x,
       |           CAST(embedding[jj.j] AS DOUBLE) AS y
       |    FROM embeddings, range(1, ${d + 1}) ii(i), range(1, ${d + 1}) jj(j))
       |  GROUP BY 1, 2
       |),
       |v0 AS (SELECT j, CAST($v0 AS DOUBLE) AS v FROM range(1, ${d + 1}) t(j)),
       |$rounds,
       |${matvec(s"v$iters", "wf")}""".stripMargin
  }

  /** Chained-CTE oracle replaying the identical power iteration. */
  def embPcaSql(d: Int = 8, iters: Int = 5): String =
    pcaChainSql(d, iters) +
    s"""
       |SELECT v.j AS dim, v.v AS loading,
       |       (SELECT ${sqlR(s"sqrt(${sqlSum("w * w")})", 6)} FROM wf) AS eigenvalue
       |FROM v$iters v ORDER BY dim""".stripMargin

  /** #31e emb_project: project every embedding onto the dominant
    * principal axis and summarize the 1-d projection per label — the
    * whitening/score step that follows PCA in embedding pipelines
    * (outlier pruning, per-class drift checks). The projection is one
    * map-side decimal dot against the broadcast 8-row loading vector;
    * stats are a partial-agg groupBy on label. */
  def embProject(s: SparkSession, dir: String, d: Int = 8, iters: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // shared memoized PCA model (same build, same params — identical
    // rows): the projection only needs the 8-row loading vector
    val v = pcaModel(s, dir, d, iters).select(col("dim"), col("loading"))
    val proj = emb
      .select(col("vec_id"), col("label"), posexplode(slice(col("embedding"), 1, d)))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
              col("col").cast("double").as("x"))
      .join(broadcast(v), "dim")
      .groupBy(col("vec_id"), col("label"))
      .agg(r(dsum(col("x") * col("loading")), 6).as("proj"))
    proj.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           davg(col("proj"), 6).as("mean_proj"),
           dsum(col("proj")).as("p1"),
           dsum(col("proj") * col("proj")).as("p2"))
      .withColumn("sd_proj",
        r(sqrt(greatest(col("p2") / col("n") - (col("p1") / col("n")) * (col("p1") / col("n")),
                        lit(0.0))), 6))
      .select(col("label"), col("n"), col("mean_proj"), col("sd_proj"))
      .orderBy(col("label"))
  }

  def embProjectSql(d: Int = 8, iters: Int = 5): String =
    pcaChainSql(d, iters) +
    s""",
       |proj AS (
       |  SELECT e.vec_id, e.label,
       |         ${sqlR(sqlSum("CAST(e.embedding[v.j] AS DOUBLE) * v.v"), 6)} AS proj
       |  FROM embeddings e CROSS JOIN v$iters v
       |  GROUP BY 1, 2
       |),
       |st AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n,
       |         ${sqlAvg("proj", 6)} AS mean_proj,
       |         ${sqlSum("proj")} AS p1,
       |         ${sqlSum("proj * proj")} AS p2
       |  FROM proj GROUP BY 1
       |)
       |SELECT label, n, mean_proj,
       |       ${sqlR("sqrt(greatest(p2 / n - (p1 / n) * (p1 / n), 0.0))", 6)} AS sd_proj
       |FROM st ORDER BY label""".stripMargin

  // ------------------------------------------------------------- outliers

  /** #31j emb_outliers: embedding-space quality screen — per-label
    * centroid distance statistics and a 3σ outlier count, the
    * "mislabeled / garbage vector" pruning pass of an embedding-curated
    * corpus (the distance tail is where wrong-cluster and degenerate
    * vectors live). Per label: n, mean/sd/max of the squared L2 distance
    * to the label centroid, and how many vectors sit beyond
    * mean + 3·sd.
    *
    * Scale shape: the centroid table is |labels|×dim (broadcast); the
    * per-vector distance is a map-side-combinable explode-groupBy on
    * vec_id (all 64 components of a vector share its row → partials
    * collapse before the shuffle); label stats aggregate |labels| rows.
    * Squared distance avoids a sqrt at the comparison boundary; all
    * sums are decimal-exact and 6dp stage-rounded for oracle parity. */
  def embOutliers(s: SparkSession, dir: String): DataFrame =
    embOutliersDf(Tables.embeddings(s, dir))

  def embOutliersDf(emb: DataFrame): DataFrame = {
    val ex = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
              col("col").cast("double").as("x"))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg(davg(col("x"), 6).as("c"))
    // persist the per-vector distances: both the label stats and the
    // final flagging pass consume them — without this the exploded
    // corpus scan + centroid join runs twice (4 scans at 100 TB).
    // Through the Caches registry (not a raw .persist), so the block is
    // released by Caches.clear / LRU eviction / session stop instead of
    // pinning one copy per corpus for the JVM lifetime.
    val dist = graft.Caches.persisted(emb.sparkSession,
        ("emb_outlier_dist", emb.semanticHash())) {
      ex.join(broadcast(cent), Seq("label", "pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(dsum((col("x") - col("c")) * (col("x") - col("c")), 6).as("dist2"))
    }
    val n = count(lit(1)).cast("double")
    val s1 = dsum(col("dist2"))
    val s2 = dsum(col("dist2") * col("dist2"))
    val stats = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           davg(col("dist2"), 6).as("mean_dist2"),
           r(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), lit(0.0))), 6)
             .as("sd_dist2"))
    dist.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"))
      .agg(first(col("n")).as("n"),
           first(col("mean_dist2")).as("mean_dist2"),
           first(col("sd_dist2")).as("sd_dist2"),
           max(col("dist2")).as("max_dist2"),
           sum(when(col("dist2") >
                 r(col("mean_dist2") + lit(3.0) * col("sd_dist2"), 6), 1L)
               .otherwise(0L)).as("n_outliers"))
      .orderBy(col("label"))
  }

  val embOutliersSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, label, CAST(x AS DOUBLE) AS x, d
       |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
       |               generate_subscripts(embedding, 1) AS d
       |        FROM embeddings)
       |),
       |cent AS (
       |  SELECT label, d, ${sqlAvg("x", 6)} AS c
       |  FROM ex GROUP BY 1, 2
       |),
       |dist AS (
       |  SELECT vec_id, label, ${sqlSum("(x - c) * (x - c)", 6)} AS dist2
       |  FROM ex JOIN cent USING (label, d) GROUP BY 1, 2
       |),
       |stats AS (
       |  SELECT label, count(*) AS n, ${sqlAvg("dist2", 6)} AS mean_dist2,
       |         ${sqlR(
              s"sqrt(greatest(${sqlSum("dist2 * dist2")} / count(*) - " +
              s"(${sqlSum("dist2")} / count(*)) * (${sqlSum("dist2")} / count(*)), 0.0))", 6)} AS sd_dist2
       |  FROM dist GROUP BY 1
       |)
       |SELECT d.label, first(s.n) AS n, first(s.mean_dist2) AS mean_dist2,
       |       first(s.sd_dist2) AS sd_dist2, max(d.dist2) AS max_dist2,
       |       CAST(sum(CASE WHEN d.dist2 >
       |              ${sqlR("s.mean_dist2 + 3.0 * s.sd_dist2", 6)}
       |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM dist d JOIN stats s USING (label)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ #198 emb_cluster_stability

  /** #198 emb_cluster_stability: bootstrap STABILITY of the IVF coarse
    * quantizer — train the deterministic k-means twice (full corpus vs
    * the even-id half), assign EVERY vector under both models, and
    * report the full×half contingency table with the Adjusted Rand
    * Index (Hubert–Arabie 1985). The clustering-trustworthiness probe
    * that belongs BETWEEN #156 (how many cells) and #133 (how well
    * separated): ARI ≈ 1 says half the data finds the same structure —
    * the partition is real; ARI ≈ 0 says the cells are an artifact of
    * the sample and every downstream cell-blocked dedup (#31f/#31i)
    * inherits that noise.
    *
    * Scale shape: two model-sized trainings over the shared pinned
    * corpus (the #31b contract — only k×dim centroids ever collect),
    * two map-only assignment scans, one k×k contingency groupBy; every
    * ARI ingredient is an integer pair count C(n,2) — exact in both
    * engines — with one final IEEE division. */
  def embClusterStability(s: SparkSession, dir: String,
                          nCells: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val corpus = pinnedEmbeddings(s, dir)
    val full = assignNearest(corpus,
        centroidsCached(s, (dir, "full"))(corpus, nCells, iters))
      .select(col("vec_id"), col("cluster").as("cluster_full"))
    val half = assignNearest(corpus,
        centroidsCached(s, (dir, "even"))(
          corpus.filter(col("vec_id") % 2 === 0), nCells, iters))
      .select(col("vec_id"), col("cluster").as("cluster_half"))
    val ct = full.join(half, Seq("vec_id"))
      .groupBy(col("cluster_full"), col("cluster_half"))
      .agg(count(lit(1)).as("n"))
    val pairs = ct.agg(
      sum(col("n")).as("nn"),
      sum(expr("n * (n - 1) div 2")).as("sij"))
    val sa = ct.groupBy(col("cluster_full")).agg(sum(col("n")).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("sa"))
    val sb = ct.groupBy(col("cluster_half")).agg(sum(col("n")).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("sb"))
    // exact integer product BEFORE the double division (a double nn²
    // would round past 2^53 where the BIGINT product is still exact)
    val cn2 = (col("nn") * (col("nn") - 1)).cast("double") / 2
    val expIdx = col("sa").cast("double") * col("sb") / cn2
    val ari = when((col("sa") + col("sb")).cast("double") / 2 - expIdx =!= 0.0,
      r((col("sij") - expIdx) /
        ((col("sa") + col("sb")).cast("double") / 2 - expIdx), 6))
    ct.crossJoin(broadcast(
        pairs.crossJoin(sa).crossJoin(sb).select(ari.as("ari"))))
      .select(col("cluster_full"), col("cluster_half"), col("n"), col("ari"))
      .orderBy(col("cluster_full"), col("cluster_half"))
  }

  def embClusterStabilitySql(nCells: Int = 16, iters: Int = 3): String = {
    val cn2 = "(CAST(nn * (nn - 1) AS DOUBLE) / 2)"
    val expIdx = s"(CAST(sa AS DOUBLE) * sb / $cn2)"
    val half = s"((CAST(sa AS DOUBLE) + sb) / 2)"
    s"""WITH ${ivfChainBody(nCells, iters, "_f")},
       |${ivfChainBody(nCells, iters, "_h", "vec_id % 2 = 0")},
       |ct AS (
       |  SELECT f.cl AS cluster_full, h.cl AS cluster_half, count(*) AS n
       |  FROM bucketed_f f JOIN bucketed_h h ON f.vec_id = h.vec_id
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nn,
       |         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS sij
       |  FROM ct),
       |ma AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS sa FROM
       |         (SELECT cluster_full, CAST(sum(n) AS BIGINT) AS c
       |          FROM ct GROUP BY 1)),
       |mb AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS sb FROM
       |         (SELECT cluster_half, CAST(sum(n) AS BIGINT) AS c
       |          FROM ct GROUP BY 1)),
       |ar AS (
       |  SELECT CASE WHEN $half - $expIdx <> 0.0
       |              THEN ${sqlR(s"(sij - $expIdx) / ($half - $expIdx)", 6)}
       |         END AS ari
       |  FROM pr CROSS JOIN ma CROSS JOIN mb)
       |SELECT ct.cluster_full, ct.cluster_half, ct.n, ar.ari
       |FROM ct CROSS JOIN ar
       |ORDER BY cluster_full, cluster_half""".stripMargin
  }
}
