package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-2 operators (SURVEY §2 #302-#305): community detection
  * and seed-distance curation over the kNN similarity graph, the
  * diff-in-diff causal readout, and an in-engine trained logistic
  * quality classifier — the GPT-3-style "curated vs rest" filter stage.
  */
object Round9Ops2 {

  // ------------------------------------- #302 graph_label_propagation

  /** #302 graph_label_propagation: synchronous majority-vote LABEL
    * PROPAGATION (Raghavan et al. 2007) over the #31d kNN similarity
    * graph — community detection for corpus curation: where #42
    * dedup_clusters min-label-propagates CONNECTED COMPONENTS (every
    * reachable node coalesces), LPA's per-round majority vote stops at
    * DENSITY boundaries, so a component that chains two near-dup
    * communities through one bridge edge splits into its two dense
    * cores — the granularity SemDeDup-style cluster pruning actually
    * wants. Fixed `iters` synchronous rounds with a total (votes desc,
    * min community id) tie-break: deterministic by construction (the
    * classic async LPA is run-order-dependent and could never be
    * oracle-checked), at the cost of possible 2-cycles on bipartite-ish
    * subgraphs — which a FIXED iteration count samples deterministically
    * too.
    *
    * Scale shape: each round is one edges⋈labels join co-partitioned on
    * src, one (dst, community) count rollup (map-side combinable), and
    * one per-dst window whose partition is bounded by the node's degree
    * (≤ 2k distinct labels for the fixed-k graph) — key-proportional
    * state, nothing collected; per-round lineage cuts via
    * [[graft.Lineage.cut]] (reliable checkpoints when the session
    * configures a dir). Isolates (vectors whose LSH buckets held no
    * neighbour) have no edges and are absent, identically in both
    * engines. */
  def graphLabelProp(s: SparkSession, dir: String, k: Int = 3,
                     iters: Int = 4): DataFrame =
    // rides the memoized symmetric edge set + converged label table
    // shared with #313/#347
    lpaFinalize(lpaLabelsCached(s, dir, k, iters))

  /** DataFrame-generic core: expects a DIRECTED edge list (src, dst);
    * symmetrizes internally. */
  def labelPropDf(edges: DataFrame, iters: Int): DataFrame =
    labelPropUnd(edges.union(edges.select(col("dst"), col("src")))
      .distinct().transform(graft.Lineage.cut), iters)

  /** The symmetrized kNN edge table, memoized per (corpus, k): #302
    * label propagation, #313 modularity and #347 conductance all
    * symmetrize the SAME memoized knn_graph — one union+distinct per
    * session instead of one per consumer. */
  private[graft] def knnUndCached(s: SparkSession, dir: String,
                                  k: Int): DataFrame =
    graft.Caches.persisted(s, ("knn_und", dir, k)) {
      val e = graft.operators.Similarity.knnGraph(s, dir, k)
        .select(col("q_id").as("src"), col("vec_id").as("dst"))
      e.union(e.select(col("dst"), col("src"))).distinct()
    }

  /** The converged (id, community) LPA label table over the memoized
    * symmetric kNN graph, memoized per (corpus, k, iters): #313 and
    * #347 consume the IDENTICAL partition #302 emits, so the
    * fixed-round propagation runs once per session. */
  private[graft] def lpaLabelsCached(s: SparkSession, dir: String,
                                     k: Int, iters: Int): DataFrame =
    graft.Caches.persisted(s, ("lpa_labels", dir, k, iters)) {
      lpaRaw(knnUndCached(s, dir, k), iters)
    }

  /** Core over an ALREADY-SYMMETRIZED (and lineage-pinned) edge table —
    * composing operators (#313 modularity) reuse their own `und`
    * instead of paying the symmetrize+cut twice. */
  private[graft] def labelPropUnd(und: DataFrame, iters: Int): DataFrame =
    lpaFinalize(lpaRaw(und, iters))

  /** The fixed-round propagation to a raw (id, community) table. */
  private[graft] def lpaRaw(und: DataFrame, iters: Int): DataFrame = {
    var lab = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
      .transform(graft.Lineage.cut)
    for (_ <- 1 to iters) {
      val votes = und
        .join(lab.select(col("id").as("src"), col("community")), "src")
        .groupBy(col("dst"), col("community"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("votes").desc, col("community"))
      lab = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("id"), col("community"))
        .transform(graft.Lineage.cut)
    }
    lab
  }

  /** Size rollup + canonical column names over a raw label table. */
  private[graft] def lpaFinalize(lab: DataFrame): DataFrame = {
    val sizes = lab.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "community")
      .select(col("id").as("vec_id"), col("community"), col("community_size"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: kNN chain as a subquery (the #171 pattern), then one CTE
    * per synchronous round — votes rollup + rank-1 window, exact
    * integer arithmetic throughout. */
  def graphLabelPropSql(k: Int = 3, iters: Int = 4): String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT id, community FROM (
         |    SELECT u.dst AS id, p.community, count(*) AS votes,
         |           row_number() OVER (PARTITION BY u.dst
         |             ORDER BY count(*) DESC, p.community) AS rn
         |    FROM und u JOIN $prev p ON p.id = u.src
         |    GROUP BY u.dst, p.community)
         |  WHERE rn = 1)"""
    val rounds = (1 to iters).map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH g AS (SELECT q_id, vec_id FROM (${Similarity.knnGraphSql(k)})),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT q_id AS src, vec_id AS dst FROM g
       |    UNION ALL
       |    SELECT vec_id AS src, q_id AS dst FROM g)),
       |l0 AS (SELECT DISTINCT src AS id, src AS community FROM und),
       |$rounds,
       |sizes AS (SELECT community, count(*) AS community_size
       |          FROM l$iters GROUP BY 1)
       |SELECT l.id AS vec_id, l.community, s.community_size
       |FROM l$iters l JOIN sizes s USING (community)
       |ORDER BY 1""".stripMargin
  }

  // --------------------------------------- #303 graph_seed_distance

  /** #303 graph_seed_distance: multi-source BFS hop distance from a
    * CURATED SEED SET over the #31d kNN graph — the seed-expansion
    * primitive of web-scale curation (OpenWebText's "links from
    * upvoted posts", TrustRank's seed propagation): how many
    * similarity hops separate each corpus item from the nearest
    * trusted example. hops=0 are the seeds themselves (here: vectors
    * with ground-truth label 0, the "curated" slice), -1 marks items
    * unreachable within `maxHops` — including graph isolates — which a
    * distance-thresholded keep-list would drop first.
    *
    * Scale shape: frontier-style BFS — round h joins ONLY the dist=h−1
    * frontier against the edge list (co-partitioned on src), then a
    * min-dist rollup folds new reaches into the label table; both are
    * key-proportional, nothing collected, per-round [[graft.Lineage.cut]].
    * A fixed maxHops bounds rounds (graph diameters at corpus scale are
    * small for kNN graphs; unreached = -1 is the honest readout, not an
    * unbounded loop). */
  def graphSeedDistance(s: SparkSession, dir: String, k: Int = 3,
                        maxHops: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // the memoized symmetric kNN edge set shared with #302/#313/#347
    seedDistanceUnd(
      knnUndCached(s, dir, k),
      emb.filter(col("label") === 0).select(col("vec_id").as("id")),
      emb.select(col("vec_id")),
      maxHops)
  }

  /** DataFrame-generic core: directed edges (src, dst) symmetrized
    * internally, seed ids, and the full node universe (vec_id). */
  def seedDistanceDf(edges: DataFrame, seeds: DataFrame, nodes: DataFrame,
                     maxHops: Int): DataFrame =
    seedDistanceUnd(edges.union(edges.select(col("dst"), col("src")))
      .distinct().transform(graft.Lineage.cut), seeds, nodes, maxHops)

  /** Core over an already-symmetrized edge table. */
  private def seedDistanceUnd(und: DataFrame, seeds: DataFrame,
                              nodes: DataFrame, maxHops: Int): DataFrame = {
    var d = seeds.select(col("id"), lit(0).as("dist"))
      .transform(graft.Lineage.cut)
    for (h <- 1 to maxHops) {
      val reach = und
        .join(d.filter(col("dist") === h - 1).select(col("id").as("src")), "src")
        .select(col("dst").as("id"), lit(h).as("dist"))
      d = d.union(reach).groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .transform(graft.Lineage.cut)
    }
    nodes.join(d.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
              coalesce(col("dist"), lit(-1)).cast("int").as("hops"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: per-hop CTE pair — frontier reach join, then min-dist
    * fold; unreached coalesce to -1 off the embeddings universe. */
  def graphSeedDistanceSql(k: Int = 3, maxHops: Int = 3): String = {
    def hop(h: Int): String =
      s"""r$h AS (
         |  SELECT u.dst AS id, $h AS dist
         |  FROM und u JOIN d${h - 1} f ON f.id = u.src AND f.dist = ${h - 1}),
         |d$h AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT * FROM d${h - 1} UNION ALL SELECT * FROM r$h)
         |  GROUP BY 1)"""
    val hops = (1 to maxHops).map(hop).mkString(",\n")
    s"""WITH g AS (SELECT q_id, vec_id FROM (${Similarity.knnGraphSql(k)})),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT q_id AS src, vec_id AS dst FROM g
       |    UNION ALL
       |    SELECT vec_id AS src, q_id AS dst FROM g)),
       |d0 AS (SELECT vec_id AS id, 0 AS dist FROM embeddings WHERE label = 0),
       |$hops
       |SELECT e.vec_id, CAST(coalesce(d.dist, -1) AS INT) AS hops
       |FROM embeddings e LEFT JOIN d$maxHops d ON d.id = e.vec_id
       |ORDER BY 1""".stripMargin
  }

  // --------------------------------------- #304 events_diff_in_diff

  /** #304 events_diff_in_diff: DIFFERENCE-IN-DIFFERENCES — the causal
    * readout when treatment rolls out at a point in TIME rather than by
    * randomized exposure (#137's z-test assumes exchangeable arms; DiD
    * subtracts the secular trend the pre/post split would otherwise
    * confound). Arms are the #137 md5-parity discipline under an
    * independent 'did:' salt (orthogonal to the experiment and A/A
    * assignments by construction); the rollout boundary is the #284
    * corpus midpoint day. Per (user, event_type, period) the outcome is
    * the user's decimal-exact value sum; per event_type the report is
    * the four (arm × period) cell sizes and means, the DiD estimate
    * (Δtreated − Δcontrol), its pooled standard error from the four
    * cell variances, and the t-statistic. Cells need n ≥ 2 for a
    * variance; event types missing any cell drop — the honest
    * no-estimate answer, not a NULL-riddled row.
    *
    * Scale shape: one (user, type, period) rollup — map-side
    * combinable — joined to the broadcast user→arm dim ([[graft.Hints]]
    * gates the hint), then a ≤ |types|×4 cell rollup pivoted by
    * conditional aggregates; no window, no pair space. Means/variances
    * come off exact decimal moments; outputs round 6dp at the edge. */
  def eventsDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    didFinalize(didRegisters(ev, Round8Ops.feedMidDay(ev)))
  }

  /** #304/#311's registers: per-(user, type, period) decimal value
    * sums — the outcome table IS the streaming state (decimal sums
    * merge by addition; the period tag is a map-only comparison against
    * the exported rollout-day literal, the #284 discipline). User-keyed
    * like #271's ICC registers: state proportional to the user
    * dimension, not the event stream. */
  private[graft] def didRegisters(ev: DataFrame,
                                  mid: java.sql.Date): DataFrame =
    ev.withColumn("period",
        when(to_date(col("ts")) < lit(mid), "pre").otherwise("post"))
      .groupBy(col("user_id"), col("event_type"), col("period"))
      .agg(dsum(col("value")).as("y"))

  /** The DiD readout over the drained register table: arm assignment is
    * a map-only salted-md5 expression on the register's user key (no
    * user dim, no join), then the four-cell pivot. */
  private[graft] def didFinalize(regs: DataFrame): DataFrame = {
    val uy = regs.withColumn("arm", Round6Ops2.armExprSalted("did:"))
    val cells = uy
      .groupBy(col("event_type"), col("arm"), col("period"))
      .agg(count(lit(1)).cast("double").as("n"),
           dsum(col("y")).as("sy"),
           dsum(col("y") * col("y")).as("syy"))
      .filter(col("n") >= 2)
      .select(col("event_type"), col("arm"), col("period"), col("n"),
              (col("sy") / col("n")).as("mean"),
              ((col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1))
                .as("var"))
    def cell(a: Int, p: String, c: String): Column =
      max(when(col("arm") === a && col("period") === p, col(c)))
    val did = (cell(1, "post", "mean") - cell(1, "pre", "mean")) -
              (cell(0, "post", "mean") - cell(0, "pre", "mean"))
    val se = sqrt(cell(1, "post", "var") / cell(1, "post", "n") +
                  cell(1, "pre", "var") / cell(1, "pre", "n") +
                  cell(0, "post", "var") / cell(0, "post", "n") +
                  cell(0, "pre", "var") / cell(0, "pre", "n"))
    cells.groupBy(col("event_type"))
      .agg(cell(0, "pre", "n").as("nd_c_pre"), cell(0, "post", "n").as("nd_c_post"),
           cell(1, "pre", "n").as("nd_t_pre"), cell(1, "post", "n").as("nd_t_post"),
           r(cell(0, "pre", "mean"), 6).as("mean_c_pre"),
           r(cell(0, "post", "mean"), 6).as("mean_c_post"),
           r(cell(1, "pre", "mean"), 6).as("mean_t_pre"),
           r(cell(1, "post", "mean"), 6).as("mean_t_post"),
           r(did, 6).as("did"), r(se, 6).as("se"),
           when(se > 0, r(did / se, 6)).as("t_stat"))
      .filter(col("nd_c_pre").isNotNull && col("nd_c_post").isNotNull &&
              col("nd_t_pre").isNotNull && col("nd_t_post").isNotNull)
      .select(col("event_type"),
              col("nd_c_pre").cast("long").as("n_c_pre"),
              col("nd_c_post").cast("long").as("n_c_post"),
              col("nd_t_pre").cast("long").as("n_t_pre"),
              col("nd_t_post").cast("long").as("n_t_post"),
              col("mean_c_pre"), col("mean_c_post"),
              col("mean_t_pre"), col("mean_t_post"),
              col("did"), col("se"), col("t_stat"))
      .orderBy(col("event_type"))
  }

  val eventsDiffInDiffSql: String = {
    def cell(a: Int, p: String, c: String): String =
      s"max(CASE WHEN arm = $a AND period = '$p' THEN $c END)"
    val did = s"(${cell(1, "post", "mean")} - ${cell(1, "pre", "mean")}) - " +
              s"(${cell(0, "post", "mean")} - ${cell(0, "pre", "mean")})"
    val se = s"sqrt(${cell(1, "post", "var")} / ${cell(1, "post", "n")} + " +
             s"${cell(1, "pre", "var")} / ${cell(1, "pre", "n")} + " +
             s"${cell(0, "post", "var")} / ${cell(0, "post", "n")} + " +
             s"${cell(0, "pre", "var")} / ${cell(0, "pre", "n")})"
    s"""WITH mid AS (
       |  SELECT min(CAST(ts AS DATE)) +
       |         CAST(floor(datediff('day', min(CAST(ts AS DATE)),
       |                             max(CAST(ts AS DATE))) / 2) AS INT) AS mid
       |  FROM events),
       |uy AS (
       |  SELECT e.user_id,
       |         ('0x' || substr(md5('did:' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
       |         e.event_type,
       |         CASE WHEN CAST(e.ts AS DATE) < mid THEN 'pre' ELSE 'post' END AS period,
       |         ${sqlSum("e.value")} AS y
       |  FROM events e CROSS JOIN mid
       |  GROUP BY 1, 2, 3, 4),
       |cells AS (
       |  SELECT u.event_type, u.arm, u.period,
       |         CAST(count(*) AS DOUBLE) AS n,
       |         ${sqlSum("u.y")} / CAST(count(*) AS DOUBLE) AS mean,
       |         (${sqlSum("u.y * u.y")} - ${sqlSum("u.y")} * ${sqlSum("u.y")}
       |            / CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1) AS var
       |  FROM uy u
       |  GROUP BY 1, 2, 3 HAVING count(*) >= 2),
       |p AS (
       |  SELECT event_type,
       |         ${cell(0, "pre", "n")} AS nd_c_pre, ${cell(0, "post", "n")} AS nd_c_post,
       |         ${cell(1, "pre", "n")} AS nd_t_pre, ${cell(1, "post", "n")} AS nd_t_post,
       |         ${sqlR(cell(0, "pre", "mean"), 6)} AS mean_c_pre,
       |         ${sqlR(cell(0, "post", "mean"), 6)} AS mean_c_post,
       |         ${sqlR(cell(1, "pre", "mean"), 6)} AS mean_t_pre,
       |         ${sqlR(cell(1, "post", "mean"), 6)} AS mean_t_post,
       |         ${sqlR(did, 6)} AS did,
       |         ${sqlR(se, 6)} AS se,
       |         CASE WHEN $se > 0 THEN ${sqlR(s"($did) / ($se)", 6)} END AS t_stat
       |  FROM cells GROUP BY 1)
       |SELECT event_type,
       |       CAST(nd_c_pre AS BIGINT) AS n_c_pre, CAST(nd_c_post AS BIGINT) AS n_c_post,
       |       CAST(nd_t_pre AS BIGINT) AS n_t_pre, CAST(nd_t_post AS BIGINT) AS n_t_post,
       |       mean_c_pre, mean_c_post, mean_t_pre, mean_t_post, did, se, t_stat
       |FROM p
       |WHERE nd_c_pre IS NOT NULL AND nd_c_post IS NOT NULL
       |  AND nd_t_pre IS NOT NULL AND nd_t_post IS NOT NULL
       |ORDER BY event_type""".stripMargin
  }

  // --------------------------------- #305 corpus_quality_classifier

  /** Driver-side half-up rounding at 8dp — THE weight-update rounding
    * shared with the oracle's `sqlR(..., 8)` CTE chain. */
  private def r8(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8

  /** The three raw per-doc feature expressions on a (text) row — the
    * lowercase single-space token basis (#211's), 6dp-rounded: log
    * token count, type-token ratio, chars-per-token. Shared with the
    * #308 literal-scored stream. */
  private[graft] def rawFeatureCols: Seq[Column] = {
    val toks = split(lower(trim(col("text"))), " ")
    Seq(r(log(lit(1.0) + size(toks)), 6),
        r(size(array_distinct(toks)) / size(toks).cast("double"), 6),
        r(length(col("text")) / size(toks).cast("double"), 6))
  }

  /** (doc_id, y, f1..f3) raw feature frame. */
  private[graft] def classifierBase(docs: DataFrame): DataFrame = {
    val fs = rawFeatureCols
    docs.select(col("doc_id"),
                when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
                fs(0).as("f1"), fs(1).as("f2"), fs(2).as("f3"))
  }

  /** The 1-row exact decimal moment table (n, Σf, Σf² per feature) —
    * collected by #308 to export the model's standardization scalars. */
  private[graft] def classifierStats(docs: DataFrame): DataFrame =
    classifierBase(docs).agg(
      count(lit(1)).cast("double").as("n"),
      dsum(col("f1")).as("s1"), dsum(col("f1") * col("f1")).as("q1"),
      dsum(col("f2")).as("s2"), dsum(col("f2") * col("f2")).as("q2"),
      dsum(col("f3")).as("s3"), dsum(col("f3") * col("f3")).as("q3"))

  /** Per-doc standardized features + label for the #305 trainer: the
    * raw features standardized against exact decimal corpus moments
    * (mean and sd themselves 6dp-rounded before the division, the
    * cross-engine boundary convention). */
  private[graft] def classifierFeatures(docs: DataFrame): DataFrame = {
    val base = classifierBase(docs)
    val st = classifierStats(docs)
    def z(f: String, sc: String, q: String): Column =
      r((col(f) - r(col(sc) / col("n"), 6)) /
        r(sqrt((col(q) - col(sc) * col(sc) / col("n")) / (col("n") - 1)), 6), 6)
    base.crossJoin(broadcast(st))
      .select(col("doc_id"), col("y"),
              z("f1", "s1", "q1").as("x1"),
              z("f2", "s2", "q2").as("x2"),
              z("f3", "s3", "q3").as("x3"))
  }

  /** Full-batch gradient-descent logistic trainer: returns the weight
    * history (bias, w1, w2, w3) AFTER each step, step 0 = all-zero
    * init. Model-sized collects only (4 scalars per step — the
    * emb_kmeans codebook discipline); the feature table is pinned once
    * and every step is one partial-aggregated scan over it. lr = 0.5 —
    * a power of two, so the driver-side update w − lr·g is exact IEEE
    * and bit-identical to the oracle CTE's. */
  private[graft] def trainWeights(x: DataFrame, steps: Int,
                                  lr: Double): Seq[Array[Double]] = {
    val xp = graft.Lineage.pinLazy(x)
    var w = Array(0.0, 0.0, 0.0, 0.0)
    val hist = scala.collection.mutable.ArrayBuffer(w)
    for (_ <- 1 to steps) {
      val p = pOf(w)
      val g = xp.agg(
        davg(p - col("y"), 8).as("gb"),
        davg((p - col("y")) * col("x1"), 8).as("g1"),
        davg((p - col("y")) * col("x2"), 8).as("g2"),
        davg((p - col("y")) * col("x3"), 8).as("g3"))
        .collect()(0)
      w = Array.tabulate(4)(j => r8(w(j) - lr * g.getDouble(j)))
      hist += w
    }
    hist.toSeq
  }

  /** The trained weight history for a corpus, memoized per (session,
    * dir, steps, lr) — #305/#308/#309 and the scoring stream all read
    * the same model; without the memo each re-ran the `steps` GD scans
    * (the #153 merge-table discipline: the model is a driver-side
    * artifact, train once per session). */
  private[graft] def trainedWeights(s: SparkSession, dir: String,
                                    steps: Int, lr: Double): Seq[Array[Double]] =
    graft.Caches.model(s, ("clf_weights", dir, steps, lr)) {
      trainWeights(classifierFeatures(Tables.documents(s, dir)), steps, lr)
    }

  /** σ(z) under weight vector `w`, with the shared stage roundings:
    * z 6dp (left-assoc sum, matching the SQL text), p 6dp. */
  private[graft] def pOf(w: Array[Double]): Column = {
    val z = r(lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
              lit(w(3)) * col("x3"), 6)
    r(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** #305 corpus_quality_classifier: an IN-ENGINE trained logistic
    * quality/language filter — the GPT-3 / CCNet curation stage (train
    * a linear classifier on cheap document statistics against a
    * labeled slice, score the whole corpus, gate or importance-sample
    * on the score). Label here: lang = 'en' (the English-filter form);
    * features: the #211 token basis' log-length, TTR and
    * chars-per-token, standardized. Training is `steps` full-batch
    * gradient-descent rounds at lr = 0.5 with 8dp weight rounding per
    * step — deterministic, so the oracle REPLAYS THE ENTIRE TRAINING as
    * chained 1-row weight CTEs (the emb_pca discipline) and then scores
    * every document with the same final weights. On this synthetic
    * corpus the features carry no language signal, and the spec pins
    * exactly what correct MLE behavior looks like on a null problem:
    * loss strictly decreases and the intercept converges to the
    * base-rate logit.
    *
    * Scale shape: training is `steps` partial-aggregated scans of the
    * pinned feature table (each reduces to 4 scalars — map-side
    * combinable decimal sums; the model, not the data, crosses to the
    * driver); scoring is one map-only pass with the weights inlined as
    * literals. Nothing key-proportional ever collects; at 100 TB the
    * pinned features are a column-pruned fraction of the corpus and
    * each GD step is one scan-shaped job. */
  def corpusQualityClassifier(s: SparkSession, dir: String, steps: Int = 8,
                              lr: Double = 0.5): DataFrame = {
    val x = classifierFeatures(Tables.documents(s, dir))
    val w = trainedWeights(s, dir, steps, lr).last
    val score = pOf(w)
    x.select(col("doc_id"), col("x1"), col("x2"), col("x3"),
             score.as("score"),
             when(score >= 0.5, 1).otherwise(0).as("pred"),
             col("y").cast("int").as("label"))
      .orderBy(col("doc_id"))
  }

  /** The per-row score expression over `x` (feature row) × `w` (weight
    * row) — the one σ(z) text #305/#308/#309 oracles share. */
  private[graft] val classifierPSql: String = {
    val zSql = "w.b + w.w1 * x.x1 + w.w2 * x.x2 + w.w3 * x.x3"
    sqlR(s"1.0 / (1.0 + exp(-(${sqlR(zSql, 6)})))", 6)
  }

  /** WITH-chain prefix replaying features, standardization and the full
    * GD training; defines `x` (doc_id, y, x1..x3) and `w$steps` (the
    * final 1-row weight table). Shared by #305, #308 and #309. */
  private[graft] def classifierChainSql(steps: Int, lr: Double): String = {
    val pSql = classifierPSql
    def step(i: Int): String =
      s"""p$i AS (
         |  SELECT x.doc_id, x.y, x.x1, x.x2, x.x3, $pSql AS p
         |  FROM x CROSS JOIN w${i - 1} w),
         |g$i AS (
         |  SELECT ${sqlR(s"${sqlSum("p - y")} / count(*)", 8)} AS gb,
         |         ${sqlR(s"${sqlSum("(p - y) * x1")} / count(*)", 8)} AS g1,
         |         ${sqlR(s"${sqlSum("(p - y) * x2")} / count(*)", 8)} AS g2,
         |         ${sqlR(s"${sqlSum("(p - y) * x3")} / count(*)", 8)} AS g3
         |  FROM p$i),
         |w$i AS (
         |  SELECT ${sqlR(s"w.b - $lr * g.gb", 8)} AS b,
         |         ${sqlR(s"w.w1 - $lr * g.g1", 8)} AS w1,
         |         ${sqlR(s"w.w2 - $lr * g.g2", 8)} AS w2,
         |         ${sqlR(s"w.w3 - $lr * g.g3", 8)} AS w3
         |  FROM w${i - 1} w CROSS JOIN g$i g)"""
    val stepCtes = (1 to steps).map(step).mkString(",\n")
    def zstd(f: String, sc: String, q: String): String =
      sqlR(s"($f - (${sqlR(s"$sc / n", 6)})) / " +
           s"(${sqlR(s"sqrt(($q - $sc * $sc / n) / (n - 1))", 6)})", 6)
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |         ${sqlR("ln(1.0 + len(string_split(lower(trim(text)), ' ')))", 6)} AS f1,
       |         ${sqlR("len(list_distinct(string_split(lower(trim(text)), ' '))) / CAST(len(string_split(lower(trim(text)), ' ')) AS DOUBLE)", 6)} AS f2,
       |         ${sqlR("length(text) / CAST(len(string_split(lower(trim(text)), ' ')) AS DOUBLE)", 6)} AS f3
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         ${sqlSum("f1")} AS s1, ${sqlSum("f1 * f1")} AS q1,
       |         ${sqlSum("f2")} AS s2, ${sqlSum("f2 * f2")} AS q2,
       |         ${sqlSum("f3")} AS s3, ${sqlSum("f3 * f3")} AS q3
       |  FROM base),
       |x AS (
       |  SELECT doc_id, y,
       |         ${zstd("f1", "s1", "q1")} AS x1,
       |         ${zstd("f2", "s2", "q2")} AS x2,
       |         ${zstd("f3", "s3", "q3")} AS x3
       |  FROM base CROSS JOIN stats),
       |w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |$stepCtes""".stripMargin
  }

  /** Oracle: feature/standardization CTEs, then per GD step a (p, grad,
    * weights) CTE triple replaying the training bit-identically, then
    * the final map-only scoring pass. */
  def corpusQualityClassifierSql(steps: Int = 8, lr: Double = 0.5): String =
    s"""${classifierChainSql(steps, lr)}
       |SELECT doc_id, x1, x2, x3, score,
       |       CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred, label
       |FROM (
       |  SELECT x.doc_id, x.x1, x.x2, x.x3, $classifierPSql AS score,
       |         CAST(x.y AS INT) AS label
       |  FROM x CROSS JOIN w$steps w)
       |ORDER BY doc_id""".stripMargin
}
