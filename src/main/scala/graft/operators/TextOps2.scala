package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity.{r, sqlR}
import graft.sources.Tables

/** Text operators beyond the core battery (SURVEY §2 #101, #112,
  * #114, #153, #163, #175, #184): fuzzy matching, BPE statistics and
  * training, OOV rates, tokenizer fertility, readability, and
  * boilerplate attribution. */
object TextOps2 {

  /** Candidate blocks with document frequency above this are dropped
    * (stop-block rule, same scale guarantee as [[TextOps.NgramMaxDf]]):
    * one corpus-common prefix (template boilerplate) must not generate
    * df² candidate pairs. */
  val FuzzyMaxBlock = 64

  /** #101 doc_fuzzy_match: edit-distance near-match pairs — the fuzzy
    * complement of the token-set dedups (catches character-level edits:
    * typos, OCR noise, small insertions that shift every token n-gram).
    * Blocking, not all-pairs: a pair is a candidate iff the documents
    * share a (lang, 16-char normalized prefix) OR (lang, 16-char
    * suffix) key — an edit anywhere in the middle leaves both keys
    * intact, an edit at one end leaves the other — then the bounded
    * candidate set pays `levenshtein` on 96-char windows. Pair space is
    * Σ block² over capped blocks ([[FuzzyMaxBlock]]), linear in corpus
    * size; the quadratic-cost distance runs on candidates only, never
    * the corpus. Bare-id pairs dedup BEFORE texts join back (the
    * emb_dedup_cosine shape), so the distinct shuffles ids, not text.
    * At 100 TB the blocked join shuffles on (lang, blk) — the same key
    * the DF cap windows on, one exchange reused. */
  def docFuzzyMatch(s: SparkSession, dir: String, maxDist: Int = 12): DataFrame =
    docFuzzyMatchDf(Tables.documents(s, dir), maxDist)

  /** DataFrame-generic core: expects (doc_id, lang, text). */
  def docFuzzyMatchDf(input: DataFrame, maxDist: Int = 12,
                      maxBlock: Int = FuzzyMaxBlock): DataFrame = {
    val d = input.select(col("doc_id"), col("lang"),
                         lower(trim(col("text"))).as("t"))
    // both block keys from ONE scan (explode, not a self-union): the
    // row multiplicity is identical to the oracle's UNION ALL
    val keyed = d.select(col("doc_id"), col("lang"),
      explode(array(expr("substr(t, 1, 16)"),
                    expr("substr(t, greatest(1, length(t) - 15), 16)"))).as("blk"))
    val wBlk = Window.partitionBy(col("lang"), col("blk"))
    val capped = keyed.withColumn("df", count(lit(1)).over(wBlk))
      .filter(col("df") <= maxBlock).drop("df")
    val ids = capped.as("a").join(capped.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    ids.join(d.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
      .withColumn("dist",
        levenshtein(expr("substr(ta, 1, 96)"), expr("substr(tb, 1, 96)")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -------------------------------------------------- #114 OOV rate

  /** #114 doc_oov_rate: out-of-vocabulary token share per source
    * against the corpus's own top-K vocabulary — the curation metric
    * for "how much of this source a fixed tokenizer/vocab would shatter
    * into unknowns". The vocabulary is a bounded sort+limit over the
    * token-count aggregate (TakeOrdered — never a ranking window), then
    * broadcasts (K rows) for a map-side membership tag; per-source
    * rates are one partial-agg rollup. Deterministic vocab ties break
    * on the token text. */
  def docOovRate(s: SparkSession, dir: String, vocabK: Int = 1000): DataFrame = {
    // ONE tokenize+explode pass: the corpus reduces to (source, tok, n)
    // counts first; the global vocabulary is a rollup of that frame and
    // the OOV rates re-aggregate the same frame weighted by n — the
    // expensive scan never runs twice
    val counts = graft.Caches.persisted(s, ("oov_counts", dir, "v1")) {
      Tables.documents(s, dir)
        .select(col("source"),
                explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    }
    val vocab = counts.groupBy(col("tok")).agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabK)
      .select(col("tok"), lit(1).as("in_vocab"))
    counts.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
           sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).cast("long")
             .as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
              r(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .orderBy(col("source"))
  }

  def docOovRateSql(vocabK: Int = 1000): String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS n FROM toks GROUP BY 1
       |    ORDER BY n DESC, tok LIMIT $vocabK)),
       |tagged AS (
       |  SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
       |SELECT source, count(*) AS n_tokens,
       |       CAST(sum(oov) AS BIGINT) AS n_oov,
       |       ${sqlR("CAST(sum(oov) AS DOUBLE) / count(*)", 6)} AS oov_rate
       |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- #112 BPE pair counts

  /** #112 bpe_pair_counts: the inner statistic of byte-pair-encoding
    * tokenizer training — corpus-weighted adjacent-symbol pair counts
    * (the quantity each BPE merge round maximizes; Sennrich et al.
    * 2016). The scale shape is what makes BPE trainable on a 100 TB
    * corpus: the corpus collapses to the WORD VOCABULARY first (one
    * hash aggregate; heavy-tailed dedup — "the" counts once with
    * weight n), and the character-pair explode runs over vocabulary ×
    * word-length, not corpus tokens. Top pairs come from sort+limit
    * (TakeOrdered, O(k) per partition), never a ranking window. */
  def bpePairCounts(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("w"), col("freq"),
              explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("sym_a"),
              col("w").substr(col("i") + 1, lit(1)).as("sym_b"),
              col("freq"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("sym_a"), col("sym_b"))
      .limit(topK)
  }

  def bpePairCountsSql(topK: Int = 20): String =
    s"""WITH vocab AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1),
       |pairs AS (
       |  SELECT substr(w, CAST(i.i AS INT), 1) AS sym_a,
       |         substr(w, CAST(i.i AS INT) + 1, 1) AS sym_b, freq
       |  FROM vocab CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, length(w))) AS i) i)
       |SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS n
       |FROM pairs GROUP BY 1, 2
       |ORDER BY n DESC, sym_a, sym_b LIMIT $topK""".stripMargin

  /** Oracle: identical block keys, cap, window and distance. */
  def docFuzzyMatchSql(maxDist: Int = 12, maxBlock: Int = FuzzyMaxBlock): String =
    s"""WITH d AS (SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
       |k AS (
       |  SELECT doc_id, lang, substr(t, 1, 16) AS blk FROM d
       |  UNION ALL
       |  SELECT doc_id, lang, substr(t, greatest(1, length(t) - 15), 16) AS blk FROM d),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, blk,
       |           count(*) OVER (PARTITION BY lang, blk) AS df
       |    FROM k)
       |  WHERE df <= $maxBlock),
       |ids AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM (
       |  SELECT ids.id_a, ids.id_b,
       |         levenshtein(substr(da.t, 1, 96), substr(db.t, 1, 96)) AS dist
       |  FROM ids JOIN d da ON ids.id_a = da.doc_id
       |           JOIN d db ON ids.id_b = db.doc_id)
       |WHERE dist <= $maxDist ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------- #153 bpe_train_merges

  /** BPE training rounds. Bounded by contract — the merge table, like
    * any model artifact, is tiny; a real tokenizer run sets this to
    * vocab_size − |alphabet| and pays one pair-count pass per round.
    * 64 merges is enough for the fertility/budget readouts to
    * measurably diverge from the char/ws proxies (bpe_per_word well
    * below 1 token per char); the shapes below are
    * vocabulary-per-round and word-per-encode, so raising this to a
    * real 32 k costs rounds, never corpus passes. */
  private[graft] val BpeSteps = 64

  /** #153 bpe_train_merges: BPE TRAINING, not just its inner statistic —
    * [[bpePairCounts]] counts one round's pairs; this runs the actual
    * merge loop (Sennrich et al. 2016): per round, the corpus-weighted
    * most frequent adjacent symbol pair becomes a merge (ties lexical),
    * the pair is fused greedily left-to-right in every vocabulary word,
    * and counting repeats on the merged symbols. Output = the ordered
    * merge table (step, sym_a, sym_b, n) — the artifact a tokenizer
    * ships.
    *
    * Scale shape, per round: the corpus stays collapsed to the word
    * VOCABULARY (the #112 contract — "the" counts once with weight n;
    * the explode runs over vocab × word length, never corpus tokens);
    * the winner is ONE collected row (model-sized, the IVF-centroid /
    * MMR-round class); the merge application is a map-only string
    * `replace` over the vocabulary — words are kept in a PER-SYMBOL
    * bracketed encoding (`|a||b||c|`) where fusing pair (a,b) IS
    * `replace('|a||b|' → '|ab|')`: both engines' `replace` scans
    * left-to-right non-overlapping, which is exactly BPE's greedy fuse
    * rule, and because every symbol occurrence is delimited on BOTH
    * sides the pattern can only ever match a true (a, b) adjacency —
    * no prefix/suffix collision exists at ANY merge depth (the
    * single-delimiter encoding this replaced needed a guard against
    * right-symbol prefix collisions, which real 64+-merge tables DO
    * trip). Vocabulary is restricted to purely alphabetic words so the
    * delimiter never collides with content. */
  def bpeTrainMerges(s: SparkSession, dir: String,
                     steps: Int = BpeSteps): DataFrame = {
    import s.implicits._
    // the memoized, model-partitioned vocabulary (shared with the
    // batched trainer); the round loop runs at vocabulary-proportional
    // shuffle partitioning — at test SF one task per round stage
    // instead of one per core (the rounds are overhead-bound), at a
    // real 10⁷-word vocabulary ~150 (GraftSession.modelPartitionsFor)
    val (words0, parts) = preparedWords0(baseWords(Tables.documents(s, dir)))
    var words = words0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    graft.GraftSession.withModelLoopConf(s, parts) {
    for (step <- 1 to steps) {
      val win = words
        .select(col("freq"),
                expr("split(substring(w, 2, length(w) - 2), '\\\\|\\\\|')").as("ss"))
        // a fully-fused word has ONE symbol: no pairs (Spark's
        // sequence(1, 0) runs BACKWARDS, so it must be filtered out
        // explicitly; DuckDB's range(1, 1) is empty by itself)
        .filter(size(col("ss")) >= 2)
        .select(col("freq"), expr(
          "explode(transform(sequence(1, size(ss) - 1), " +
          "i -> struct(element_at(ss, i) AS sym_a, element_at(ss, i + 1) AS sym_b)))").as("p"))
        .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()(0)
      val (a, b, n) = (win.getString(0), win.getString(1), win.getLong(2))
      merges += ((step, a, b, n))
      words = words.select(
        expr(s"replace(w, '|$a||$b|', '|$a$b|')").as("w"), col("freq"))
      // per-round lineage cut (non-eager: the checkpoint materializes
      // inside the NEXT round's pair-count job) — without it each
      // round's job replays every stacked replace since the last cut,
      // so a 64-round training pays O(rounds²) vocabulary scans
      words = graft.Lineage.cut(words)
    }
    }
    merges.result().toDF("step", "sym_a", "sym_b", "n").orderBy(col("step"))
  }

  /** The (pinned, model-partitioned) words0 + its partition count,
    * memoized per (session, words0 plan). Both trainers' round loops
    * are per-round jobs over THIS table; pinning it once per session
    * dedups the corpus-proportional vocabulary build across the BPE
    * query family, and repartitioning it to
    * [[graft.GraftSession.modelPartitionsFor]] makes every round's map
    * side match the vocabulary's own volume instead of the corpus
    * posture's core count. */
  private[graft] def preparedWords0(words0: DataFrame): (DataFrame, Int) = {
    val s = words0.sparkSession
    graft.Caches.model(s, ("bpe_words0", words0.semanticHash())) {
      val p0 = graft.Lineage.pin(words0)
      val parts = graft.GraftSession.modelPartitionsFor(p0.count())
      (graft.Lineage.pin(p0.repartition(parts)), parts)
    }
  }

  // -------------------------------------------- #364 bpe_train_batched

  /** Batched-BPE schedule: rounds × batch cap. The driver corpus draws
    * documents from a 30-word dictionary, so its merge space EXHAUSTS
    * at 89 merges (≤ Σ(len−1) = 107) — measured: the waved batcher
    * fully fuses the vocabulary by round 12 at every SF, so 20 rounds
    * is the schedule with margin (rounds past exhaustion are no-ops,
    * and the DuckDB replay's bind cost scales with rounds × k, which
    * is why the schedule is not larger than the data can use). The
    * ≥1024-merge regime this trainer exists for is spec-proven over a
    * synthetic 2000-word vocabulary (BpeBatchedSpec: >1024 merges,
    * ~13 merges/round) — per-merge training cost drops ~13× against
    * the sequential trainer because one pair-count pass funds a whole
    * waved batch. */
  private[graft] val BpeBatchRounds = 20
  private[graft] val BpeBatchK = 32
  private[graft] val BpeBatchWaves = 4
  private[graft] val BpePoolM = 256

  /** One round's corpus-weighted pair counts over the bracketed
    * vocabulary — the shared inner statistic of both trainers. */
  private def pairCountsOf(words: DataFrame): DataFrame =
    words
      .select(col("freq"),
              expr("split(substring(w, 2, length(w) - 2), '\\\\|\\\\|')").as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(col("freq"), expr(
        "explode(transform(sequence(1, size(ss) - 1), " +
        "i -> struct(element_at(ss, i) AS sym_a, element_at(ss, i + 1) AS sym_b)))").as("p"))
      .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
      .agg(sum(col("freq")).as("n"))

  /** ONE selection wave — the MUTUAL-MIN rule, shared verbatim by both
    * engines: a pair survives iff NO higher-ranked pool pair (in the
    * fixed (n DESC, sym_a, sym_b) rank) shares a symbol with it, i.e.
    * it is the best-ranked pair for BOTH its symbols. A plain anti-join
    * (`NOT EXISTS rank-above sharing a symbol`), never a sequential
    * recursion; survivors are pairwise symbol-disjoint (two survivors
    * sharing a symbol would both be that symbol's min-rank pair). */
  private def selectWave(alive: Seq[(String, String, Long)]): Seq[(String, String, Long)] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    for ((a, b, n) <- alive) {
      if (!seen(a) && !seen(b)) out += ((a, b, n))
      seen += a; seen += b
    }
    out.result()
  }

  /** The batch rule: [[BpeBatchWaves]] mutual-min waves over ONE
    * pre-round pool — wave w removes every pair touching a symbol
    * selected in waves < w and re-applies the rule to the survivors
    * (greedy independent set in fixed-depth waves: each wave is the
    * same window expression, so the DuckDB oracle replays the chain as
    * W CTEs instead of a recursion). All waves price pairs at the
    * PRE-ROUND counts (the batched-BPE approximation); the union is
    * pairwise symbol-disjoint, so application order is immaterial.
    * Output ordered by (wave, rank) and capped at k — the `step`
    * numbering both engines share. */
  private[graft] def selectBatch(pool: Seq[(String, String, Long)],
                                 k: Int, waves: Int = BpeBatchWaves): Seq[(String, String, Long)] = {
    var alive = pool
    val out = Seq.newBuilder[(String, String, Long)]
    var taken = 0
    for (_ <- 1 to waves if taken < k && alive.nonEmpty) {
      val sel = selectWave(alive)
      out ++= sel
      taken += sel.size
      val used = sel.flatMap { case (a, b, _) => Seq(a, b) }.toSet
      alive = alive.filter { case (a, b, _) => !used(a) && !used(b) }
    }
    out.result().take(k)
  }

  /** #364 bpe_train_batched: BATCHED BPE training — the rework that
    * makes a REAL vocabulary (≥1024 merges) trainable as a Spark
    * driver loop: where [[bpeTrainMerges]] pays one pair-count job per
    * merge (64 sequential rounds = the round-10 ceiling), each batched
    * round collects ONE pool of the top-[[BpePoolM]] pairs and selects
    * up to [[BpeBatchK]] symbol-fresh pairs ([[selectBatch]] — the
    * deterministic shadowing rule both engines share), fusing them in
    * one vocabulary projection with a single per-round lineage cut.
    * Batched-BPE is the standard large-vocab approximation (merges in
    * a batch don't see each other's counts); within a batch the pairs
    * are symbol-disjoint, so every fuse is exactly the greedy
    * left-to-right rule on unchanged adjacencies, and the recorded
    * count is the true pre-round count of that pair.
    *
    * Output: the ordered merge table (step, sym_a, sym_b, n) — step
    * numbers run sequentially across rounds, so a table PREFIX is a
    * smaller tokenizer exactly as with the sequential trainer.
    *
    * Scale shape, per round: vocabulary-sized pair count (the #112
    * contract), ONE model-sized collect (≤[[BpePoolM]] rows), one
    * map-only chained-replace projection, one lineage cut — rounds are
    * ~merges/10, never corpus passes. */
  def bpeTrainBatched(s: SparkSession, dir: String,
                      rounds: Int = BpeBatchRounds,
                      k: Int = BpeBatchK): DataFrame =
    bpeTrainBatchedDf(Tables.documents(s, dir), rounds, k)

  /** DataFrame-generic core: expects (text). NOTE the measured corpus
    * ceiling: the driver testdata's documents are drawn from a 30-word
    * dictionary, so at MOST 107 merges exist before every word is one
    * symbol (Σ(len−1) over the distinct vocabulary; shared suffixes
    * bring the realized exhaustion to 89) — the ≥1024-merge regime is
    * unreachable on ANY scale factor of this corpus, which is why the
    * vocabulary-scaling proof lives in the spec over a synthetic
    * 2000-word vocabulary (TextOps2BatchedSpec: >1024 merges in ≤120
    * rounds) while the query demonstrates the schedule to exhaustion
    * on the real tables. */
  private[graft] def bpeTrainBatchedDf(docs: DataFrame,
                                       rounds: Int = BpeBatchRounds,
                                       k: Int = BpeBatchK): DataFrame =
    mergesDf(runBatched(baseWords(docs), rounds, k))

  /** The shared bracketed word-vocabulary build (text → lowercased
    * alphabetic tokens → weighted distinct words → per-symbol bracket
    * encoding) — the words0 both trainers start from. */
  private[graft] def baseWords(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("w"), col("freq"))

  /** A finished batched-training run: the ordered merge rows, the
    * final fused vocabulary frame (the #370 vocab readout's input),
    * and the (round, merges-so-far, occurrences, chars, tokens)
    * snapshots taken at the requested rounds (the #371 curve). */
  private[graft] final case class BatchedRun(
      merges: Seq[(Int, Int, String, String, Long)],
      snaps: Seq[(Int, Int, Long, Long, Long)],
      words: DataFrame)

  private def mergesDf(run: BatchedRun): DataFrame = {
    val s = run.words.sparkSession
    import s.implicits._
    run.merges.toDF("step", "round", "sym_a", "sym_b", "n")
      .orderBy(col("step"))
  }

  /** The batched training LOOP — shared by #364 (base corpus) and the
    * #369-#371 rich-vocabulary family. Per round: one vocabulary-sized
    * pair count, ONE ≤[[BpePoolM]]-row collect, the waved mutual-min
    * batch selection, one fused map-only projection with a lineage
    * cut. `snapAt` rounds additionally run one 1-row vocabulary
    * aggregate (the compression-curve snapshot; round 0 = pre-training
    * pure-chars state). */
  private[graft] def runBatched(words0in: DataFrame, rounds: Int, k: Int,
                                snapAt: Set[Int] = Set.empty): BatchedRun = {
    // model-partitioned vocabulary + vocabulary-proportional round
    // partitioning, exactly as in the sequential trainer
    val (words0, parts) = preparedWords0(words0in)
    val s = words0.sparkSession
    graft.GraftSession.withModelLoopConf(s, parts) {
    var words = words0
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    val snaps = Seq.newBuilder[(Int, Int, Long, Long, Long)]
    var step = 0
    def snapshot(round: Int): Unit = if (snapAt(round)) {
      val row = words.agg(
        sum(col("freq")).as("occ"),
        sum(col("freq") *
          length(regexp_replace(col("w"), "\\|", ""))).as("chars"),
        sum(col("freq") *
          ((length(col("w")) -
            length(regexp_replace(col("w"), "\\|", ""))) / 2).cast("long"))
          .as("toks")).collect()(0)
      snaps += ((round, step, row.getLong(0), row.getLong(1), row.getLong(2)))
    }
    snapshot(0)
    for (round <- 1 to rounds) {
      val pool = pairCountsOf(words)
        .orderBy(col("n").desc, col("sym_a"), col("sym_b"))
        .limit(BpePoolM).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val batch = selectBatch(pool, k)
      batch.foreach { case (a, b, n) =>
        step += 1; merges += ((step, round, a, b, n))
      }
      if (batch.nonEmpty) {
        val fusedExpr = batch.foldLeft("w") { case (acc, (a, b, _)) =>
          s"replace($acc, '|$a||$b|', '|$a$b|')"
        }
        words = graft.Lineage.cut(
          words.select(expr(fusedExpr).as("w"), col("freq")))
      }
      snapshot(round)
    }
    BatchedRun(merges.result(), snaps.result(), words)
    }
  }

  /** Oracle: per round, the same pair-count CTE, the pool window
    * (rn ≤ M), then [[BpeBatchWaves]] mutual-min waves — each wave a
    * `NOT EXISTS` anti-join (rank-above-in-the-alive-set sharing a
    * symbol), each alive set the previous one minus pairs touching a
    * selected symbol — unioned in (wave, rank) order, capped at k, and
    * applied as k fixed replace slots (an absent slot falls back to a
    * chr(1) pattern that can never match the az+`|` alphabet). Steps
    * renumbered by (round, kn) at the readout. */
  /** The base corpus's words0 CTE (DuckDB mirror of [[baseWords]]). */
  private def baseWords0Cte: String =
    s"""words0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS w, count(*) AS freq
       |  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 2 AND regexp_full_match(w, '[a-z]+')
       |  GROUP BY 1)""".stripMargin

  def bpeTrainBatchedSql(rounds: Int = BpeBatchRounds,
                         k: Int = BpeBatchK,
                         waves: Int = BpeBatchWaves): String =
    batchedReadoutSql(baseWords0Cte, rounds, k, waves)

  /** The full batched-trainer oracle: CTE chain + (round, kn)-ordered
    * merge readout — parameterized over the words0 derivation so the
    * #369 rich corpus replays the identical chain. */
  private def batchedReadoutSql(words0Cte: String, rounds: Int, k: Int,
                                waves: Int): String = {
    val all = batchedChainSql(words0Cte, rounds, k, waves) + "\n" +
      (1 to rounds)
        .map(r => s"SELECT $r AS r, kn, sym_a, sym_b, n FROM sel$r")
        .mkString("\nUNION ALL\n")
    s"""SELECT CAST(row_number() OVER (ORDER BY r, kn) AS INT) AS step,
       |       CAST(r AS INT) AS round, sym_a, sym_b, n
       |FROM ($all)
       |ORDER BY step""".stripMargin
  }

  /** The per-round CTE chain (words0 → cand/waves/sel/slots/words per
    * round) WITHOUT a readout — shared by the #364/#369 merge readout,
    * the #370 vocab rollup (reads words$rounds) and the #371 curve
    * (reads every grid words$r + sel$r). */
  private def batchedChainSql(words0Cte: String, rounds: Int, k: Int,
                              waves: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH " + words0Cte
    for (r <- 1 to rounds) {
      // slot values hoisted into ONE 1-row CTE (k pattern/replacement
      // column pairs) and cross-joined: inline scalar subqueries both
      // exceed the binder's expression-depth cap at k=32 and re-evaluate
      // per row — the column form binds once and scans flat
      val slotCols = (1 to k).map { j =>
        s"""coalesce(max(CASE WHEN kn = $j THEN '|' || sym_a || '||' || sym_b || '|' END), chr(1)) AS p$j,
           |  coalesce(max(CASE WHEN kn = $j THEN '|' || sym_a || sym_b || '|' END), chr(1)) AS q$j""".stripMargin
      }.mkString(",\n  ")
      val applied = (1 to k).foldLeft("w") { (acc, j) =>
        s"replace($acc, p$j, q$j)"
      }
      def waveSel(alive: String, out: String, wv: Int) =
        s"""$out AS MATERIALIZED (
           |  SELECT sym_a, sym_b, n, rn, $wv AS wv FROM $alive c
           |  WHERE NOT EXISTS (SELECT 1 FROM $alive h WHERE h.rn < c.rn
           |    AND (h.sym_a IN (c.sym_a, c.sym_b) OR h.sym_b IN (c.sym_a, c.sym_b))))"""
      def waveAlive(prevAlive: String, prevSel: String, out: String) =
        s"""$out AS MATERIALIZED (
           |  SELECT c.* FROM $prevAlive c
           |  WHERE NOT EXISTS (SELECT 1 FROM $prevSel s
           |    WHERE s.sym_a IN (c.sym_a, c.sym_b) OR s.sym_b IN (c.sym_a, c.sym_b)))"""
      val waveCtes = (1 to waves).map { w =>
        val alive = if (w == 1) s"cand$r" else s"a${r}_$w"
        val aliveCte =
          if (w == 1) ""
          else waveAlive(if (w == 2) s"cand$r" else s"a${r}_${w - 1}",
                         s"s${r}_${w - 1}", alive) + ",\n"
        aliveCte + waveSel(alive, s"s${r}_$w", w)
      }.mkString(",\n")
      val waveUnion = (1 to waves).map(w => s"SELECT * FROM s${r}_$w")
        .mkString(" UNION ALL ")
      sb ++=
        s""",
           |cand$r AS MATERIALIZED (
           |  SELECT sym_a, sym_b, n,
           |         row_number() OVER (ORDER BY n DESC, sym_a, sym_b) AS rn
           |  FROM (
           |    SELECT ss[i.i] AS sym_a, ss[i.i + 1] AS sym_b,
           |           CAST(sum(freq) AS BIGINT) AS n FROM (
           |      SELECT string_split(substr(w, 2, length(w) - 2), '||') AS ss,
           |             freq FROM words${r - 1}) t
           |    CROSS JOIN LATERAL (SELECT unnest(range(1, len(ss))) AS i) i
           |    GROUP BY 1, 2)
           |  QUALIFY rn <= $BpePoolM),
           |$waveCtes,
           |sel$r AS MATERIALIZED (
           |  SELECT sym_a, sym_b, n, row_number() OVER (ORDER BY wv, rn) AS kn
           |  FROM ($waveUnion)
           |  QUALIFY kn <= $k),
           |slots$r AS MATERIALIZED (
           |  SELECT $slotCols
           |  FROM sel$r),
           |words$r AS MATERIALIZED (
           |  SELECT $applied AS w, freq FROM words${r - 1} CROSS JOIN slots$r)""".stripMargin
    }
    sb.result()
  }

  // ------------------------------------ #369-#371 rich-vocabulary BPE

  /** The rich-corpus derivation knobs. The driver corpus draws from a
    * ~30-word dictionary, so the real tables exhaust at 89 merges
    * (documented at [[bpeTrainBatchedDf]]) — the ≥1024-merge regime
    * the batched trainer was built for is unreachable on the raw text
    * at ANY scale factor. The rich seam derives a WIDE vocabulary from
    * the same committed tables, deterministically and identically in
    * both engines: every alphabetic token occurrence maps to
    * translate(substr(md5(word ':' doc_id%[[RichMod]]), 1, [[RichLen]]),
    * digits→'g'..'p') — ~30×[[RichMod]] distinct purely-alphabetic
    * pseudo-words of [[RichLen]] chars over a 16-letter alphabet, with
    * corpus-shaped frequencies (each pseudo-word inherits the mass of
    * its (word, doc-residue) slice). Early rounds are alphabet-bound
    * (16 starting symbols ⇒ ≤8 disjoint pairs per wave); capacity
    * grows with every merged symbol, so the schedule reaches the
    * regime by exhaustively measured round counts (RichSpec pins
    * ≥1024 realized merges at sf0.01). */
  private[graft] val RichMod = 97
  private[graft] val RichLen = 10

  /** Measured schedule (26-letter starting alphabet, see [[richWords]];
    * the data is committed and the loop deterministic, so these counts
    * are exact, not statistical): 64 rounds realize 1129 merges at
    * sf0.01, 1123 at sf0.001, 1090 at sf0.1 — ≥1024 at every committed
    * SF, pinned in RichBpeSpec. */
  private[graft] val RichRounds = 64
  private[graft] val RichGrid = Seq(0, 16, 32, 48, 64)

  /** The rich weighted bracketed vocabulary ([[baseWords]]'s rich
    * twin). Each pseudo-word is two translated md5 halves with
    * DISJOINT digit-target ranges so the starting alphabet is the full
    * 26 letters (one hex-translate alone yields 16 — and early-round
    * merge capacity is alphabet-bound at ~alphabet/2 pairs per wave,
    * which is what sets the round count the oracle chain must replay;
    * the chain's DuckDB bind cost is superlinear in rounds, measured
    * 50 s at 64 → 141 s at 80, so buying early capacity with a wider
    * alphabet is cheaper than buying rounds). */
  private[graft] def richWords(docs: DataFrame): DataFrame = {
    val key = concat(col("bw"), lit(":"),
      pmod(col("doc_id"), lit(RichMod.toLong)).cast("string"))
    val half = RichLen / 2
    docs
      .select(col("doc_id"),
              explode(graft.functions.TextFunctions.lowerTokens(col("text"))).as("bw"))
      .filter(length(col("bw")) >= 2 && col("bw").rlike("^[a-z]+$"))
      .select(concat(
        translate(substring(md5(key.cast("binary")), 1, half),
                  "0123456789", "ghijklmnop"),
        translate(substring(md5(concat(key, lit("~")).cast("binary")), 1, half),
                  "0123456789abcdef", "qrstuvwxyzklmnop")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("w"), col("freq"))
  }

  /** DuckDB mirror of [[richWords]] as a words0 CTE. */
  private def richWords0Cte: String = {
    val key = s"bw || ':' || CAST(doc_id % $RichMod AS VARCHAR)"
    val half = RichLen / 2
    s"""words0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS w, count(*) AS freq
       |  FROM (
       |    SELECT translate(substr(md5($key), 1, $half),
       |                     '0123456789', 'ghijklmnop') ||
       |           translate(substr(md5($key || '~'), 1, $half),
       |                     '0123456789abcdef', 'qrstuvwxyzklmnop') AS w
       |    FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS bw
       |          FROM documents)
       |    WHERE length(bw) >= 2 AND regexp_full_match(bw, '[a-z]+'))
       |  GROUP BY 1)""".stripMargin
  }

  /** The rich training run, memoized per (session, corpus): #369/#370/
    * #371 all read it, so one session pays the [[RichRounds]]-round
    * driver loop once. */
  private[graft] def richRun(s: SparkSession, dir: String): BatchedRun =
    graft.Caches.model(s, ("bpe_rich_run", dir)) {
      runBatched(richWords(Tables.documents(s, dir)), RichRounds, BpeBatchK,
                 RichGrid.toSet)
    }

  /** #369 bpe_train_rich: the batched trainer IN ITS DESIGN REGIME —
    * ≥1024 realized merges on committed data via the rich-vocabulary
    * seam. Same loop, same waved mutual-min rule, same oracle chain as
    * #364; only words0 differs. */
  def bpeTrainRich(s: SparkSession, dir: String): DataFrame =
    mergesDf(richRun(s, dir))

  def bpeTrainRichSql(): String =
    batchedReadoutSql(richWords0Cte, RichRounds, BpeBatchK, BpeBatchWaves)

  /** #370 bpe_vocab_rich: the #357 shippable-vocabulary rollup over
    * the RICH training run's final fused vocabulary — the symbol
    * inventory of a real-sized (1024+-merge) tokenizer, with
    * corpus-weighted occurrence counts. */
  def bpeVocabRich(s: SparkSession, dir: String): DataFrame =
    richRun(s, dir).words
      .select(col("freq"),
              explode(expr("split(substring(w, 2, length(w) - 2), '\\\\|\\\\|')"))
                .as("token"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .withColumn("is_merged", length(col("token")) > 1)
      .select(col("token"), col("n_occurrences"), col("is_merged"))
      .orderBy(col("token"))

  def bpeVocabRichSql(): String = {
    val chain = batchedChainSql(richWords0Cte, RichRounds, BpeBatchK,
                                BpeBatchWaves)
    s"""$chain
       |SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences,
       |       length(token) > 1 AS is_merged
       |FROM (
       |  SELECT unnest(string_split(substr(w, 2, length(w) - 2), '||')) AS token,
       |         freq
       |  FROM words$RichRounds)
       |GROUP BY token ORDER BY token""".stripMargin
  }

  /** #371 corpus_bpe_compression_rich: the #358 tokenizer-sizing curve
    * AT REAL VOCAB SCALE — snapshots on the [[RichGrid]] round grid
    * (n_merges = realized merges so far, the batched analog of #358's
    * merge-count axis), showing compression through the 1024-merge
    * regime instead of stopping at 64. */
  def bpeCompressionRich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    richRun(s, dir).snaps
      .toDF("n_rounds", "n_merges", "n_word_occurrences", "n_chars",
            "n_tokens")
      .select(col("n_rounds"), col("n_merges"), col("n_word_occurrences"),
              col("n_chars"), col("n_tokens"),
              r(col("n_tokens").cast("double") / col("n_word_occurrences"), 6)
                .as("tokens_per_word"),
              r(col("n_chars").cast("double") / col("n_tokens"), 6)
                .as("chars_per_token"))
      .orderBy(col("n_rounds"))
  }

  def bpeCompressionRichSql(): String = {
    val chain = batchedChainSql(richWords0Cte, RichRounds, BpeBatchK,
                                BpeBatchWaves)
    val snaps = RichGrid.map { g =>
      val nm =
        if (g == 0) "CAST(0 AS INT)"
        else {
          val u = (1 to g).map(r => s"SELECT sym_a FROM sel$r")
            .mkString(" UNION ALL ")
          s"(SELECT CAST(count(*) AS INT) FROM ($u))"
        }
      s"""SELECT CAST($g AS INT) AS n_rounds, $nm AS n_merges,
         |       CAST(sum(freq) AS BIGINT) AS n_word_occurrences,
         |       CAST(sum(freq * length(replace(w, '|', ''))) AS BIGINT)
         |         AS n_chars,
         |       CAST(sum(freq * ((length(w) - length(replace(w, '|', ''))) // 2))
         |         AS BIGINT) AS n_tokens
         |FROM words$g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$chain,
       |snaps AS (
       |$snaps)
       |SELECT n_rounds, n_merges, n_word_occurrences, n_chars, n_tokens,
       |       ${graft.Parity.sqlR("CAST(n_tokens AS DOUBLE) / n_word_occurrences", 6)}
       |         AS tokens_per_word,
       |       ${graft.Parity.sqlR("CAST(n_chars AS DOUBLE) / n_tokens", 6)}
       |         AS chars_per_token
       |FROM snaps ORDER BY n_rounds""".stripMargin
  }

  def bpeTrainMergesSql(steps: Int = BpeSteps): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH words0 AS MATERIALIZED (
         |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS w, count(*) AS freq
         |  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
         |        FROM documents)
         |  WHERE length(w) >= 2 AND regexp_full_match(w, '[a-z]+')
         |  GROUP BY 1)""".stripMargin
    for (k <- 1 to steps) {
      sb ++=
        s""",
           |pairs$k AS MATERIALIZED (
           |  SELECT ss[i.i] AS sym_a, ss[i.i + 1] AS sym_b, freq FROM (
           |    SELECT string_split(substr(w, 2, length(w) - 2), '||') AS ss,
           |           freq FROM words${k - 1}) t
           |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(ss))) AS i) i),
           |win$k AS MATERIALIZED (
           |  SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS n
           |  FROM pairs$k GROUP BY 1, 2 ORDER BY n DESC, sym_a, sym_b LIMIT 1),
           |words$k AS MATERIALIZED (
           |  SELECT replace(w,
           |           '|' || (SELECT sym_a FROM win$k) || '||' || (SELECT sym_b FROM win$k) || '|',
           |           '|' || (SELECT sym_a FROM win$k) || (SELECT sym_b FROM win$k) || '|') AS w,
           |         freq
           |  FROM words${k - 1})""".stripMargin
    }
    sb ++= "\n" + (1 to steps)
      .map(k => s"SELECT CAST($k AS INT) AS step, sym_a, sym_b, n FROM win$k")
      .mkString("\nUNION ALL\n")
    sb ++= "\nORDER BY step"
    sb.result()
  }

  // ------------------------------------- #163 corpus_tokenizer_fertility

  /** #163 corpus_tokenizer_fertility: per-language tokenizer-economics
    * table — docs, chars, UTF-8 bytes, whitespace tokens, word-regex
    * tokens (#21's two tokenizations, rolled up), and the ratios that
    * drive tokenizer and mixture decisions: chars/token and bytes/token
    * (FERTILITY — how many units one token buys per language; the
    * metric that exposes a tokenizer starving non-Latin scripts) and
    * tokens/doc. Read next to #77's token budget: budget says how much
    * to take, fertility says what a "token" costs per language.
    *
    * Scale shape: one map-only scan computing per-doc counters (the
    * codegen'd regexes), one |langs|-key rollup of integer-exact sums;
    * ratios are computed on the model-sized rollup. */
  def corpusTokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).as("chars"),
              octet_length(col("text")).as("bytes"),
              size(graft.functions.TextFunctions.tokens(col("text"))).as("ws_toks"),
              regexp_count(col("text"), lit("[a-z0-9]+")).as("word_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("chars")).as("n_chars"), sum(col("bytes")).as("n_bytes"),
           sum(col("ws_toks")).as("n_ws_tokens"),
           sum(col("word_toks")).as("n_word_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_bytes"),
              col("n_ws_tokens"), col("n_word_tokens"),
              r(col("n_chars") / col("n_ws_tokens"), 6).as("chars_per_token"),
              r(col("n_bytes") / col("n_ws_tokens"), 6).as("bytes_per_token"),
              r(col("n_ws_tokens") / col("n_docs"), 6).as("tokens_per_doc"))
      .orderBy(col("lang"))

  val corpusTokenizerFertilitySql: String =
    s"""WITH d AS (
       |  SELECT lang, length(text) AS chars,
       |         octet_length(encode(text)) AS bytes,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS ws_toks,
       |         len(regexp_extract_all(text, '[a-z0-9]+')) AS word_toks
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(chars) AS BIGINT) AS n_chars,
       |       CAST(sum(bytes) AS BIGINT) AS n_bytes,
       |       CAST(sum(ws_toks) AS BIGINT) AS n_ws_tokens,
       |       CAST(sum(word_toks) AS BIGINT) AS n_word_tokens,
       |       ${sqlR("CAST(sum(chars) AS DOUBLE) / sum(ws_toks)", 6)} AS chars_per_token,
       |       ${sqlR("CAST(sum(bytes) AS DOUBLE) / sum(ws_toks)", 6)} AS bytes_per_token,
       |       ${sqlR("CAST(sum(ws_toks) AS DOUBLE) / count(*)", 6)} AS tokens_per_doc
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------- #175 text_readability

  /** #175 text_readability: Flesch reading ease + Flesch–Kincaid grade
    * per document, with the standard proxy counters (words =
    * whitespace tokens, sentences = terminal-punctuation runs floored
    * at 1, syllables = vowel-group runs — the classic implementable
    * stand-in for dictionary syllabification). The readability axis of
    * the quality battery: #22/#24j gate on surface ratios, #24g on LM
    * fit; curation mixes (textbook-style vs web-style corpora) select
    * on THIS. Constants (206.835, 1.015, 84.6 / 0.39, 11.8, 15.59) are
    * the published Flesch/Kincaid coefficients, inlined as literals in
    * both engines.
    *
    * Scale shape: one map-only scan of codegen'd regex counters; no
    * joins, no shuffle. */
  /** The #175 Flesch proxy counters over a `text` column, as the single
    * Spark/SQL pair — any operator auditing "flesch" (#199) must read
    * THESE so it measures the same statistic #175 reports. */
  private[graft] def fleschWords: org.apache.spark.sql.Column =
    size(graft.functions.TextFunctions.tokens(col("text")))
  private[graft] def fleschSentences: org.apache.spark.sql.Column =
    greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
  private[graft] def fleschSyllables: org.apache.spark.sql.Column =
    regexp_count(lower(col("text")), lit("[aeiouy]+"))

  /** Flesch reading ease from the three counters, 6dp-rounded. */
  private[graft] def fleschEase(w: org.apache.spark.sql.Column, se: org.apache.spark.sql.Column,
      sy: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    r(lit(206.835) - lit(1.015) * (w / se) - lit(84.6) * (sy / w), 6)

  private[graft] val fleschWordsSql = "len(regexp_split_to_array(trim(text), '\\s+'))"
  private[graft] val fleschSentencesSql =
    "GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))"
  private[graft] val fleschSyllablesSql =
    "len(regexp_extract_all(lower(text), '[aeiouy]+'))"

  private[graft] def fleschEaseSql(w: String, se: String, sy: String): String =
    sqlR(s"206.835 - 1.015 * (($w) / ($se)) - 84.6 * (($sy) / ($w))", 6)

  def textReadability(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), fleschWords.as("n_words"),
              fleschSentences.as("n_sentences"), fleschSyllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
              fleschEase(col("n_words"), col("n_sentences"), col("n_syllables"))
                .as("flesch_ease"),
              r(lit(0.39) * (col("n_words") / col("n_sentences"))
                + lit(11.8) * (col("n_syllables") / col("n_words")) - lit(15.59), 6)
                .as("fk_grade"))
  }

  val textReadabilitySql: String = {
    s"""WITH c AS (
       |  SELECT doc_id, $fleschWordsSql AS n_words,
       |         $fleschSentencesSql AS n_sentences, $fleschSyllablesSql AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |       ${fleschEaseSql("n_words", "n_sentences", "n_syllables")} AS flesch_ease,
       |       ${sqlR("0.39 * (n_words / n_sentences) + 11.8 * (n_syllables / n_words) - 15.59", 6)} AS fk_grade
       |FROM c WHERE n_words > 0""".stripMargin
  }

  // ------------------------------------- #184 text_boilerplate_share

  private[graft] val BoilerplateMinDf = 4

  /** #184 text_boilerplate_share: per-document COMMONNESS attribution —
    * the fraction of a doc's distinct 3-gram shingles that are
    * corpus-frequent (document frequency ≥ 4): headers, footers,
    * license blocks, navigation chrome. The mirror of #131 (novelty
    * credits a doc for shingles it introduced FIRST; this debits it for
    * shingles everyone has — a late copy of a template scores low
    * novelty AND high boilerplate, original-but-quoted text scores high
    * novelty and high boilerplate). Curation drops or trims high-share
    * docs before token budgeting so chrome doesn't spend the budget.
    *
    * Scale shape: the #131 contract — a DF aggregate over the inverted
    * index (never a self-join, so no stop-shingle cap is needed), one
    * membership join back, one per-doc rollup. */
  def textBoilerplateShare(s: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.shingleTable(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("sh")).as("s")).distinct()
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("df") >= BoilerplateMinDf, 1L).otherwise(0L))
             .as("n_common"))
      .withColumn("boilerplate_share", r(col("n_common") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  val textBoilerplateShareSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |           unnest(CASE WHEN len(t) >= 3 THEN
       |             list_transform(range(1, len(t) - 1),
       |                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |           ELSE [] END) AS s
       |    FROM toks)),
       |dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
       |SELECT sh.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN d.df >= $BoilerplateMinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |       ${sqlR(s"sum(CASE WHEN d.df >= $BoilerplateMinDf THEN 1 ELSE 0 END) / count(*)", 6)} AS boilerplate_share
       |FROM sh JOIN dfc d ON sh.s = d.s
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
