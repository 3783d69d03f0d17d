package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.functions.TextFunctions.lowerTokens
import graft.sources.Tables

/** #294 dedup_substring — EXACT substring deduplication, the production
  * stage between exact-document dedup (#25) and MinHash near-dup (#27)
  * in an LLM curation pipeline (Lee et al. 2021, "Deduplicating
  * Training Data Makes Language Models Better" — their ExactSubstr:
  * a span repeated verbatim across documents is memorization fuel even
  * when the documents as wholes are unrelated).
  *
  * Semantics: a token position is DUPLICATED when its k-token gram
  * (k = 20, matching #24i's passage width) appears verbatim in at
  * least one OTHER document. The per-doc report merges the duplicated
  * positions' covered intervals [off, off+k-1] into maximal spans
  * (interval union — a token is removable iff ≥1 cross-doc duplicated
  * gram covers it) and counts removable tokens. Unlike #24i
  * text_passage_dedup, whose fixed 20-token chunk grid only sees
  * repeats ALIGNED to chunk boundaries, the rolling gram index catches
  * repeats at ARBITRARY offsets — a span straddling a chunk boundary
  * is invisible to #24i and found here (pinned by SubstringDedupSpec).
  *
  * Spark-first plan, no pair join anywhere: the reference formulation
  * (suffix array over the concatenated corpus) is a global sort-heavy
  * structure; the relational equivalent is
  *   1. map-only rolling gram table (doc_id, off, h) — one explode per
  *      doc, O(tokens) rows;
  *   2. gram-frequency rollup `groupBy(h) → countDistinct(doc_id) ≥ 2`
  *      — partial-aggregated, no postings self-join (this is where
  *      #26's DF-cap concern dissolves: marking positions needs only
  *      each gram's doc-frequency, never the df² pair expansion, so
  *      corpus-common grams cost one counter, not a quadratic join);
  *   3. shuffle join grams→dup-hashes on h (dup set is unbounded — a
  *      boilerplate-heavy corpus can mark most positions — so no
  *      broadcast, same reasoning as #24i);
  *   4. per-doc interval merge: one window (partitionBy doc_id), state
  *      bounded by doc length — the gaps-and-islands break fires only
  *      when the next duplicated offset leaves an uncovered token
  *      (offset gap > k), i.e. true interval union including
  *      adjacency: spans are MAXIMAL CONTIGUOUS removable runs
  *      (offsets i and i+2 overlap in tokens for any k ≥ 3; offsets
  *      i and i+k touch end-to-start — both merge; property-pinned
  *      against a plain-Scala connected-components reference).
  * Gram key = a PAIR of independent 61-bit rolling polynomial hashes
  * over per-token md5 base hashes (122-bit effective — like the md5
  * key it replaced, collision-free for any realistic corpus; a single
  * 61-bit key would start false-marking near 2^30 distinct grams),
  * computed by the native [[graft.functions.RollingGramHashes]]
  * expression in ONE O(n) pass per document: one md5 per TOKEN plus an
  * O(1) roll per position, where the previous `transform(sequence(…),
  * i → md5(concat_ws(slice(w, i, k))))` form joined and digested k
  * tokens at every position — O(n·k) map cost on the most
  * data-intensive pipeline stage (the round-9 verdict's named lever).
  */
object SubstringDedup {

  /** Persisted (doc_id, pos, h1, h2) rolling-gram table, memoized per
    * input plan — #294, #297's ladder and #300's pair search share one
    * evaluation of the corpus-wide gram hashing (the shingleTable
    * discipline). */
  private[graft] def gramTable(docs: DataFrame, k: Int): DataFrame =
    graft.Caches.persisted(docs.sparkSession,
        ("substr_grams_v2", k, docs.semanticHash())) {
      graft.functions.GraftFunctions.ensure(docs.sparkSession)
      // pre-repartition before the rolling hash + position explode —
      // the fan inherits the scan's (possibly single-split)
      // partitioning, and the persisted gram table keeps the spread
      // for every consumer (see Round9Ops21.bootstrapRegisters)
      val parts = docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt
      docs.select(col("doc_id"), col("text")).repartition(parts)
        .select(col("doc_id"), lowerTokens(col("text")).as("w"))
        .select(col("doc_id"),
                posexplode(expr(s"rolling_gram_hashes(w, $k)"))
                  .as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"),
                col("g.h1").as("h1"), col("g.h2").as("h2"))
    }

  /** DataFrame-generic core: expects canonical (doc_id, text). */
  def dedupSubstringDf(docs: DataFrame, k: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"), lowerTokens(col("text")).as("w"))
    val grams = gramTable(docs, k)
    val dup = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("h1"), col("h2"))
    val marked = grams.join(dup, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = marked
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      // interval-union break: the previous gram covers tokens up to
      // prev+k-1, so coverage stays contiguous while the next offset is
      // at most prev+k (overlapping OR adjacent); a new span starts only
      // past that — spans are maximal contiguous removable runs
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + lit(k), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
           count(lit(1)).as("npos"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sum(col("npos")).as("n_dup_grams"),
           count(lit(1)).as("n_spans"),
           sum(col("e") - col("s") + lit(k)).as("dup_tokens"))
    perDoc
      .join(toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens")),
            "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
              col("n_spans"), col("dup_tokens"),
              r(col("dup_tokens").cast("double") / col("n_tokens"), 6)
                .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  def dedupSubstring(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    dedupSubstringDf(Tables.documents(s, dir), k)

  /** #301 corpus_span_removal_plan: the REMOVAL POLICY on top of
    * #294's marks — Lee et al.'s headline statistic ("N% of tokens
    * removed") needs a keep rule, not just marks: under KEEP-FIRST,
    * each duplicated gram's occurrences in its MINIMUM doc id are
    * canonical (kept); every occurrence in any other doc is removable.
    * Per source: flagged docs, total tokens, dup-span tokens under
    * mark-all (#294's union — the upper bound) and under keep-first
    * (what a dedup pass would actually delete), and the keep-first
    * savings fraction. mark-all ≥ keep-first always (keep-first marks
    * a subset of positions; interval union is monotone — spec-pinned).
    * Scale shape: one extra min(doc_id) alongside the #294 gram
    * rollup, the same position join, and a second islands window over
    * the keep-first subset; all other costs shared with #294 via the
    * persisted gram table. */
  def corpusSpanRemovalPlan(s: SparkSession, dir: String,
                            k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = gramTable(docs, k)
    val gstats = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"),
           min(col("doc_id")).as("canon_doc"))
      .filter(col("df") >= 2)
      .select(col("h1"), col("h2"), col("canon_doc"))
    val marked = grams.join(gstats, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"),
              (col("doc_id") =!= col("canon_doc")).as("removable"))
    def unionTokens(pos: DataFrame, name: String): DataFrame = {
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      pos
        .withColumn("prev", lag(col("pos"), 1).over(byPos))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") > col("prev") + lit(k), 1)
            .otherwise(0))
        .withColumn("grp", sum(col("brk"))
          .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("grp"))
        .agg((max(col("pos")) - min(col("pos")) + lit(k)).as("span_tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("span_tok")).as(name))
    }
    val markAll = unionTokens(marked.select(col("doc_id"), col("pos")), "markall_tok")
    val keepFirst = unionTokens(
      marked.filter(col("removable")).select(col("doc_id"), col("pos")),
      "keepfirst_tok")
    val toks = docs.select(col("doc_id"), col("source"),
      size(lowerTokens(col("text"))).cast("long").as("n_tok"))
    toks.join(markAll, Seq("doc_id"), "inner")
      .join(keepFirst, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_flagged"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("markall_tok")).as("markall_dup_tokens"),
           sum(coalesce(col("keepfirst_tok"), lit(0L))).as("keepfirst_dup_tokens"))
      .withColumn("keepfirst_savings_frac",
        r(col("keepfirst_dup_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Oracle: #294's CTE chain with the canon-doc column, both union
    * flavors replayed, per-source rollup. */
  def corpusSpanRemovalPlanSql(k: Int = 20): String = {
    def union(src: String, name: String) =
      s"""${name}_brks AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k
         |              THEN 1 ELSE 0 END AS brk
         |  FROM $src),
         |${name}_grps AS (
         |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM ${name}_brks),
         |${name}_spans AS (
         |  SELECT doc_id, grp, max(pos) - min(pos) + $k AS span_tok
         |  FROM ${name}_grps GROUP BY 1, 2),
         |$name AS (
         |  SELECT doc_id, CAST(sum(span_tok) AS BIGINT) AS tok
         |  FROM ${name}_spans GROUP BY 1)"""
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS w
       |  FROM documents),
       |${gramsSql(k)},
       |gstats AS (
       |  SELECT h1, h2, min(doc_id) AS canon_doc FROM grams
       |  GROUP BY h1, h2 HAVING count(DISTINCT doc_id) >= 2),
       |marked AS (
       |  SELECT g.doc_id, g.pos, g.doc_id <> s.canon_doc AS removable
       |  FROM grams g JOIN gstats s USING (h1, h2)),
       |ma_src AS (SELECT doc_id, pos FROM marked),
       |kf_src AS (SELECT doc_id, pos FROM marked WHERE removable),
       |${union("ma_src", "markall")},
       |${union("kf_src", "keepfirst")}
       |SELECT t.source, count(*) AS n_docs_flagged,
       |       CAST(sum(len(t.w)) AS BIGINT) AS total_tokens,
       |       CAST(sum(m.tok) AS BIGINT) AS markall_dup_tokens,
       |       CAST(sum(coalesce(kf.tok, 0)) AS BIGINT) AS keepfirst_dup_tokens,
       |       ${sqlR("CAST(sum(coalesce(kf.tok, 0)) AS DOUBLE) / sum(len(t.w))", 6)} AS keepfirst_savings_frac
       |FROM toks t
       |JOIN markall m USING (doc_id)
       |LEFT JOIN keepfirst kf USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** #355 corpus_apply_removal: MATERIALIZE the cleaned corpus — the
    * step a pretraining pipeline actually runs, closing the loop the
    * ladder only accounted for: #294 marks, #301 plans (reports what
    * keep-first WOULD delete), this EMITS the rewritten corpus — per
    * doc, the surviving token stream after deleting every keep-first
    * removable span (occurrences outside the gram's minimum doc id,
    * interval-unioned exactly as #301's keepfirst flavor). Identity
    * pinned per doc: tokens_out = n_tokens − keepfirst span tokens
    * (SubstringDedupSpec reconciles against #301's per-source sums).
    *
    * Scale shape: shares the persisted gram table and #301's rollup;
    * the covered-position explode is O(removed tokens); the rebuild
    * collects per-doc (idx, token) lists — state bounded by document
    * length, the same doc-granularity class as every text operator —
    * and docs with nothing removed pass through via the left join. */
  def corpusApplyRemoval(s: SparkSession, dir: String,
                         k: Int = 20): DataFrame =
    applyRemovalDf(Tables.documents(s, dir), k)

  /** DataFrame-generic core: expects canonical (doc_id, text). */
  private[graft] def applyRemovalDf(docs: DataFrame, k: Int): DataFrame = {
    val grams = gramTable(docs, k)
    val gstats = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"),
           min(col("doc_id")).as("canon_doc"))
      .filter(col("df") >= 2)
      .select(col("h1"), col("h2"), col("canon_doc"))
    val rem = grams.join(gstats, Seq("h1", "h2"))
      .filter(col("doc_id") =!= col("canon_doc"))
      .select(col("doc_id"), col("pos"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = rem
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + lit(k), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("s"), col("e") + lit(k - 1))).as("idx"))
    val toks = docs.select(col("doc_id"),
      posexplode(lowerTokens(col("text"))).as(Seq("idx", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("idx"), col("tok")))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("tokens_out"),
              array_join(expr("transform(ts, x -> x.tok)"), " ").as("text_out"))
    docs.select(col("doc_id"),
        size(lowerTokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("tokens_out"), lit(0L)).as("tokens_out"),
              coalesce(col("text_out"), lit("")).as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the #301 keep-first span CTEs, then the complement —
    * covered positions anti-joined out, surviving tokens re-joined in
    * index order. */
  def corpusApplyRemovalSql(k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
       |${gramsSql(k)},
       |gstats AS (
       |  SELECT h1, h2, min(doc_id) AS canon_doc FROM grams
       |  GROUP BY h1, h2 HAVING count(DISTINCT doc_id) >= 2),
       |rem AS (
       |  SELECT g.doc_id, g.pos FROM grams g JOIN gstats s USING (h1, h2)
       |  WHERE g.doc_id <> s.canon_doc),
       |brks AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k
       |              THEN 1 ELSE 0 END AS brk
       |  FROM rem),
       |grps AS (
       |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brks),
       |spans AS (
       |  SELECT doc_id, grp, min(pos) AS s, max(pos) AS e
       |  FROM grps GROUP BY 1, 2),
       |covered AS (
       |  SELECT doc_id, CAST(x AS INT) AS idx
       |  FROM spans, unnest(range(s, e + $k)) c(x)),
       |tok2 AS (
       |  SELECT doc_id, CAST(i AS INT) AS idx, w[CAST(i AS INT)] AS tok
       |  FROM toks, unnest(range(1, len(w) + 1)) u(i)),
       |kept AS (
       |  SELECT t.doc_id, t.idx, t.tok
       |  FROM tok2 t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.idx = t.idx
       |  WHERE c.idx IS NULL),
       |agg AS (
       |  SELECT doc_id, count(*) AS tokens_out,
       |         string_agg(tok, ' ' ORDER BY idx) AS text_out
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.tokens_out, 0) AS BIGINT) AS tokens_out,
       |       coalesce(a.text_out, '') AS text_out
       |FROM toks t LEFT JOIN agg a USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Shared oracle fragment mirroring
    * [[graft.functions.RollingGramHashes]]: per-token 60-bit md5 base
    * hashes (one digest per token), then the two 61-bit polynomial
    * gram hashes per position from the embedded power ladder — the
    * ladder literals come from the SAME powmod the Spark expression
    * uses, so the convention has one source of truth. Expects a `toks`
    * CTE with (doc_id, …, w). Shared with the CDC chunker (#356). */
  private[operators] def gramsSql(k: Int): String = {
    import graft.functions.RollingGramHashes.{B1, B2, M, powLadder}
    def ladder(b: Long) =
      powLadder(b, k).map(v => s"$v::HUGEINT").mkString("[", ", ", "]")
    def h(b: Long, name: String) =
      s"CAST(list_reduce(list_transform(range(0, $k), j -> " +
        s"(t[CAST(i + j AS INT)]::HUGEINT * ${ladder(b)}[CAST(j + 1 AS INT)]) " +
        s"% $M::HUGEINT), (a, b) -> (a + b) % $M::HUGEINT) AS BIGINT) AS $name"
    s"""th AS (
       |  SELECT *, list_transform(w, x ->
       |    ('0x' || substr(md5(x), 1, 15))::BIGINT) AS t
       |  FROM toks),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |         ${h(B1, "h1")},
       |         ${h(B2, "h2")}
       |  FROM th, unnest(range(1, greatest(len(w) - ${k - 2}, 1))) r(i))""".stripMargin
  }

  /** Document-frequency cap for #300's postings self-join — the #26
    * discipline: an uncapped inverted index lets ONE corpus-common gram
    * generate df² pairs; with the cap, candidates are bounded by
    * maxDf · |postings|, linear in corpus size. Grams above the cap are
    * boilerplate by definition (their repeats are better handled by
    * #294's per-doc report, which has no cap and no pair join). */
  private[graft] val PairsMaxDf = 16

  /** #300 dedup_substring_pairs: WHO shares long exact runs with whom —
    * the pair-level companion to #294's per-doc report (Lee et al.'s
    * cluster view). Postings of df-capped duplicated grams self-join on
    * the hash; an aligned pair of occurrences lives on a DIAGONAL
    * (pos_a − pos_b constant: consecutive aligned grams are the same
    * copied run), so per (pair, diagonal) a gaps-and-islands window
    * (break at offset gap > k, the #294 adjacency-merge rule) merges
    * aligned grams into maximal shared runs. Report per doc pair:
    * aligned gram count, run count, longest shared run in tokens.
    * Scale shape: the capped self-join is linear in postings; the
    * window partitions on (pair, diagonal) — state bounded by the
    * shorter doc's length. */
  def dedupSubstringPairsDf(docs: DataFrame, k: Int = 20,
                            maxDf: Int = PairsMaxDf): DataFrame = {
    val grams = gramTable(docs, k)
    val keep = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("h1"), col("h2"))
    val posting = grams.join(keep, Seq("h1", "h2"))
    val pairs = posting.as("a").join(posting.as("b"),
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
              col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
    val byDiag = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("prev", lag(col("pos_a"), 1).over(byDiag))
      .withColumn("brk",
        when(col("prev").isNull || col("pos_a") > col("prev") + lit(k), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk"))
        .over(byDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("pos_a")).as("s"), max(col("pos_a")).as("e"),
           count(lit(1)).as("nal"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("nal")).as("n_aligned_grams"),
           count(lit(1)).as("n_runs"),
           max(col("e") - col("s") + lit(k)).cast("long")
             .as("longest_run_tokens"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def dedupSubstringPairs(s: SparkSession, dir: String, k: Int = 20,
                          maxDf: Int = PairsMaxDf): DataFrame =
    dedupSubstringPairsDf(Tables.documents(s, dir), k, maxDf)

  /** Oracle: the same index → cap → diagonal-islands → pair rollup. */
  def dedupSubstringPairsSql(k: Int = 20, maxDf: Int = PairsMaxDf): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
       |${gramsSql(k)},
       |keep AS (
       |  SELECT h1, h2 FROM grams GROUP BY h1, h2
       |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $maxDf),
       |posting AS (
       |  SELECT g.doc_id, g.pos, g.h1, g.h2
       |  FROM grams g JOIN keep USING (h1, h2)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
       |         a.pos - b.pos AS diag
       |  FROM posting a JOIN posting b
       |    ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
       |brks AS (
       |  SELECT id_a, id_b, diag, pos_a,
       |         CASE WHEN lag(pos_a) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) IS NULL
       |                OR pos_a > lag(pos_a) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) + $k
       |              THEN 1 ELSE 0 END AS brk
       |  FROM pairs),
       |grps AS (
       |  SELECT id_a, id_b, diag, pos_a,
       |         sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a
       |           ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brks),
       |runs AS (
       |  SELECT id_a, id_b, diag, grp, min(pos_a) AS s, max(pos_a) AS e,
       |         count(*) AS nal
       |  FROM grps GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, CAST(sum(nal) AS BIGINT) AS n_aligned_grams,
       |       count(*) AS n_runs,
       |       CAST(max(e - s + $k) AS BIGINT) AS longest_run_tokens
       |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #297 corpus_dedup_ladder: the MARGINAL-catch report over the now
    * complete dedup ladder — exact (#25) → substring (#294) → MinHash
    * near-dup (#27) → semantic (#31f). #128's funnel reports pipeline
    * SURVIVAL under a fixed drop rule; this reports what each rung
    * UNIQUELY catches, per source: a doc counts at the FIRST rung that
    * flags it (exact dup; substring-affected but not an exact dup;
    * τ-near-dup caught by neither; semantically redundant only). The
    * table that justifies running the expensive later rungs at all —
    * if m_near ≈ 0 after substring, the banded join can be skipped for
    * that source. Composes the four already-scale-shaped operators and
    * adds only id-keyed left joins + one |sources| rollup. */
  def corpusDedupLadder(s: SparkSession, dir: String,
                        tau: Double = 0.3): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
    val keep = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val flaggedEx = base.join(keep, "fp")
      .select(col("doc_id"), col("source"),
              (col("doc_id") =!= col("keep_id")).as("is_exact"))
    val sub = dedupSubstring(s, dir)
      .select(col("doc_id")).withColumn("is_sub", lit(1))
    val pairs = LshDedup.dedupMinhash(s, dir, tau)
    val near = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .distinct().withColumn("is_near", lit(1))
    val sem = Similarity.embSemanticDedup(s, dir)
      .filter(!col("kept"))
      .select(col("vec_id").as("doc_id")).withColumn("is_sem", lit(1))
    flaggedEx
      .join(sub, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_exact"), 1L).otherwise(0L)).as("m_exact"),
           sum(when(!col("is_exact") && col("is_sub").isNotNull, 1L)
                 .otherwise(0L)).as("m_substring"),
           sum(when(!col("is_exact") && col("is_sub").isNull &&
                    col("is_near").isNotNull, 1L).otherwise(0L)).as("m_near"),
           sum(when(!col("is_exact") && col("is_sub").isNull &&
                    col("is_near").isNull && col("is_sem").isNotNull, 1L)
                 .otherwise(0L)).as("m_semantic"))
      .withColumn("n_clean",
        col("n_docs") - col("m_exact") - col("m_substring") -
          col("m_near") - col("m_semantic"))
      .withColumn("flagged_share",
        r((col("n_docs") - col("n_clean")).cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** Oracle: the four rungs' own oracle SQLs composed as CTE
    * subqueries (the #128 pattern), then the identical first-rung
    * attribution rollup. */
  def corpusDedupLadderSql(tau: Double = 0.3): String =
    s"""WITH ex AS (
       |  SELECT doc_id, source,
       |         doc_id <> min(doc_id) OVER (
       |           PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
       |         ) AS is_exact
       |  FROM documents),
       |sub AS (SELECT doc_id FROM (
       |${dedupSubstringSql()}
       |) subq),
       |mh AS (SELECT id_a, id_b FROM (
       |${LshDedup.dedupMinhashSql(tau)}
       |) mhq),
       |near AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT id_a AS doc_id FROM mh UNION ALL SELECT id_b FROM mh)),
       |sem AS (SELECT vec_id AS doc_id FROM (
       |${Similarity.embSemanticDedupSql()}
       |) semq WHERE NOT kept),
       |flagged AS (
       |  SELECT e.source, e.is_exact,
       |         s.doc_id IS NOT NULL AS is_sub,
       |         n.doc_id IS NOT NULL AS is_near,
       |         m.doc_id IS NOT NULL AS is_sem
       |  FROM ex e
       |  LEFT JOIN sub s ON e.doc_id = s.doc_id
       |  LEFT JOIN near n ON e.doc_id = n.doc_id
       |  LEFT JOIN sem m ON e.doc_id = m.doc_id),
       |rolled AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS m_exact,
       |         CAST(sum(CASE WHEN NOT is_exact AND is_sub THEN 1 ELSE 0 END) AS BIGINT) AS m_substring,
       |         CAST(sum(CASE WHEN NOT is_exact AND NOT is_sub AND is_near THEN 1 ELSE 0 END) AS BIGINT) AS m_near,
       |         CAST(sum(CASE WHEN NOT is_exact AND NOT is_sub AND NOT is_near AND is_sem THEN 1 ELSE 0 END) AS BIGINT) AS m_semantic
       |  FROM flagged GROUP BY 1)
       |SELECT source, n_docs, m_exact, m_substring, m_near, m_semantic,
       |       n_docs - m_exact - m_substring - m_near - m_semantic AS n_clean,
       |       ${sqlR("CAST(m_exact + m_substring + m_near + m_semantic AS DOUBLE) / n_docs", 6)} AS flagged_share
       |FROM rolled ORDER BY source""".stripMargin

  /** Oracle: CTE replay of the same index → mark → interval-merge →
    * per-doc rollup (DuckDB lateral via unnest(range), same md5 keys,
    * same gap > k adjacency-merging break). */
  def dedupSubstringSql(k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
       |${gramsSql(k)},
       |dup AS (
       |  SELECT h1, h2 FROM grams
       |  GROUP BY h1, h2 HAVING count(DISTINCT doc_id) >= 2),
       |marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h1, h2)),
       |brks AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k
       |              THEN 1 ELSE 0 END AS brk
       |  FROM marked),
       |grps AS (
       |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM brks),
       |spans AS (
       |  SELECT doc_id, grp, min(pos) AS s, max(pos) AS e, count(*) AS npos
       |  FROM grps GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, CAST(sum(npos) AS BIGINT) AS n_dup_grams,
       |         count(*) AS n_spans,
       |         CAST(sum(e - s + $k) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY 1)
       |SELECT p.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, p.n_dup_grams,
       |       p.n_spans, p.dup_tokens,
       |       ${sqlR(s"p.dup_tokens / CAST(len(t.w) AS DOUBLE)", 6)} AS dup_frac
       |FROM per_doc p JOIN toks t USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin
}
