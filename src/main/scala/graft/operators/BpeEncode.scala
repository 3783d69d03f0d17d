package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** #295 bpe_encode / #296 corpus_bpe_fertility — APPLYING the trained
  * tokenizer, closing the BPE chain: #112 counts one round's pairs,
  * #153 trains the merge table, these ENCODE the corpus with it and
  * re-base the token-economics views on REAL BPE counts instead of the
  * whitespace proxy (#77's budget and #163's fertility both count
  * ws-tokens; a tokenizer decision needs the counts the model will
  * actually see — Sennrich et al. 2016).
  *
  * Encoding is VOCABULARY-SCALABLE: each DISTINCT word is encoded
  * once (the word table is Zipf-bounded — "the" is fused once, not
  * once per occurrence), in #153's per-symbol bracketed form
  * (`|a||b||c|`) where fusing merge (a,b) IS
  * `replace('|a||b|' → '|ab|')` — left-to-right non-overlapping in
  * both engines, the exact greedy fuse rule #153 pins, collision-free
  * at any merge depth because both symbols are delimited on both
  * sides. The resulting word → token-count map joins back onto the
  * corpus tokens ([[graft.Hints.keyDim]]-gated), so per-doc encode
  * cost is a word lookup — independent of vocabulary size and merge
  * count (the previous whole-doc form paid k literal replaces per
  * DOCUMENT, O(|vocab|) string passes each, and could never reach a
  * real vocab). Unseen words (possible only on a live feed — the
  * batch map covers its own corpus) fall back to length(w): unmerged
  * symbols are characters, the exact BPE base case.
  *
  * The merge table is a driver-side model artifact (#153's collect —
  * bounded by contract), memoized per (session, dir, steps) in
  * [[graft.Caches.model]] so the encode queries and the trainer share
  * one training run per session.
  * Scale shape: training per round is a vocab-sized rollup + 1-row
  * collect; encoding is one vocab-sized fused-replace pass + one
  * token⋈word-map join + per-doc rollup; the fertility readout is a
  * |langs|-key rollup of integer-exact sums. */
object BpeEncode {

  /** #153's trained merge table, in merge order, memoized. With the
    * per-symbol bracketed encoding (`|a||b|` → `|ab|`, see
    * [[TextOps2.bpeTrainMerges]]) the literal replace IS the exact
    * per-symbol greedy fuse for ANY merge table — property-pinned in
    * SubstringPropertySpec, including right-compound merges. */
  private[graft] def trainedMerges(s: SparkSession, dir: String,
                                   steps: Int): Seq[(String, String)] =
    graft.Caches.model(s, ("bpe_merges", dir, steps)) {
      TextOps2.bpeTrainMerges(s, dir, steps).collect()
        .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    }

  /** The word → BPE-token-count map: DISTINCT words of the corpus,
    * each bracket-encoded and fused through the k merges once, reduced
    * to its token count (= bracket pairs). Eagerly pinned — several
    * downstream joins (and every stream microbatch) consume it. */
  private[graft] def wordTokenMap(docs: DataFrame,
                                  merges: Seq[(String, String)]): DataFrame = {
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .withColumn("e", regexp_replace(col("w"), "(.)", "|$1|"))
    val fused = merges.zipWithIndex.foldLeft(vocab) { case (df, ((a, b), i)) =>
      val next = df.withColumn("e", expr(s"replace(e, '|$a||$b|', '|$a$b|')"))
      // bound the collapsed-projection depth under long merge tables
      if ((i + 1) % 16 == 0) graft.Lineage.cut(next) else next
    }
    graft.Lineage.pin(fused.select(col("w"),
      ((length(col("e")) - length(regexp_replace(col("e"), "\\|", ""))) / 2)
        .cast("long").as("n_tok")))
  }

  /** Per-doc count table: ws/char counters map-side, BPE counts via
    * the token⋈word-map join rolled up per doc and joined back (the
    * doc_id join is co-partitioned). DataFrame-generic so the spec can
    * pin the fuse rule on a hand-built merge table. */
  private[graft] def encodedDf(docs: DataFrame,
                               merges: Seq[(String, String)],
                               wmapIn: Option[DataFrame] = None): DataFrame = {
    val wmap = wmapIn.getOrElse(wordTokenMap(docs, merges))
    // null text normalizes to '' so the explode→groupBy→join round trip
    // keeps the row (zeroed counters) — an inner join over the exploded
    // words would silently drop null-text docs from the per-doc contract
    val t = lower(trim(coalesce(col("text"), lit(""))))
    val perDoc = docs
      .select(col("doc_id"), explode(split(t, " ")).as("w"))
      .join(graft.Hints.keyDim(wmap), Seq("w"), "left")
      .withColumn("n_tok",
        coalesce(col("n_tok"), length(col("w")).cast("long")))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).as("n_bpe_tokens"))
    docs
      .withColumn("t", t)
      .withColumn("n_spaces",
        length(col("t")) - length(regexp_replace(col("t"), " ", "")))
      .withColumn("n_chars", length(col("t")) - col("n_spaces"))
      .withColumn("n_ws_tokens", size(split(col("t"), " ")).cast("long"))
      .join(perDoc, Seq("doc_id"))
  }

  /** The corpus word map for (session, dir, steps), memoized like the
    * merge table — the encode/fertility/budget/stream queries share
    * one vocab-encode job per session (the pinned frame is reusable:
    * localCheckpoint blocks live for the session). */
  private[graft] def corpusWordMap(s: SparkSession, dir: String,
                                   steps: Int): DataFrame =
    graft.Caches.model(s, ("bpe_word_map", dir, steps)) {
      wordTokenMap(Tables.documents(s, dir), trainedMerges(s, dir, steps))
    }

  private def encoded(s: SparkSession, dir: String, steps: Int): DataFrame =
    encodedDf(Tables.documents(s, dir), trainedMerges(s, dir, steps),
              Some(corpusWordMap(s, dir, steps)))

  /** #295 bpe_encode: per-doc REAL BPE token counts under #153's merge
    * table, beside the ws proxy. n_chars − n_bpe_tokens = merge
    * applications in that doc (each fuse removes one symbol). */
  def bpeEncode(s: SparkSession, dir: String,
                steps: Int = TextOps2.BpeSteps): DataFrame =
    encoded(s, dir, steps)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
              col("n_ws_tokens"), col("n_bpe_tokens"),
              r(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6)
                .as("bpe_per_word"))
      .orderBy(col("doc_id"))

  /** #296 corpus_bpe_fertility: #163's per-language fertility table
    * re-based on real BPE tokens, ws-proxy columns side by side — the
    * gap between chars_per_ws_token and chars_per_bpe_token is what
    * the proxy overstates per language. */
  def corpusBpeFertility(s: SparkSession, dir: String,
                         steps: Int = TextOps2.BpeSteps): DataFrame =
    encoded(s, dir, steps)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars"),
           sum(col("n_ws_tokens")).as("n_ws_tokens"),
           sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"),
              col("n_ws_tokens"), col("n_bpe_tokens"),
              r(col("n_chars").cast("double") / col("n_ws_tokens"), 6)
                .as("chars_per_ws_token"),
              r(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
                .as("chars_per_bpe_token"),
              r(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6)
                .as("bpe_per_ws_token"))
      .orderBy(col("lang"))

  /** #298 corpus_token_budget_bpe: the #77 budget DECISION re-based on
    * real BPE tokens, proxy side by side. The budget a training run
    * actually has is model tokens; #77 approximates it in ws-tokens.
    * Per quality bucket (⌊q·100⌋, ≤101 rows): doc/ws/BPE masses,
    * cumulative-from-the-top totals, and TWO selections — `sel_real`
    * (cumulative real tokens fit the budget) vs `sel_proxy` (the same
    * budget converted to ws units by the corpus-level bpe/ws ratio,
    * #77's rule) — buckets where they disagree are the mass the proxy
    * mis-budgets. Same 100 TB shape as #77: one scan into bounded
    * registers, the window rides the ≤101-row table (the documented
    * partition-less exception), no global rank. */
  /** #298's MERGEABLE registers (doc count + ws/BPE token sums per
    * ⌊q·100⌋ bucket, ≤101 rows, all merge by addition) — also the #299
    * streaming state. The word map is a batch-trained model artifact
    * (the #285 mid-day discipline), so each arriving doc is a
    * stateless posexplode + stream-static join and the register
    * stream stays ONE stateful aggregate: doc-level stats ride the
    * pos==0 token row (every doc has one — split never returns an
    * empty array), BPE mass sums over all token rows, so no per-doc
    * pre-aggregation is ever needed. */
  private[graft] def budgetRegisters(docs: DataFrame,
                                     wordMap: DataFrame): DataFrame = {
    val t = lower(trim(col("text")))
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      // the token fan multiplies rows by words-per-doc and inherits the
      // scan's partitioning — spread it BEFORE the explode (the
      // bootstrapRegisters finding; the pre-fan shuffle moves 1/fan of
      // the fanned rows)
      .repartition(parts)
      .select(floor(TextOps.qualityCol * 100).cast("long").as("qb"),
              size(split(t, " ")).cast("long").as("ws"),
              posexplode(split(t, " ")))
      .withColumnRenamed("col", "w")
      .join(graft.Hints.keyDim(wordMap), Seq("w"), "left")
      .withColumn("n_tok",
        coalesce(col("n_tok"), length(col("w")).cast("long")))
      .groupBy(col("qb"))
      .agg(count(when(col("pos") === 0, 1)).as("n_docs"),
           sum(when(col("pos") === 0, col("ws"))).as("ws_tok"),
           sum(col("n_tok")).as("bpe_tok"))
  }

  /** #298/#299 readout over the drained ≤101-row register table: the
    * partition-less window rides a bounded input (the documented
    * exception), totals derive from the same registers. */
  private[graft] def budgetFinalize(budgetBpe: Long)(regs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = regs.agg(sum(col("ws_tok")).as("tot_ws"),
                          sum(col("bpe_tok")).as("tot_bpe"))
    val wDesc = Window.orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    regs
      .withColumn("cum_ws", sum(col("ws_tok")).over(wDesc))
      .withColumn("cum_bpe", sum(col("bpe_tok")).over(wDesc))
      .crossJoin(broadcast(totals))
      // proxy budget in ws units by the corpus ratio — integer div so
      // both engines land on the identical threshold
      .withColumn("sel_proxy",
        col("cum_ws") <= expr(s"($budgetBpe * tot_ws) div tot_bpe"))
      .withColumn("sel_real", col("cum_bpe") <= budgetBpe)
      .select(col("qb"), col("n_docs"), col("ws_tok"), col("bpe_tok"),
              col("cum_ws"), col("cum_bpe"), col("sel_proxy"), col("sel_real"))
      .orderBy(col("qb").desc)
  }

  def corpusTokenBudgetBpe(s: SparkSession, dir: String,
                           budgetBpe: Long = 100000,
                           steps: Int = TextOps2.BpeSteps): DataFrame =
    budgetFinalize(budgetBpe)(
      budgetRegisters(Tables.documents(s, dir), corpusWordMap(s, dir, steps)))

  def corpusTokenBudgetBpeSql(budgetBpe: Long = 100000,
                              steps: Int = TextOps2.BpeSteps): String =
    s"""${encodedSql(steps)},
       |regs AS (
       |  SELECT CAST(floor((${TextOps.qualitySqlFrag}) * 100) AS BIGINT) AS qb,
       |         count(*) AS n_docs,
       |         CAST(sum(c.n_ws_tokens) AS BIGINT) AS ws_tok,
       |         CAST(sum(c.n_bpe_tokens) AS BIGINT) AS bpe_tok
       |  FROM counts c JOIN documents d ON c.doc_id = d.doc_id
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ws_tok) AS BIGINT) AS tot_ws,
       |         CAST(sum(bpe_tok) AS BIGINT) AS tot_bpe
       |  FROM regs),
       |cum AS (
       |  SELECT qb, n_docs, ws_tok, bpe_tok,
       |         CAST(sum(ws_tok) OVER (ORDER BY qb DESC
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ws,
       |         CAST(sum(bpe_tok) OVER (ORDER BY qb DESC
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bpe
       |  FROM regs)
       |SELECT qb, n_docs, ws_tok, bpe_tok, cum_ws, cum_bpe,
       |       cum_ws <= ($budgetBpe * tot_ws) // tot_bpe AS sel_proxy,
       |       cum_bpe <= $budgetBpe AS sel_real
       |FROM cum CROSS JOIN tot ORDER BY qb DESC""".stripMargin

  /** Shared oracle prefix: #153's training CTE chain (verbatim replay)
    * + the DISTINCT-word bracketed encode with the k replaces via
    * win-k scalar subqueries + the token⋈word-map join-back — the
    * exact mirror of [[wordTokenMap]]/[[encodedDf]]. */
  private def encodedSql(steps: Int): String = {
    val train = TextOps2.bpeTrainMergesSql(steps)
      .linesIterator.toSeq
      .takeWhile(l => !l.startsWith("SELECT CAST(")) // keep CTEs, drop readout
      .mkString("\n")
      .stripSuffix("\n")
    val encChain = (1 to steps).map { k =>
      s"""venc$k AS MATERIALIZED (
         |  SELECT w, replace(e,
         |           '|' || (SELECT sym_a FROM win$k) || '||' || (SELECT sym_b FROM win$k) || '|',
         |           '|' || (SELECT sym_a FROM win$k) || (SELECT sym_b FROM win$k) || '|') AS e
         |  FROM venc${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""$train,
       |toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
       |  FROM documents),
       |venc0 AS MATERIALIZED (
       |  SELECT DISTINCT w, regexp_replace(w, '(.)', '|\\1|', 'g') AS e
       |  FROM toks WHERE length(w) > 0),
       |$encChain,
       |wtok AS MATERIALIZED (
       |  SELECT w, (length(e) - length(replace(e, '|', ''))) // 2 AS n_tok
       |  FROM venc$steps),
       |bpe AS MATERIALIZED (
       |  SELECT t.doc_id,
       |         CAST(sum(coalesce(wt.n_tok, length(t.w))) AS BIGINT)
       |           AS n_bpe_tokens
       |  FROM toks t LEFT JOIN wtok wt ON wt.w = t.w
       |  GROUP BY 1),
       |counts AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |         length(lower(trim(d.text)))
       |           - length(replace(lower(trim(d.text)), ' ', '')) AS n_spaces,
       |         length(replace(lower(trim(d.text)), ' ', '')) AS n_chars,
       |         len(string_split(lower(trim(d.text)), ' ')) AS n_ws_tokens,
       |         b.n_bpe_tokens
       |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id)""".stripMargin
  }

  def bpeEncodeSql(steps: Int = TextOps2.BpeSteps): String =
    s"""${encodedSql(steps)}
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |       CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
       |       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       |       ${sqlR("CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens", 6)} AS bpe_per_word
       |FROM counts ORDER BY doc_id""".stripMargin

  def corpusBpeFertilitySql(steps: Int = TextOps2.BpeSteps): String =
    s"""${encodedSql(steps)}
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       CAST(sum(n_ws_tokens) AS BIGINT) AS n_ws_tokens,
       |       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |       ${sqlR("CAST(sum(n_chars) AS DOUBLE) / sum(n_ws_tokens)", 6)} AS chars_per_ws_token,
       |       ${sqlR("CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe_tokens)", 6)} AS chars_per_bpe_token,
       |       ${sqlR("CAST(sum(n_bpe_tokens) AS DOUBLE) / sum(n_ws_tokens)", 6)} AS bpe_per_ws_token
       |FROM counts GROUP BY lang ORDER BY lang""".stripMargin
}
