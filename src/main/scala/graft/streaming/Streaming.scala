package graft.streaming

import java.io.File

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Parity._
import graft.sources.Tables

/** Input row for the stateful sessionizer (µs epoch event time). */
case class SessEvent(user_id: Long, ts_us: Long)

/** One open session per user carried across micro-batches. */
case class OpenSession(start_us: Long, end_us: Long, n: Long)

/** A closed (emitted) session. */
case class ClosedSession(user_id: Long, session_start_us: Long,
                         session_end_us: Long, n_events: Long)

/** Input row for the KMV fold (portable 60-bit user hash, pre-computed
  * so the state function never touches raw identifiers). */
case class KmvIn(event_type: String, h: Long)

/** Per-type KMV state AND emission: the cumulative k smallest distinct
  * hashes after `upd` updates. The state IS the sketch — nothing else
  * is carried. */
case class KmvSketchRow(event_type: String, upd: Int, ks: Seq[Long])

/** Structured Streaming operators (SURVEY §2 G35-G36).
  *
  * #35 is written once as a batch DataFrame expression and executed in
  * both modes — the streaming run (file source → tumbling window agg →
  * memory sink) is asserted equal to the batch run in StreamingSpec.
  * #36 is genuine stateful processing: flatMapGroupsWithState carries an
  * open session per user across micro-batches and emits sessions as
  * their 30-minute gap closes. At scale both are a single shuffle on the
  * grouping key; state size is O(open sessions) = O(active users).
  */
object Streaming {

  /** Run `body` (which starts + drains a streaming query) with the
    * session's shuffle partitioning — which fixes the query's STATE
    * partition count forever — set to `n`, restoring the batch setting
    * after. State-store overhead is per-partition-per-batch (commit
    * files, snapshots, maintenance), so a local drain of one small
    * micro-batch wants few state partitions; a production cluster sets
    * SPARK_GRAFT_STREAM_PARTITIONS ∝ executors, exactly like sizing
    * shuffle partitions — the number is a deploy-time choice because
    * restarting from a checkpoint cannot change it.
    *
    * SINGLE-THREADED-DRIVER ASSUMPTION: this mutates the session-global
    * conf for the duration of the drain, so a concurrent batch query on
    * the same SparkSession would silently plan with the stream's
    * partition count. A cloned session (`newSession()`) cannot fix it
    * here — the stream DataFrame is already bound to the original
    * session, whose conf the planner reads — so the contract is the one
    * the Verify/Bench drivers already satisfy: one query at a time per
    * session. A host embedding this library concurrently should build
    * its streams on a dedicated session. */
  private[streaming] def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    val old = s.conf.get(key)
    s.conf.set(key, n)
    try body finally s.conf.set(key, old)
  }

  /** The memory-sink lifecycle every stream twin rides: build and start
    * `stream` under [[withStreamPartitions]] (which fixes its state
    * partition count), drain everything available in `mode` into a
    * memory sink named `prefix_nanoTime`, and return `finish` over the
    * sink table, materialized by `localCheckpoint`. The sink
    * view and `scratch` (a staged input dir) are released in a
    * `finally`, on success and on failure alike, so neither pins memory
    * nor accumulates under the scratch root per call; the drain's own
    * exception still propagates. The checkpoint blocks are
    * ContextCleaner-reclaimed once the returned frame is unreachable. */
  private[graft] def drain(s: SparkSession, prefix: String, mode: OutputMode,
                           scratch: Option[String] = None)(
      stream: => Dataset[_])(finish: DataFrame => DataFrame): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    try {
      withStreamPartitions(s) {
        stream.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      finish(s.table(name)).localCheckpoint()
    } finally {
      try s.catalog.dropTempView(name) catch { case NonFatal(_) => () }
      scratch.foreach(deleteScratch)
    }
  }

  /** Delete a drain's staged dir (a `Staging.scratchPath`; symlinks are
    * removed, not followed); a failure is swallowed so cleanup never
    * masks the caller's own outcome. */
  private[streaming] def deleteScratch(dir: String): Unit =
    try FileUtils.deleteDirectory(new File(dir)) catch { case NonFatal(_) => () }

  // ----------------------------------------------------- #35 window counts

  /** Tumbling 6-hour window aggregation — the shared batch/stream
    * expression. */
  def windowCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Batch entry (oracle-checked); the stream run of the same expression
    * is compared against this in StreamingSpec. */
  def streamWindowCounts(s: SparkSession, dir: String): DataFrame =
    windowCounts(Tables.events(s, dir))

  val streamWindowCountsSql: String =
    s"""SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) AS BIGINT) * 21600 * 1000000) AS window_start,
       |       event_type, count(*) AS n,
       |       ${sqlSum("value", 4)} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** #35b SLIDING-window aggregation (6 h window, 3 h slide): each event
    * lands in exactly windowDur/slide = 2 overlapping windows. Spark's
    * `window()` explodes the assignment map-side (narrow ×2 row cost)
    * then partial-aggregates, so the shuffle carries one row per
    * (window, type) — the same single-exchange shape as tumbling. Like
    * #35 the expression is batch/stream shared; under streaming, the
    * watermark bounds how long each open window's partial state lives. */
  def slidingCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  def streamSlidingCounts(s: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(s, dir))

  /** Oracle: the two windows containing t start at the two 3 h marks in
    * (t-6h, t] — generated by offsets {0,1} from t's own 3 h bucket. */
  val streamSlidingCountsSql: String =
    s"""SELECT make_timestamp((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800) AS BIGINT) - o.o) * 10800 * 1000000) AS window_start,
       |       event_type, count(*) AS n,
       |       ${sqlSum("value", 4)} AS sum_value
       |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) o
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------- #98 stream-static enrich

  /** #98 stream_enrich_dim: the canonical streaming ENRICHMENT shape —
    * a fact stream joined to a static dimension, then window-aggregated
    * by a dimension attribute. Spark plans the static side as a
    * broadcast re-read per micro-batch: the join is stateless (no join
    * state store at all — only the downstream window agg keeps state),
    * which is why stream-static is the preferred enrichment over
    * stream-stream whenever the dim changes slower than the stream.
    * The expression is batch/stream shared (same contract as #35):
    * the batch run is the oracle-checked entry, StreamingSpec pins the
    * real-stream run equal to it. */
  def enrichDim(ev: DataFrame, dim: DataFrame): DataFrame =
    ev.join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "6 hours"), col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("segment"),
              col("event_type"), col("n"), col("sum_value"))

  /** The static dimension: customer market segment keyed by user id. */
  private[streaming] def customerDim(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))

  def streamEnrichDim(s: SparkSession, dir: String): DataFrame =
    enrichDim(Tables.events(s, dir), customerDim(s, dir))

  /** Real-stream run of [[enrichDim]] (file source → stream-static
    * broadcast join → windowed agg → memory sink). */
  def runEnrichDimStream(s: SparkSession, dir: String): DataFrame =
    drain(s, "enrich", OutputMode.Complete)(
      enrichDim(eventsStream(s, dir), customerDim(s, dir)))(identity)

  val streamEnrichDimSql: String =
    s"""SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) AS BIGINT) * 21600 * 1000000) AS window_start,
       |       c.c_mktsegment AS segment, e.event_type, count(*) AS n,
       |       ${sqlSum("value", 4)} AS sum_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2, 3""".stripMargin

  /** File-stream source over `table` of the corpus at `dir`. File-stream
    * sources require an explicit schema; hardcoding one silently desynced
    * from the batch reader when the testdata regenerated with a new `ts`
    * encoding (µs NTZ vs int64 nanos) — the raw µs were then
    * "div 1000"-ed into 1970. So the schema comes from the parquet footer
    * via a zero-row batch read (driver-side metadata only). A table
    * Spark wrote is a directory (`<table>.parquet/part-*`): the stream
    * reads that directory's part files; the glob over the corpus dir
    * would match none of them. */
  private[streaming] def fileStream(s: SparkSession, dir: String,
                                    table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val footerSchema = s.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p).isDirectory)
      s.readStream.schema(footerSchema).parquet(path)
    else
      s.readStream.schema(footerSchema)
        .option("pathGlobFilter", s"$table.parquet") // source wants a dir
        .parquet(dir)
  }

  /** Streaming events source; the ts canonicalization is the SAME helper
    * the batch loader uses ([[Tables.normalizeTs]]) — one contract, two
    * execution modes. */
  private[streaming] def eventsStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(fileStream(s, dir, "events"))

  /** Run [[windowCounts]] as a real stream (file source → memory sink)
    * and return the drained table. */
  def runWindowCountsStream(s: SparkSession, dir: String): DataFrame =
    drain(s, "wc", OutputMode.Complete)(windowCounts(eventsStream(s, dir)))(identity)

  /** #35c stream_topk: streaming top-k — the windowed count aggregation
    * runs as a real stream (Complete mode: Spark keeps one state row per
    * open (window, type) group and re-emits maxes each trigger); the
    * final rank over the TINY aggregate output is batch-side on the sink
    * table, which is how production streaming top-k works (the heavy
    * fact scan is incremental, ranking is O(windows × types)). */
  def streamTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("window_start")
      .orderBy(col("n").desc, col("event_type"))
    drain(s, "topk", OutputMode.Complete)(windowCounts(eventsStream(s, dir)))(
      _.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("window_start"), col("event_type"), col("n"), col("rk")))
  }

  val streamTopKSql: String =
    """WITH wc AS (
      |  SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) AS BIGINT) * 21600 * 1000000) AS window_start,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start, event_type, n,
      |       row_number() OVER (PARTITION BY window_start
      |                          ORDER BY n DESC, event_type) AS rk
      |FROM wc QUALIFY rk <= 3""".stripMargin

  /** #35d stream_hll: the portable HLL sketch maintained incrementally —
    * register maxes ARE the streaming state (max is the merge operator),
    * so the streaming estimate is bit-identical to the batch sketch and
    * the batch oracle checks it exactly. The estimator finalization and
    * the exact-count comparison run batch-side over the 64-row register
    * sink. This is the canonical "mergeable sketch over an unbounded
    * stream" pattern: O(m · groups) state, no raw retention. */
  def streamHll(s: SparkSession, dir: String): DataFrame =
    drain(s, "hll", OutputMode.Complete)(
      graft.operators.Analytics2.hllRegisters(eventsStream(s, dir))) { regs =>
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      graft.operators.Analytics2.hllFinalize(regs)
        .join(broadcast(exact), Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("hll_est"))
        .orderBy(col("event_type"))
    }

  /** #72b stream_cms: the portable Count-Min sketch maintained
    * incrementally — register counts ARE the streaming state (sum is the
    * merge operator), so the streaming registers are bit-identical to
    * the batch sketch and the batch oracle checks the top-k exactly.
    * Point estimation + exact comparison run batch-side over the
    * ≤ depth×width register sink. Same mergeable-sketch contract as
    * [[streamHll]]: O(depth×width) state, no raw retention. */
  def streamCms(s: SparkSession, dir: String): DataFrame =
    drain(s, "cms", OutputMode.Complete)(
      graft.operators.Sketches.cmsRegisters(eventsStream(s, dir))) { regs =>
      val ev = Tables.events(s, dir)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      graft.operators.Sketches.cmsTopK(
        regs, ev.select(col("user_id")).distinct(), exact, 10)
    }

  /** #73b stream_bloom: the portable bloom filter built incrementally —
    * per-word bit_or IS the streaming state (bit_or is idempotent AND
    * mergeable, so duplicate keys across micro-batches cost nothing and
    * no distinct is ever needed). The drained ≤4-word register sink is
    * bit-identical to the batch build; the probe + per-type report run
    * batch-side, checked by the batch oracle. */
  def streamBloom(s: SparkSession, dir: String): DataFrame =
    drain(s, "bloom", OutputMode.Complete)(
      graft.operators.Sketches.bloomWords(
        eventsStream(s, dir).filter(col("event_type") === "purchase")
          .select(col("user_id"))))(
      graft.operators.Sketches.bloomProbeReport(s, dir, _))

  /** #213 stream_ams_f2: the #212 AMS F₂ sketch maintained
    * incrementally — the signed counters Z_r ARE the streaming state
    * (sum is the merge operator: each event adds its user's ±1), so the
    * streamed registers are bit-identical to the batch build and the
    * batch oracle checks the estimate/exact report. O(types×rows)
    * integer state, no raw retention — the same mergeable-register
    * contract as [[streamHll]]/[[streamCms]]. */
  def streamAmsF2(s: SparkSession, dir: String): DataFrame =
    drain(s, "ams", OutputMode.Complete)(
      graft.operators.Round6Ops10.amsRegisters(eventsStream(s, dir)))(
      regs => graft.operators.Round6Ops10.amsFinalize(regs, Tables.events(s, dir)))

  /** #215 stream_sample: the #214 deterministic bottom-k uniform sample
    * maintained incrementally — the per-type k-min record heap IS the
    * streaming state (CollectTopK merges across micro-batches: a new
    * event displaces the largest ticket only if it wins), so the
    * drained sample is bit-identical to the batch build over the same
    * events and stays a uniform sample of everything seen. O(types×k)
    * state; the batch oracle checks the exact rows. */
  def streamSample(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    drain(s, "sample", OutputMode.Complete)(
      graft.operators.Round6Ops10.sampleSketch(eventsStream(s, dir)))(
      graft.operators.Round6Ops10.sampleFinalize)
  }

  /** File-source stream over the documents table (the text-feed
    * counterpart of [[eventsStream]]). */
  private[streaming] def docsStream(s: SparkSession, dir: String): DataFrame =
    fileStream(s, dir, "documents")

  /** #238 stream_doc_quality: the #22 quality score as a CONTINUOUS
    * ingest monitor over the documents feed — per source, the running
    * doc count and decimal-exact quality sum ARE the streaming state
    * (both merge by addition; the per-doc score is 6dp-rounded before
    * the sum, the Parity contract), so the drained per-source means are
    * bit-identical to a batch pass and the batch oracle checks them.
    * The quality gate run at the ingest edge: a source whose mean
    * quality steps down mid-crawl is a parser regression caught here,
    * batches before the #132 curve would show it at rest. */
  def streamDocQuality(s: SparkSession, dir: String): DataFrame =
    drain(s, "docq", OutputMode.Complete)(
      graft.operators.TextOps.docQualityRegisters(docsStream(s, dir)))(
      graft.operators.TextOps.docQualityFinalize)

  /** #240 stream_rule_check: the #239 event-feed rule registers
    * maintained incrementally — the conditional violation counters ARE
    * the streaming state (sums merge), so the drained register row is
    * bit-identical to the batch build and #239's oracle checks the
    * report. The continuous contract test at the ingest edge; #234's
    * join rules stay batch, exactly because row-local rules are what
    * keeps the register mergeable. */
  def streamRuleCheck(s: SparkSession, dir: String): DataFrame =
    drain(s, "rules", OutputMode.Complete)(
      graft.operators.Round6Ops16.eventRuleRegisters(eventsStream(s, dir)))(
      graft.operators.Round6Ops16.eventRuleFinalize)

  /** #279 stream_adoption: the #278 adoption curve LIVE — the per
    * (user, type) FIRST-day registers ARE the streaming state (min
    * merges: an early-arriving event only ever moves an adoption date
    * earlier, so late/out-of-order data self-corrects), with the
    * daily-rollup + cumulative-curve readout batch-side over the
    * drained key-proportional sink, bit-identical to batch and sharing
    * #278's oracle. The launch dashboard that updates as the rollout
    * lands. */
  def streamAdoption(s: SparkSession, dir: String): DataFrame =
    drain(s, "adopt", OutputMode.Complete)(
      graft.operators.Round6Ops29.adoptionRegisters(eventsStream(s, dir)))(
      graft.operators.Round6Ops29.adoptionFinalize)

  /** #276 stream_script_mix: the #273 Unicode script census LIVE —
    * per-source doc counts, decimal ratio sums and dominance counters
    * AS streaming state (all merge by addition; the ratio fan is
    * map-only on each arriving doc), means batch-side over the drained
    * ≤|sources| sink, bit-identical to batch and sharing #273's
    * oracle. The encoding-drift alarm at the crawler's edge beside
    * #259's language mix. */
  def streamScriptMix(s: SparkSession, dir: String): DataFrame =
    drain(s, "script", OutputMode.Complete)(
      graft.operators.Round6Ops27.scriptRegisters(docsStream(s, dir)))(
      graft.operators.Round6Ops27.scriptMixFinalize)

  /** #272 stream_icc: the #271 intraclass correlation maintained
    * incrementally — the per-user moment registers (count + decimal
    * sums) ARE the streaming state: KEY-PROPORTIONAL state (O(users),
    * the same budget as any per-user monitor), with the 1-row ICC
    * decomposition batch-side over the drained rollup, bit-identical
    * to batch and sharing #271's oracle. The live design-effect
    * readout a running experiment's power math needs. */
  def streamIcc(s: SparkSession, dir: String): DataFrame =
    drain(s, "icc", OutputMode.Complete)(
      graft.operators.Round6Ops26.iccRegisters(eventsStream(s, dir)))(
      graft.operators.Round6Ops26.iccFinalize)

  /** #311 stream_diff_in_diff: the #304 causal readout MAINTAINED LIVE
    * — per-(user, type, period) decimal outcome sums ARE the streaming
    * state (sums merge by addition; the period tag compares each
    * arriving event against the exported rollout-day literal, the #284
    * discipline), user-keyed like #271's ICC registers; arm assignment
    * and the four-cell pivot run batch-side over the drained register
    * table, bit-identical to #304 and sharing its oracle. The live
    * experiment readout a rollout owner polls while the treatment is
    * still landing. */
  def streamDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val mid = graft.operators.Round8Ops.feedMidDay(
      graft.sources.Tables.events(s, dir))
    drain(s, "did", OutputMode.Complete)(
      graft.operators.Round9Ops2.didRegisters(eventsStream(s, dir), mid))(
      graft.operators.Round9Ops2.didFinalize)
  }

  /** #323 stream_retention_halflife: the #320 growth decision number
    * LIVE — the distinct (user, active-day) ledger IS the streaming
    * state (count registers; the readout needs only key existence),
    * and the whole #320 chain (cohorts, censored eligibility, pooled
    * rates, exponential fit) runs batch-side over the drained ledger:
    * every scalar it needs (cohort mins, the max observed day) is
    * derivable from the register keys, so nothing is exported.
    * Bit-identical to #320, sharing its oracle — the live retention
    * curve a growth dashboard refreshes as events land. */
  def streamRetentionHalflife(s: SparkSession, dir: String): DataFrame =
    drain(s, "ret", OutputMode.Complete)(
      graft.operators.Round9Ops9.activeDayRegisters(eventsStream(s, dir)))(
      graft.operators.Round9Ops9.retentionHalflifeFinalize)

  /** #324 stream_hurst: the #319 long-range-dependence panel LIVE —
    * per-(user, day) decimal value moments ARE the streaming state
    * (count + sum merge by addition, the #126 day-partial state
    * class); finalize rebuilds the daily means with the shared 6dp
    * rounding and runs the whole #319 chain (block means, aggregated
    * variances, log-log fit) over the drained table — bit-identical to
    * batch, sharing #319's oracle. A regime flip (noise → persistent)
    * mid-stream is a structural change in the feed the variance-scale
    * ladder catches before any single-lag monitor. */
  def streamHurst(s: SparkSession, dir: String): DataFrame =
    drain(s, "hurst", OutputMode.Complete)(
      graft.operators.Round9Ops9.dailyMomentRegisters(eventsStream(s, dir)))(
      graft.operators.Round9Ops9.hurstFinalize)

  /** #362 stream_permutation_entropy: the #360 complexity triage LIVE —
    * per-(user, day) decimal value moments ARE the streaming state
    * (count + sum merge by addition, exactly #324's register class, so
    * the two monitors can share one physical state store); finalize
    * rebuilds the daily means with the shared 6dp rounding and runs
    * the whole #360 ordinal-pattern chain (two leads, 6-class rollup,
    * normalized entropy) over the drained table — bit-identical to
    * batch, sharing #360's oracle. A feed losing its temporal
    * structure (PE drifting toward 1) is invisible to level/variance
    * monitors; the ordinal alphabet catches the dynamics change as it
    * lands. */
  def streamPermutationEntropy(s: SparkSession, dir: String): DataFrame =
    drain(s, "pentropy", OutputMode.Complete)(
      graft.operators.Round9Ops9.dailyMomentRegisters(eventsStream(s, dir)))(
      graft.operators.Round10Ops.permutationEntropyFinalize)

  /** #316 stream_value_psi: the #310 PSI drift scorecard LIVE — the
    * batch pass exports the feed's binning contract (midpoint day +
    * value range) as literals (the #284 discipline), each arriving
    * event lands in its (type, half, bin) count register (≤ types×2×64
    * state, counts merge by addition), and the Laplace-smoothed
    * PSI/verdict readout runs batch-side over the drained grid —
    * bit-identical to #310, sharing its oracle. The drift pager a
    * model-risk team actually wires up. */
  def streamValuePsi(s: SparkSession, dir: String): DataFrame = {
    val (mid, lo, hi) = graft.operators.Round9Ops4.psiBounds(
      graft.sources.Tables.events(s, dir))
    drain(s, "psi", OutputMode.Complete)(
      graft.operators.Round9Ops4.psiRegistersLit(eventsStream(s, dir), mid, lo, hi))(
      graft.operators.Round9Ops4.psiFinalize)
  }

  /** #354 stream_bootstrap_ci: the #348 distribution-free uncertainty
    * panel LIVE — every arriving event folds its deterministic
    * Poisson(1) replica weights into the per-(type, replica) moment
    * registers (decimal sums + counts, all merging by addition,
    * ≤|types|×(B+1) rows; the hash IS the randomness, so replaying or
    * reordering the feed lands on identical registers), and the
    * SE/percentile-CI readout runs batch-side over the model-sized
    * sink — bit-identical to #348, sharing its oracle. A live metric
    * WITH its uncertainty: the dashboard stops flagging noise as
    * movement. */
  def streamBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    // built before the drain: its pre-fan repartition reads the
    // session's shuffle partitions, not the stream's state partitions
    val regs = graft.operators.Round9Ops21.bootstrapRegisters(eventsStream(s, dir))
    drain(s, "boot", OutputMode.Complete)(regs)(
      graft.operators.Round9Ops21.bootstrapFinalize)
  }

  /** #352 stream_modality_balance: the #219 multimodal inventory as a
    * CONTINUOUS ingest monitor — the (source, modality) doc/byte/frame
    * registers ARE the streaming state (all merge by addition,
    * ≤ sources × 4 rows), so the drained inventory is bit-identical to
    * the batch build and the three share panels (within-source,
    * within-modality, corpus) run batch-side over the bounded sink,
    * sharing the batch oracle. The mix dashboard a multimodal crawl
    * lands on — a camera feed flooding one modality shows up in
    * minutes, not at the nightly batch. */
  def streamModalityBalance(s: SparkSession, dir: String): DataFrame =
    drain(s, "modal", OutputMode.Complete)(
      graft.operators.Round6Ops11.modalityRegisters(docsStream(s, dir)))(
      graft.operators.Round6Ops11.modalityBalanceFinalize)

  /** #346 stream_style_divergence: the #343 corpus-homogeneity audit
    * LIVE — the (source, char) count registers ARE the streaming state
    * (count merges by addition; the register table is alphabet-bounded
    * per source), so the drained table is bit-identical to the batch
    * build and the whole JS readout (shares, dense pair × alphabet
    * grid, divergence fold, top-char pick) runs batch-side over the
    * model-sized sink, sharing #343's oracle. The ingest monitor that
    * notices a crawler feed changing script or turning to markup soup
    * while it happens. */
  def streamStyleDivergence(s: SparkSession, dir: String): DataFrame =
    drain(s, "style", OutputMode.Complete)(
      graft.operators.Round9Ops18.charCountRegisters(docsStream(s, dir)))(
      graft.operators.Round9Ops18.styleFinalize)

  /** #342 stream_robust_center: the #337 robust KPI panel LIVE — the
    * batch pass exports the per-type p05/p95 bounds as the static half
    * of a stream-static broadcast join (the #83b exported-model
    * discipline: a stream cannot re-rank its own history), each
    * arriving event lands clamped/trimmed into its type's moment
    * registers (count + decimal sums, all merging by addition,
    * ≤|types| rows), and the mean/winsor/trimmed readout runs
    * batch-side over the bounded sink — bit-identical to #337, sharing
    * its oracle. The outlier-robust KPI a live dashboard should quote
    * instead of the raw mean. */
  def streamRobustCenter(s: SparkSession, dir: String): DataFrame = {
    val bounds = graft.operators.Round9Ops15.robustBounds(
      graft.sources.Tables.events(s, dir))
    drain(s, "robust", OutputMode.Complete)(
      graft.operators.Round9Ops15.robustRegisters(eventsStream(s, dir), bounds))(
      graft.operators.Round9Ops15.robustFinalize)
  }

  /** #338 stream_overdispersion: the #334 noise-model test LIVE — the
    * per-(type, day) count registers ARE the streaming state (count
    * merges by addition, the #126 day-partial class; late events land
    * in their day's register), so the drained daily table is
    * bit-identical to the batch build and the dispersion/z/verdict
    * readout runs batch-side over the calendar-bounded sink, sharing
    * #334's oracle. The monitor that tells the volume monitor what
    * alert bands it is allowed to use, kept current as the feed
    * drifts. */
  def streamOverdispersion(s: SparkSession, dir: String): DataFrame =
    drain(s, "odisp", OutputMode.Complete)(
      graft.operators.Round9Ops14.dailyCountRegisters(eventsStream(s, dir)))(
      graft.operators.Round9Ops14.overdispersionFinalize)

  /** #332 stream_ab_monitor: the #330 corrected A/B readout LIVE —
    * continuous experiment monitoring with family-wise control, the
    * deployment shape that actually prevents peeking errors (the
    * dashboard refreshes corrected p-values, not raw ones). Per-type
    * Welch moments (n, Σx, Σx²) ARE the streaming state (count +
    * decimal sums merge by addition, ≤|types| rows); the finalize
    * replays #104's scalar expressions over the drained moments and
    * runs #330's Holm/BH chain — bit-identical to batch, sharing
    * #330's oracle. */
  def streamAbMonitor(s: SparkSession, dir: String): DataFrame =
    drain(s, "abmon", OutputMode.Complete)(
      graft.operators.Round9Ops13.welchMomentRegisters(eventsStream(s, dir)))(
      graft.operators.Round9Ops13.abMonitorFinalize)

  /** #326 stream_freshness: the #325 feed-liveness scorecard as a
    * CONTINUOUS monitor — the shape freshness checks actually deploy
    * as (a batch freshness audit is stale by construction; the monitor
    * has to ride the feed). The per-type (count, first, last) epoch
    * registers ARE the streaming state (count merges by addition,
    * first/last by min/max — ≤|types| rows), so the drained register
    * table is bit-identical to the batch build and the lag/staleness/
    * verdict readout runs batch-side over the bounded sink, sharing
    * #325's oracle. */
  def streamFreshness(s: SparkSession, dir: String): DataFrame =
    drain(s, "fresh", OutputMode.Complete)(
      graft.operators.Round9Ops10.freshnessRegisters(eventsStream(s, dir)))(
      graft.operators.Round9Ops10.freshnessFinalize)

  /** #265 stream_slo_burn: the #261 burn-rate alert as a LIVE monitor
    * — per-(window, start) total/error counts ARE the streaming state
    * (both merge by addition; the ×2 window fan is map-side on each
    * arriving event), so the drained register table is bit-identical
    * to batch and #261's oracle checks rates, burns and alerts. This
    * is the shape SRE burn alerts actually deploy as: a continuously
    * maintained window table the pager reads. */
  def streamSloBurn(s: SparkSession, dir: String): DataFrame =
    drain(s, "burn", OutputMode.Complete)(
      graft.operators.Round6Ops22.burnRegisters(eventsStream(s, dir)))(
      graft.operators.Round6Ops22.burnFinalize)

  /** #289 stream_pii_mix: the #288 PII audit LIVE — per-source doc/
    * hit counters AS streaming state (the regex screens are map-only
    * per arriving doc; counters merge by addition; the injection is
    * id-derived, needing no corpus scalar), incidence rates batch-side
    * over the drained ≤|sources| sink, bit-identical to batch and
    * sharing #288's oracle. The compliance alarm at the crawler's
    * edge: a source whose PII rate steps up mid-crawl gets quarantined
    * before the batch gate would see it. */
  def streamPiiMix(s: SparkSession, dir: String): DataFrame =
    drain(s, "pii", OutputMode.Complete)(
      graft.operators.Round8Ops.piiRegisters(docsStream(s, dir)))(
      graft.operators.Round8Ops.piiAuditFinalize)

  /** #285 stream_schema_drift: the #284 JSON-schema drift monitor LIVE
    * — the (day, key) count registers ARE the streaming state (the key
    * explode is map-only per arriving event; counts merge by addition),
    * the per-key lifecycle verdict runs batch-side over the drained
    * ≤days×keys sink. The injection midpoint is a STATIC scalar
    * (computed once from the at-rest table — a stream cannot
    * re-aggregate its history for a constant), so stream ≡ batch
    * bit-identically and #284's oracle checks the verdicts. The alarm
    * that pages when a producer starts emitting a new props field. */
  def streamSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    val mid = graft.operators.Round8Ops.feedMidDay(
      graft.sources.Tables.events(s, dir))
    drain(s, "schema", OutputMode.Complete)(
      graft.operators.Round8Ops.schemaRegisters(eventsStream(s, dir), mid))(
      graft.operators.Round8Ops.schemaDriftFinalize)
  }

  /** #283 stream_token_budget: the #77 budget DECISION recomputed live
    * as the crawl lands — the ≤101 quality-bucket doc/token registers
    * ARE the streaming state (shared builder with #77's batch
    * selection; counters merge by addition), and the
    * cumulative-from-the-top cutoff + per-bucket selected flag run
    * batch-side over the drained bounded sink. A budget owner reads
    * tonight which quality floor tomorrow's training run can afford;
    * the doc-level selection stays batch (#77's broadcast-threshold
    * second scan), exactly because a stream cannot re-scan the feed. */
  def streamTokenBudget(s: SparkSession, dir: String,
                        budget: Long = 20000): DataFrame =
    drain(s, "tokbudget", OutputMode.Complete)(
      graft.operators.Curation.tokenBudgetRegisters(docsStream(s, dir)))(
      graft.operators.Curation.tokenBudgetFinalize(budget))

  /** #299 stream_token_budget_bpe: the #298 REAL-token budget decision
    * LIVE — the BPE merge table is trained batch-side (a model
    * artifact, the #285 literal discipline), each arriving doc is
    * encoded map-only and lands in the ⌊q·100⌋ register (doc count +
    * ws/BPE token sums, all merging by addition), and the proxy-vs-real
    * selection readout runs batch-side over the drained ≤101-row sink —
    * bit-identical to batch, #298's oracle shared. What the budget
    * owner watches as the crawl lands: the real-token cutoff moving
    * while the ws-proxy cutoff stands still is fertility drift at the
    * ingest edge. */
  def streamTokenBudgetBpe(s: SparkSession, dir: String,
                           budget: Long = 100000): DataFrame = {
    // word → token-count map trained batch-side (a model artifact, the
    // #285 literal discipline); the stream side is a stateless
    // posexplode + stream-static join into one stateful aggregate
    val wmap = graft.operators.BpeEncode.corpusWordMap(
      s, dir, graft.operators.TextOps2.BpeSteps)
    // built before the drain, like streamBootstrapCi's registers
    val regs = graft.operators.BpeEncode.budgetRegisters(docsStream(s, dir), wmap)
    drain(s, "tokbudgetbpe", OutputMode.Complete)(regs)(
      graft.operators.BpeEncode.budgetFinalize(budget))
  }

  /** #280 stream_disposition: the #266 curation decision table LIVE —
    * per-(source, route) doc/token counters ARE the streaming state
    * (the route is a first-match map-only expression on each arriving
    * doc; the counters merge by addition), the share readout runs
    * batch-side over the drained ≤|sources|×6 sink, bit-identical to
    * batch and sharing #266's oracle. The disposition a curation run
    * PUBLISHES, updating as the crawl lands — budget owners watch
    * keep_prose share in flight instead of after the batch gate. */
  def streamDisposition(s: SparkSession, dir: String): DataFrame =
    drain(s, "disp", OutputMode.Complete)(
      graft.operators.Round6Ops24.dispositionRegisters(docsStream(s, dir)))(
      graft.operators.Round6Ops24.dispositionFinalize)

  /** #281 stream_garbage_mix: the #222 OCR/encoding-garbage screen as
    * a CONTINUOUS ingest monitor — per-source doc counts,
    * over-threshold counts and the decimal-exact score sum ARE the
    * streaming state (all merge by addition; the score is the shared
    * map-only #222 expression on each arriving doc), per-source means
    * and garbage shares batch-side over the drained ≤|sources| sink.
    * A source whose garbage share steps up mid-crawl is an extractor
    * regression caught at the edge, beside #238's quality monitor. */
  def streamGarbageMix(s: SparkSession, dir: String): DataFrame =
    drain(s, "garb", OutputMode.Complete)(
      graft.operators.Round6Ops12.garbageRegisters(docsStream(s, dir)))(
      graft.operators.Round6Ops12.garbageMixFinalize)

  /** #308 stream_classifier_calibration: the #305-trained quality
    * classifier SCORING THE FEED LIVE — the batch training pass exports
    * the model (weights + standardization scalars) as literals (the
    * #284 literal-scalar discipline: a stream cannot re-aggregate its
    * own corpus moments), each arriving doc is scored map-only, and the
    * ≤10 (score-decile) count/positive registers ARE the streaming
    * state (both merge by addition). The drained reliability diagram is
    * bit-identical to a batch pass, so #305's full training chain is
    * the oracle. The calibration-drift alarm a deployed filter needs:
    * a bucket whose live positive rate leaves its score band means the
    * model no longer fits the feed. */
  def streamClassifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val (means, sds, w) = graft.operators.Round9Ops3.classifierModel(s, dir)
    drain(s, "qcal", OutputMode.Complete)(
      graft.operators.Round9Ops3.calibRegisters(docsStream(s, dir), means, sds, w))(
      graft.operators.Round9Ops3.calibFinalize)
  }

  /** #259 stream_lang_mix: the #258 predicted-language mix as a
    * CONTINUOUS ingest monitor — per-(source, language) counts ARE the
    * streaming state (count merges; the prediction is a map-only
    * expression on each arriving doc), the drained register table is
    * bit-identical to batch and #258's oracle checks the shares. The
    * langid drift alarm at the crawler's edge. */
  def streamLangMix(s: SparkSession, dir: String): DataFrame =
    drain(s, "langmix", OutputMode.Complete)(
      graft.operators.Round6Ops21.langMixRegisters(docsStream(s, dir)))(
      graft.operators.Round6Ops21.langMixFinalize)

  /** #260 stream_mix_weights: #74's token inventory maintained
    * incrementally — per-(lang, source) doc/token counts ARE the
    * streaming state (both merge by addition), so the drained
    * inventory is bit-identical to the batch build and the
    * sqrt-temperature weight readout runs batch-side over the bounded
    * sink, sharing #74's oracle. The mixing recipe recomputed LIVE as
    * the crawl lands — a budget owner reads tomorrow's weights
    * tonight. */
  def streamMixWeights(s: SparkSession, dir: String): DataFrame =
    drain(s, "mixw", OutputMode.Complete)(
      graft.operators.Sketches.mixRegisters(docsStream(s, dir)))(
      graft.operators.Sketches.mixFinalize)

  /** #246 stream_load_heatmap: the #241 hour×weekday load matrix as a
    * CONTINUOUS monitor — the ≤168 (dow, hour) count registers ARE the
    * streaming state (count merges), the drained grid is bit-identical
    * to the batch build, and the shares/rank readout runs batch-side
    * over the fixed-size sink, sharing #241's oracle. The live view a
    * capacity dashboard actually polls. */
  def streamLoadHeatmap(s: SparkSession, dir: String): DataFrame =
    drain(s, "heat", OutputMode.Complete)(
      graft.operators.Round6Ops16.loadCells(eventsStream(s, dir)))(
      graft.operators.Round6Ops16.loadHeatmapFinalize)

  /** #228 stream_volume_anomaly: the #220 daily-volume feed monitor as
    * a CONTINUOUS stream — the per-day count registers ARE the
    * streaming state (count is the merge operator, late events land in
    * their day's register), so the drained day table is bit-identical
    * to the batch build and the spine + robust-z readout runs
    * batch-side over the ≤|days| sink, sharing #220's oracle. State is
    * calendar-bounded; the same mergeable-register contract as
    * [[streamBenford]]. */
  def streamVolumeAnomaly(s: SparkSession, dir: String): DataFrame =
    drain(s, "vol", OutputMode.Complete)(
      graft.operators.Round6Ops11.volumeDayCounts(eventsStream(s, dir)))(
      graft.operators.Round6Ops11.volumeFinalize)

  /** #168 stream_benford: the #161 Benford first-digit audit as a
    * CONTINUOUS data-quality monitor over the event stream — the shape
    * a feed-health deployment actually runs (a corrupted upstream shows
    * up as digit drift long before a downstream model does). The O(9)
    * digit registers ARE the streaming state (count is the merge
    * operator), so the incrementally-maintained registers are
    * bit-identical to a batch build over the same events and the batch
    * oracle checks the full report exactly; the spine join + shares +
    * chi-square finalize runs batch-side over the 9-row sink. Same
    * mergeable-register contract as [[streamHll]]/[[streamCms]]. */
  def streamBenford(s: SparkSession, dir: String): DataFrame =
    drain(s, "benford", OutputMode.Complete)(
      graft.operators.Round6Ops4.benfordDigitCounts(
        eventsStream(s, dir)
          .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))))(
      graft.operators.Round6Ops4.benfordReport(s, _))

  val streamBenfordSql: String = graft.operators.Round6Ops4.benfordReportSql(
    """
      |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |         count(*) AS n
      |  FROM (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |        FROM events)
      |  WHERE cents >= 1 GROUP BY 1""".stripMargin)

  /** #83b stream_quantile: the histogram-quantile sketch maintained
    * incrementally — per-(type, bin) counts ARE the streaming state
    * (sum is the merge operator), so the drained registers are
    * bit-identical to the batch sketch and the batch oracle checks the
    * estimates exactly. The bin edges are the sketch's model side: a
    * streaming deployment fixes them up front (here from the batch
    * ranges pass — a stream-static broadcast join, the supported
    * pattern), and the unbounded pass maintains only O(types × bins)
    * counters. Finalization (cumulative interpolation) runs batch-side
    * over the tiny register sink. Completes the mergeable-sketch
    * streaming family: HLL (max), CMS (sum), bloom (bit_or),
    * histogram quantiles (sum). */
  def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    val ranges = graft.operators.Sketches.qsRanges(
      Tables.events(s, dir).select(col("event_type"), col("value")))
    drain(s, "qs", OutputMode.Complete)(
      graft.operators.Sketches.qsBinned(
        eventsStream(s, dir).select(col("event_type"), col("value")), ranges))(
      graft.operators.Sketches.qsFinalize(_, ranges))
  }

  /** Per-type KMV state transition: fold this batch's hashes into the
    * carried k-min set. Working memory is O(k) even WITHIN a batch — a
    * capped TreeSet absorbs the row iterator one hash at a time (insert
    * iff it beats the current k-th smallest; TreeSet ignores repeats),
    * so neither the batch's per-key rows nor raw identifiers are ever
    * materialized. Emits the cumulative sketch after each update; the
    * k-min merge law (k-min of k-mins ≡ k-min of the union, pinned in
    * SketchesSpec) makes the final emission bit-identical to the batch
    * sketch regardless of how rows were chunked into micro-batches. */
  private[graft] def foldKmv(k: Int)(
      typ: String, rows: Iterator[KmvIn],
      state: GroupState[KmvSketchRow]): Iterator[KmvSketchRow] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    state.getOption.foreach(_.ks.foreach(h => set.add(h)))
    rows.foreach { r =>
      if (set.size < k) set.add(r.h)
      else if (r.h < set.last) { set.add(r.h); if (set.size > k) set.pollLast() }
    }
    import scala.jdk.CollectionConverters._
    val next = KmvSketchRow(typ, state.getOption.map(_.upd).getOrElse(0) + 1,
      set.iterator.asScala.map(Long.unbox).toVector)
    state.update(next)
    Iterator(next)
  }

  /** The fold pipeline over any (event_type, user_id) frame (streaming
    * or batch) — shared by [[streamKmv]] and the chunking-invariance
    * spec. */
  private[graft] def kmvFoldSketches(ev: DataFrame): Dataset[KmvSketchRow] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(col("event_type"), graft.operators.Sketches.kmvHash.as("h"))
      .as[KmvIn]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldKmv(graft.operators.Sketches.KmvK))
  }

  /** #89b stream_kmv: the KMV overlap sketch maintained incrementally —
    * per-type k-min hash lists ARE the streaming state, carried by a
    * single `flatMapGroupsWithState` fold whose TOTAL state is O(k)
    * longs per event type ([[foldKmv]]): bounded in a continuous
    * deployment, no watermark needed, no auxiliary dedup state (an
    * earlier design chained keyed `dropDuplicates` before a CollectTopK
    * aggregate, whose dedup stage grew with distinct (type, hash) —
    * the fold subsumes it because a TreeSet insert is idempotent).
    * The final emission per type is bit-identical to the batch
    * `kmvSketches` build — k smallest DISTINCT hashes, ascending — so
    * the drained sink feeds the same `kmvFinalize` pair-estimation and
    * the batch oracle checks estimates exactly. Each update emits the
    * cumulative sketch (Update mode); the last emission per type wins,
    * selected batch-side over the ≤ types × batches row sink. */
  def streamKmv(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    drain(s, "kmv", OutputMode.Update)(
      kmvFoldSketches(eventsStream(s, dir).select(col("event_type"), col("user_id")))) {
      sink => graft.operators.Sketches.kmvFinalize(lastEmission(sink), Tables.events(s, dir))
    }
  }

  /** Last Update-mode emission per type from a drained sink (≤ types ×
    * batches rows — the window is over the tiny sink, not data). A
    * window rather than a sink self-join: memory-sink views reuse
    * attribute ids across references, which breaks join resolution. */
  private[graft] def lastEmission(sink: DataFrame): DataFrame =
    sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("ks"))

  // ------------------------------------------------------ #36 sessionize

  private val gapUs = 30L * 60 * 1000000

  /** Per-group state transition: fold this batch's (sorted) events into
    * the carried open session, emitting every session that closes. */
  private[graft] def foldGroup(
      uid: Long, events: Iterator[SessEvent],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    val sorted = events.map(_.ts_us).toArray.sorted
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedSession]
    sorted.foreach { t =>
      open match {
        case Some(o) if t - o.end_us <= gapUs =>
          open = Some(OpenSession(o.start_us, t, o.n + 1))
        case Some(o) =>
          closed += ClosedSession(uid, o.start_us, o.end_us, o.n)
          open = Some(OpenSession(t, t, 1))
        case None =>
          open = Some(OpenSession(t, t, 1))
      }
    }
    open.foreach(state.update)
    closed.result().iterator
  }

  /** #36 stateful streaming sessionization. Returns the CLOSED sessions
    * observed while draining the source (each user's final session stays
    * open in state — StreamingSpec pins parity against the batch
    * sessionizer modulo those). */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    drain(s, "sess", OutputMode.Append)(
      eventsStream(s, dir)
        .select(col("user_id"), epochUs(col("ts")).as("ts_us"))
        .as[SessEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldGroup)) {
      _.select(col("user_id"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        timestamp_micros(col("session_end_us")).as("session_end"),
        col("n_events"))
    }
  }

  // ------------------------------------------------------- #37 stream dedup

  /** #37 streaming deduplication: `dropDuplicates` holds one state entry
    * per distinct key and emits each key's first arrival — the streaming
    * half of exact dedup (at scale the state store is RocksDB, keyed by
    * the same hash the batch groupBy shuffles on; with a watermark the
    * state is bounded to the lateness horizon). Output = the distinct
    * key set, which the batch oracle checks exactly. */
  def streamDedup(s: SparkSession, dir: String): DataFrame =
    drain(s, "dedup", OutputMode.Append)(
      eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"))(identity)

  val streamDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** #36e stream_dedup_watermark: the BOUNDED-STATE production dedup —
    * `withWatermark` + `dropDuplicatesWithinWatermark` holds each key
    * only until the watermark passes its event time + horizon, so state
    * is O(keys active within the horizon), not O(all keys ever) as in
    * the plain #36b form. The semantic trade is explicit: duplicates
    * within the horizon are GUARANTEED dropped (even across batches);
    * beyond it, re-emission is unspecified — downstream consumers must
    * treat the stream as at-least-once-per-horizon. StreamingSpec pins
    * both guarantees (cross-batch within-horizon dedup; state eviction
    * by the post-batch watermark). Draining a single batch (the Verify
    * shape: watermark still at origin, nothing expires mid-drain)
    * yields exactly the distinct key set, which the batch oracle
    * checks; the multi-batch expiry behavior is pinned in
    * StreamingSpec against a staged source whose second batch lies
    * beyond the horizon. */
  def streamDedupWatermark(s: SparkSession, dir: String): DataFrame =
    drain(s, "dedup_wm", OutputMode.Append)(
      eventsStream(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")))(identity)

  val streamDedupWatermarkSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  // --------------------------------------- #38 stream-stream interval join

  /** Stream-stream interval join: each purchase matched to every click
    * by the same user in the trailing hour — the click-attribution
    * shape. Both sides carry event-time watermarks; with the range
    * condition Spark bounds each side's join state to the watermark +
    * interval horizon (state is O(events per hour), not O(history) —
    * the property that makes stream-stream joins feasible at 100 TB).
    * The test corpus is one file = one micro-batch, so no match is
    * dropped by watermark eviction and the batch SQL oracle is exact.
    */
  def streamClickAttribution(s: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, user: String, ts: String, id: String) =
      eventsStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(user), col("ts").as(ts), col("event_id").as(id))
        .withWatermark(ts, "1 hour")
    drain(s, "attr", OutputMode.Append)(
      side("purchase", "p_user", "p_ts", "purchase_id")
        .join(side("click", "c_user", "c_ts", "click_id"),
          col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))) {
      _.select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
               (epochUs(col("p_ts")) - epochUs(col("c_ts"))).as("gap_us"))
    }
  }

  val streamClickAttributionSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
      | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR""".stripMargin

  /** Oracle for #36: the stream emits exactly the CLOSED sessions — every
    * session except each user's last (which stays open in state when the
    * source drains). The gap test is µs-precision (`ts_us` diffs), unlike
    * the batch sessionizer's truncated-seconds contract, so the SQL
    * mirrors the µs semantics via `epoch_us`. */
  val streamSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |                OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |),
      |agg AS (
      |  SELECT user_id, session_id,
      |         min(ts) AS session_start, max(ts) AS session_end,
      |         count(*) AS n_events
      |  FROM sess GROUP BY 1, 2
      |)
      |SELECT user_id, session_start, session_end, n_events
      |FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid FROM agg)
      |WHERE session_id < last_sid""".stripMargin
}
