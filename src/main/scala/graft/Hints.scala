package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Deployment-scale posture knobs: join-side hints and exact-vs-sketch
  * switches whose correct choice depends on data volume. Every knob
  * defaults to the small/test posture (exact, broadcast) so oracle
  * parity holds out of the box; a 100 TB deployment flips them and the
  * degraded plans are spec-pinned (PlanSpec / the owning operator's
  * spec), so both postures stay executable, not prose.
  *
  * BINDING SEMANTICS: every knob is read at DataFrame CONSTRUCTION
  * time, not execution time — an operator's plan shape is decided when
  * its `DataFrame` is built, so flipping a conf afterwards has no
  * effect on already-constructed frames (exactly like Spark's own
  * `autoBroadcastJoinThreshold`). Deployments must set the posture
  * before constructing queries; a long-lived session that flips a knob
  * must rebuild its DataFrames (PostureSpec does precisely this —
  * rebuild inside `withConf` — which is why its assertions hold). */
object Hints {

  /** Conf key gating the forced `broadcast()` of KEY-PROPORTIONAL
    * dimension tables (per-key climatology/threshold tables, per-key
    * fit coefficients, per-key event spans). Unlike genuinely-bounded
    * dims (366-row DOY axis, a handful of query vectors), these grow
    * linearly with series-key cardinality: at bench SF they are KBs and
    * broadcasting skips the fact-side shuffle entirely, but at 10M+ grid
    * cells a forced broadcast is a multi-GB driver/executor OOM. Default
    * true (right for local/bench scale); a large deployment sets it
    * false and lets Catalyst/AQE pick the join strategy from runtime
    * stats — the joins then degrade gracefully to co-partitioned
    * shuffle-hash/sort-merge on the series key, never to a nested-loop
    * or cartesian plan (pinned in PlanSpec). */
  val BroadcastKeyDims = "spark.graft.broadcastKeyDims"

  /** Broadcast `df` only when [[BroadcastKeyDims]] is enabled (default
    * on). With the hint absent, the optimizer still auto-broadcasts
    * below `autoBroadcastJoinThreshold`, so small deployments lose
    * nothing; key cardinality beyond the threshold degrades to a
    * shuffle join instead of an OOM. */
  def keyDim(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(BroadcastKeyDims, "true").toBoolean) broadcast(df)
    else df

  /** Conf key gating EXACT VERIFICATION columns that ride alongside a
    * sketch estimate (corpus_source_overlap's exact shingle-intersection
    * self-join). Default true: at test SF the exact columns cost little
    * and let the oracle check the estimator against ground truth. At
    * 100 TB the verification join re-shuffles the entire shingle
    * vocabulary purely for audit columns — a deployment sets false and
    * the operator emits NULL for the exact columns, leaving one
    * signature aggregation + the ≤|sources|² pair grid (spec-pinned). */
  val ExactAudit = "spark.graft.exactAudit"

  def exactAudit(s: SparkSession): Boolean =
    s.conf.get(ExactAudit, "true").toBoolean

  /** Conf key switching the per-group quantile family (event-value,
    * lateness, lag and duration percentiles, robust bounds, RFM/Pareto
    * boundaries) to `approx_percentile` sketches; read only by
    * [[Parity.quantiles]]. Default false: exact percentiles at test SF,
    * bit-matching the DuckDB oracle. At extreme per-group sample counts
    * the exact path materializes every sample in the percentile buffer;
    * a deployment sets true and the family degrades to mergeable
    * sketches with bounded memory (accuracy spec-pinned, plan
    * spec-pinned). Climatology thresholds stay exact: their pooled
    * groups are years-bounded (see Mhw.climThresh). */
  val ApproxQuantiles = "spark.graft.approxQuantiles"

  def approxQuantiles(s: SparkSession): Boolean =
    s.conf.get(ApproxQuantiles, "false").toBoolean

  /** Conf key capping the PER-DAY ACTIVE-SERIES fan of the event-
    * synchrony pair join (mhw_event_sync). The join is day-keyed and
    * its per-day cost is (active series)² — bounded by event sparsity
    * on quiet days, but a basin-wide event (the operator's own
    * headline regime) makes active ≈ all series and the hot day IS a
    * series² skewed-key fan with pair-cardinality output. Default 0 =
    * exact, every pair (oracle parity). A large deployment sets a
    * positive K: each day keeps only the K active series with the
    * smallest md5 rank (hash of the series key alone, so the kept set
    * is deterministic and low-rank series keep their full day sets),
    * bounding the day fan at K² and the output at K²·|days|; the
    * readout degrades to synchrony over a deterministic series
    * subsample, spec-pinned in PostureSpec. */
  val SyncDayCap = "spark.graft.syncDayCap"

  def syncDayCap(s: SparkSession): Int =
    s.conf.get(SyncDayCap, "0").toInt
}
