package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.{Mhw, MhwSql}

/** A severity observation consumed by the streaming detector. */
case class SevIn(user_id: Long, idx: Int, t_anom: Double, severity: Double)

/** Carried per-series state: events emitted so far, the day buffer from
  * the start of the newest (still-open) event chain, and the late-data
  * horizon — the largest index ever DISCARDED from the buffer (emitted
  * or dropped); rows at or before it are ignored (see foldMhw). */
case class MhwStreamState(evtBase: Long, days: Seq[SevIn],
                          horizon: Int = Int.MinValue)

/** A closed (emitted) MHW event — same metrics as the batch operator. */
case class MhwStreamEvent(user_id: Long, evt: Long,
                          index_start: Int, index_end: Int, duration: Int,
                          index_peak: Int, intensity_max: Double,
                          intensity_mean: Double, intensity_cumul: Double)

/** Incremental marine-heatwave event detection as a stateful streaming
  * operator (SURVEY §2 G, reference: src/mhw3d/common/core.py:37
  * `calculate_mhw_metrics` — the same runs → duration filter → gap-join
  * → metrics contract, applied to a live severity feed).
  *
  * Semantics: per series, maintain the newest candidate event chain in
  * state; a chain is CLOSED — emitted with full batch-identical metrics
  * — the moment a later qualifying run starts beyond `maxGap`, because
  * no future (in-order) observation can extend it. On drain each
  * series' final chain stays open in state, so the emitted set is
  * exactly "every batch event except each series' last" — the oracle
  * contract (same shape as [[Streaming.streamSessionize]]).
  *
  * Scale: one shuffle on the series key; state per key is O(open-event
  * span) days — bounded by event duration, not history. Incremental ≡
  * batch parity under arbitrary in-order chunking is property-pinned in
  * StreamingMhwSpec.
  *
  * Late / out-of-order data (the watermark analog, spec-pinned):
  * ordering WITHIN the retained buffer is free — the fold re-sorts and
  * re-detects over (state ++ batch), so a day arriving out of order
  * while its chain region is still open is incorporated exactly as if
  * in-order. The per-key HORIZON is the largest index ever discarded
  * from the buffer (everything before the open chain's start after an
  * emission; everything before the trailing run otherwise): rows at or
  * before the horizon are DROPPED — their neighbourhood was already
  * emitted or discarded, so no consistent retroactive merge exists
  * (mirrors Spark's own watermark rule "state older than the watermark
  * is final"). Consequences: a closed event is never re-emitted or
  * mutated, and a late fragment can neither bridge into a closed chain
  * nor extend the open chain backward past its recorded start.
  */
object StreamingMhw {

  private val minDuration = 3
  private val maxGap = 2

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Mirror of the oracle's decimal accumulation: each 6dp double cast
    * to DECIMAL(38,10) (shortest-repr, HALF_UP — Spark/DuckDB cast
    * semantics), summed exactly, cast back to double. */
  private def decSum(xs: Seq[Double]): Double =
    xs.map(x => scala.math.BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(10, scala.math.BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  /** Event chains over a sorted day buffer, mirroring Mhw.detectEvents:
    * maximal consecutive-idx runs of severity>1, duration filter, then
    * single-pass gap-join (start − prev_end ≤ maxGap). */
  private[graft] def chains(days: IndexedSeq[SevIn],
                            minDur: Int = minDuration,
                            gap: Int = maxGap): Vector[(Int, Int)] = {
    val sev = days.collect { case d if d.severity > 1 => d.idx }
    val runs = Vector.newBuilder[(Int, Int)]
    var s = Int.MinValue; var p = Int.MinValue
    for (i <- sev) {
      if (s == Int.MinValue) s = i
      else if (i != p + 1) { runs += ((s, p)); s = i }
      p = i
    }
    if (s != Int.MinValue) runs += ((s, p))
    val kept = runs.result().filter { case (a, b) => b - a + 1 >= minDur }
    val out = Vector.newBuilder[(Int, Int)]
    var cs = Int.MinValue; var ce = Int.MinValue
    for ((a, b) <- kept) {
      if (cs == Int.MinValue) { cs = a; ce = b }
      else if (a - ce <= gap) ce = b
      else { out += ((cs, ce)); cs = a; ce = b }
    }
    if (cs != Int.MinValue) out += ((cs, ce))
    out.result()
  }

  /** Batch-identical metrics over the merged span INCLUDING gap days;
    * peak = first argmax of t_anom. */
  private def metricsOf(uid: Long, evt: Long, start: Int, end: Int,
                        days: IndexedSeq[SevIn]): MhwStreamEvent = {
    val span = days.filter(d => d.idx >= start && d.idx <= end)
    val mx = span.iterator.map(_.t_anom).max
    val peak = span.iterator.filter(_.t_anom == mx).map(_.idx).min
    val ds = decSum(span.map(_.t_anom))
    MhwStreamEvent(uid, evt, start, end, end - start + 1, peak,
      mx, r6(ds / span.size), r6(ds))
  }

  /** Trailing contiguous severity>1 run (the only prefix-free structure
    * that future in-order days can still extend when no chain exists). */
  private def trailingRun(days: IndexedSeq[SevIn]): Seq[SevIn] = {
    if (days.isEmpty || !(days.last.severity > 1)) return Nil
    var i = days.size - 1
    while (i > 0 && days(i - 1).severity > 1 && days(i - 1).idx == days(i).idx - 1)
      i -= 1
    days.drop(i)
  }

  /** Per-group fold: drop rows at/before the late-data horizon,
    * re-detect over (state buffer ++ surviving batch), emit every chain
    * but the newest, retain days from the newest chain's start, advance
    * the horizon over everything discarded. */
  private[graft] def foldMhw(
      uid: Long, rows: Iterator[SevIn],
      state: GroupState[MhwStreamState]): Iterator[MhwStreamEvent] = {
    val prev = state.getOption.getOrElse(MhwStreamState(0L, Nil))
    val fresh = rows.filter(_.idx > prev.horizon)
    val days = (prev.days ++ fresh).sortBy(_.idx).toIndexedSeq
    if (days.isEmpty) { // batch was entirely late — state unchanged
      state.update(prev)
      Iterator.empty
    } else {
      val cs = chains(days)
      if (cs.isEmpty) {
        val tr = trailingRun(days)
        val h = if (tr.nonEmpty) tr.head.idx - 1 else days.last.idx
        state.update(MhwStreamState(prev.evtBase, tr, math.max(prev.horizon, h)))
        Iterator.empty
      } else {
        val emit = cs.dropRight(1).zipWithIndex.map { case ((a, b), i) =>
          metricsOf(uid, prev.evtBase + i + 1, a, b, days)
        }
        val keepFrom = cs.last._1
        state.update(MhwStreamState(prev.evtBase + emit.size,
          days.filter(_.idx >= keepFrom),
          math.max(prev.horizon, keepFrom - 1)))
        emit.iterator
      }
    }
  }

  private val sevSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("idx", IntegerType),
    StructField("t_anom", DoubleType), StructField("severity", DoubleType)))

  /** Driver-contract entry: run the incremental detector over the
    * severity chain. The batch climatology/threshold stage materializes
    * the severity table (in a deployment that's the precomputed model
    * side), the stream consumes it through a file source and emits the
    * closed events (all but each series' last). */
  def streamMhwEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sev = Mhw.severityChain(s, dir, 0.6)
    val d0 = sev.agg(min(col("d")).as("d0")).head.getDate(0)
    val tmp = Streaming.stagingPath("mhw_sev")
    // parallel (multi-file) staging write: the file source reads any
    // number of part files, and per-batch chunking invariance is
    // property-pinned in StreamingMhwSpec — no reason to funnel the
    // severity table through one task
    sev.select(col("user_id"),
        datediff(col("d"), lit(d0)).as("idx"),
        col("t_anom"), col("severity"))
      .write.mode("overwrite").parquet(tmp)
    Streaming.drain(s, "mhw", OutputMode.Append, Some(tmp))(
      s.readStream.schema(sevSchema)
        .option("pathGlobFilter", "*.parquet").parquet(tmp).as[SevIn]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldMhw)) {
      _.select(
        col("user_id"), col("evt"), col("index_start"), col("index_end"),
        date_add(lit(d0), col("index_start")).as("date_start"),
        date_add(lit(d0), col("index_end")).as("date_end"),
        col("duration"), col("index_peak"),
        date_add(lit(d0), col("index_peak")).as("date_peak"),
        col("intensity_max"), col("intensity_mean"), col("intensity_cumul"))
    }
  }

  /** Oracle: the batch event table minus each series' newest event. */
  val streamMhwEventsSql: String =
    MhwSql.mhwEvents +
    """ WHERE evt < (SELECT max(e2.evt) FROM evm e2 WHERE e2.user_id = evm.user_id)"""
}
