package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.{Mhw, MhwSql}
import graft.sources.Staging

/** A severity observation consumed by the streaming detector; `hot` is
  * [[Mhw.exceeds]], computed by Spark when the feed is staged. */
case class SevIn(user_id: Long, idx: Int, t_anom: Double, severity: Double,
                 hot: Boolean)

/** Carried per-series state: events emitted so far, the day buffer from
  * the start of the newest (still-open) event chain, and the late-data
  * horizon — the largest index ever DISCARDED from the buffer (emitted
  * or dropped); rows at or before it are ignored (see foldMhw). */
case class MhwStreamState(evtBase: Long, days: Seq[SevIn],
                          horizon: Int = Int.MinValue)

/** One day of a closed (emitted) MHW event: the row shape the drain's
  * [[StreamingMhw.eventsOf]] reads. */
case class MhwSpanDay(user_id: Long, evt: Long, index_start: Int,
                      index_end: Int, idx: Int, t_anom: Double,
                      severity: Double)

/** Incremental marine-heatwave event detection as a stateful streaming
  * operator (SURVEY §2 G, reference: src/mhw3d/common/core.py:37
  * `calculate_mhw_metrics` — the same runs → duration filter → gap-join
  * → metrics contract, applied to a live severity feed). Run detection
  * is [[Mhw.eventChains]] and the metrics are [[Mhw.eventMetrics]], the
  * batch kernel's own.
  *
  * Semantics: per series, maintain the newest candidate event chain in
  * state; a chain is CLOSED — its days emitted — the moment a later
  * qualifying run starts beyond `maxGap`, because no future (in-order)
  * observation can extend it. On drain each series' final chain stays
  * open in state, and the drain aggregates the emitted days into
  * metrics, so the result is exactly "every batch event except each
  * series' last" — the oracle contract (same shape as
  * [[Streaming.streamSessionize]]).
  *
  * Scale: one shuffle on the series key; state per key is O(open-event
  * span) days — bounded by event duration, not history. Incremental ≡
  * batch parity under arbitrary in-order chunking is property-pinned in
  * StreamingMhwSpec and MhwEventsPropertySpec.
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

  /** Trailing contiguous exceeding run (the only prefix-free structure
    * that future in-order days can still extend when no chain exists). */
  private def trailingRun(days: IndexedSeq[SevIn]): Seq[SevIn] = {
    if (days.isEmpty || !days.last.hot) return Nil
    var i = days.size - 1
    while (i > 0 && days(i - 1).hot && days(i - 1).idx == days(i).idx - 1)
      i -= 1
    days.drop(i)
  }

  /** Per-group fold: drop rows at/before the late-data horizon,
    * re-detect over (state buffer ++ surviving batch), emit the days of
    * every chain but the newest, retain days from the newest chain's
    * start, advance the horizon over everything discarded. */
  private[graft] def foldMhw(
      uid: Long, rows: Iterator[SevIn],
      state: GroupState[MhwStreamState]): Iterator[MhwSpanDay] = {
    val prev = state.getOption.getOrElse(MhwStreamState(0L, Nil))
    val fresh = rows.filter(_.idx > prev.horizon)
    val days = (prev.days ++ fresh).sortBy(_.idx).toIndexedSeq
    if (days.isEmpty) { // batch was entirely late — state unchanged
      state.update(prev)
      Iterator.empty
    } else {
      val cs = Mhw.eventChains(days.filter(_.hot).map(_.idx), minDuration, maxGap)
      if (cs.isEmpty) {
        val tr = trailingRun(days)
        val h = if (tr.nonEmpty) tr.head.idx - 1 else days.last.idx
        state.update(MhwStreamState(prev.evtBase, tr, math.max(prev.horizon, h)))
        Iterator.empty
      } else {
        val closed = cs.dropRight(1)
        val emit = closed.zipWithIndex.flatMap { case ((a, b), i) =>
          days.filter(d => d.idx >= a && d.idx <= b).map(d =>
            MhwSpanDay(uid, prev.evtBase + i + 1, a, b, d.idx, d.t_anom, d.severity))
        }
        val keepFrom = cs.last._1
        state.update(MhwStreamState(prev.evtBase + closed.size,
          days.filter(_.idx >= keepFrom),
          math.max(prev.horizon, keepFrom - 1)))
        emit.iterator
      }
    }
  }

  private val sevSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("idx", IntegerType),
    StructField("t_anom", DoubleType), StructField("severity", DoubleType),
    StructField("hot", BooleanType)))

  /** The origin scalar (first day on record) and the severity frame with
    * the calendar index `idx` = days since that origin: the stream's
    * input. */
  private[graft] def indexed(sev: DataFrame): (DataFrame, DataFrame) = {
    val origin = sev.agg(min(col("d")).as("d0"))
    (origin, sev.crossJoin(broadcast(origin))
      .withColumn("idx", datediff(col("d"), col("d0"))))
  }

  /** The drain's finish: the closed events' days → one metrics row per
    * event through the batch kernel's own [[Mhw.eventMetrics]], dates
    * off the `origin` scalar. The batch event table's columns less
    * `severity_max`. */
  private[graft] def eventsOf(days: DataFrame, origin: DataFrame): DataFrame = {
    val s = days.sparkSession
    import s.implicits._
    val out = StructType(Seq("user_id" -> LongType, "evt" -> LongType,
        "index_start" -> IntegerType, "index_end" -> IntegerType, "index_peak" -> IntegerType,
        "intensity_max" -> DoubleType, "intensity_mean" -> DoubleType,
        "intensity_cumul" -> DoubleType).map { case (n, t) => StructField(n, t) })
    days.as[MhwSpanDay].groupByKey(d => (d.user_id, d.evt)).mapGroups {
      (k: (Long, Long), it: Iterator[MhwSpanDay]) =>
        val ds = it.toSeq.sortBy(_.idx)
        val m = Mhw.eventMetrics(ds.map(d => Row(d.idx, d.t_anom, d.severity)), 0)
        Row.fromSeq(Seq[Any](k._1, k._2, ds.head.index_start, ds.head.index_end) ++ m.init)
    }(Encoders.row(out))
      .crossJoin(broadcast(origin))
      .select(col("user_id"), col("evt"),
        col("index_start"), col("index_end"),
        date_add(col("d0"), col("index_start")).as("date_start"),
        date_add(col("d0"), col("index_end")).as("date_end"),
        (col("index_end") - col("index_start") + 1).as("duration"),
        col("index_peak"),
        date_add(col("d0"), col("index_peak")).as("date_peak"),
        col("intensity_max"), col("intensity_mean"), col("intensity_cumul"))
  }

  /** Driver-contract entry: run the incremental detector over the
    * severity chain. The batch climatology/threshold stage materializes
    * the severity table (in a deployment that's the precomputed model
    * side), the stream consumes it through a file source and emits the
    * days of the closed events (all but each series' last), and the
    * drain turns them into event metrics. */
  def streamMhwEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (origin, sev) = indexed(Mhw.severityChain(s, dir, 0.6))
    val tmp = Staging.scratchPath("mhw_sev")
    // parallel (multi-file) staging write: the file source reads any
    // number of part files, and per-batch chunking invariance is
    // property-pinned in StreamingMhwSpec — no reason to funnel the
    // severity table through one task
    sev.select(col("user_id"), col("idx"), col("t_anom"), col("severity"),
        Mhw.exceeds.as("hot"))
      .write.mode("overwrite").parquet(tmp)
    Streaming.drain(s, "mhw", OutputMode.Append, Some(tmp))(
      s.readStream.schema(sevSchema)
        .option("pathGlobFilter", "*.parquet").parquet(tmp).as[SevIn]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldMhw))(
      eventsOf(_, origin))
  }

  /** Oracle: the batch event table minus each series' newest event. */
  val streamMhwEventsSql: String =
    MhwSql.mhwEvents +
    """ WHERE evt < (SELECT max(e2.evt) FROM evm e2 WHERE e2.user_id = evm.user_id)"""
}
