package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input row for the streaming EWMA fold (µs event time; `value` may be
  * missing — a missing observation still occupies a lag slot, exactly
  * like batch `lag()` counts rows, not non-null values). */
case class EwmaIn(event_id: Long, user_id: Long, ts_us: Long,
                  value: Option[Double])

/** Carried state: the last ≤ K−1 observed values, NEWEST FIRST, with
  * NaN marking a missing observation. O(K) doubles per key — constant,
  * unlike a collect_list that grows with history. */
case class EwmaState(window: Seq[Double])

/** One smoothed output row. */
case class EwmaOut(event_id: Long, user_id: Long, ewma: Option[Double])

/** #84b `stream_ewma`: the truncated EWMA (operators/TimeSeries2.tsEwma)
  * as an incremental stateful stream. The decisive property of the
  * K-truncated form: its state is a FIXED K−1 values per key, so the
  * stream never replays history and the state store is O(keys), while
  * emitting values bit-identical to the batch window expression — the
  * fold evaluates the identical left-to-right IEEE sum the batch
  * expression tree pins, so batch/stream parity is exact, not
  * approximate (spec-pinned, plus in-order chunking invariance).
  * Checked by the SAME DuckDB oracle SQL as the batch operator. */
object StreamingEwma {

  private[graft] val K = 20

  /** Per-group transition: fold this batch's (sorted) events through
    * the carried lag window. Pure — driven by TestGroupState in specs. */
  private[graft] def foldEwma(
      uid: Long, events: Iterator[EwmaIn],
      state: GroupState[EwmaState]): Iterator[EwmaOut] = {
    var window: List[Double] =
      state.getOption.map(_.window.toList).getOrElse(Nil)
    val out = Seq.newBuilder[EwmaOut]
    // batch parity: the window expression orders rows by (ts, event_id)
    events.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      val v = e.value.getOrElse(Double.NaN)
      val lags = v :: window // index j = lag j, like lag(value, j)
      // identical fold order to the batch reduce( _ + _ ): ascending j,
      // left-to-right, absent/missing terms contributing literal 0
      var num = 0d; var den = 0d
      var j = 0
      var it = lags
      while (j < K) {
        val present = it.nonEmpty && !it.head.isNaN
        val w = java.lang.Math.pow(0.5, j) // exact 2^-j
        num += (if (present) it.head * w else 0d)
        den += (if (present) w else 0d)
        if (it.nonEmpty) it = it.tail
        j += 1
      }
      val ewma =
        if (den == 0d) None
        else Some(math.floor(num / den * 1e6 + 0.5) / 1e6)
      out += EwmaOut(e.event_id, e.user_id, ewma)
      window = (v :: window).take(K - 1)
    }
    state.update(EwmaState(window))
    out.result().iterator
  }

  /** Run the fold as a real stream (file source → memory sink) and
    * return the drained result. */
  def streamEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Streaming.drain(s, "ewma", OutputMode.Append)(
      Streaming.eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
                graft.Parity.epochUs(col("ts")).as("ts_us"), col("value"))
        .as[EwmaIn]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldEwma))(
      _.select(col("event_id"), col("user_id"), col("ewma")))
  }
}
