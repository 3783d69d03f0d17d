package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.operators.Round6Ops2.{CusumRow, cusumChart}
import graft.streaming.StreamingHolt.{DaySum, HoltIn, HoltState, dailySeries, dayFold,
  lastPerUser, mergeDays}

/** #143 stream_cusum: the #136 sequential CUSUM alarm chart maintained
  * incrementally over the events stream. Like the Holt twin (#126) the
  * recursion is order-sensitive AND here also depends on the whole
  * series' moments (μ, σ), so the state is the per-day decimal
  * partials ([[StreamingHolt.DaySum]]) — and each emission
  * re-derives μ/σ and re-folds the chart over the sorted day axis.
  * Partials commute → arrival-order/chunking INVARIANT (late or
  * out-of-order days land in their slot); state is O(days) per key,
  * calendar-bounded. Each emission runs batch ts_cusum_alarm's own
  * chart, [[graft.operators.Round6Ops2.cusumChart]], over
  * [[StreamingHolt.dailySeries]], so the drained stream is
  * BIT-IDENTICAL to the batch operator and shares its oracle.
  */
object StreamingCusum {

  private[graft] case class CusumEmit(
      user_id: Long, upd: Int, n_obs: Long, mu: Option[Double], sigma: Double,
      cusum_max: Double, n_alarms: Long)

  /** ts_cusum_alarm's row over the day partials: the day count and the
    * chart of the daily series; None below its n ≥ 2 floor. */
  private[graft] def chartOf(days: scala.collection.Map[Int, DaySum])
      : Option[(Long, CusumRow)] = {
    val xs = dailySeries(days)
    cusumChart(xs).map(xs.length.toLong -> _)
  }

  private[graft] def foldCusum(uid: Long, rows: Iterator[HoltIn],
                        state: GroupState[HoltState]): Iterator[CusumEmit] =
    mergeDays(rows, state) { (upd, days) =>
      chartOf(days).iterator.map { case (n, c) =>
        CusumEmit(uid, upd, n, c.mu, c.sigma, c.cusum_max, c.n_alarms)
      }
    }

  private[graft] def cusumFold(ev: DataFrame): Dataset[CusumEmit] = {
    val s = ev.sparkSession
    import s.implicits._
    dayFold(ev)(foldCusum)
  }

  private[graft] def finalizeCusum(sink: DataFrame): DataFrame =
    lastPerUser(sink)
      .select(col("user_id"), col("n_obs"), col("mu"),
              col("sigma"), col("cusum_max"), col("n_alarms"))
      .orderBy(col("user_id"))

  def streamCusum(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "cusum", OutputMode.Update)(
      cusumFold(Streaming.eventsStream(s, dir)))(finalizeCusum)

  /** The batch #136 oracle — identical output contract. */
  val streamCusumSql: String = graft.operators.Round6Ops2.tsCusumAlarmSql
}
