package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.Parity.{Sums, r6d, sqlR6d}
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
  * calendar-bounded. The refold runs the identical arithmetic as batch
  * ts_cusum_alarm (decimal moment sums, 6dp-rounded s⁺ steps), so the
  * drained stream is BIT-IDENTICAL to the batch operator and shares
  * its oracle.
  */
object StreamingCusum {

  private val K = 0.5
  private val H = 4.0

  private[graft] case class CusumEmit(
      user_id: Long, upd: Int, n_obs: Long, mu: Double, sigma: Double,
      cusum_max: Double, n_alarms: Long)

  /** The batch operator's arithmetic over the refolded daily series:
    * decimal moment sums → r6 μ/σ, then the s⁺ chart with per-step 6dp
    * rounding. Returns None below the n ≥ 2 contract. */
  private[graft] def chartOf(days: scala.collection.Map[Int, DaySum])
      : Option[(Long, Double, Double, Double, Long)] = {
    val xs = dailySeries(days)
    val n = xs.length
    if (n < 2) None
    else {
      // dsum: the exact DECIMAL(38,10) sums of the daily values and
      // their squares (a NaN day adds nothing, as in the batch cast)
      def dsumD(vs: Seq[Double]): Double = {
        val acc = new Sums(1)
        vs.foreach(acc.addDouble(0, _))
        acc.toDouble(0)
      }
      val sx = dsumD(xs)
      val sxx = dsumD(xs.map(x => x * x))
      val mu = r6d(sx / n)
      val sg = r6d(math.sqrt(math.max(0.0, (sxx - n * mu * mu) / (n - 1))))
      var sp = 0.0; var mx = 0.0; var al = 0L; var ab = false
      xs.foreach { x =>
        sp = sqlR6d(math.max(0.0, sp + (x - mu - K * sg)))
        mx = math.max(mx, sp)
        val above = sp > H * sg
        if (above && !ab) al += 1
        ab = above
      }
      Some((n.toLong, mu, sg, mx, al))
    }
  }

  private[graft] def foldCusum(uid: Long, rows: Iterator[HoltIn],
                        state: GroupState[HoltState]): Iterator[CusumEmit] =
    mergeDays(rows, state) { (upd, days) =>
      chartOf(days).iterator.map { case (n, mu, sg, mx, al) =>
        CusumEmit(uid, upd, n, mu, sg, mx, al)
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
