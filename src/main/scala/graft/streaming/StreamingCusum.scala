package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Parity.r6d
import graft.streaming.StreamingHolt.{HoltIn, HoltState, dailySeries, mergeDays}

/** #143 stream_cusum: the #136 sequential CUSUM alarm chart maintained
  * incrementally over the events stream. Like the Holt twin (#126) the
  * recursion is order-sensitive AND here also depends on the whole
  * series' moments (μ, σ), so the state is the per-day decimal
  * partials — day → (scale-10 unscaled sum, count) — and each emission
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
  private[graft] def chartOf(days: scala.collection.Map[Int, (Long, Long)])
      : Option[(Long, Double, Double, Double, Long)] = {
    val xs = dailySeries(days)
    val n = xs.length
    if (n < 2) None
    else {
      // dsum ≡ Decimal(38,10) accumulation of the daily values / their
      // squares — BigDecimal, NOT a scale-10 unscaled Long: x² of a
      // large daily mean overflows the Long encoding (> ~9.2e8 throws,
      // larger sums wrap silently) where the batch decimal sum is exact
      def dsumD(vs: Seq[Double]): Double = {
        var acc = java.math.BigDecimal.ZERO
        vs.foreach { v =>
          acc = acc.add(java.math.BigDecimal.valueOf(v)
            .setScale(10, java.math.RoundingMode.HALF_UP))
        }
        acc.doubleValue
      }
      val sx = dsumD(xs)
      val sxx = dsumD(xs.map(x => x * x))
      val mu = r6d(sx / n)
      val sg = r6d(math.sqrt(math.max(0.0, (sxx - n * mu * mu) / (n - 1))))
      var sp = 0.0; var mx = 0.0; var al = 0L; var ab = false
      xs.foreach { x =>
        sp = r6d(math.max(0.0, sp + (x - mu - K * sg)))
        mx = math.max(mx, sp)
        val above = sp > H * sg
        if (above && !ab) al += 1
        ab = above
      }
      Some((n.toLong, mu, sg, mx, al))
    }
  }

  private[graft] def foldCusum(uid: Long, rows: Iterator[HoltIn],
                        state: GroupState[HoltState]): Iterator[CusumEmit] = {
    val (any, acc) = mergeDays(state.getOption, rows)
    if (!any && acc.isEmpty) Iterator.empty
    else {
      val upd = state.getOption.map(_.upd).getOrElse(0) + 1
      state.update(HoltState(upd, acc.toMap))
      chartOf(acc).iterator.map { case (n, mu, sg, mx, al) =>
        CusumEmit(uid, upd, n, mu, sg, mx, al)
      }
    }
  }

  private[graft] def cusumFold(ev: DataFrame): Dataset[CusumEmit] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(col("user_id"),
              datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
                .as("day"),
              col("value"))
      .as[HoltIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldCusum)
  }

  private[graft] def finalizeCusum(sink: DataFrame): DataFrame =
    sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_obs"), col("mu"),
              col("sigma"), col("cusum_max"), col("n_alarms"))
      .orderBy(col("user_id"))

  def streamCusum(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "cusum", OutputMode.Update)(
      cusumFold(Streaming.eventsStream(s, dir)))(finalizeCusum)

  /** The batch #136 oracle — identical output contract. */
  val streamCusumSql: String = graft.operators.Round6Ops2.tsCusumAlarmSql
}
