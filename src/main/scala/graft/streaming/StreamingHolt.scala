package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** #126 stream_holt: the #115 Holt level/trend smoother maintained
  * incrementally over the events stream. The recursion itself is
  * order-sensitive, so the state is NOT (l, b): it is the per-day
  * decimal partials — day → [[StreamingHolt.DaySum]] — and each
  * emission re-folds the sorted day axis. That makes the operator
  * arrival-order and chunking INVARIANT (partials commute; late or
  * out-of-order days land in their slot), at O(days) state per key —
  * calendar-bounded, the same boundedness argument as the panel-mean
  * broadcast in ts_cross_corr, and the same emit-cumulative/last-wins
  * protocol as stream_kmv. Each emission runs batch ts_holt's own fold,
  * [[graft.operators.Round6Ops.holtFold]], over [[dailySeries]] (the
  * daily means of [[graft.Parity.dailyMean]]), so the drained stream is
  * BIT-IDENTICAL to the batch operator (spec-pinned) and shares its
  * oracle. Null observations, all-null and all-±Inf days are read as
  * the batch reads them.
  */
object StreamingHolt {

  private[graft] case class HoltIn(user_id: Long, day: Int, value: Option[Double])
  /** One day's partial: the exact scale-10 sum of its finite values
    * (None: it holds none), its count of non-null, non-NaN values and
    * whether it held a NaN — what [[graft.Parity.dailyMean]] needs. */
  private[graft] case class DaySum(sum: Option[BigInt], n: Long, nan: Boolean)
  private[graft] case class HoltState(upd: Int, days: Map[Int, DaySum])
  private[graft] case class HoltEmit(
      user_id: Long, upd: Int, n_obs: Long,
      level: Option[Double], trend: Double, forecast: Option[Double])

  import graft.Parity.{Sums, r6d}
  import graft.operators.Round6Ops.{HoltRow, HwRow, holt, holtWinters}

  /** ts_holt's row over the day partials: the day count and
    * [[graft.operators.Round6Ops.holt]] of the daily series. */
  private[graft] def foldDays(days: Map[Int, DaySum]): (Long, HoltRow) = {
    val xs = dailySeries(days)
    (xs.length.toLong, holt(xs))
  }

  /** `prev` with the values `vs` of the same day added, through the
    * exact-sum accumulator. */
  private[graft] def daySum(prev: Option[DaySum], vs: Seq[Option[Double]]): DaySum = {
    val acc = new Sums(1)
    acc.addState(0, prev.flatMap(_.sum))
    val xs = vs.flatten
    xs.foreach(acc.addDouble(0, _))
    DaySum(acc.state(0), prev.fold(0L)(_.n) + xs.count(!_.isNaN),
      prev.exists(_.nan) || xs.exists(_.isNaN))
  }

  /** The shared state transition of every day-grain refold twin (#126
    * Holt, #177 Holt-Winters, #143 CUSUM): merge the micro-batch into
    * the day partials, count the update and emit `f(upd, days)`; a key
    * with no days emits nothing. */
  private[graft] def mergeDays[E](rows: Iterator[HoltIn], state: GroupState[HoltState])(
      f: (Int, Map[Int, DaySum]) => Iterator[E]): Iterator[E] = {
    val prev = state.getOption
    val days = rows.toSeq.groupBy(_.day).foldLeft(prev.fold(Map.empty[Int, DaySum])(_.days)) {
      case (m, (d, rs)) => m.updated(d, daySum(m.get(d), rs.map(_.value)))
    }
    if (days.isEmpty) Iterator.empty
    else {
      val upd = prev.fold(0)(_.upd) + 1
      state.update(HoltState(upd, days))
      f(upd, days)
    }
  }

  /** `fold` per user over the events stream at day grain, Update mode. */
  private[graft] def dayFold[E: Encoder](ev: DataFrame)(
      fold: (Long, Iterator[HoltIn], GroupState[HoltState]) => Iterator[E]): Dataset[E] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(col("user_id"),
              datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"),
              col("value"))
      .as[HoltIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fold)
  }

  /** The last emission per user of a drained sink. */
  private[graft] def lastPerUser(sink: DataFrame): DataFrame =
    sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)

  /** The sorted daily series from the partials — the refold input the
    * twins share, [[graft.Parity.dailyMean]] per day: NaN when the day
    * holds a NaN, else null when it holds no finite value, else the
    * exact mean at 6dp. */
  private[graft] def dailySeries(days: scala.collection.Map[Int, DaySum])
      : IndexedSeq[Option[Double]] =
    days.toIndexedSeq.sortBy(_._1).map { case (_, ds) =>
      if (ds.nan) Some(Double.NaN)
      else ds.sum.map { u =>
        val acc = new Sums(1)
        acc.addState(0, Some(u))
        r6d(acc.toDouble(0) / ds.n)
      }
    }

  private[graft] def foldHolt(uid: Long, rows: Iterator[HoltIn],
                       state: GroupState[HoltState]): Iterator[HoltEmit] =
    mergeDays(rows, state) { (upd, days) =>
      val (n, h) = foldDays(days)
      Iterator.single(HoltEmit(uid, upd, n, h.level, h.trend, h.forecast))
    }

  private[graft] def holtFold(ev: DataFrame): Dataset[HoltEmit] = {
    val s = ev.sparkSession
    import s.implicits._
    dayFold(ev)(foldHolt)
  }

  /** Last emission per user from a drained sink → the batch output
    * shape (user_id, n_obs, level, trend, forecast). */
  private[graft] def finalizeHolt(sink: DataFrame): DataFrame =
    lastPerUser(sink)
      .select(col("user_id"), col("n_obs"), col("level"), col("trend"),
              col("forecast"))
      .orderBy(col("user_id"))

  def streamHolt(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "holt", OutputMode.Update)(
      holtFold(Streaming.eventsStream(s, dir)))(finalizeHolt)

  /** The batch #115 oracle — identical output contract. */
  val streamHoltSql: String = graft.operators.Round6Ops.tsHoltSql

  // -------------------------------------------- #177 stream_holt_winters

  private[graft] case class HwEmit(
      user_id: Long, upd: Int, n_obs: Long,
      level: Option[Double], trend: Option[Double], forecasts: Seq[Option[Double]])

  /** ts_holt_winters' series over the day partials: the day count and
    * [[graft.operators.Round6Ops.holtWinters]] of the daily series;
    * None below its m+1-day floor. */
  private[graft] def foldDaysHw(days: scala.collection.Map[Int, DaySum])
      : Option[(Long, HwRow)] = {
    val xs = dailySeries(days)
    holtWinters(xs).map(xs.length.toLong -> _)
  }

  private[graft] def foldHw(uid: Long, rows: Iterator[HoltIn],
                            state: GroupState[HoltState]): Iterator[HwEmit] =
    mergeDays(rows, state) { (upd, days) =>
      foldDaysHw(days).map { case (n, hw) =>
        HwEmit(uid, upd, n, hw.level, hw.trend, hw.forecasts)
      }.iterator
    }

  private[graft] def hwFold(ev: DataFrame): Dataset[HwEmit] = {
    val s = ev.sparkSession
    import s.implicits._
    dayFold(ev)(foldHw)
  }

  /** Last emission per user → the batch #174 output shape
    * (user_id, n_obs, level, trend, h, forecast). */
  private[graft] def finalizeHw(sink: DataFrame): DataFrame =
    lastPerUser(sink)
      .select(col("user_id"), col("n_obs"), col("level"), col("trend"),
              posexplode(col("forecasts")))
      .select(col("user_id"), col("n_obs"), col("level"), col("trend"),
              (col("pos") + 1).cast("int").as("h"), col("col").as("forecast"))
      .orderBy(col("user_id"), col("h"))

  /** #177 stream_holt_winters: the #174 seasonal forecaster maintained
    * incrementally — the same day → [[DaySum]] partial state as
    * [[streamHolt]] (arrival-order and chunking INVARIANT: partials
    * commute, late days land in their slot), with each emission
    * re-folding the sorted day axis through batch #174's own fold,
    * [[graft.operators.Round6Ops.holtWinters]].
    * O(days) state per key, calendar-bounded; the drained stream is
    * BIT-IDENTICAL to the batch operator and shares its oracle. */
  def streamHoltWinters(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "hw", OutputMode.Update)(
      hwFold(Streaming.eventsStream(s, dir)))(finalizeHw)

  /** The batch #174 oracle — identical output contract. */
  val streamHoltWintersSql: String = graft.operators.Round6Ops.tsHoltWintersSql
}
