package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Parity
import graft.sources.Staging

/** #135 stream_periodogram: the #134 fixed-period seasonality detector
  * maintained incrementally — per-series state is the day count and
  * five exact decimal sums (Σx, Σx·cos, Σx·sin, Σcos, Σsin) PER
  * CANDIDATE PERIOD, kept as scale-10 unscaled integers (O(periods)
  * per key, the smallest state any of the streaming folds carries).
  * The sums commute, so the fold is arrival-order/chunking invariant;
  * every emission finalizes with the batch operator's exact algebra
  * (mean-centering expanded, 6dp rounding), so the drained stream is
  * bit-identical to the batch operator and shares its oracle.
  *
  * The input is the daily series feed (the same staged-severity
  * contract as [[StreamingMhw]]: the per-day mean is the model side a
  * deployment precomputes; the stream consumes day-grain observations).
  */
object StreamingPeriodogram {

  private val periods: Seq[Int] =
    graft.operators.Round6Ops2.PeriodogramPeriods

  private[graft] case class PgIn(user_id: Long, day: Int, sst: Option[Double])
  /** The day count and the five sums of each period, period-major:
    * sum `5·i + t` is term t of period i, None while it saw no value. */
  private[graft] case class PgState(upd: Int, n: Long, sums: Seq[Option[BigInt]])
  private[graft] case class PgEmit(user_id: Long, upd: Int, period: Int,
                                   n_obs: Long, power: Option[Double])

  /** One observation folded into the per-period decimal sums — the
    * JVM mirror of the batch operator's per-row expressions: identical
    * phase arithmetic (day mod P first), Math.cos/sin (the same libm
    * Spark's codegen calls), 6dp rounding before use, and the
    * DECIMAL(38,10) sums of [[Parity.Sums]] (a null, NaN or ±Inf sst
    * adds nothing to the sst sums; every day counts). */
  private[graft] def foldPg(uid: Long, rows: Iterator[PgIn],
                            state: GroupState[PgState]): Iterator[PgEmit] = {
    val k = periods.length
    val acc = new Parity.Sums(5 * k)
    val st = state.getOption
    st.foreach(_.sums.zipWithIndex.foreach { case (u, j) => acc.addState(j, u) })
    var n = st.fold(0L)(_.n)
    var any = false
    rows.foreach { r =>
      any = true
      n += 1
      for (i <- 0 until k) {
        val p = periods(i)
        val phase = 2.0 * math.Pi * (r.day % p) / p
        val c = Parity.r6d(math.cos(phase))
        val sn = Parity.r6d(math.sin(phase))
        r.sst.foreach { x =>
          acc.addDouble(5 * i, x)
          acc.addDouble(5 * i + 1, x * c)
          acc.addDouble(5 * i + 2, x * sn)
        }
        acc.addDouble(5 * i + 3, c)
        acc.addDouble(5 * i + 4, sn)
      }
    }
    if (!any) Iterator.empty
    else {
      val upd = st.fold(0)(_.upd) + 1
      state.update(PgState(upd, n, (0 until 5 * k).map(acc.state)))
      // finalize with the batch algebra — a = Σxc − (Σx/n)·Σc, etc.
      periods.indices.iterator.map { i =>
        def centered(t: Int) = for (sxt <- acc.get(5 * i + t); sx <- acc.get(5 * i);
                                    st <- acc.get(5 * i + t + 2)) yield sxt - (sx / n) * st
        val power = for (a <- centered(1); b <- centered(2)) yield Parity.r6d((a * a + b * b) / n)
        PgEmit(uid, upd, periods(i), n, power)
      }
    }
  }

  private val pgSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("day", IntegerType),
    StructField("sst", DoubleType)))

  /** The fold pipeline over any (user_id, day, sst) day-grain frame. */
  private[graft] def pgFold(daily: DataFrame): Dataset[PgEmit] = {
    val s = daily.sparkSession
    import s.implicits._
    daily.as[PgIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldPg)
  }

  /** Last emission per (series, period) — already finalized rows. */
  private[graft] def finalizePg(sink: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("period"))
      .orderBy(col("upd").desc)
    sink.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("period"), col("n_obs"), col("power"))
      .orderBy(col("user_id"), col("period"))
  }

  def streamPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val tmp = Staging.scratchPath("pg_daily")
    // stage the day-grain feed (the StreamingMhw severity contract):
    // multi-file write is fine — the sums commute across any chunking
    graft.operators.Mhw.daily(s, dir)
      .select(col("user_id"),
              datediff(col("d"), lit("1970-01-01")).as("day"), col("sst"))
      .write.mode("overwrite").parquet(tmp)
    Streaming.drain(s, "pg", OutputMode.Update, Some(tmp))(
      pgFold(s.readStream.schema(pgSchema)
        .option("pathGlobFilter", "*.parquet").parquet(tmp)))(finalizePg)
  }

  /** The batch #134 oracle — identical output contract. */
  val streamPeriodogramSql: String =
    graft.operators.Round6Ops2.tsPeriodogramSql
}
