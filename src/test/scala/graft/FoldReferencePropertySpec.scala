package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round6Ops, Round6Ops2}

/** Differential test: the day-grain batch builders (ts_holt,
  * ts_holt_winters, ts_forecast_backtest, ts_cusum_alarm), which run
  * their Scala folds through a UDF, against the Spark SQL `aggregate`
  * spelling they replaced ([[FoldReference]]), cell for cell — over
  * random daily series of 0–60 days (every length under each floor:
  * n < 2, n < m + 1, n < H + 2) holding nulls, NaN, ±Inf, 1e12 and tied
  * values. */
class FoldReferencePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  /** Columns and their types, then the rows as strings, sorted: NaN
    * equals NaN, null equals null, doubles compare exactly. */
  private def canonical(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}")
    (cols, df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted)
  }

  /** Random series over `users` keys: one of each length 0–60 first,
    * then random lengths; days in order with random gaps. A third of
    * the series are plain 6dp values with ties; the rest mix in null,
    * NaN, ±Inf and ±1e12 at a low or a high rate. */
  private def daily(seed: Int, users: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ties = Seq(1.5, -2.25, 0.0, 3.125)
    val rows = (0 until users).flatMap { u =>
      val n = if (u <= 60) u else rnd.nextInt(61)
      val rate = Seq(0.0, 0.05, 0.3)(u % 3)
      val d0 = LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(300))
      val days = Iterator.iterate(d0)(_.plusDays(1 + (if (rnd.nextDouble() < 0.2) rnd.nextInt(5) else 0)))
      days.take(n).map { d =>
        val v: Option[Double] =
          if (rnd.nextDouble() < rate) rnd.nextInt(6) match {
            case 0 => None
            case 1 => Some(Double.NaN)
            case 2 => Some(Double.PositiveInfinity)
            case 3 => Some(Double.NegativeInfinity)
            case 4 => Some(1e12)
            case _ => Some(-1e12 + rnd.nextInt(1000) / 8.0)
          }
          else if (rnd.nextDouble() < 0.25) Some(ties(rnd.nextInt(ties.size)))
          else Some(math.floor(rnd.nextGaussian() * 20e6) / 1e6)
        (u.toLong, java.sql.Date.valueOf(d), v)
      }.toSeq
    }
    rows.toDF("user_id", "d", "sst")
  }

  private val builders: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("ts_holt", Round6Ops.tsHoltDf, FoldReference.tsHoltDf),
    ("ts_holt_winters", Round6Ops.tsHoltWintersDf, FoldReference.tsHoltWintersDf),
    ("ts_forecast_backtest", Round6Ops2.tsForecastBacktestDf, FoldReference.tsForecastBacktestDf),
    ("ts_cusum_alarm", Round6Ops2.tsCusumAlarmDf, FoldReference.tsCusumAlarmDf))

  for ((name, fold, reference) <- builders)
    test(s"$name: the Scala fold equals its aggregate reference cell for cell") {
      for (seed <- Seq(3, 5, 8)) {
        val dl = daily(seed, 160).cache()
        val (got, want) = (canonical(fold(dl)), canonical(reference(dl)))
        assert(got._1 == want._1, s"seed $seed: schema")
        assert(want._2.nonEmpty, s"seed $seed: no rows")
        val (extra, missing) = (got._2.diff(want._2), want._2.diff(got._2))
        assert(extra.isEmpty && missing.isEmpty,
          s"seed $seed: got ${extra.take(3).mkString(", ")}; want ${missing.take(3).mkString(", ")}")
        dl.unpersist()
      }
    }
}
