package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mhw
import graft.streaming.SevIn

/** Differential test: event detection vs an independent sequential
  * implementation of the reference contract (common/core.py:37
  * `_detect_events`), over 200 random series with gaps — batch
  * detectEvents and eventRates, and the streaming fold, each compared
  * exactly per event — and detectEvents' metrics vs an independent
  * BigDecimal reference over series with null and NaN days, tied
  * peaks and a binding event cap. */
class MhwEventsPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  /** Sequential reference: runs of sev>1 on the shared index axis
    * (missing days = not exceeding), duration filter, then a single
    * left-to-right gap-merge pass (start − prevEnd ≤ maxGap). */
  private def refEvents(sev: Map[Int, Double], n: Int, minDur: Int,
                        maxGap: Int): Seq[(Int, Int)] = {
    val flags = (0 until n).map(i => sev.get(i).exists(_ > 1))
    val runs = scala.collection.mutable.Buffer.empty[(Int, Int)]
    var i = 0
    while (i < n) {
      if (flags(i)) {
        var j = i
        while (j + 1 < n && flags(j + 1)) j += 1
        runs += ((i, j)); i = j + 1
      } else i += 1
    }
    val kept = runs.filter { case (a, b) => b - a + 1 >= minDur }
    val merged = scala.collection.mutable.Buffer.empty[(Int, Int)]
    kept.foreach { case (a, b) =>
      merged.lastOption match {
        // reference merges against the previous run's own end, but after
        // a chain-merge the buffer end IS that run's end
        case Some((pa, pb)) if a - pb <= maxGap => merged(merged.length - 1) = (pa, b)
        case _ => merged += ((a, b))
      }
    }
    merged.toSeq
  }

  private val n = 40
  private val base = Date.valueOf("2024-01-01").toLocalDate

  /** 200 random series over n days: ~15% of days missing, ~45% of the
    * rest exceeding. */
  private val series: Map[Long, Map[Int, Double]] = {
    val rnd = new scala.util.Random(7)
    (1L to 200L).map { uid =>
      uid -> (0 until n).flatMap { i =>
        if (rnd.nextDouble() < 0.15) None // missing day
        else Some(i -> (if (rnd.nextDouble() < 0.45) 2.0 + rnd.nextDouble() else 0.5))
      }.toMap
    }.toMap
  }

  /** The series as a severity frame; eventRates also reads sst, seas and
    * thresh. */
  private def sevDf = series.toSeq.flatMap { case (uid, m) =>
    m.toSeq.map { case (i, sev) =>
      (uid, Date.valueOf(base.plusDays(i)), 1.0, sev, 1.0, 0.0, 0.5)
    }
  }.toDF("user_id", "d", "t_anom", "severity", "sst", "seas", "thresh")

  /** Assert every series' (start, end) spans equal the reference's,
    * indices counted from day `origin` of the grid. */
  private def checkAgainstRef(got: Map[Long, Seq[(Int, Int)]], origin: Int): Unit = {
    var usersWithEvents = 0
    series.foreach { case (uid, m) =>
      val expected = refEvents(m, n, 3, 2)
        .map { case (a, b) => (a - origin, b - origin) }
      val actual = got.getOrElse(uid, Seq.empty)
      assert(actual == expected, s"user $uid: got $actual, expected $expected")
      if (expected.nonEmpty) usersWithEvents += 1
    }
    assert(usersWithEvents > 100) // the test actually exercises events
  }

  /** Spans per user of a batch result, in start order; idx is counted
    * from the global first day, which some user has by construction. */
  private def batchSpans(df: DataFrame): Map[Long, Seq[(Int, Int)]] =
    df.select("user_id", "index_start", "index_end")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) =>
        u -> rs.map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
      }

  private val origin = series.values.flatMap(_.keys).min

  test("detectEvents matches the sequential reference on 200 random gappy series") {
    checkAgainstRef(batchSpans(Mhw.detectEvents(sevDf, minDuration = 3, maxGap = 2)), origin)
  }

  test("eventRates finds the same spans as the sequential reference") {
    checkAgainstRef(batchSpans(Mhw.eventRates(sevDf, minDuration = 3, maxGap = 2)), origin)
  }

  test("foldMhw, chunked and with its open tail closed, matches the sequential reference") {
    val rnd = new scala.util.Random(11)
    val got = series.map { case (uid, m) =>
      val days = m.toSeq.sorted.map { case (i, sev) => SevIn(uid, i, 1.0, sev, sev > 1) }
      // a random in-order split into 1-4 chunks, then a qualifying run far
      // beyond maxGap that closes the open tail (and stays open itself)
      val cuts = Seq.fill(rnd.nextInt(4))(rnd.nextInt(days.size + 1)).sorted
      val bounds = (0 +: cuts) :+ days.size
      val closer = (n + 10 until n + 13).map(i => SevIn(uid, i, 1.0, 2.0, hot = true))
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => days.slice(a, b) } :+ closer
      val (emitted, _) = StreamingMhwSpec.foldChunks(chunks, uid)
      val spans = emitted.map(e => (e.evt, e.index_start, e.index_end)).distinct
      assert(spans.map(_._1) == (1L to spans.size.toLong), s"user $uid: evt ordinals $spans")
      assert(emitted.forall(e => e.user_id == uid && m.contains(e.idx) &&
        e.idx >= e.index_start && e.idx <= e.index_end))
      uid -> spans.map { case (_, a, b) => (a, b) }
    }
    checkAgainstRef(got, 0)
  }

  /** Exceedance as Spark reads `severity > 1`: null no, NaN yes. */
  private def hot(v: Option[Double]): Boolean = v.exists(x => x > 1 || x.isNaN)

  /** Spark's double ordering for max: NaN above every number. */
  private def above(a: Double, b: Double): Boolean = !b.isNaN && (a.isNaN || a > b)

  private def r6(x: Double): Double = if (x.isNaN) x else math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** Sequential metrics of one event over days [a, b] of a series:
    * (index_peak, intensity_max, intensity_mean, intensity_cumul,
    * severity_max), null as None. Sums are exact scale-10 BigDecimals
    * of the finite values; the mean counts every non-NaN value. */
  private def refMetrics(ta: Map[Int, Option[Double]], sev: Map[Int, Option[Double]],
                         a: Int, b: Int): Seq[Option[Any]] = {
    val tas = (a to b).flatMap(i => ta.get(i).flatten.map(i -> _))
    val mx = tas.map(_._2).reduceOption((x, y) => if (above(y, x)) y else x)
    val peak = mx.flatMap(m => tas.find { case (_, v) => v == m || (v.isNaN && m.isNaN) }.map(_._1))
    val fin = tas.map(_._2).filter(v => !v.isNaN && !v.isInfinite)
    val sum = fin.map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .reduceOption(_ + _).map(_.toDouble)
    val cnt = tas.count(!_._2.isNaN)
    val smx = (a to b).flatMap(i => sev.get(i).flatten)
      .reduceOption((x, y) => if (above(y, x)) y else x)
    Seq(peak, mx, sum.map(x => r6(x / cnt)), sum.map(r6), smx.map(r6))
  }

  /** 120 series over 60 days: ~10% missing days, ~5% null and ~3% NaN
    * severity, T_anom on a coarse grid (tied peaks) with ~5% null and
    * ~2% NaN, exceeding runs long enough that a 2-event cap binds. */
  private lazy val rough: Map[Long, Map[Int, (Option[Double], Option[Double])]] = {
    val rnd = new scala.util.Random(23)
    (1L to 120L).map { uid =>
      uid -> (0 until 60).flatMap { i =>
        if (rnd.nextDouble() < 0.10) None
        else {
          val u = rnd.nextDouble()
          val sev = if (u < 0.05) None else if (u < 0.08) Some(Double.NaN)
                    else Some(if (rnd.nextDouble() < 0.55) 1.5 + rnd.nextInt(3) else 0.5)
          val w = rnd.nextDouble()
          val ta = if (w < 0.05) None else if (w < 0.07) Some(Double.NaN)
                   else Some(rnd.nextInt(5) * 0.25 - 0.25)
          Some(i -> (ta, sev))
        }
      }.toMap
    }.toMap
  }

  test("detectEvents' metrics match a sequential reference: null/NaN days, tied peaks, a binding cap") {
    val df = rough.toSeq.flatMap { case (uid, m) =>
      m.toSeq.map { case (i, (ta, sev)) => (uid, Date.valueOf(base.plusDays(i)), ta, sev) }
    }.toDF("user_id", "d", "t_anom", "severity")
    val origin = rough.values.flatMap(_.keys).min
    var capped, tied = 0
    for (cap <- Seq(Int.MaxValue, 2)) {
      val got = Mhw.detectEvents(df, minDuration = 3, maxGap = 2, maxEvents = cap)
        .select("user_id", "evt", "index_start", "index_end", "duration", "index_peak",
                "intensity_max", "intensity_mean", "intensity_cumul", "severity_max")
        .collect().groupBy(_.getLong(0))
      rough.foreach { case (uid, m) =>
        val ta = m.map { case (i, (t, _)) => i -> t }
        val sev = m.map { case (i, (_, s)) => i -> s }
        val spans = refEvents(sev.collect { case (i, s) if hot(s) => i -> 2.0 }, 60, 3, 2)
        if (cap < Int.MaxValue && spans.size > cap) capped += 1
        val expected = spans.take(cap).zipWithIndex.map { case ((a, b), k) =>
          val Seq(peak, rest @ _*) = refMetrics(ta, sev, a, b)
          Seq(Some(k + 1L), Some(a - origin), Some(b - origin), Some(b - a + 1),
              peak.map(p => p.asInstanceOf[Int] - origin)) ++ rest
        }
        val actual = got.getOrElse(uid, Array.empty[Row]).sortBy(_.getLong(1)).toSeq
          .map(r => (1 until r.length).map(j => Option(r.get(j))))
        def same(x: Seq[Option[Any]], y: Seq[Option[Any]]) = x.zip(y).forall {
          case (Some(a: Double), Some(b: Double)) => a == b || (a.isNaN && b.isNaN)
          case (a, b) => a == b
        } && x.size == y.size
        assert(actual.size == expected.size && actual.zip(expected).forall { case (x, y) => same(x, y) },
          s"user $uid cap $cap: got $actual, expected $expected")
        if (cap == Int.MaxValue) tied += spans.count { case (a, b) =>
          val vs = (a to b).flatMap(i => ta.get(i).flatten).filter(!_.isNaN)
          vs.nonEmpty && vs.count(_ == vs.max) > 1
        }
      }
    }
    assert(capped > 10 && tied > 10, s"cap bound $capped times, tied peaks $tied") // exercised
  }

  test("the event kernel separates two series whose key hashes collide") {
    // rows as the kernel's exchange lays them out: (user_id, day, t_anom,
    // severity, h); keys 1 and 2 share h, key 3 follows
    val rnd = new scala.util.Random(5)
    def record(key: Long, h: Long): Seq[Row] = (0 until 80).filter(_ => rnd.nextDouble() < 0.9).map { d =>
      Row(key, 1000 + d, math.rint(rnd.nextGaussian() * 4) / 4,
          if (rnd.nextDouble() < 0.6) 2.0 else 0.5, h)
    }
    val (a, b, c) = (record(1L, 42L), record(2L, 42L), record(3L, 43L))
    val interleaved = a.zipAll(b, null, null).flatMap { case (x, y) => Seq(x, y) }
      .filter(_ != null) ++ c
    def run(rows: Seq[Row]) =
      Mhw.eventKernel(3, 2, Int.MaxValue, spanDays = false)(rows.iterator).toSeq.partition(_.isNullAt(0))
    val alone = Seq(a, b, c).map(run)
    assert(alone.forall(_._2.nonEmpty))
    assert(alone(0)._2.map(_.toSeq.drop(1)) != alone(1)._2.map(_.toSeq.drop(1)))
    val (marker, events) = run(interleaved)
    assert(events.toSet == alone.flatMap(_._2).toSet)
    assert(marker.map(_.getInt(9)) == Seq((a ++ b ++ c).map(_.getInt(1)).min))
  }
}
