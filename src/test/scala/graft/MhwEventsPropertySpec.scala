package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mhw
import graft.streaming.SevIn

/** Differential test: event detection vs an independent sequential
  * implementation of the reference contract (common/core.py:37
  * `_detect_events`), over 200 random series with gaps — batch
  * detectEvents and eventRates, and the streaming fold, each compared
  * exactly per event. */
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
}
