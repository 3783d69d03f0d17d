package graft

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mhw

/** Differential test: distributed event detection vs an independent
  * sequential implementation of the reference contract
  * (common/core.py:37 `_detect_events`), over 200 random series with
  * gaps — one Spark job, exact per-event comparison. */
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

  test("detectEvents matches the sequential reference on 200 random gappy series") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val base = Date.valueOf("2024-01-01").toLocalDate
    val series: Map[Long, Map[Int, Double]] = (1L to 200L).map { uid =>
      uid -> (0 until n).flatMap { i =>
        if (rnd.nextDouble() < 0.15) None // missing day
        else Some(i -> (if (rnd.nextDouble() < 0.45) 2.0 + rnd.nextDouble() else 0.5))
      }.toMap
    }.toMap

    val rows = series.toSeq.flatMap { case (uid, m) =>
      m.toSeq.map { case (i, sev) =>
        (uid, Date.valueOf(base.plusDays(i)), 1.0, sev)
      }
    }
    // anchor idx 0 for every user's frame: one row at the global origin
    // exists by construction for some user; datediff is vs global min
    val sevDf = rows.toDF("user_id", "d", "t_anom", "severity")

    val got = Mhw.detectEvents(sevDf, minDuration = 3, maxGap = 2)
      .select("user_id", "index_start", "index_end")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) =>
        u -> rs.map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
      }

    val globalMin = rows.map(_._2.toLocalDate).min(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val shift = java.time.temporal.ChronoUnit.DAYS.between(base, globalMin).toInt

    var usersWithEvents = 0
    series.foreach { case (uid, m) =>
      val expected = refEvents(m, n, 3, 2)
        .map { case (a, b) => (a - shift, b - shift) }
      val actual = got.getOrElse(uid, Seq.empty)
      assert(actual == expected, s"user $uid: got $actual, expected $expected")
      if (expected.nonEmpty) usersWithEvents += 1
    }
    assert(usersWithEvents > 100) // the test actually exercises events
  }
}
