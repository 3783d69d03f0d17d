package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops20

/** Invariants + reconciliations for round-6 batch 37 (#254-#257). */
class Round6Ops20Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------- mm_resolution_audit

  test("resolution audit: orientation partition and geometry replay") {
    val rows = Round6Ops20.mmResolutionAudit(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(4) + r.getLong(5) + r.getLong(6) == r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(7) >= 64 && r.getLong(8) <= 1023)
    }
    // geometry replay for one modality bucket
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    def md5b(i: Long) = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).take(1).map("%02x".format(_)).mkString,
      16) % 4
    val img = ids.filter(md5b(_) == 1)
    val below = img.count { i =>
      val w = 64 + i % 960; val h = 64 + (i * 7) % 960
      w < Round6Ops20.MmResFloor || h < Round6Ops20.MmResFloor
    }
    val imgRow = rows.find(_.getString(0) == "image").get
    assert(imgRow.getLong(1) == img.length)
    assert(imgRow.getDouble(3) == Parity.r6d(below.toDouble / img.length))
  }

  // -------------------------------------------------- events_rhythm_profile

  test("rhythm: a weekday-only user deviates; a uniform user is flat") {
    import spark.implicits._
    val base = java.time.LocalDate.of(2024, 1, 1) // a Monday
    def ts(d: Int, i: Int) =
      java.sql.Timestamp.valueOf(base.plusDays(d).atTime(i % 24, 0))
    // user 1: strictly Mondays; user 2: uniform across all 7 days
    val monday = (0 until 28).filter(_ % 7 == 0).flatMap(d =>
      (0 until 5).map(i => (1L, ts(d, i))))
    val uniform = (0 until 28).flatMap(d => (0 until 5).map(i => (2L, ts(d, i))))
    val out = Round6Ops20.eventsRhythmProfileDf(
        (monday ++ uniform).toDF("user_id", "ts"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 0.0, "single-day profile has zero entropy")
    assert(out(2L).getDouble(3) > 0.99, "uniform profile is flat")
    assert(out(2L).getBoolean(4))
    assert(out(1L).getDouble(2) < out(2L).getDouble(2),
      "the Monday-only user matches the blended crowd less than uniform does")
  }

  test("rhythm: corpus profiles are unit-consistent") {
    val rows = Round6Ops20.eventsRhythmProfile(spark, sf).collect()
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1e-9 && r.getDouble(2) <= 1.0 + 1e-6)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-6)
    }
  }

  // --------------------------------------------------- dq_value_granularity

  test("granularity: the cents-typed feed classifies 2dp; classes partition") {
    val rows = Round6Ops20.dqValueGranularity(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) +
        r.getLong(6) == r.getLong(1))
      // the generated feed carries 2dp money values
      assert(r.getDouble(7) == 1.0, s"${r.getString(0)} must be 2dp-or-coarser")
    }
    import spark.implicits._
    val vs = Seq(("a", 5.0), ("a", 5.1), ("a", 5.25), ("a", 5.1234),
                 ("a", 5.123456))
    val out = Round6Ops20.dqValueGranularityDf(
        vs.toDF("event_type", "value")).collect().head
    assert(out.getLong(2) == 1 && out.getLong(3) == 1 && out.getLong(4) == 1)
    assert(out.getLong(5) == 1 && out.getLong(6) == 1)
    assert(out.getDouble(7) == Parity.r6d(3.0 / 5))
  }

  // -------------------------------------- events_session_depth_conversion

  test("depth conversion: driver replay of the session-position rollup") {
    val rows = Round6Ops20.eventsSessionDepthConversion(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    // replay the #16 sessionizer at second precision
    val positions = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2.getTime, e._3))
      var sid = 0L; var prev: Option[Long] = None
      sorted.map { e =>
        val sec = e._2.getTime / 1000
        if (prev.exists(p => sec - p <= 1800)) () else sid += 1
        prev = Some(sec)
        (e._1, sid, e._4)
      }
    }.toSeq
    val withPos = positions.groupBy(t => (t._1, t._2)).values.flatMap { ses =>
      ses.zipWithIndex.map { case ((u, sid, t), i) =>
        (u, sid, t, math.min(i + 1, Round6Ops20.DepthCap))
      }
    }.toSeq
    val nSessions = positions.groupBy(t => (t._1, t._2)).size
    val byDepth = withPos.groupBy(_._4)
    assert(rows.map(_.getLong(0)).toSet == byDepth.keySet.map(_.toLong))
    rows.foreach { r =>
      val d = r.getLong(0).toInt
      val g = byDepth(d)
      assert(r.getLong(1) == g.size)
      assert(r.getLong(2) == g.map(t => (t._1, t._2)).distinct.size)
      assert(r.getLong(3) == g.count(_._3 == "purchase"))
      assert(r.getDouble(5) == Parity.r6d(
        g.map(t => (t._1, t._2)).distinct.size.toDouble / nSessions))
    }
    // reach share is monotone non-increasing in depth
    val reach = rows.sortBy(_.getLong(0)).map(_.getDouble(5))
    assert(reach.sameElements(reach.sorted.reverse))
  }
}
