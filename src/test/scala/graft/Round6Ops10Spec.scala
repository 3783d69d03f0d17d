package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops10

/** Invariants + reconciliations for round-6 batch 27 (#212-#216). */
class Round6Ops10Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ------------------------------------------------------ events_ams_f2

  test("ams: driver replay of signed counters, estimates and exact F2") {
    val rows = Round6Ops10.eventsAmsF2(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val types = ev.map(_._1).distinct
    assert(rows.length == types.length * Round6Ops10.AmsRows)
    val byKey = rows.map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    types.foreach { t =>
      val us = ev.filter(_._1 == t).map(_._2)
      val f2 = us.groupBy(identity).values.map(g => g.length.toLong * g.length)
        .sum
      var estSum = 0L
      (0 until Round6Ops10.AmsRows).foreach { rr =>
        val z = us.map(u =>
          if (md5hex(s"$rr:$u").last < '8') 1L else -1L).sum
        val row = byKey((t, rr))
        assert(row.getLong(2) == z, s"z($t,$rr)")
        assert(row.getLong(3) == z * z)
        assert(row.getLong(5) == f2)
        estSum += z * z
      }
      val est = Parity.r6d(estSum.toDouble / Round6Ops10.AmsRows)
      // r(.,2) in the operator vs r6d here: recompute at 2dp
      val est2 = math.floor(estSum.toDouble / Round6Ops10.AmsRows * 100 + 0.5) / 100
      assert(byKey((t, 0)).getDouble(4) == est2, s"f2_est($t) $est")
      // 8-row AMS is loose but must be the right order of magnitude
      assert(byKey((t, 0)).getDouble(6) < 2.0, s"rel_err($t)")
    }
  }

  test("ams: streamed registers are bit-identical to the batch build") {
    val batch = Round6Ops10.eventsAmsF2(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamAmsF2(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  // ---------------------------------------------- events_bottomk_sample

  test("bottom-k sample: exactly the k smallest tickets per type, in order") {
    val rows = Round6Ops10.eventsBottomkSample(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "event_id", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows.groupBy(_.getString(0))
    ev.groupBy(_._1).foreach { case (t, es) =>
      val want = es.map { case (_, eid, uid) =>
        (java.lang.Long.parseLong(md5hex(eid.toString).take(15), 16), eid, uid)
      }.sortBy(p => (p._1, p._2)).take(Round6Ops10.SampleK)
      val got = byType(t).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got == want.toSeq, s"sample($t)")
      assert(byType(t).map(_.getLong(1)).sorted.toSeq ==
        (1 to want.length).map(_.toLong))
    }
  }

  test("bottom-k sample: streamed sample is bit-identical to the batch build") {
    val batch = Round6Ops10.eventsBottomkSample(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamSample(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  // ----------------------------------------------------------- graph_kcore

  /** Exact peel: repeatedly remove min-degree nodes; a node's coreness
    * is the highest k whose k-core still contains it. */
  private def peelCoreness(edges: Seq[(String, String)]): Map[String, Int] = {
    val adj = collection.mutable.Map[String, collection.mutable.Set[String]]()
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set()) += b
    }
    val core = collection.mutable.Map[String, Int]()
    val alive = collection.mutable.Set(adj.keys.toSeq: _*)
    var k = 0
    while (alive.nonEmpty) {
      val deg = alive.map(v => v -> (adj(v) & alive).size).toMap
      val minDeg = deg.values.min
      if (minDeg > k) k = minDeg
      deg.filter(_._2 <= k).keys.toSeq match {
        case Nil => ()
        case vs => vs.foreach { v => core(v) = k; alive -= v }
      }
    }
    core.toMap
  }

  test("kcore: h-index iteration lands on the exact peel coreness and has converged") {
    val rows = Round6Ops10.graphKcore(spark, sf).collect()
    val edges = Round6Ops10.brandEdges(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val exact = peelCoreness(edges)
    assert(rows.nonEmpty && rows.length == exact.size)
    rows.foreach { r =>
      assert(r.getLong(2) == exact(r.getString(0)),
        s"coreness(${r.getString(0)})")
      assert(r.getLong(2) <= r.getLong(1))  // coreness <= degree
    }
    // one more round must not move anything (fixpoint reached)
    val more = Round6Ops10.graphKcoreDf(
        Round6Ops10.brandEdges(spark, sf), Round6Ops10.KcoreRounds + 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(more(r.getString(0)) == r.getLong(2)))
  }

  test("kcore: clique keeps its core, the tail path peels to 1") {
    import spark.implicits._
    val clique = for {
      a <- Seq("c1", "c2", "c3", "c4"); b <- Seq("c1", "c2", "c3", "c4")
      if a != b
    } yield (a, b)
    val path = Seq(("c4", "p1"), ("p1", "c4"), ("p1", "p2"), ("p2", "p1"))
    val out = Round6Ops10.graphKcoreDf((clique ++ path).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    Seq("c1", "c2", "c3", "c4").foreach(v => assert(out(v) == 3, v))
    assert(out("p1") == 1 && out("p2") == 1)
  }
}
