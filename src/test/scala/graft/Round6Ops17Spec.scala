package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops17

/** Invariants + reconciliations for round-6 batch 34 (#242-#245). */
class Round6Ops17Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ----------------------------------------------- dq_embedding_coverage

  test("embedding coverage: the shipped pair is fully covered; breakage is counted") {
    val row = Round6Ops17.dqEmbeddingCoverage(spark, sf).collect().head
    val nd = graft.sources.Tables.documents(spark, sf).count()
    val nv = graft.sources.Tables.embeddings(spark, sf).count()
    assert(row.getLong(0) == nd && row.getLong(1) == nv)
    assert(row.getLong(3) == nd - row.getLong(2))
    assert(row.getLong(4) == nv - row.getLong(2))
    assert(row.getLong(5) == 1, "one consistent embedding width")
    assert(row.getLong(6) == 0, "no zero vectors in the shipped table")
    import spark.implicits._
    // broken world: doc 3 unembedded, vec 9 orphaned, vec 2 zeroed,
    // vec 1 short
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val vecs = Seq(
      (1L, Array(1f, 2f)),
      (2L, Array(0f, 0f, 0f)),
      (9L, Array(1f, 1f, 1f))).toDF("vec_id", "embedding")
    val out = Round6Ops17.dqEmbeddingCoverageDf(docs, vecs).collect().head
    assert(out.getLong(0) == 3 && out.getLong(1) == 3)
    assert(out.getLong(2) == 2)                    // matched: 1, 2
    assert(out.getLong(3) == 1 && out.getLong(4) == 1)
    assert(out.getLong(5) == 2)                    // widths 2 and 3
    assert(out.getLong(6) == 1)                    // the zero vector
    assert(out.getDouble(7) == Parity.r6d(2.0 / 3))
  }

  // ---------------------------------------------------- doc_collocations

  test("collocations: driver replay of the PMI ranking") {
    val rows = Round6Ops17.docCollocations(spark, sf).collect()
    assert(rows.length == Round6Ops17.CollocTopK)
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val toks = texts.map(_.trim.toLowerCase.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, g) =>
      w -> g.length.toLong }
    val tUni = uni.values.sum.toDouble
    val bi = toks.flatMap(t => t.sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, g) => p -> g.length.toLong }
      .filter(_._2 >= Round6Ops17.CollocMinN)
    val tBi = toks.map(t => math.max(t.length - 1, 0).toLong).sum.toDouble
    val scored = bi.map { case ((a, b), n) =>
      (a, b, n, Parity.r6d(math.log((n / tBi) /
        ((uni(a) / tUni) * (uni(b) / tUni)))))
    }.toSeq.sortBy(t => (-t._4, t._1, t._2)).take(Round6Ops17.CollocTopK)
    rows.zip(scored).foreach { case (r, (a, b, n, pmi)) =>
      assert(r.getString(1) == a && r.getString(2) == b, s"rank ${r.getLong(0)}")
      assert(r.getLong(3) == n)
      assert(r.getDouble(6) == pmi)
    }
    rows.foreach(r => assert(r.getLong(3) >= Round6Ops17.CollocMinN))
  }

  // --------------------------------------------------- events_markov_eval

  test("markov eval: driver replay of train/predict/grade across the halves") {
    val rows = Round6Ops17.eventsMarkovEval(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val days = ev.map(_._2.toLocalDateTime.toLocalDate)
    val mid = days.min.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(days.min, days.max) / 2)
    def transOf(half: Int): Seq[(String, String)] =
      ev.filter { e =>
        val d = e._2.toLocalDateTime.toLocalDate
        if (half == 1) !d.isAfter(mid) else d.isAfter(mid)
      }.groupBy(_._1).values.toSeq.flatMap { es =>
        val sorted = es.sortBy(e => (e._2.getTime, e._3)).map(_._4).toSeq
        sorted.sliding(2).filter(_.length == 2).map(p => (p(0), p(1)))
      }
    val train = transOf(1).groupBy(identity).map { case (k, g) =>
      k -> g.length.toLong }
    val pred = train.groupBy(_._1._1).map { case (prev, m) =>
      prev -> m.toSeq.map { case ((_, nx), n) => (nx, n) }
        .sortBy(t => (-t._2, t._1)).head._1
    }
    val majority = train.groupBy(_._1._2).map { case (nx, m) =>
      nx -> m.values.sum }.toSeq.sortBy(t => (-t._2, t._1)).head._1
    val test = transOf(2).filter(t => pred.contains(t._1))
    rows.foreach { r =>
      val prev = r.getString(0)
      val ts = test.filter(_._1 == prev)
      assert(r.getString(1) == pred(prev))
      assert(r.getLong(2) == ts.length)
      assert(r.getLong(3) == ts.count(_._2 == pred(prev)))
      assert(r.getDouble(4) ==
        Parity.r6d(ts.count(_._2 == pred(prev)).toDouble / ts.length))
      assert(r.getDouble(5) ==
        Parity.r6d(ts.count(_._2 == majority).toDouble / ts.length))
    }
    assert(rows.map(_.getString(0)).toSet == test.map(_._1).toSet)
  }

  // ------------------------------------------------------- dq_event_dupes

  test("event dupes: clean feed reports zero inflation; injected replays counted") {
    val rows = Round6Ops17.dqEventDupes(spark, sf).collect()
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      assert(r.getLong(3) == 0 && r.getLong(4) == 0 && r.getDouble(5) == 0.0,
        s"generated feed must be dupe-free: ${r.getString(0)}")
    }
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val evs = Seq(
      (1L, t0, "click", 5.0), (1L, t0, "click", 5.0), (1L, t0, "click", 5.0),
      (2L, t0, "click", 1.0),
      (3L, t0, "view", 2.0), (3L, t0, "view", 2.0))
    val out = Round6Ops17.dqEventDupesDf(
        evs.toDF("user_id", "ts", "event_type", "value"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("click").getLong(1) == 4 && out("click").getLong(2) == 2)
    assert(out("click").getLong(3) == 1 && out("click").getLong(4) == 2)
    assert(out("click").getDouble(5) == Parity.r6d(2.0 / 4))
    assert(out("view").getLong(4) == 1)
  }
}
