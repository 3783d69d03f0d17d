package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops24

/** Invariants + reconciliations for round-6 batch 41 (#266-#267). */
class Round6Ops24Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------- corpus_disposition

  test("disposition: routes partition the corpus; shares sum to 1") {
    val rows = Round6Ops24.corpusDisposition(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.groupBy(_.getString(0)).values.foreach(g =>
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-4))
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-4)
    val routes = rows.map(_.getString(1)).toSet
    assert(routes.subsetOf(Set("drop_short", "drop_garbage", "route_code",
      "route_instruction", "drop_low_quality", "keep_prose")))
  }

  test("disposition: priority chain wins first-match on crafted docs") {
    import spark.implicits._
    // the proven #222 OCR sample (scores > 0.4): garbage outranks any
    // later screen in the priority chain
    val garbledCode = "theResult ofThe scanIs n0t.., cl3an l0rem andThe " +
      "m0re c0rrupt t3xt isHere..,, withMore j0ined w0rds everyWhere"
    val code = "def main(args) { val x_y = compute(); if (x_y == null) " +
      "return 0; for (int i = 0; i < n; i++) { total += getValue(i); } }"
    val sft = "Q: what is spark? A: a distributed engine. " +
      "Q: why use it? A: scale. Explain the answer. List three reasons. " +
      "1. speed 2. scale 3. apis? Write a summary. Answer: done?"
    val prose = "the of and to is in a " * 12 + "calm evening settles."
    val short = "tiny"
    val docs = Seq(
      (1L, "s", garbledCode), (2L, "s", code), (3L, "s", sft),
      (4L, "s", prose.trim), (5L, "s", short))
    val out = Round6Ops24.corpusDispositionDf(
        docs.toDF("doc_id", "source", "text")).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    // garbage outranks code on the garbled doc; the clean code routes;
    // sft routes; stopword-dense prose keeps; the fragment drops short
    assert(out.getOrElse("drop_garbage", 0L) == 1, out.toString)
    assert(out.getOrElse("route_code", 0L) == 1)
    assert(out.getOrElse("route_instruction", 0L) == 1)
    assert(out.getOrElse("keep_prose", 0L) == 1)
    assert(out.getOrElse("drop_short", 0L) == 1)
  }

  // --------------------------------------------------- user_feature_vector

  test("feature vector: one row per user; features match their source operators") {
    val rows = Round6Ops24.userFeatureVector(spark, sf).collect()
    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.length == users)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val ent = graft.operators.Round6Ops.eventsTypeEntropy(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val rhy = graft.operators.Round6Ops20.eventsRhythmProfile(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    rows.foreach { r =>
      val u = r.getLong(0)
      assert(r.getDouble(6) == ent(u), s"entropy($u)")
      assert(r.getDouble(7) == rhy(u)._1 && r.getDouble(8) == rhy(u)._2)
      // events_per_day replays from the row's own volume and span
      assert(r.getDouble(3) ==
        Parity.r6d(r.getLong(1).toDouble / r.getLong(2)))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(2) >= 1)
    }
  }
}
