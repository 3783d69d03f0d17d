package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops12

/** Invariants + reconciliations for round-6 batch 29 (#221-#224). */
class Round6Ops12Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dec(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  // --------------------------------------------------- doc_template_detect

  test("template detect: driver replay of the skeleton clustering") {
    val rows = Round6Ops12.docTemplateDetect(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def skel(t: String) = t.trim.toLowerCase
      .replaceAll("[a-z0-9]+", "#").replaceAll("\\s+", " ")
    val byName = docs.groupBy(d => skel(d._3))
    val expected = byName.filter(_._2.length >= 2)
    assert(rows.length == expected.size)
    assert(rows.map(_.getLong(1)).sum == expected.values.map(_.length).sum)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(5) ==
        Parity.r6d(r.getLong(1).toDouble / docs.length))
    }
    // descending cluster sizes
    val sizes = rows.map(_.getLong(1)).toSeq
    assert(sizes == sizes.sorted.reverse)
  }

  test("template detect: a mail-merge family clusters; unique docs do not appear") {
    import spark.implicits._
    val merge = (0 until 5).map(i =>
      (i.toLong, s"src$i", s"dear user$i, your invoice n$i is ready today."))
    val unique = Seq((10L, "srcX", "completely different text with no siblings here"))
    val out = Round6Ops12.docTemplateDetectDf(
        (merge ++ unique).toDF("doc_id", "source", "text")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 5)        // the whole family
    assert(out.head.getLong(2) == 5)        // spread across 5 sources
    assert(out.head.getLong(3) == 0L)       // exemplar = min doc_id
  }

  // ---------------------------------------------------- text_garbage_score

  test("garbage score: clean corpus passes; OCR artifacts and mojibake page") {
    val real = Round6Ops12.textGarbageScore(spark, sf).collect()
    assert(real.count(_.getBoolean(6)) <= real.length / 50,
      "generated prose must not mass-flag")
    import spark.implicits._
    val ocr = "theResult ofThe scanIs n0t.., cl3an l0rem andThe m0re " +
      "c0rrupt t3xt isHere..,, withMore j0ined w0rds everyWhere"
    val moji = "café ÿþ brøken â€œsmart quotesâ€ everyÃ©where Ã©Ã©Ã©"
    val clean = "this is a perfectly ordinary sentence about nothing much at all"
    val out = Round6Ops12.textGarbageScoreDf(
        Seq((1L, ocr), (2L, moji), (3L, clean)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6), s"ocr score ${out(1L).getDouble(5)}")
    assert(out(2L).getBoolean(6), s"moji score ${out(2L).getDouble(5)}")
    assert(!out(3L).getBoolean(6), s"clean score ${out(3L).getDouble(5)}")
    // ratio replay for the OCR doc
    val len = ocr.length.toDouble
    assert(out(1L).getDouble(2) ==
      Parity.r6d("[a-z][A-Z]".r.findAllIn(ocr).length / len))
  }

  // ------------------------------------------ events_attribution_position

  test("attribution: every rule hands out exactly one conversion per path") {
    val rows = Round6Ops12.eventsAttributionPosition(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay the path derivation
    val ev = graft.sources.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
                 r.getString(3)))
      .groupBy(_._1)
    val paths = ev.values.toSeq.flatMap { es =>
      val arr = es.sortBy(t => (t._2, t._3)).map(_._4).toSeq
      val pos = arr.indexOf("purchase")
      if (pos > 0) Some(arr.take(pos)) else None
    }
    val nConv = paths.length
    assert(rows.map(_.getLong(2)).sum == nConv)   // first touches
    assert(rows.map(_.getLong(3)).sum == nConv)   // last touches
    assert(rows.map(_.getLong(1)).sum == paths.map(_.length.toLong).sum)
    // linear and u-shape credits both sum to ~nConv (6dp rounding dust)
    assert(math.abs(rows.map(_.getDouble(4)).sum - nConv) < 0.01)
    assert(math.abs(rows.map(_.getDouble(5)).sum - nConv) < 0.01)
    // per-channel replay
    val byCh = rows.map(r => r.getString(0) -> r).toMap
    paths.flatten.distinct.foreach { ch =>
      val lin = Parity.r6d(dec(paths.flatMap { p =>
        p.zipWithIndex.filter(_._1 == ch).map(_ => Parity.r6d(1.0 / p.length))
      }))
      assert(byCh(ch).getDouble(4) == lin, s"linear($ch)")
      val ush = Parity.r6d(dec(paths.flatMap { p =>
        p.zipWithIndex.filter(_._1 == ch).map { case (_, i) =>
          val len = p.length
          if (len == 1) 1.0
          else if (len == 2) 0.5
          else if (i == 0 || i == len - 1) 0.4
          else Parity.r6d(Parity.r6d(0.2 / (len - 2)))
        }
      }))
      assert(byCh(ch).getDouble(5) == ush, s"ushape($ch)")
    }
  }

  test("attribution: hand path gets the textbook splits") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(t0.getTime + i * 60000L)
    // path: view, click, view, signup, purchase
    val es = Seq("view", "click", "view", "signup", "purchase").zipWithIndex
      .map { case (t, i) => (1L, ts(i), i.toLong, t) }
    val out = Round6Ops12.eventsAttributionPositionDf(
        es.toDF("user_id", "ts", "event_id", "event_type"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("view").getLong(2) == 1 && out("signup").getLong(3) == 1)
    assert(out("view").getDouble(4) == 0.5)          // 2 of 4 positions
    assert(out("signup").getDouble(5) == 0.4)        // last touch share
    assert(out("view").getDouble(5) == 0.5)          // 0.4 first + 0.1 middle
    assert(out("click").getDouble(5) == 0.1)
  }

  // ------------------------------------------------------ text_code_detect

  test("code detect: source code routes as code, prose does not") {
    val real = Round6Ops12.textCodeDetect(spark, sf).collect()
    assert(real.count(_.getBoolean(6)) <= real.length / 50,
      "generated prose must not mass-route to code")
    import spark.implicits._
    val code = "def main(args) { val x_y = compute(); if (x_y == null) " +
      "return 0; for (int i = 0; i < n; i++) { total += getValue(i); } }"
    val prose = "the quick brown fox jumps over the lazy dog and keeps on " +
      "running through the quiet green field until sunset"
    val out = Round6Ops12.textCodeDetectDf(
        Seq((1L, code), (2L, prose)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6), s"code score ${out(1L).getDouble(5)}")
    assert(!out(2L).getBoolean(6), s"prose score ${out(2L).getDouble(5)}")
    assert(out(1L).getDouble(1) > out(2L).getDouble(1)) // brace density
  }
}
