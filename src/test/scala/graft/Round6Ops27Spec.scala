package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round6Ops26, Round6Ops27}

/** Invariants + reconciliations for round-6 batch 44 (#272-#273). */
class Round6Ops27Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("stream icc: streamed per-user registers are bit-identical to batch") {
    val batch = Round6Ops26.eventsIcc(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamIcc(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  test("script mix: streamed registers are bit-identical to batch") {
    val batch = Round6Ops27.textScriptMix(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamScriptMix(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  test("script mix: latin corpus reads latin; injected scripts are counted") {
    val rows = Round6Ops27.textScriptMix(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.5, "the generated corpus is latin text")
      assert(r.getLong(7) == 0, "no non-latin-dominant docs in the corpus")
    }
    import spark.implicits._
    val cyr = "привет мир это тест кириллицы да"          // cyrillic
    val cjk = "这是一个中文测试文档句子"                      // cjk
    val lat = "a plain latin document with words 123"
    val out = Round6Ops27.textScriptMixDf(Seq(
        ("sA", cyr), ("sB", cjk), ("sC", lat))
      .toDF("source", "text")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("sA").getDouble(3) > 0.5)                  // mean_cyrillic
    assert(out("sA").getLong(7) == 1)
    assert(out("sB").getDouble(5) > 0.5)                  // mean_cjk
    assert(out("sB").getLong(7) == 1)
    assert(out("sC").getDouble(2) > 0.5 && out("sC").getLong(7) == 0)
    // per-doc ratio replay for the latin doc
    val latin = lat.count(c =>
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
    assert(out("sC").getDouble(2) ==
      Parity.r6d(latin.toDouble / lat.length))
  }
}
