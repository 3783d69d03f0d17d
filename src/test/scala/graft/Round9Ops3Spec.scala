package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round9Ops3

/** Round-9 batch-3 operators (#306-#309): spectral entropy, RAKE
  * keyphrases, classifier-scored sampling, and the scoring stream. */
class Round9Ops3Spec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("ts_spectral_entropy: normalized to [0,1]; dominant is the max-power period") {
    val out = Round9Ops3.tsSpectralEntropy(spark, sf).collect()
    assert(out.nonEmpty)
    val top = graft.operators.Round6Ops2
      .tsPeriodogramDf(graft.operators.Mhw.daily(spark, sf)).collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) =>
        u -> rs.map(r => (r.getDouble(3), r.getInt(1))).max(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int.reverse))._2
      }
    out.foreach { r =>
      assert(r.getLong(1) == 3, "three candidate periods")
      val h = r.getDouble(4)
      assert(h >= 0.0 && h <= 1.0 + 1e-4, s"entropy $h in [0,1] (6dp share rounding)")
      assert(r.getDouble(3) >= 1.0 / 3 - 1e-6, "dominant share >= uniform share")
      assert(r.getInt(2) == top(r.getLong(0)), "dominant period is argmax power")
    }
  }

  // Hand-computed RAKE on a 2-doc corpus ('of'/'the' are stopwords):
  //   doc 0 "red apple pie of the old tree" -> phrases [red apple pie], [old tree]
  //   doc 1 "apple tree"                    -> phrase  [apple tree]
  // word stats (corpus-wide): red 3/1=3, apple (3+2)/2=2.5, pie 3/1=3,
  //   old 2/1=2, tree (2+2)/2=2
  // phrase scores: "red apple pie"=8.5, "old tree"=4, "apple tree"=4.5
  test("doc_keyphrase_rake: hand-computed corpus — cross-doc degrees shape phrase scores") {
    import spark.implicits._
    val docs = Seq((0L, "red apple pie of the old tree"), (1L, "apple tree"))
      .toDF("doc_id", "text")
    val out = Round9Ops3.rakeDf(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
                 r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 1, "red apple pie", 3L, 8.5),
      (0L, 2, "old tree", 2L, 4.0),
      (1L, 1, "apple tree", 2L, 4.5)))
  }

  test("doc_keyphrase_rake: corpus run — ranks dense from 1, phrases stopword-free") {
    val out = Round9Ops3.docKeyphraseRake(spark, sf).collect()
    assert(out.nonEmpty)
    val stops = graft.functions.TextFunctions.stopwordsEn.toSet
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq)
    }
    out.foreach { r =>
      val words = r.getString(2).split(" ")
      assert(words.length == r.getLong(3))
      words.foreach(w => assert(!stops(w), s"stopword $w inside a phrase"))
    }
  }

  test("corpus_classifier_sample: acceptance rate tracks mean score; counts consistent") {
    val out = Round9Ops3.corpusClassifierSample(spark, sf).collect()
    assert(out.nonEmpty)
    var (docs, kept, wsum) = (0L, 0L, 0.0)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 1.0)
      docs += r.getLong(1); kept += r.getLong(2)
      wsum += r.getDouble(3) * r.getLong(1)
    }
    val (rate, meanScore) = (kept.toDouble / docs, wsum / docs)
    assert(math.abs(rate - meanScore) < 0.1,
      s"law of large numbers: realized rate $rate ~ mean score $meanScore")
  }

  test("stream_classifier_calibration: drained stream is bit-identical to the batch registers") {
    val streamed = graft.streaming.Streaming
      .streamClassifierCalibration(spark, sf).collect()
    val (means, sds, w) = Round9Ops3.classifierModel(spark, sf)
    val batch = Round9Ops3.calibFinalize(Round9Ops3.calibRegisters(
      graft.sources.Tables.documents(spark, sf), means, sds, w)).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    assert(streamed.map(_.getLong(1)).sum ==
      graft.sources.Tables.documents(spark, sf).count())
    streamed.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 9)
      val (n, pos) = (r.getLong(1), r.getLong(2))
      assert(pos <= n)
      assert(math.abs(r.getDouble(4) - pos.toDouble / n) < 1e-5)
    }
  }
}
