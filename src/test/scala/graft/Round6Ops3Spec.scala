package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round6Ops3, Similarity3, TextOps2}

/** Invariants + reconciliations for round-6 batch 10 (#151-#155). */
class Round6Ops3Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  // ----------------------------------------------------- events_survival_km

  test("survival KM: curve is a monotone [0,1] step function; exits account for every observation") {
    val rows = Round6Ops3.eventsSurvivalKm(spark, sf).orderBy("hour").collect()
    assert(rows.nonEmpty)
    // dense contiguous hour grid from 0
    assert(rows.head.getLong(0) == 0L)
    assert(rows.map(_.getLong(0)).toSeq == (0L until rows.length.toLong))
    // survival monotone non-increasing within [0, 1]
    val surv = rows.map(_.getDouble(5))
    assert(surv.forall(v => v >= 0.0 && v <= 1.0))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-12 })
    // at-risk bookkeeping: n_risk(t+1) = n_risk(t) - exits(t)
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getLong(1) == a.getLong(1) - a.getLong(2) - a.getLong(3))
    }
    // every observation exits exactly once: total exits == n_risk(0)
    val exits = rows.map(r => r.getLong(2) + r.getLong(3)).sum
    assert(exits == rows.head.getLong(1))
    // censored count == one per user (each user's last event)
    val nUsers = graft.sources.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(3)).sum == nUsers)
  }

  test("survival KM: survival is the running product of the rounded factors") {
    val rows = Round6Ops3.eventsSurvivalKm(spark, sf).orderBy("hour").collect()
    var s = 1.0
    rows.foreach { r =>
      s = math.floor(s * r.getDouble(4) * 1e6 + 0.5) / 1e6
      assert(r.getDouble(5) == s, s"hour ${r.getLong(0)}")
    }
  }

  // ---------------------------------------------------- emb_triplet_mining

  test("triplet mining: anchors partition as vec_id%5; extremes beaten by no other candidate") {
    val out = Similarity3.embTripletMining(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(0) % 5 == 0))
    // recompute one anchor's extremes exactly from the corpus
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = graft.operators.Similarity2.dotDecLocal(a, b)
      val na = math.sqrt(graft.operators.Similarity2.dotDecLocal(a, a))
      val nb = math.sqrt(graft.operators.Similarity2.dotDecLocal(b, b))
      math.floor(dot / (na * nb) * 1e6 + 0.5) / 1e6
    }
    val row = out.head
    val (aId, aLabel) = (row.getLong(0), row.getInt(1))
    val anchor = emb.find(_._1 == aId).get._2
    val train = emb.filter(e => e._1 % 5 != 0)
    val pos = train.filter(_._3 == aLabel)
      .map(e => (cos(anchor, e._2), e._1)).minBy(identity)
    val neg = train.filter(_._3 != aLabel)
      .map(e => (-cos(anchor, e._2), e._1)).minBy(identity)
    assert((row.getLong(2), row.getDouble(3)) == ((pos._2, pos._1)))
    assert((row.getLong(4), row.getDouble(5)) == ((neg._2, -neg._1)))
  }

  // ------------------------------------------------------ bpe_train_merges

  test("bpe merges: step-1 winner is the argmax pair of the alphabetic vocab; steps ordered with positive counts") {
    val merges = TextOps2.bpeTrainMerges(spark, sf).orderBy("step").collect()
    assert(merges.length == TextOps2.BpeSteps)
    // step-1 winner == argmax over the independently-recomputed counts
    val docs = graft.sources.Tables.documents(spark, sf)
    val counts = docs
      .select(explode(split(lower(trim(col("text"))), " ")).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"),
              col("w"))
      .select(col("w").substr(col("i"), lit(1)).as("a"),
              col("w").substr(col("i") + 1, lit(1)).as("b"), col("freq"))
      .groupBy("a", "b").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()(0)
    assert((merges(0).getString(1), merges(0).getString(2), merges(0).getLong(3)) ==
      ((counts.getString(0), counts.getString(1), counts.getLong(2))))
    // counts are non-increasing is NOT guaranteed (later merges can win
    // on fused symbols), but each step's count must be positive
    assert(merges.forall(_.getLong(3) > 0))
    // steps are 1..N in order
    assert(merges.map(_.getInt(0)).toSeq == (1 to TextOps2.BpeSteps))
  }

  // ------------------------------------------------------ emb_kmeans_elbow

  test("kmeans elbow: inertia non-increasing in k; live cells bounded; mean is the rounded ratio") {
    val rows = operators.Similarity.embKmeansElbow(spark, sf)
      .orderBy("n_cells").collect()
    assert(rows.map(_.getInt(0)).toSeq == operators.Similarity.ElbowGrid)
    val inert = rows.map(_.getDouble(3))
    assert(inert.zip(inert.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"inertia not non-increasing: ${inert.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getInt(0)) // live cells <= k
      assert(r.getDouble(4) ==
        math.floor(r.getDouble(3) / r.getLong(2) * 1e6 + 0.5) / 1e6)
    }
  }

  // ------------------------------------------------- corpus_length_buckets

  test("length buckets: power-of-two ceilings; docs partition; each bucket at least half full") {
    val rows = operators.Curation.corpusLengthBuckets(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    rows.foreach { r =>
      val (bm, n, tok, pad) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((bm & (bm - 1)) == 0, s"not a power of two: $bm")
      assert(pad == bm * n)
      assert(tok <= pad)
      // every doc in a bucket has n_tok > bucket_max/2 (tightest pow2)
      assert(bm == 1L || tok > pad / 2, s"bucket $bm under half full")
    }
  }

  // ---------------------------------------------------- graph_link_predict

  test("link predict: no predicted pair is an existing edge; wedge counts positive; AA consistent") {
    val pred = operators.Graph.graphLinkPredict(spark, sf).collect()
    assert(pred.nonEmpty)
    val edges = operators.Similarity.knnGraph(spark, sf, 3)
      .select(col("q_id"), col("vec_id")).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    pred.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b)
      assert(!edges.contains((a, b)), s"($a,$b) is an edge")
      assert(r.getLong(2) >= 1)
      assert(r.getDouble(3) > 0.0)
    }
  }

  // ------------------------------------------- events_markov_attribution

  test("markov attribution: channels are the non-conversion types; removal can only hurt; shares sum to 1") {
    val rows = operators.Round6Ops3.eventsMarkovAttribution(spark, sf)
      .orderBy("channel").collect()
    val types = graft.sources.Tables.events(spark, sf)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == types - operators.Round6Ops3.ConvType)
    val pFull = rows.head.getDouble(1)
    assert(pFull > 0.0 && pFull <= 1.0)
    rows.foreach { r =>
      assert(r.getDouble(1) == pFull)            // one chain, one p_full
      assert(r.getDouble(2) <= pFull + 1e-12)    // removal can't help
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-5, s"shares sum to $shareSum")
  }

  // ------------------------------------------------------ emb_pq_distortion

  test("pq distortion: 8x more bytes buys strictly lower error; max dominates the mean") {
    val rows = operators.SimilarityPq.embPqDistortion(spark, sf)
      .orderBy("quantizer").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("int8", "pq8x16"))
    val byQ = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    assert(byQ("int8")._1 == 64L && byQ("pq8x16")._1 == 8L)
    assert(byQ("int8")._2 < byQ("pq8x16")._2, "int8 should beat pq on fidelity")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0)
      // max per-vector sq error dominates the mean per-vector sq error
      assert(r.getDouble(4) >= r.getDouble(3) * 64 - 1e-6)
    }
  }

  // ------------------------------------------------------------ mm_av_sync

  test("av sync: scenes reconcile with mm_keyframes; voiced totals reconcile with mm_audio_vad") {
    val sync = graft.multimodal.Multimodal.mmAvSync(spark, sf).collect()
    val kf = graft.multimodal.Multimodal.mmKeyframes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // same scene partition: every (doc, scene) in sync is in keyframes
    // with the same frame count
    assert(sync.nonEmpty && sync.length == kf.size)
    sync.foreach { r =>
      assert(kf((r.getLong(0), r.getLong(1))) == r.getLong(2))
    }
    // per-asset voiced totals match the VAD report
    val vad = graft.multimodal.Multimodal.mmAudioVad(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val byDoc = sync.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum)
    byDoc.foreach { case (doc, v) => assert(vad(doc) == v, s"doc $doc") }
    // class flag consistent with the ratio
    sync.foreach { r =>
      assert(r.getBoolean(5) == (r.getDouble(4) >= 0.5))
    }
  }
}
