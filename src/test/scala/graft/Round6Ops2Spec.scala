package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round6Ops2, Similarity3}

/** Invariants + hand-computed pins for round-6 batches 4-6
  * (#131-#134, #136-#142). */
class Round6Ops2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------- text_ngram_novelty

  test("novelty: first doc owns shared shingles; repeat text scores 0") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d} — both first here
      (2L, "a b c x"),   // {a b c (seen), b c x (new)} → 1/2
      (3L, "a b c d"))   // exact repeat → both seen → 0
      .toDF("doc_id", "text")
    val out = Round6Ops2.textNgramNoveltyDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
  }

  test("novelty: corpus-wide novel-shingle total equals distinct shingle count") {
    // every distinct shingle is novel in exactly one document
    val out = Round6Ops2.textNgramNovelty(spark, sf)
    val novelTotal = out.agg(sum("n_novel")).first().getLong(0)
    val distinctShingles = sources.Tables.documents(spark, sf)
      .select(explode(functions.TextFunctions.shingles3(
        functions.TextFunctions.lowerTokens(col("text")))).as("sg"))
      .select("sg").distinct().count()
    assert(novelTotal == distinctShingles)
  }

  // --------------------------------------------------- corpus_quality_curve

  test("quality curve: threshold 0 retains everything; curve is monotone non-increasing") {
    val rows = Round6Ops2.corpusQualityCurve(spark, sf)
      .orderBy("threshold").collect()
    assert(rows.length == 10)
    val nDocsTotal = sources.Tables.documents(spark, sf).count()
    assert(rows.head.getDouble(0) == 0.0)
    assert(rows.head.getLong(1) == nDocsTotal)
    assert(rows.head.getDouble(3) == 1.0)
    val docs = rows.map(_.getLong(1))
    val toks = rows.map(_.getLong(2))
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
  }

  // -------------------------------------------------------- emb_silhouette

  test("silhouette: two tight, well-separated clusters score near 1") {
    val emb = (0 until 20).map { i =>
      val lbl = i % 2
      val base = if (lbl == 0) 0.0f else 10.0f
      (i.toLong, Array(base + (i / 2) * 0.01f, base), lbl)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity3.embSilhouetteDf(emb).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 10L)
      assert(r.getDouble(2) > 0.98, s"silhouette ${r.getDouble(2)}")
    }
  }

  test("silhouette: scrambling labels on a clustered corpus destroys the score") {
    // two geometric clusters; true labels follow geometry, scrambled don't
    val base = (0 until 20).map { i =>
      val lbl = i % 2
      val off = if (lbl == 0) 0.0f else 10.0f
      (i.toLong, Array(off + (i / 2) * 0.01f, off), lbl)
    }
    val truthDf = base.toDF("vec_id", "embedding", "label")
    val truth = Similarity3.embSilhouetteDf(truthDf)
      .agg(avg("mean_silhouette")).first().getDouble(0)
    // deterministic scramble decorrelated from geometry: label by i/2 parity
    val scrambledDf = base.map { case (id, e, _) => (id, e, (id / 2 % 2).toInt) }
      .toDF("vec_id", "embedding", "label")
    val noise = Similarity3.embSilhouetteDf(scrambledDf)
      .agg(avg("mean_silhouette")).first().getDouble(0)
    assert(truth > 0.98 && noise < 0.1,
      s"truth $truth should be ~1, scrambled $noise ~0")
  }

  // -------------------------------------------------------- ts_periodogram

  test("periodogram: pure 7-day sine concentrates power at period 7") {
    val dl = (0 until 280).map { i =>
      (1L, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
       math.sin(2 * math.Pi * i / 7.0))
    }.toDF("user_id", "d", "sst")
    val out = Round6Ops2.tsPeriodogramDf(dl).collect()
      .map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(out(7) > 100 * out(14), s"power ${out}")
    assert(out(7) > 100 * out(30), s"power ${out}")
  }

  test("periodogram: constant series has zero power at every period") {
    val dl = (0 until 60).map(i =>
      (2L, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 3, 1).plusDays(i)), 4.2))
      .toDF("user_id", "d", "sst")
    Round6Ops2.tsPeriodogramDf(dl).collect().foreach { r =>
      assert(math.abs(r.getDouble(3)) < 1e-3, s"period ${r.getInt(1)}: ${r.getDouble(3)}")
    }
  }

  test("periodogram: one row per (user, period) over the sf corpus") {
    val out = Round6Ops2.tsPeriodogram(spark, sf)
    val users = operators.Mhw.daily(spark, sf).select("user_id").distinct().count()
    assert(out.count() == users * 3)
  }

  // -------------------------------------------------------- ts_cusum_alarm

  test("cusum: constant series never alarms; a level shift alarms exactly once") {
    val base = java.time.LocalDate.of(2022, 1, 1)
    val flat = (0 until 60).map(i =>
      (1L, java.sql.Date.valueOf(base.plusDays(i)), 3.0))
    val shifted = (0 until 60).map { i =>
      // 30 days at 0 ± small noise, then a +10 level shift
      val v = if (i < 30) (if (i % 2 == 0) -0.5 else 0.5) else 10.0
      (2L, java.sql.Date.valueOf(base.plusDays(i)), v)
    }
    val out = Round6Ops2.tsCusumAlarmDf((flat ++ shifted).toDF("user_id", "d", "sst"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(4), r.getLong(5))).toMap
    val (flatMax, flatAlarms) = out(1L)
    assert(flatMax == 0.0 && flatAlarms == 0L)
    val (shiftMax, shiftAlarms) = out(2L)
    assert(shiftAlarms == 1L, s"expected one crossing, got $shiftAlarms")
    assert(shiftMax > 0.0)
  }

  test("cusum: sf corpus rows carry non-negative excursions and bounded alarms") {
    val rows = Round6Ops2.tsCusumAlarm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0)              // cusum_max
      assert(r.getLong(5) <= r.getLong(1))       // n_alarms ≤ n_obs
    }
  }

  // -------------------------------------------------------- events_ab_lift

  test("ab lift: arms partition the users; conversions bounded by arm size") {
    val rows = Round6Ops2.eventsAbLift(spark, sf).collect()
    assert(rows.nonEmpty)
    val users = sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    rows.foreach { r =>
      val (na, nb) = (r.getLong(1), r.getLong(2))
      assert(na + nb == users)
      assert(r.getLong(3) <= na && r.getLong(4) <= nb)
      // z sign agrees with the rate difference when defined
      if (!r.isNullAt(8) && r.getDouble(6) != r.getDouble(5))
        assert((r.getDouble(8) > 0) == (r.getDouble(6) > r.getDouble(5)))
    }
  }

  // ---------------------------------------------------- ts_forecast_backtest

  test("backtest: Holt beats naive decisively on a long linear-trend series") {
    val base = java.time.LocalDate.of(2020, 1, 1)
    val dl = (0 until 100).map(i =>
      (1L, java.sql.Date.valueOf(base.plusDays(i)), 10.0 + 0.5 * i))
      .toDF("user_id", "d", "sst")
    val row = Round6Ops2.tsForecastBacktestDf(dl).collect()(0)
    val (maeHolt, maeNaive) = (row.getDouble(4), row.getDouble(5))
    // naive repeats the last train value: errors 0.5, 1.0, …, 3.5 → MAE 2.0
    assert(maeNaive == 2.0, s"naive MAE $maeNaive")
    assert(maeHolt < maeNaive / 4, s"holt MAE $maeHolt vs naive $maeNaive")
    assert(row.getDouble(6) > 0.75) // skill
  }

  test("backtest: skill column is consistent with the two MAEs") {
    Round6Ops2.tsForecastBacktest(spark, sf).collect().foreach { r =>
      val (h, n) = (r.getDouble(4), r.getDouble(5))
      if (!r.isNullAt(6) && n > 0)
        assert(math.abs(r.getDouble(6) - Parity.r6d(1.0 - h / n)) < 1e-9)
    }
  }

  // ---------------------------------------------------- supplier_scorecard

  test("scorecard: per-supplier rollup reconciles with the corpus totals") {
    val rows = Round6Ops2.supplierScorecard(spark, sf).collect()
    val li = sources.Tables.lineitem(spark, sf)
    assert(rows.length == li.select("l_suppkey").distinct().count())
    val nTotal = rows.map(_.getLong(1)).sum
    assert(nTotal == li.count())
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0) // return_rate
      assert(r.getDouble(4) <= r.getDouble(2) + 1e-6)         // returned ≤ revenue
      assert(r.getString(6).nonEmpty)                          // s_name joined
    }
  }

  // ------------------------------------------------------ events_cuped_lift

  test("cuped: variance reduction bounded; theta zero when covariate is constant") {
    val rows = Round6Ops2.eventsCupedLift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(7)) {
        val vr = r.getDouble(7)
        // rounded θ is within one rounding step of the pooled optimum
        assert(vr <= 1.0 && vr >= -0.01, s"var_reduction $vr")
      }
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1)) // n_a + n_b = n
    }
  }

  // ------------------------------------------------------- emb_recall_curve

  test("recall curve: bounded rates over the declared k grid") {
    val rows = operators.Similarity3.embRecallCurve(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 5, 10))
    rows.foreach { r =>
      val (k, hits, rec) = (r.getInt(0), r.getLong(1), r.getDouble(2))
      assert(hits <= 5L * k)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == Parity.r6d(hits.toDouble / (5.0 * k)))
    }
  }

  // ----------------------------------------------------------- stream_cusum

  test("stream cusum: drained stream is bit-identical to the batch chart") {
    val batch = Round6Ops2.tsCusumAlarm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
                 r.getDouble(4), r.getLong(5)))
    val stream = streaming.StreamingCusum.streamCusum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
                 r.getDouble(4), r.getLong(5)))
    assert(batch.toSeq == stream.toSeq)
  }

  test("stream cusum: large-magnitude series still bit-matches batch (no Long overflow)") {
    // daily means ~5e4: x² sums overflow a scale-10 unscaled Long
    // encoding; the BigDecimal mirror must stay exact
    val base = java.time.LocalDate.of(2023, 1, 1)
    val vals = (0 until 80).map(i => 50000.0 + (i * 631) % 997)
    val dl = vals.zipWithIndex.map { case (v, i) =>
      (9L, java.sql.Date.valueOf(base.plusDays(i)), v)
    }.toDF("user_id", "d", "sst")
    val batch = Round6Ops2.tsCusumAlarmDf(dl).collect()(0)
    val days = vals.zipWithIndex.map { case (v, i) =>
      (19358 + i) -> (Parity.dec10Unscaled(v), 1L)
    }.toMap
    val Some((n, mu, sg, mx, al)) = streaming.StreamingCusum.chartOf(days)
    assert(n == batch.getLong(1) && mu == batch.getDouble(2) &&
           sg == batch.getDouble(3) && mx == batch.getDouble(4) &&
           al == batch.getLong(5),
      s"stream ($n,$mu,$sg,$mx,$al) vs batch $batch")
  }

  // -------------------------------------------------------- dedup_tau_sweep

  test("tau sweep: consistent with the single-tau audit; TP monotone non-increasing") {
    val sweep = operators.LshDedup.dedupTauSweep(spark, sf)
      .orderBy("tau").collect()
    assert(sweep.map(_.getDouble(0)).toSeq == Seq(0.2, 0.3, 0.4, 0.6, 0.8))
    // the 0.3 row's FP/FN must equal the #123 audit at its default tau
    val audit = operators.LshDedup.dedupMinhashEval(spark, sf).collect()(0)
    val at03 = sweep.find(_.getDouble(0) == 0.3).get
    assert(at03.getLong(2) == audit.getLong(3)) // n_fp = n_false_pos
    assert(at03.getLong(3) == audit.getLong(4)) // n_fn = n_false_neg
    val tps = sweep.map(_.getLong(1))
    assert(tps.zip(tps.tail).forall { case (a, b) => a >= b })
  }

  // ------------------------------------------------------- events_bot_score

  test("bot score: metronomic single-type user flagged; diverse user not") {
    val base = java.time.LocalDateTime.of(2024, 5, 1, 0, 0)
    def ev(uid: Long, rows: Seq[(Int, String)]) = rows.zipWithIndex.map {
      case ((minuteOffset, typ), i) =>
        (uid * 1000 + i, java.sql.Timestamp.valueOf(base.plusMinutes(minuteOffset)),
         uid, typ, 1.0)
    }
    // bot: one type, exactly every 10 minutes; human: mixed types, jittery
    val bot = ev(1L, (0 until 50).map(i => (i * 10, "ping")))
    val human = ev(2L, (0 until 50).map(i =>
      (i * 10 + (i * 37) % 23, Seq("view", "click", "purchase", "error")(i % 4))))
    val df = (bot ++ human).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Round6Ops2.eventsBotScoreDf(df).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out(1L), "metronomic single-type user should flag")
    assert(!out(2L), "jittery multi-type user should not flag")
  }

  // ------------------------------------------------------ ann_recall_matrix

  test("recall matrix: one bounded row per retriever") {
    val rows = operators.Similarity3.annRecallMatrix(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("hamming", "ivf"))
    rows.foreach { r =>
      assert(r.getLong(1) <= 25L) // nQueries * k
      val rec = r.getDouble(2)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == Parity.r6d(r.getLong(1).toDouble / 25.0))
    }
  }

  // ------------------------------------------------------- ann_nprobe_curve

  test("nprobe curve: recall monotone in probes; widest point dominates; np=4 equals the matrix's ivf row") {
    val curve = operators.Similarity.annNprobeCurve(spark, sf)
      .orderBy("n_probe").collect()
    assert(curve.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    val recalls = curve.map(_.getDouble(2))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: ${recalls.toSeq}")
    // the np=4 point IS the default IVF retriever the bake-off scores
    val matrixIvf = operators.Similarity3.annRecallMatrix(spark, sf)
      .filter(col("retriever") === "ivf").collect()(0)
    val at4 = curve.find(_.getInt(0) == 4).get
    assert(at4.getLong(1) == matrixIvf.getLong(1),
      s"np=4 hits ${at4.getLong(1)} vs matrix ivf ${matrixIvf.getLong(1)}")
  }

  // -------------------------------------------------- events_power_analysis

  test("power analysis: detectable flag is exactly observed >= mde; cells match the readout") {
    val power = Round6Ops2.eventsPowerAnalysis(spark, sf).collect()
    val lift = Round6Ops2.eventsAbLift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(power.nonEmpty)
    power.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == lift(r.getString(0)))
      if (!r.isNullAt(4)) {
        assert(r.getDouble(4) > 0.0) // mde_abs
        assert(r.getBoolean(7) == (r.getDouble(6) >= r.getDouble(4)))
      }
    }
  }

  // ---------------------------------------------------------- mm_keyframes

  test("keyframes: scenes reconcile with the cut report; scene 0 starts at frame 0") {
    val kf = graft.multimodal.Multimodal.mmKeyframes(spark, sf).collect()
      .groupBy(_.getLong(0))
    val cuts = graft.multimodal.Multimodal.mmSceneCuts(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(kf.keySet == cuts.keySet)
    kf.foreach { case (doc, scenes) =>
      val (nFrames, nCuts) = cuts(doc)
      assert(scenes.length == nCuts + 1, s"doc $doc")
      assert(scenes.map(_.getLong(3)).sum == nFrames, s"doc $doc")
      val first = scenes.minBy(_.getLong(1))
      assert(first.getLong(1) == 0L && first.getInt(2) == 0, s"doc $doc")
    }
  }

  // --------------------------------------------------- dedup_cluster_stats

  test("cluster stats: histogram accounts for every document exactly once") {
    val stats = operators.Analytics.dedupClusterStats(spark, sf).collect()
    val docsInClusters = stats.map(r => r.getLong(0) * r.getLong(1)).sum
    val clustered = operators.Analytics.dedupClusters(spark, sf).count()
    assert(docsInClusters == clustered)
    stats.foreach { r =>
      // redundant docs per size class = (size - 1) per cluster
      assert(r.getLong(2) == (r.getLong(0) - 1) * r.getLong(1))
    }
  }

  // ---------------------------------------------------------- mm_audio_vad

  test("vad: segment accounting is internally consistent per asset") {
    val rows = graft.multimodal.Multimodal.mmAudioVad(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, nv, ns, longest) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nv <= nf)
      assert(longest <= nv)
      assert(ns <= nv)                      // each segment has ≥1 frame
      if (nv > 0) assert(ns >= 1 && longest >= 1)
      assert(ns == 0 || longest * ns >= nv) // segments can't all be shorter than max
    }
  }
}
