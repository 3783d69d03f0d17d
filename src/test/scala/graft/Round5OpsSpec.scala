package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mhw, Similarity, TimeSeries2}
import graft.time.DoyFunctions

/** Invariants for the round-5 additions: cold-spell detection
  * (Oliver detect(coldSpells=True)), event rank / return periods
  * (Oliver rank()), Theil–Sen robust trend, and the embedding-space
  * outlier screen. The DuckDB oracle pins exact values at sf0.01;
  * these pin the semantics on hand-built series where the expected
  * answer is known independently. */
class Round5OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  /** Multi-year daily frame in Mhw.daily's shape:
    * (user_id, d, sst, yr, doy). */
  private def dailyOf(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.toDF("user_id", "ds", "sst")
      .select(col("user_id"), to_date(col("ds")).as("d"), col("sst"))
      .withColumn("yr", year(col("d")))
      .withColumn("doy", DoyFunctions.climDoy(col("d")))

  /** Ten non-leap years of 10.0 + deterministic bounded noise for one
    * key, with a configurable excursion (delta added over [from, to]).
    * The noise (period-21 residue pattern, amplitude ±1, shifting
    * phase year-over-year) gives every pooled DOY window a real spread,
    * so the high-quantile threshold sits clearly above the climatology
    * mean — the regime Hobday detection assumes. */
  private def noisyWithExcursion(delta: Double, from: String, to: String): Seq[(Long, String, Double)] = {
    val f = java.time.LocalDate.parse(from)
    val t = java.time.LocalDate.parse(to)
    (2000 to 2009).filter(_ % 4 != 0).flatMap { y =>
      val d0 = java.time.LocalDate.of(y, 1, 1)
      (0 until 365).map { i =>
        val d = d0.plusDays(i)
        val gi = (y - 2000) * 365 + i
        val noise = ((gi * 37) % 21 - 10) / 10.0
        val v = 10.0 + noise +
          (if (!d.isBefore(f) && !d.isAfter(t)) delta else 0.0)
        (1L, d.toString, v)
      }
    }
  }

  test("cold spells: a cold dip is an event with negative intensities; warm spike is not") {
    // 8-day dip of -4 °C against a ±1 noise floor; in negated space the
    // q=0.9 threshold sits ~0.8 above the climatology, so only the dip
    // days push severity over 1 and the noise can't fake a ≥3-day run.
    val dl = dailyOf(noisyWithExcursion(-4.0, "2005-06-10", "2005-06-17"))
    val ev = Mhw.coldEventsOf(Mhw.coldSeverityChainDf(dl, 0.9),
        minDuration = 3, maxGap = 2)
      .collect()
    assert(ev.length == 1, s"expected exactly one cold event, got ${ev.length}")
    val e = ev.head
    val dStart = e.getAs[java.sql.Date]("date_start").toString
    val dEnd = e.getAs[java.sql.Date]("date_end").toString
    // the detected span must cover the dip core (edge days may fall
    // under the noise floor)
    assert(dStart <= "2005-06-11" && dEnd >= "2005-06-16",
      s"span [$dStart, $dEnd] misses the dip core")
    // negated back on output: cold intensities are NEGATIVE (Oliver
    // flips them, marineHeatWaves.py:414)
    assert(e.getAs[Double]("intensity_max") < 0)
    assert(e.getAs[Double]("intensity_mean") < 0)
    assert(e.getAs[Double]("intensity_cumul") < 0)
    // peak anomaly: the -4 dip against ±1 noise and a mildly dragged
    // climatology lands in [-5.5, -2.5]
    assert(e.getAs[Double]("intensity_max") <= -2.5)
    assert(e.getAs[Double]("intensity_max") >= -5.5)

    // the mirrored WARM spike must produce no cold event
    val warm = dailyOf(noisyWithExcursion(+4.0, "2005-06-10", "2005-06-17"))
    assert(Mhw.coldEventsOf(Mhw.coldSeverityChainDf(warm, 0.9), 3, 2).count() == 0)
  }

  test("cold spells ≡ warm detection on the negated series, intensities flipped") {
    val rows = noisyWithExcursion(-4.0, "2005-03-01", "2005-03-09")
    val cold = Mhw.coldEventsOf(Mhw.coldSeverityChainDf(dailyOf(rows), 0.9), 3, 2)
    // warm pipeline on the hand-negated series (sst negated BEFORE the
    // frame enters the chain — same rounding order, independent wiring)
    val negDl = dailyOf(rows.map { case (u, d, v) => (u, d, -v) })
    val seas = MhwReference.smoothDoy(MhwReference.climatologyBp(negDl), "seas")
    val thr = MhwReference.smoothDoy(MhwReference.pooledQuantile(negDl, 5, 0.9), "thresh")
    val warm = Mhw.detectEvents(Mhw.severity(negDl, seas, thr), 3, 2)
    val c = cold.orderBy("user_id", "evt").collect()
    val w = warm.orderBy("user_id", "evt").collect()
    assert(c.length == w.length && c.nonEmpty)
    c.zip(w).foreach { case (ce, we) =>
      assert(ce.getAs[Int]("index_start") == we.getAs[Int]("index_start"))
      assert(ce.getAs[Int]("index_end") == we.getAs[Int]("index_end"))
      assert(ce.getAs[Double]("intensity_max") == -we.getAs[Double]("intensity_max"))
      assert(ce.getAs[Double]("intensity_cumul") == -we.getAs[Double]("intensity_cumul"))
    }
  }

  test("event rank: descending rank, numpy stable-argsort tie rule, return periods") {
    val ev = Seq(
      // (user_id, evt, duration, intensity_max, intensity_cumul)
      (1L, 1L, 10, 2.0, 12.0),
      (1L, 2L, 10, 3.0, 30.0), // duration ties evt 1
      (1L, 3L, 7, 1.0, 40.0)
    ).toDF("user_id", "evt", "duration", "intensity_max", "intensity_cumul")
    val nd = Seq((1L, 3653L)).toDF("user_id", "n_days") // 10 years
    val out = Mhw.eventRank(ev, nd).collect()
      .map(r => r.getAs[Long]("evt") -> r).toMap
    // duration: evts 1 and 2 tie at 10; numpy's stable argsort gives the
    // LATER event the smaller (more extreme) rank
    assert(out(2L).getAs[Long]("rank_duration") == 1)
    assert(out(1L).getAs[Long]("rank_duration") == 2)
    assert(out(3L).getAs[Long]("rank_duration") == 3)
    // intensity_max: strictly ordered 3.0 > 2.0 > 1.0
    assert(out(2L).getAs[Long]("rank_imax") == 1)
    assert(out(1L).getAs[Long]("rank_imax") == 2)
    assert(out(3L).getAs[Long]("rank_imax") == 3)
    // cumulative: 40 > 30 > 12
    assert(out(3L).getAs[Long]("rank_icum") == 1)
    // return period = (nYears + 1) / rank, nYears = 3653/365.25 = 10.00137
    val nY = 3653.0 / 365.25
    def rp(rank: Long): Double = math.floor((nY + 1) / rank * 1e6 + 0.5) / 1e6
    assert(out(2L).getAs[Double]("rp_duration") == rp(1))
    assert(out(1L).getAs[Double]("rp_duration") == rp(2))
    assert(out(3L).getAs[Double]("rp_icum") == rp(1))
  }

  test("theil-sen: immune to a single outlier day that drags OLS") {
    // daily values 1..5 then a wild 100 (slope 1/day + one outlier):
    // the pairwise-slope median stays 1.0
    val rows = (1 to 6).map { i =>
      val v = if (i == 6) 100.0 else i.toDouble
      (1L, f"2001-06-$i%02d", v)
    }
    val out = TimeSeries2.tsTheilSenDf(dailyOf(rows)).collect()
    assert(out.length == 1)
    val r0 = out.head
    assert(r0.getAs[Long]("n_pairs") == 15) // C(6,2)
    assert(r0.getAs[Double]("sen_slope") == 1.0)
    assert(r0.getAs[Double]("sen_slope_month") == 30.0)
  }

  test("theil-sen: exact slope on a clean series; days beyond the window excluded") {
    // an ancient observation 400 days before the rest must not
    // contribute pairs (trailing-90-day contract)
    val rows = Seq((7L, "2001-01-01", 999.0),
                   (7L, "2002-02-05", 0.0), (7L, "2002-02-07", 5.0),
                   (7L, "2002-02-09", 10.0))
    val out = TimeSeries2.tsTheilSenDf(dailyOf(rows)).collect().head
    assert(out.getAs[Long]("n_pairs") == 3) // C(3,2), outlier excluded
    assert(out.getAs[Double]("sen_slope") == 2.5)
  }

  test("emb outliers: the far vector is flagged, the tight cluster is not") {
    // 10 vectors at the origin-ish cluster + 1 far away, one label.
    // With D = far distance², mean+3sd ≈ 0.95·D < D → exactly 1 outlier.
    val dim = 4
    val base = (1 to 10).map(i => (i.toLong, Array.fill(dim)(1.0f), "a"))
    val far = Seq((99L, Array.fill(dim)(100.0f), "a"))
    val emb = (base ++ far).toDF("vec_id", "embedding", "label")
    val out = Similarity.embOutliersDf(emb).collect()
    assert(out.length == 1)
    val r0 = out.head
    assert(r0.getAs[Long]("n") == 11)
    assert(r0.getAs[Long]("n_outliers") == 1)
    // centroid = (10·1 + 100)/11 = 10 per dim; far dist² = 4·90² = 32400,
    // cluster dist² = 4·81 = 324
    assert(r0.getAs[Double]("max_dist2") == 4.0 * 90.0 * 90.0)
  }

  test("interp linear: short gaps interpolate, long gaps stay missing, cap is inclusive") {
    import graft.operators.TimeSeries
    // key 1: observed 1/1 (v=10), gap 1/2-1/3 (len 2 ≤ cap), observed 1/4
    // (v=16); then gap 1/5-1/7 (len 3 > cap), observed 1/8 (v=0)
    val dl = Seq(
      (1L, "2020-01-01", 10.0),
      (1L, "2020-01-04", 16.0),
      (1L, "2020-01-08", 0.0)
    ).toDF("user_id", "ds", "sst")
      .select(col("user_id"), to_date(col("ds")).as("d"), col("sst"))
    val out = TimeSeries.interpLinearOf(dl, maxPad = 2).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString ->
        (Option(r.getAs[java.lang.Double]("sst_interp")), r.getAs[Boolean]("filled")))
      .toMap
    assert(out.size == 8) // full spine 1/1..1/8
    assert(out("2020-01-01") == (Some(10.0), false))
    // linear between 10 and 16 over 3 days: 12, 14
    assert(out("2020-01-02") == (Some(12.0), true))
    assert(out("2020-01-03") == (Some(14.0), true))
    assert(out("2020-01-04") == (Some(16.0), false))
    // gap of 3 days > maxPad=2: left missing (Oliver pad restores NaN)
    assert(out("2020-01-05") == (None, false))
    assert(out("2020-01-06") == (None, false))
    assert(out("2020-01-07") == (None, false))
    assert(out("2020-01-08") == (Some(0.0), false))
  }

  test("doc dup inflation: duplicate tokens attributed to the non-keeper source") {
    import graft.operators.Curation
    // "a b c" (3 tokens) duplicated across src1 (keeper, doc 1) and src2
    // (doc 5); src2 also has a unique 2-token doc. Whitespace-normalized
    // duplicates count: doc 7 matches doc 1 after collapsing spaces.
    val docs = Seq(
      (1L, "src1", "a b c"),
      (5L, "src2", "a b c"),
      (7L, "src2", "a  b   c"), // normalizes to the same fingerprint
      (9L, "src2", "x y")
    ).toDF("doc_id", "source", "text")
    val out = Curation.docDupInflationDf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("src1"); val s2 = out("src2")
    assert(s1.getAs[Long]("n_docs") == 1 && s1.getAs[Long]("n_dup_docs") == 0)
    assert(s1.getAs[Long]("dup_tokens") == 0)
    assert(s2.getAs[Long]("n_docs") == 3)
    assert(s2.getAs[Long]("n_dup_docs") == 2) // docs 5 and 7 lose to doc 1
    // lowerTokens splits on SINGLE spaces: "a  b   c" → ["a","","b","","","c"] = 6
    assert(s2.getAs[Long]("total_tokens") == 3 + 6 + 2)
    assert(s2.getAs[Long]("dup_tokens") == 3 + 6)
    assert(s2.getAs[Double]("dup_token_share") ==
      math.floor(9.0 / 11.0 * 1e6 + 0.5) / 1e6)
  }

  test("trend significance: exact fit has zero se; hand case matches closed form") {
    // perfectly linear: SSE = 0 → se_trend = 0, t_ratio null (0/0 guard)
    val lin = (2000 to 2004).map(y => (1L, y, 10L * (y - 1999)))
      .toDF("user_id", "yr", "days")
    val l = Mhw.trendInference(lin).collect().head
    assert(l.getAs[Double]("trend_days_per_year") == 10.0)
    assert(l.getAs[Double]("se_trend") == 0.0)
    assert(l.isNullAt(l.fieldIndex("t_ratio")))

    // hand case y = (0, 10, 0) over 2000..2002: slope 0,
    // SSE = Syy = 200/3, s² = 200/3 (df = 1), Sxx = 2 →
    // se = sqrt(100/3) = 5.773503 (6dp), t_ratio = 0
    val hand = Seq((2L, 2000, 0L), (2L, 2001, 10L), (2L, 2002, 0L))
      .toDF("user_id", "yr", "days")
    val h = Mhw.trendInference(hand).collect().head
    assert(h.getAs[Double]("mean_days") ==
      math.floor(10.0 / 3 * 1e6 + 0.5) / 1e6)
    assert(h.getAs[Double]("trend_days_per_year") == 0.0)
    assert(h.getAs[Double]("se_trend") ==
      math.floor(math.sqrt(100.0 / 3) * 1e6 + 0.5) / 1e6)
    assert(h.getAs[Double]("t_ratio") == 0.0)

    // two years: df = 0 → inference undefined, slope still exact
    val two = Seq((3L, 2000, 5L), (3L, 2001, 15L)).toDF("user_id", "yr", "days")
    val t2 = Mhw.trendInference(two).collect().head
    assert(t2.getAs[Double]("trend_days_per_year") == 10.0)
    assert(t2.isNullAt(t2.fieldIndex("se_trend")))
  }

  test("asof tolerance: stale clicks nulled, fresh matched, staleness reported") {
    import graft.operators.Events
    // spec drives the registered query indirectly via a hand events frame
    // is not possible (dir-based); assert on sf0.001 instead: every
    // matched row has staleness <= tol, every unmatched-with-click row
    // has staleness > tol, and matched_click_ts agrees with asof_join
    val sf = "/root/testdata/sf0.001"
    val tol = 3600L * 1000000L
    val out = Events.asofJoinTolerance(spark, sf).persist()
    assert(out.count() > 0)
    assert(out.filter(col("matched") &&
      (col("staleness_us") > tol || col("staleness_us").isNull)).count() == 0)
    assert(out.filter(!col("matched") && col("staleness_us").isNotNull &&
      col("staleness_us") <= tol).count() == 0)
    // tolerance=∞ degenerates to the plain backward as-of
    val base = Events.asofJoin(spark, sf)
      .select(col("purchase_id"), col("last_click_ts"))
    val inf = Events.asofJoinTolerance(spark, sf, Long.MaxValue)
      .select(col("purchase_id"), col("matched_click_ts"))
    val diff = base.join(inf, "purchase_id")
      .filter(
        (col("last_click_ts").isNull =!= col("matched_click_ts").isNull) ||
        (col("last_click_ts").isNotNull &&
         col("last_click_ts") =!= col("matched_click_ts")))
      .count()
    assert(diff == 0)
    out.unpersist()
  }

  test("shard pack: boundary rule, offsets, and bucket-size invariance") {
    import graft.operators.Curation
    // source A: sizes 6,6,6 with shardBytes=10 → offsets 0,6,12 →
    // shards 0,0,1; source B restarts at offset 0
    val docs = Seq(
      (1L, "A", "aaaaaa"), (2L, "A", "bbbbbb"), (3L, "A", "cccccc"),
      (10L, "B", "dd")
    ).toDF("doc_id", "source", "text")
    val out = Curation.corpusShardPackDf(docs, shardBytes = 10L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard_id"), r.getAs[Long]("shard_offset"))).toMap
    assert(out(1L) == (0L, 0L))
    assert(out(2L) == (0L, 6L))
    assert(out(3L) == (1L, 12L))
    assert(out(10L) == (0L, 0L))

    // the distributed prefix sum must be invariant to the bucket size:
    // bucketDocs=1 (every doc its own bucket — pure offset-table path)
    // and bucketDocs=1e6 (single bucket — pure local-window path) agree
    val many = (1 to 200).map(i => (i.toLong, s"s${i % 3}", "x" * (i % 37 + 1)))
      .toDF("doc_id", "source", "text")
    val a = Curation.corpusShardPackDf(many, 64L, bucketDocs = 1L)
      .orderBy("doc_id").collect().toSeq
    val b = Curation.corpusShardPackDf(many, 64L, bucketDocs = 1000000L)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    // greedy packing: a shard never exceeds shardBytes unless a single
    // oversized doc owns the overflow
    val shards = Curation.corpusShardPackDf(many, 64L).collect()
      .groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("shard_id")))
    shards.foreach { case (_, rows) =>
      val total = rows.map(_.getAs[Long]("n_bytes")).sum
      assert(total <= 64L + rows.map(_.getAs[Long]("n_bytes")).max)
    }
  }

  test("emb outliers: homogeneous labels have zero outliers and zero distance") {
    val emb = (1 to 6).map(i => (i.toLong, Array.fill(3)(2.5f), if (i % 2 == 0) "x" else "y"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embOutliersDf(emb).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Double]("mean_dist2") == 0.0)
      assert(r.getAs[Double]("max_dist2") == 0.0)
      assert(r.getAs[Long]("n_outliers") == 0)
    }
  }
}
