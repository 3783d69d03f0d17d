package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics2, Mhw, Round6Ops19, Round6Ops9, SimilarityPq}

/** Deployment-posture pins (round 7): every scale knob in [[Hints]] must
  * keep BOTH postures executable — the exact/test posture bit-matches the
  * oracle (CORRECTNESS gate), and the degraded/100 TB posture is pinned
  * here: the expensive plan shape is actually gone (not just documented)
  * and the output stays within its error contract. Also pins the two
  * round-7 plan fixes (ann_pq heap shortlist, vocab-coverage value
  * buckets) so a refactor can't regress them to corpus-sized sorts. */
class PostureSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  // ------------------------------------------------------------- ann_pq

  test("ann_pq: ADC shortlist is a bounded heap — the only window is the ≤shortlist re-rank") {
    val df = SimilarityPq.annPq(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 1,
      s"expected exactly the final re-rank window, got ${windows.size}")
    val p = plan(df)
    assert(p.contains("collect_top_k"))
    assert(p.contains("partial_collect_top_k"), "shortlist heaps must combine map-side")
  }

  // ------------------------------------------- corpus_source_overlap gate

  test("source overlap: exactAudit=false drops the shingle self-join, estimates unchanged") {
    def joinsOnHash(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case j: BaseJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "h")) => j
      }.size

    val on = Round6Ops9.corpusSourceOverlap(spark, sf)
    assert(joinsOnHash(on) >= 1, "default posture keeps the exact-verify join")
    val onRows = on.collect()

    withConf(Hints.ExactAudit, "false") {
      val off = Round6Ops9.corpusSourceOverlap(spark, sf)
      assert(joinsOnHash(off) == 0,
        "estimate-only posture must never join on the shingle hash")
      val offRows = off.collect()
      assert(offRows.length == onRows.length)
      val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getString(1))
      val byKey = onRows.map(r => key(r) -> r).toMap
      offRows.foreach { r =>
        val ex = byKey(key(r))
        // sketch columns bit-identical; exact columns null in the
        // degraded posture (they're audit-only)
        for (c <- Seq("nd_a", "nd_b", "jaccard_est", "union_est", "inter_est"))
          assert(r.getAs[Any](c) == ex.getAs[Any](c), s"column $c diverged")
        assert(r.isNullAt(r.fieldIndex("inter_exact")))
        assert(r.isNullAt(r.fieldIndex("union_exact")))
      }
    }
  }

  // ------------------------------------------- text_vocab_coverage buckets

  test("vocab coverage: no vocabulary-wide rank — value-bucket identity, no row_number anywhere") {
    val df = Round6Ops19.textVocabCoverage(spark, sf)
    val p = plan(df)
    assert(!p.contains("row_number"),
      "coverage must rank frequency buckets, never every vocab row")
    // the one remaining total-order window runs over the bucket table:
    // distinct frequency VALUES, Zipf-bounded ≪ |vocab| ≪ corpus
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 1)
    // cross-engine value check is the CORRECTNESS gate; here pin the
    // identity against a direct driver replay at tiny SF
    val toks = graft.sources.Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split(" ", -1))
    val byType = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ranked = byType.toSeq.sortBy { case (w, c) => (-c, w) }
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    for (k <- Round6Ops19.VocabCutoffs) {
      val row = rows(k.toLong)
      assert(row.getAs[Long]("vocab_size") == byType.size)
      assert(row.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(row.getAs[Long]("tokens_covered") == ranked.take(k).map(_._2).sum)
    }
  }

  // ------------------------------------------------ approxQuantiles posture

  test("approxQuantiles=true: percentile family runs sketches, no collect_list") {
    withConf(Hints.ApproxQuantiles, "true") {
      for (df <- Seq(Analytics2.eventsPercentiles(spark, sf))) {
        val p = plan(df)
        assert(p.contains("approx_percentile"), "sketch path must be active")
        assert(!p.contains("collect_list"),
          "sketch posture must not materialize per-group sample arrays")
      }
      // event durations are not years-bounded: unlike the pooled
      // climatology below, this MHW readout follows the posture
      assert(plan(Mhw.mhwEventDist(spark, sf)).contains("approx_percentile"),
        "mhw_event_dist sketch path must be active")
    }
  }

  test("approxQuantiles=true: MHW pooling keeps the slot-partials exact build " +
       "(years-bounded groups — sketches buy nothing, the raw fan costs the spill)") {
    // The posture knob deliberately does NOT flip this chain: pooled
    // climatology groups hold ≤ (2hw+1)·years samples, so per-group
    // state is bounded by construction; the GK alternative re-creates
    // the ×11 observation fan (the 207 GB x100 spill).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.functions.{col, lit}
    // Pin the posture property on the pooling kernel's builder plan: a
    // structurally fresh daily input (no-op filter) keeps the
    // CacheManager from substituting a persisted copy of the same plan
    // (the severity chain's memoized threshold), whose
    // InMemoryTableScan stub would hide any approx_percentile from
    // this walker.
    val dl = Mhw.daily(spark, sf).where(col("user_id") =!= lit(Long.MinValue))
    withConf(Hints.ApproxQuantiles, "true") {
      for (df <- Seq(Mhw.climThresh(dl,
                       Mhw.Clim(5, pctile = Some(0.9), smoothHalf = Some(15))),
                     Mhw.legacyClimThresh(dl))) {
        val p = plan(df)
        assert(!p.contains("approx_percentile"),
          "MHW pooling must not flip to GK under the posture knob")
        val naked = df.queryExecution.sparkPlan.collect {
          case g: GenerateExec
            if g.collectFirst { case a: BaseAggregateExec => a }.isEmpty => g
        }
        assert(naked.isEmpty,
          s"${naked.size} explode(s) fan raw observation rows under posture")
      }
    }
  }

  test("approxQuantiles=true: events percentiles stay inside a 3-order-stat bracket of exact") {
    val exactRows = Analytics2.eventsPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val vals = graft.sources.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    withConf(Hints.ApproxQuantiles, "true") {
      val approxRows = Analytics2.eventsPercentiles(spark, sf).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(approxRows.keySet == exactRows.keySet)
      for ((t, ar) <- approxRows; vs = vals(t); n = vs.length;
           (c, p) <- Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)) {
        val h = p * (n - 1)
        val lo = vs(math.max(0, math.floor(h).toInt - 1))
        val hi = vs(math.min(n - 1, math.ceil(h).toInt + 1))
        val v = ar.getAs[Double](c)
        assert(v >= lo - 1e-9 && v <= hi + 1e-9,
          s"$t $c approx $v outside order-stat bracket [$lo, $hi]")
        // counts (non-quantile columns) must not change with the posture
        assert(ar.getAs[Long]("n") == exactRows(t).getAs[Long]("n"))
      }
    }
  }

  test("approxQuantiles=true: RFM and Pareto flip to sketch boundaries and still partition everyone") {
    withConf(Hints.ApproxQuantiles, "true") {
      val rfm = graft.operators.Analytics3.eventsRfm(spark, sf)
      assert(plan(rfm).contains("approx_percentile"))
      val rows = rfm.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        for (c <- Seq("r_score", "f_score", "m_score")) {
          val v = r.getAs[Int](c)
          assert(v >= 1 && v <= 4, s"$c=$v out of range")
        }
      }
      // sketch boundaries still segment every customer exactly once
      val nCust = graft.sources.Tables.orders(spark, sf)
        .select("o_custkey").distinct().count()
      assert(rows.map(_.getAs[Long]("n_cust")).sum == nCust)
      val pareto = graft.operators.Analytics3.customerPareto(spark, sf)
      assert(plan(pareto).contains("approx_percentile"))
      val deciles = pareto.collect()
      assert(deciles.nonEmpty && deciles.length <= 10)
      assert(deciles.map(_.getAs[Long]("n_cust")).sum == nCust)
    }
  }

  test("approxQuantiles=true: round-9 robust/lateness/lag family runs sketches, no collect_list") {
    withConf(Hints.ApproxQuantiles, "true") {
      for (df <- Seq(graft.operators.Round9Ops15.eventsRobustCenter(spark, sf),
                     graft.operators.Round9Ops22.eventsLatenessAudit(spark, sf),
                     graft.operators.Round9Ops23.ordersFulfillmentLag(spark, sf))) {
        val p = plan(df)
        assert(p.contains("approx_percentile"), "sketch path must be active")
        assert(!p.contains("collect_list"),
          "sketch posture must not materialize per-group sample arrays")
      }
    }
  }

  test("approxQuantiles=true: robust center keeps exact moments, sketch bounds bracket exact") {
    val exact = graft.operators.Round9Ops15.eventsRobustCenter(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val vals = graft.sources.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    withConf(Hints.ApproxQuantiles, "true") {
      val approx = graft.operators.Round9Ops15.eventsRobustCenter(spark, sf)
        .collect().map(r => r.getString(0) -> r).toMap
      assert(approx.keySet == exact.keySet)
      for ((t, ar) <- approx; vs = vals(t); n = vs.length) {
        // plain mean is bounds-free: bit-identical across postures
        assert(ar.getAs[Double]("mean") == exact(t).getAs[Double]("mean"))
        assert(ar.getAs[Long]("n") == exact(t).getAs[Long]("n"))
        for ((c, p) <- Seq("p05" -> 0.05, "p95" -> 0.95)) {
          val h = p * (n - 1)
          val lo = vs(math.max(0, math.floor(h).toInt - 1))
          val hi = vs(math.min(n - 1, math.ceil(h).toInt + 1))
          val v = ar.getAs[Double](c)
          assert(v >= lo - 1e-9 && v <= hi + 1e-9,
            s"$t $c approx $v outside order-stat bracket [$lo, $hi]")
        }
        // robust means stay inside the clamp bounds by construction
        assert(ar.getAs[Double]("mean_winsor") >= ar.getAs[Double]("p05") - 1e-9)
        assert(ar.getAs[Double]("mean_winsor") <= ar.getAs[Double]("p95") + 1e-9)
      }
    }
  }

  test("approxQuantiles=true: lateness/lag sketch values stay in order-stat brackets") {
    // exact per-type lateness replay at tiny SF (the naive running max)
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_type", "event_id", "ts").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue,
                 r.getTimestamp(2).getTime / 1000L))
      .groupBy(_._1)
    val lateByType = ev.view.mapValues { rows =>
      var m = Long.MinValue
      rows.sortBy(_._2).map { case (_, _, es) =>
        m = math.max(m, es); (m - es).toDouble
      }.sorted
    }.toMap
    withConf(Hints.ApproxQuantiles, "true") {
      val rows = graft.operators.Round9Ops22.eventsLatenessAudit(spark, sf)
        .collect()
      assert(rows.map(_.getString(0)).toSet == lateByType.keySet)
      for (r <- rows; vs = lateByType(r.getString(0)); n = vs.length;
           (c, p) <- Seq("p50_late_s" -> 0.5, "p95_late_s" -> 0.95,
                         "p99_late_s" -> 0.99)) {
        val h = p * (n - 1)
        val lo = vs(math.max(0, math.floor(h).toInt - 1))
        val hi = vs(math.min(n - 1, math.ceil(h).toInt + 1))
        val v = r.getAs[Double](c)
        assert(v >= lo - 1e-9 && v <= hi + 1e-9,
          s"${r.getString(0)} $c approx $v outside [$lo, $hi]")
      }
      val lag = graft.operators.Round9Ops23.ordersFulfillmentLag(spark, sf)
        .collect()
      assert(lag.nonEmpty)
      lag.foreach { r =>
        assert(r.getAs[Double]("p50_lag_d") <= r.getAs[Double]("p95_lag_d") + 1e-9)
        assert(r.getAs[Double]("p95_lag_d") <=
          r.getAs[Number]("max_lag_d").doubleValue + 1e-9)
      }
    }
  }

  // ---------------------------------------------------- syncDayCap posture

  test("syncDayCap: capped pair fan matches a driver replay; cap ≥ actives is exact") {
    import spark.implicits._
    val d0 = java.sql.Date.valueOf("2024-01-01")
    def day(n: Int) = new java.sql.Date(d0.getTime + n * 86400000L)
    // basin-wide day 0 (all six series), sparse days after
    val evd = (
      (1 to 6).map(u => (u, day(0))) ++
      Seq((1, day(1)), (2, day(1)), (3, day(2)), (4, day(2)),
          (1, day(3)), (5, day(3)), (6, day(3)))
    ).toDF("user_id", "d")
    val exact = graft.operators.Mhw.eventSyncDf(evd).collect().toSeq

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def replay(cap: Int): Seq[(Int, Int, Long, Long, Long)] = {
      val rows = evd.collect().map(r => (r.getInt(0), r.getDate(1).toString))
      val kept = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(t => (md5hex(t._1.toString), t._1)).take(cap)
      }
      val byUser = kept.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (for {
        a <- byUser.keys; b <- byUser.keys if a < b
        both = (byUser(a) intersect byUser(b)).size if both > 0
      } yield (a, b, byUser(a).size.toLong, byUser(b).size.toLong,
               both.toLong)).toSeq.sortBy(t => (t._1, t._2))
    }

    withConf(Hints.SyncDayCap, "3") {
      val capped = graft.operators.Mhw.eventSyncDf(evd).collect().toSeq
      val expect = replay(3)
      assert(capped.map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))) == expect,
        "capped output must equal the deterministic md5-rank replay")
      // the basin-wide day now contributes at most C(3,2) pairs
      assert(capped.size < exact.size)
    }
    withConf(Hints.SyncDayCap, "100") {
      val wide = graft.operators.Mhw.eventSyncDf(evd).collect().toSeq
      assert(wide == exact, "a cap above the densest day must be exact")
    }
  }
}
