package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, Mhw, Relational}

/** Physical-plan shape guards: the properties that make these operators
  * scale (pushdown reaching the parquet scan, dimensions broadcast, a
  * single exchange for co-partitioned window chains) are asserted here
  * so a refactor can't silently regress them. */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: every predicate is pushed to the parquet scan") {
    val p = plan(Relational.q6Forecast(spark, sf))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    // scan reads only the needed columns
    assert(!p.contains("l_orderkey"))
  }

  test("q3/q5: dimension sides broadcast — no fact-fact sort-merge join") {
    val p3 = plan(Relational.q3Shipping(spark, sf))
    assert(p3.contains("BroadcastHashJoin"))
    val p5 = plan(Relational.q5Local(spark, sf))
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("severity: clim tables broadcast back to facts") {
    val p = plan(Mhw.severityChain(spark, sf, 0.9))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("sessionize: windows + aggregation share one exchange on user_id") {
    val p = plan(Events.sessionize(spark, sf))
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single user_id exchange, got $exchanges:\n$p")
  }

  test("knn: bounded partial top-k — no ranking window in the plan") {
    val p = plan(graft.operators.Similarity.knnBrute(spark, sf))
    assert(!p.contains("Window"))
    assert(p.contains("collect_top_k"))
    assert(p.contains("partial_collect_top_k")) // map-side heaps
  }

  test("asof join: single exchange, no join operator at all") {
    val p = plan(Events.asofJoin(spark, sf))
    assert(!p.contains("Join"))
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1)
  }

  test("asof nearest: all three directions still one exchange, no join") {
    val p = plan(Events.asofJoinNearest(spark, sf))
    assert(!p.contains("Join"))
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges:\n$p")
  }

  test("q19: OR-of-ANDs partially pushed; part side broadcast") {
    val p = plan(graft.operators.Relational2.q19Discounted(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    // the lineitem-only disjunct bound (quantity range) reaches the scan
    assert(p.contains("PushedFilters:"))
  }

  test("q7: all dimensions broadcast — lineitem⋈orders is the only big join") {
    val p = plan(graft.operators.Relational2.q7Volume(spark, sf))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected >=2 broadcast joins, got $bhj")
  }

  test("q13: orders aggregate before meeting customer (partial aggs first)") {
    val p = plan(graft.operators.Relational2.q13Custdist(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("salted agg: two aggregation levels, partials map-side") {
    val p = plan(graft.operators.Analytics.eventsSaltedAgg(spark, sf))
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 4, s"expected two partial+final agg pairs, got $aggs")
  }

  test("heavy hitters: bounded TakeOrderedAndProject, not a global sort") {
    val p = plan(graft.operators.Analytics.eventsHeavyHitters(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("stratified sample: map-only — no exchange in the plan") {
    val p = plan(graft.operators.Analytics.sampleStratified(spark, sf))
    assert(!p.contains("Exchange"))
  }

  test("q21: de-correlated — exactly one lineitem scan, no self-joins") {
    val p = plan(graft.operators.Relational3.q21WaitingSuppliers(spark, sf))
    assert(p.contains("BroadcastHashJoin")) // supplier/nation/region side
    // the classic Q21 plan scans lineitem 3×; ours once — 5 unique scans
    // total (lineitem, orders, supplier, nation, region)
    val fileScans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(fileScans <= 5, s"expected <=5 unique file scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q9/q8: every dimension broadcasts; one fact-fact co-shuffle") {
    val p9 = plan(graft.operators.Relational3.q9Profit(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p9).length >= 2)
    val p8 = plan(graft.operators.Relational3.q8MarketShare(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p8).length >= 3)
  }

  test("q2: min-per-part window runs on the aggregated pair table") {
    val p = plan(graft.operators.Relational3.q2MinCost(spark, sf))
    // aggregation (unit-cost means) comes before the window min
    assert(p.indexOf("HashAggregate") >= 0)
    assert(p.contains("Window"))
    assert(p.contains("TakeOrderedAndProject")) // bounded top-100
  }

  test("corpus_curate: one scan, one exchange — the fused curation plan") {
    val p = plan(graft.operators.TextOps.corpusCurate(spark, sf))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single documents scan:\n$p")
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the fingerprint exchange:\n$p")
  }

  test("q16: pair-distinct and count-distinct share the partkey/suppkey shuffle") {
    val p = plan(graft.operators.Relational3.q16SupplierCounts(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"no fact-fact SMJ expected:\n$p")
  }

  test("severity/events degrade to co-partitioned shuffle joins when key-dim " +
       "broadcasts are disabled — never nested-loop or cartesian") {
    // the 100×-key-cardinality posture: no forced broadcast of the
    // key-proportional clim/fit tables AND no auto-broadcast — the
    // optimizer must fall back to keyed shuffle joins, not a BNLJ/CP
    spark.conf.set(graft.Hints.BroadcastKeyDims, "false")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dl = Mhw.daily(spark, sf)
      // pctile 0.8: a plan no other test persisted — the CacheManager
      // would otherwise substitute the earlier severityChain(0.9) cache
      // entry, whose materialization plan has the hints baked in
      val sev = Mhw.severity(dl,
        Mhw.climThresh(dl, Mhw.Clim(0, seas = true, smoothHalf = Some(15))),
        Mhw.climThresh(dl, Mhw.Clim(5, pctile = Some(0.8), smoothHalf = Some(15))))
      val pSev = plan(sev)
      assert(!pSev.contains("BroadcastNestedLoopJoin"), pSev)
      assert(!pSev.contains("CartesianProduct"), pSev)
      assert(pSev.contains("SortMergeJoin") || pSev.contains("ShuffledHashJoin"), pSev)
      val pEv = plan(Mhw.detectEvents(sev, 3, 2))
      assert(!pEv.contains("CartesianProduct"), pEv)
      assert(!pEv.contains("BroadcastNestedLoopJoin"), pEv)
      // event detection is one per-series kernel over one exchange: it
      // adds no join of any kind to the severity plan it reads
      val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      def joinOps(p: String) = joins.findAllIn(p).toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(joinOps(pEv) == joinOps(pSev), s"joins added by events:\n$pEv")
    } finally {
      spark.conf.set(graft.Hints.BroadcastKeyDims, "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("bloom join: constant-size build broadcast to the probe — no fact-side shuffle join") {
    val p = plan(graft.operators.Sketches.eventsBloomJoin(spark, sf))
    // the 1-row bloom and the member dimension reach the fact scan as
    // broadcasts; the fact table itself is never sort-merge joined
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the word build partial-aggregates map-side before its exchange
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), p)
  }

  test("cms: register build is a partial-aggregated groupBy (map-side combine)") {
    val p = plan(graft.operators.Sketches.eventsCms(spark, sf))
    assert(p.contains("partial_count"), p)
    // estimation joins the broadcast register table — no shuffle of keys
    // against registers
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cms top-k: bounded TakeOrderedAndProject — no single-partition window " +
       "over the candidate key set") {
    val p = plan(graft.operators.Sketches.eventsCms(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // The only Window left is the rank over the ≤k survivors of the limit:
    // in the formatted plan it must sit ABOVE the TakeOrderedAndProject
    // (bounded input), i.e. no Window below the take.
    val winIdx = p.indexOf("Window")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx >= 0 && winIdx < takeIdx,
      s"rank window must consume the bounded top-k, plan:\n$p")
  }

  test("token budget: bucket threshold — no global window over documents") {
    val p = plan(graft.operators.Curation.corpusTokenBudget(spark, sf))
    // the only Window is the cumulative sum over the ≤101-row bucket
    // table; the document-side selection is a broadcast-filter
    val windows = "\\) Window".r.findAllIn(p).length
    assert(windows <= 1, s"expected at most the bucket-table window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("weighted sample: rates broadcast, accept is map-only on the fact scan") {
    val p = plan(graft.operators.Curation.corpusWeightedSample(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scd2: all three windows and the aggregation share one user_id exchange") {
    val p = plan(graft.operators.Curation.eventsScd2(spark, sf))
    // one exchange for the user_id partitioning + the final presentation
    // sort's range exchange — nothing else
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected user_id + output-sort exchanges only:\n$p")
  }

  test("pooling chain: exploded window samples never cross the wire") {
    // the shuffle-once rework: the only exchanges in the threshold chain
    // sit BELOW the ±hw/±15 explodes (daily partial agg, years-distinct,
    // the keyed repartition). A shuffle whose subtree contains a
    // Generate means the ×11/×31 fan-out is being shuffled — the shape
    // that went superlinear at the ×30 reference grid.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq(Mhw.thresholdBpSmooth(spark, sf),
        Mhw.legacyClimThresh(Mhw.daily(spark, sf), 5, 0.9)).foreach { df =>
      val sp = df.queryExecution.sparkPlan
      val offenders = sp.collect {
        case e: ShuffleExchangeExec
          if e.collectFirst { case g: GenerateExec => g }.isDefined => e
      }
      assert(offenders.isEmpty,
        s"${offenders.size} exchange(s) shuffle exploded rows:\n${offenders.mkString("\n")}")
    }
  }

  test("ewma: one exchange, one window — a fixed-size expression, no collect_list") {
    val p = plan(graft.operators.TimeSeries2.tsEwma(spark, sf))
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges")
    assert(!p.contains("collect_list"))
  }

  test("cross-corr: calendar-bounded panel table broadcasts — no fact-fact shuffle join") {
    val p = plan(graft.operators.TimeSeries2.tsCrossCorr(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ngram dedup: stop-shingle cap keeps a hot shingle out of the pair join") {
    // the scale guarantee: a shingle above the DF cap generates ZERO
    // candidate pairs (previously df² — the round-3 scale-killer). 200
    // identical 3-token docs share one shingle with df=200 > 128; the
    // uncapped join would emit all 19900 jaccard-1.0 pairs. The two
    // 4-token docs share two rare shingles and must still pair.
    import spark.implicits._
    val docs = ((1 to 200).map(i => (i.toLong, "aa bb cc")) ++
                Seq((1001L, "xx yy zz ww"), (1002L, "xx yy zz ww"))).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.dedupNgramJaccardDf(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1001L, 1002L)),
      s"only the rare-shingle pair should survive the cap: ${pairs.toSeq}")
  }

  test("q4: semi-join keeps the fact side un-duplicated; orders date filter pushed") {
    val p = plan(graft.operators.Relational2.q4Priority(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("q20: no fact-fact sort-merge join; dims broadcast") {
    val p = plan(graft.operators.Relational3.q20PromoSuppliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("shard pack: distributed prefix sum — bounded windows, no whole-source pass") {
    val p = plan(graft.operators.Curation.corpusShardPack(spark, sf))
    // two Window operators: the bucket-local cumsum (groups ≤ bucketDocs
    // rows) and the per-source offset scan over the BUCKET AGGREGATE
    // (docs/bucketDocs rows) — neither ever holds a whole source of
    // documents
    val windows = "\\) Window".r.findAllIn(p).length
    assert(windows == 2, s"expected 2 bounded windows, got $windows:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the offset table is key-proportional-tiny: broadcast back
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("theil-sen: equi-joins only — the pair space never plans a cartesian") {
    val p = plan(graft.operators.TimeSeries2.tsTheilSen(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interp linear: both direction frames share the key exchange") {
    val p = plan(graft.operators.TimeSeries.interpLinear(spark, sf))
    // spine aggregation + the (user_id, d) join/window key — the
    // prev/next carriers add NO exchange beyond those
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("auto-shuffle rule: partitions track volume, floored at cores, capped") {
    import GraftSession.shufflePartitionsFor
    // tiny input → core floor (never starve the machine)
    assert(shufflePartitionsFor(100L << 20, cores = 32) == 32)
    // ×30 grid shape: ~3.3 GB input, ×11 pooling fan-out → enough
    // partitions that one task's exploded working set fits the 256 MB
    // budget (the hand-measured recovery was 128; the rule lands in the
    // same regime, NOT at the spilling core count)
    val x30 = shufflePartitionsFor(3_300L << 20, cores = 32, amplification = 11.0)
    assert(x30 >= 128 && x30 <= 256, s"x30 -> $x30")
    // whole scheduling waves: always a multiple of the core count
    assert(x30 % 32 == 0, s"x30 -> $x30 not whole waves")
    // monotone in volume: ×100 plans more partitions than ×30
    val x100 = shufflePartitionsFor(11_000L << 20, cores = 32, amplification = 11.0)
    assert(x100 > x30 && x100 % 32 == 0)
    // scheduling-overhead cap
    assert(shufflePartitionsFor(Long.MaxValue, cores = 32) == 4096)
  }

  test("plan-audit mode: MHW chain explains its real exchanges and scans") {
    // the round-5 audit blind spot: Caches.persisted frames explain as
    // InMemoryRelation stubs (exchanges:0, scans:0). Under the audit
    // conf the builder plan is explained instead.
    spark.conf.set(Caches.PlanAuditConf, "true")
    try {
      val p = plan(Mhw.detectEvents(Mhw.severityChain(spark, sf, 0.9), 5, 2))
      val exchanges = "\\) Exchange".r.findAllIn(p).length
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
      assert(exchanges > 0, s"audit mode still blind (0 exchanges):\n$p")
      assert(scans > 0, s"audit mode still blind (0 scans):\n$p")
    } finally spark.conf.set(Caches.PlanAuditConf, "false")
  }

  test("emb outliers: centroids broadcast; distances persisted, not recomputed") {
    val df = graft.operators.Similarity.embOutliers(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-vector distance table feeds both the stats and the
    // flagging pass through one InMemoryRelation — the corpus is not
    // re-scanned for the second consumer
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  // ------------------------------------------------ round-6 batch 4-7 pins

  test("silhouette: centroid table broadcast to the corpus — never vector x vector") {
    val p = plan(graft.operators.Similarity3.embSilhouette(spark, sf))
    // the corpus x labels candidate scan is a broadcast nested loop of
    // the model-sized centroid array table; any SortMergeJoin here would
    // mean the corpus shuffled against itself
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("periodogram/cusum/backtest: plain aggregates — no window over events") {
    Seq(graft.operators.Round6Ops2.tsPeriodogram(spark, sf),
        graft.operators.Round6Ops2.tsCusumAlarm(spark, sf),
        graft.operators.Round6Ops2.tsForecastBacktest(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("(Window"), p.take(2000))
    }
  }

  test("quality curve: one scan, the grid is an explode, zero joins") {
    val p = plan(graft.operators.Round6Ops2.corpusQualityCurve(spark, sf))
    assert(p.contains("Generate"), p) // the literal-grid explode
    assert(!p.contains("Join"), s"quality+tokens should share one scan:\n$p")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$p")
  }

  test("novelty: shingle index carries no self-join; novel counts re-group the index") {
    val p = plan(graft.operators.Round6Ops2.textNgramNovelty(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ab lift + cuped: arm totals broadcast, no per-user window") {
    Seq(graft.operators.Round6Ops2.eventsAbLift(spark, sf),
        graft.operators.Round6Ops2.eventsCupedLift(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("(Window"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("triplet mining: anchors + thresholds broadcast; no sort-merge pair join, no ranking window") {
    val p = plan(graft.operators.Similarity3.embTripletMining(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("(Window"), p.take(2000))
  }

  test("survival KM: the only windows ride the bounded grid or the per-user lead — never a global row window over events") {
    val p = plan(graft.operators.Round6Ops3.eventsSurvivalKm(spark, sf))
    // corpus-end scalar broadcast, no cartesian on the event side
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the per-user lead is the only window keyed by data cardinality
    assert(p.contains("lead("), p.take(2000))
  }

  test("av sync: one decode pass — a single documents scan feeds both feature rules") {
    val p = plan(graft.multimodal.Multimodal.mmAvSync(spark, sf))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), p.take(2000))
  }
}
