package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics3, Mhw, Similarity, Similarity2}
import graft.sources.{Bucketed, Tables}

/** Invariants + plan pins for the round-5 batch-3 operators (#92-#98,
  * #11l): RFM segmentation, lag features, Zipf fit, Hamming-sketch kNN,
  * MMR selection, bucketed co-located join, MHW event distribution,
  * stream-static enrichment. The DuckDB oracle pins exact values at
  * sf0.01; these pin semantics and the scale-critical plan shapes. */
class Batch3OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  // ----------------------------------------------------------- events_rfm

  test("rfm: quartile scores partition every customer; no ranking window in the plan") {
    val seg = Analytics3.eventsRfm(spark, sf).collect()
    assert(seg.nonEmpty)
    for (r <- seg; i <- 0 to 2)
      assert(r.getInt(i) >= 1 && r.getInt(i) <= 4, s"score out of range: $r")
    val total = seg.map(_.getLong(3)).sum
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(total == nCust, s"segment counts $total != customers $nCust")
    // boundary-aggregate scoring, not ntile: no Window operator anywhere
    assert(!plan(Analytics3.eventsRfm(spark, sf)).contains("Window"))
  }

  // -------------------------------------------------- events_lag_features

  test("lag features: per-user recomputation matches for the busiest user") {
    val out = Analytics3.eventsLagFeatures(spark, sf)
    val uid = out.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).limit(1)
      .collect()(0).getLong(0)
    val rows = out.filter(col("user_id") === uid)
      .join(Tables.events(spark, sf).select("event_id", "ts"), "event_id")
      .orderBy("ts", "event_id")
      .select("value", "lag1", "lag2", "roll3", "delta").collect()
    assert(rows.length >= 5)
    def d(x: Any): Double = x.asInstanceOf[Double]
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2) && rows(0).isNullAt(3))
    for (i <- 1 until rows.length) {
      assert(d(rows(i).get(1)) == d(rows(i - 1).get(0)), s"lag1 wrong at $i")
      val win = (math.max(0, i - 3) until i).map(j => d(rows(j).get(0)))
      val exp = math.floor(win.sum / win.size * 1e6 + 0.5) / 1e6
      assert(math.abs(d(rows(i).get(3)) - exp) < 1e-9, s"roll3 wrong at $i")
    }
  }

  // ------------------------------------------------------- doc_zipf_fit

  test("zipf fit: negative slope, r2 in [0,1], vocabulary-bounded window") {
    val rows = Analytics3.docZipfFit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) < 0, s"zipf slope should be negative: $r")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1, s"r2 out of range: $r")
    }
  }

  // --------------------------------------------------- emb_hamming_knn

  test("hamming knn: distances match a direct sign-sketch recomputation") {
    val out = Similarity2.embHammingKnn(spark, sf).collect()
    assert(out.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def bits(v: Seq[Float]): Array[Boolean] = v.map(_ > 0f).toArray
    for (r <- out.take(10)) {
      val (q, v, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val exp = bits(emb(q)).zip(bits(emb(v))).count { case (a, b) => a != b }
      assert(h == exp, s"hamming($q,$v)=$h, expected $exp")
    }
    // per query: ranks are 1..k and distances non-decreasing in rank
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length))
      assert(sorted.map(_.getInt(2)).toSeq == sorted.map(_.getInt(2)).sortBy(identity).toSeq)
    }
  }

  test("hamming knn: bounded partial top-k — no ranking window in the plan") {
    val p = plan(Similarity2.embHammingKnn(spark, sf))
    assert(!p.contains("Window"))
    assert(p.contains("partial_collect_top_k"))
  }

  // ------------------------------------------------------------ emb_mmr

  test("mmr: first pick is the relevance argmax; picks distinct; penalties bite") {
    val out = Similarity2.embMmr(spark, sf).collect()
    assert(out.length == 5)
    assert(out.map(_.getLong(1)).distinct.length == 5)
    assert(!out.map(_.getLong(1)).contains(0L)) // query never selected
    // rank-1 must equal brute-force argmax of cosine-to-query
    val brute = Similarity.knnBruteDf(
        Tables.embeddings(spark, sf).select("vec_id", "embedding"),
        Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), 1)
      .collect()(0).getLong(1)
    assert(out.head.getLong(1) == brute,
      s"MMR rank-1 ${out.head.getLong(1)} != brute top-1 $brute")
    // scores bounded: λ·cos ≤ λ; later rounds subtract a penalty
    out.foreach(r => assert(r.getDouble(2) <= 0.7 + 1e-9))
  }

  test("mmr: shortlist path ≡ full-corpus distributed greedy (ids AND scores)") {
    // the scale path (one TakeOrdered corpus pass + driver-local rounds)
    // must select identically to the round-5 k-corpus-passes loop —
    // including the bit-exact decimal/r6 score arithmetic
    val full = Similarity2.embMmrFullScan(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val short = Similarity2.embMmr(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(short == full, s"shortlist=$short\nfull=$full")
    // a tight shortlist (N=32 ≫ k=5) still reproduces the selection on
    // this corpus — the N ≫ k safety margin in practice
    val tight = Similarity2.embMmr(spark, sf, shortlist = 32).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(tight == full, s"tight=$tight\nfull=$full")
    // a shortlist so small the soundness certificate CANNOT hold
    // (outside candidates could out-score the picks when penalties go
    // negative): the certified fallback must still return the exact
    // full-corpus selection, never a silent approximation
    val forced = Similarity2.embMmr(spark, sf, shortlist = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(forced == full, s"forced=$forced\nfull=$full")
  }

  test("mmr: plan is one corpus pass — TakeOrdered, no per-round jobs") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
              graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_n"))
    val base = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
    val p = plan(base.orderBy(col("nrm").desc, col("vec_id")).limit(4096))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // ------------------------------------------- lineitem_bucketed_join

  test("bucketed join: result equals the plain join; zero exchanges feed the join") {
    val bucketed = Bucketed.lineitemBucketedJoin(spark, sf).collect().toSeq
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           Parity.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
             .as("revenue"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(bucketed == plain)
    // with broadcast off, the SMJ consumes bucketed scans directly:
    // the ONLY exchange in the whole plan is the ≤5-row post-join agg
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(Bucketed.lineitemBucketedJoin(spark, sf))
      assert(p.contains("SortMergeJoin"))
      // neither join side re-shuffles on its key — the scans' bucket
      // layout feeds the SMJ directly; the only exchanges left are the
      // ≤5-row post-join aggregate and the output sort
      assert(!p.contains("hashpartitioning(l_orderkey"),
        s"lineitem side re-shuffled despite bucketing:\n$p")
      assert(!p.contains("hashpartitioning(o_orderkey"),
        s"orders side re-shuffled despite bucketing:\n$p")
      val exchanges = "\\) Exchange".r.findAllIn(p).length
      assert(exchanges == 2,
        s"expected only the agg + output-sort exchanges, got $exchanges:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // --------------------------------------------------- supplier_lead_time

  test("supplier lead time: rides the bucketed layout; stats match a direct recomputation") {
    val out = Bucketed.supplierLeadTime(spark, sf).collect()
    assert(out.nonEmpty)
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
              datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("d"))
      .collect().groupBy(_.getLong(0))
    out.take(20).foreach { r =>
      val ds = direct(r.getLong(0)).map(_.getLong(1))
      assert(r.getLong(1) == ds.length)
      assert(r.getLong(3) == ds.min && r.getLong(4) == ds.max)
      val mean = math.floor(ds.map(BigDecimal(_)).sum.toDouble / ds.length * 1e4 + 0.5) / 1e4
      assert(math.abs(r.getDouble(2) - mean) < 1e-9)
    }
    // the order-key join consumes the bucket layout: no re-shuffle on
    // either join key even with broadcast disabled
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(Bucketed.supplierLeadTime(spark, sf))
      assert(!p.contains("hashpartitioning(l_orderkey"))
      assert(!p.contains("hashpartitioning(o_orderkey"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ------------------------------------------------------ mhw_event_dist

  test("event dist: consistent with the detected event table") {
    val d = Mhw.mhwEventDist(spark, sf).collect()(0)
    val ev = Mhw.mhwEvents(spark, sf).select("user_id", "duration").collect()
    assert(d.getLong(0) == ev.length)
    assert(d.getLong(1) == ev.map(_.getLong(0)).distinct.length)
    val durs = ev.map(_.getInt(1)).sorted
    assert(d.getInt(3) == durs.last)
    assert(d.getDouble(4) <= d.getDouble(5) && d.getDouble(5) <= durs.last.toDouble)
  }
}
