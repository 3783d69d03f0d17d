package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round6Ops12, Round6Ops24}

/** Round-8 operators (#280 stream_disposition, #281 stream_garbage_mix):
  * the documents-feed curation gate and garbage screen live, via the
  * registers/finalize contract — the stream twin must be bit-identical
  * to the batch build because the register stage IS shared code. */
class Round8Spec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("stream_disposition: streamed decision table is bit-identical to batch #266") {
    val batch = Round6Ops24.corpusDisposition(spark, sf).collect()
    val streamed = graft.streaming.Streaming.streamDisposition(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
    // every doc routes exactly once; shares total 1 per source and corpus
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(batch.map(_.getLong(2)).sum == total)
    assert(math.abs(batch.map(_.getDouble(5)).sum - 1.0) < 1e-4)
  }

  test("dedup_minhash_incremental: probe agrees with the full pass on delta-index pairs") {
    import graft.operators.LshDedup
    val inc = LshDedup.dedupMinhashIncremental(spark, sf).collect()
    val nDelta = graft.sources.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(5)) === 4).count()
    assert(inc.length == nDelta, "every delta doc reports exactly once")
    // at this SF no band bucket exceeds the cap, so the probe must find
    // exactly the delta-index pairs the full #27 pass verifies; the
    // reported match is the best (max jaccard, min index id) of them
    val full = LshDedup.dedupMinhash(spark, sf).collect()
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b, j), (b, a, j))
      }
      .filter { case (d, i, _) => d % 5 == 4 && i % 5 != 4 }
      .groupBy(_._1)
      .map { case (d, ps) =>
        d -> ps.map(p => (p._3, p._2)).max(Ordering.Tuple2(
          Ordering.Double.TotalOrdering, Ordering.Long.reverse))
      }
    inc.foreach { r =>
      val d = r.getLong(0)
      if (r.getBoolean(3)) {
        val (j, i) = full(d)
        assert(r.getLong(1) == i && r.getDouble(2) == j,
          s"delta $d: best match diverged from the full pass")
      } else assert(!full.contains(d), s"delta $d: probe missed a match")
    }
  }

  test("stream_token_budget: streamed decision is bit-identical to batch; consistent with #77's selection") {
    import graft.operators.Curation
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = Curation.tokenBudgetFinalize(20000)(
      Curation.tokenBudgetRegisters(docs)).collect()
    val streamed = graft.streaming.Streaming.streamTokenBudget(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
    // the live decision and the batch selection agree doc-for-doc
    val selectedDocs = Curation.corpusTokenBudget(spark, sf).count()
    val selectedBuckets = batch.filter(_.getBoolean(4))
    assert(selectedBuckets.map(_.getLong(1)).sum == selectedDocs)
    // selected buckets' token mass fits the budget
    if (selectedBuckets.nonEmpty)
      assert(selectedBuckets.map(_.getLong(2)).sum <= 20000L)
  }

  test("dq_schema_drift: injected lifecycle is detected; stream twin is bit-identical") {
    import graft.operators.Round8Ops
    val batch = Round8Ops.dqSchemaDrift(spark, sf).collect()
    val byKey = batch.map(r => r.getString(0) -> r).toMap
    // the injection plants exactly this lifecycle: beta retired at the
    // midpoint, k_v2 born there, k stable throughout
    assert(byKey.keySet == Set("beta", "k", "k_v2"))
    assert(byKey("k").getString(5) == "stable")
    assert(byKey("beta").getString(5) == "retired")
    assert(byKey("k_v2").getString(5) == "new")
    assert(byKey("beta").getString(2) < byKey("k_v2").getString(1),
      "beta's last day precedes k_v2's first day (the rollout boundary)")
    // every event carries exactly one of k/k_v2
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(byKey("k").getLong(4) + byKey("k_v2").getLong(4) == total)
    val streamed = graft.streaming.Streaming.streamSchemaDrift(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  test("corpus_dedup_weight: weight mass reconciles with the cluster count; ratios bounded") {
    import graft.operators.Analytics
    val rows = Analytics.corpusDedupWeight(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == docs, "every doc weighted exactly once")
    // each cluster contributes exactly 1 doc-equivalent (σ 1/|c| over
    // members), so total effective mass = number of clusters (up to the
    // 6dp per-doc rounding)
    val nClusters = Analytics.dedupClusters(spark, sf)
      .select("cluster").distinct().count()
    val eff = rows.map(_.getDouble(2)).sum
    assert(math.abs(eff - nClusters) < 0.01,
      s"effective mass $eff vs $nClusters clusters")
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getLong(1) + 1e-9)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
      if (r.getLong(3) == 0) assert(r.getDouble(4) == 1.0,
        "a source with no dup-cluster docs keeps full effective ratio")
    }
  }

  test("emb_ivf_incremental: occupancy reconciles; drift flags only delta-bearing cells") {
    import graft.operators.Similarity
    val rows = Similarity.embIvfIncremental(spark, sf).collect()
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val total = emb.count()
    assert(rows.map(_.getLong(1)).sum + rows.map(_.getLong(2)).sum == total)
    assert(rows.map(_.getLong(2)).sum ==
      emb.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(5L)) === 4).count())
    rows.foreach { r =>
      if (r.getBoolean(6)) assert(r.getLong(2) > 0,
        "rebalance only fires on cells receiving delta traffic")
      if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0.0)
    }
  }

  test("dedup_minhash_incremental: saturated index buckets are stop-buckets; unsaturated probe finds matches") {
    import graft.operators.LshDedup
    import spark.implicits._
    // adversarial: 600 clones — every index band bucket collapses onto
    // one key and exceeds the cap, so the probe must SKIP them (the
    // stop-bucket contract) instead of going quadratic per delta doc
    val n = 600
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (0 until n).map(i => (i.toLong, s"$body extra$i"))
      .toDF("doc_id", "text")
    val saturated = LshDedup.dedupMinhashIncrementalDf(docs, maxBucket = 64)
      .collect()
    assert(saturated.length == n / 5, "every delta doc reports once")
    assert(saturated.forall(!_.getBoolean(3)),
      "stop-buckets engaged: saturated index buckets are never probed")
    // with the cap above the bucket size the same probe finds the dups
    val open = LshDedup.dedupMinhashIncrementalDf(docs, maxBucket = n + 1)
      .collect()
    assert(open.forall(_.getBoolean(3)),
      "clones must all match once buckets are probed")
  }

  test("register streams: (day, key) counters merge by addition across multiple micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Round8Ops
    // the per-op twin tests drive a single-file feed (often one
    // micro-batch); this pins the Complete-mode MERGE itself: two
    // staged files, one per trigger, must drain to the identical
    // register table the batch build computes
    val ev = graft.sources.Tables.events(spark, sf)
    val mid = Round8Ops.feedMidDay(ev)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)")
      .collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_regm")
    Seq("b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
        "b=1" -> ev.filter(unix_micros(col("ts")) > cut))
      .foreach { case (sub, df) => df.coalesce(1).write.parquet(s"$dir/in/$sub") }
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val name = s"regmerge_${System.nanoTime()}"
    val q = Round8Ops.schemaRegisters(stream, mid)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the split must actually arrive as multiple micro-batches")
    val streamed = spark.table(name)
      .orderBy("day", "key").collect().map(_.toString).toSeq
    val batch = Round8Ops.schemaRegisters(ev, mid)
      .orderBy("day", "key").collect().map(_.toString).toSeq
    assert(streamed == batch,
      "cross-batch register merge diverged from the batch build")
  }

  test("lineitem_zorder_locality: z-order bounds the second column's spans; time-sort does not") {
    import graft.operators.Round8Ops
    val rows = Round8Ops.lineitemZorderLocality(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val (ts, zo) = (rows("time_sorted"), rows("zorder"))
    // the whole point: z-order trades day locality for part locality
    assert(zo.getLong(3) < ts.getLong(3),
      "z-order must shrink total part-key spans vs time-sort")
    assert(zo.getLong(2) > ts.getLong(2),
      "the day-span cost of interleaving must be visible, not free")
    // time-sort keeps day spans near-minimal: avg bucket day span below
    // the even-split width x2
    assert(ts.getLong(2) / ts.getLong(1) < 2L * 2500 / 32)
    // scale guard (the bits-overflow regression): at sf0.1 l_partkey
    // tops 19999 >> 2^12 — a raw un-normalized interleave aliases
    // partkeys mod 4096 and the z-order stops bounding their spans;
    // the range-normalized key must still bound them decisively there
    val big = Round8Ops.lineitemZorderLocality(spark, "/root/testdata/sf0.1")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(big("zorder").getLong(3) * 2 < big("time_sorted").getLong(3),
      "normalized z-order must bound part spans at key ranges beyond 2^bits")
  }

  test("corpus_split_leakage: pair accounting reconciles with #27; splits match #82's assignment") {
    import graft.operators.{LshDedup, Round8Ops}
    val grid = Round8Ops.corpusSplitLeakage(spark, sf).collect()
    val allPairs = LshDedup.dedupMinhash(spark, sf).count()
    assert(grid.map(_.getLong(2)).sum == allPairs,
      "every verified near-dup pair lands in exactly one split cell")
    grid.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "cells are unordered pairs")
      assert(r.getBoolean(4) == (r.getString(0) != r.getString(1)))
      assert(r.getDouble(3) >= 0.3, "mean Jaccard respects the tau floor")
    }
  }

  test("events_compact_partitions: files collapse, data identical, rerun is a physical no-op") {
    import org.apache.spark.sql.functions._
    import graft.sources.Partitioned
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
    val path = tempDir("graft_cmp") + "/events"
    // natural small-file debris: 8 upstream tasks x every day
    ev.repartition(8).write.partitionBy("p_date").parquet(path)
    def snap() = spark.read.parquet(path)
      .orderBy("event_id").collect().map(_.toString).toSeq
    val beforeData = snap()
    val report = Partitioned.compactCopy(spark, path, maxFiles = 1)
    assert(report.exists(_._2._1 > 1), "staging must have produced small files")
    report.foreach { case (d, (b, a)) =>
      if (b > 1) assert(a == 1, s"day $d not compacted: $b -> $a")
      else assert(a == b, s"already-compact day $d was rewritten")
    }
    assert(snap() == beforeData, "compaction must move bytes, not values")
    // rerun: nothing over the threshold -> no partition rewrites at all
    val mt = new java.io.File(path).listFiles().filter(_.getName.startsWith("p_date="))
      .map(d => d.getName -> d.listFiles().map(f => f.getName -> f.lastModified).toMap)
      .toMap
    Partitioned.compactCopy(spark, path, maxFiles = 1)
    new java.io.File(path).listFiles().filter(_.getName.startsWith("p_date="))
      .foreach { d =>
        d.listFiles().foreach(f =>
          assert(mt(d.getName).get(f.getName).contains(f.lastModified),
            s"rerun touched ${d.getName}/${f.getName}"))
      }
  }

  test("corpus_pii_audit: injected incidence is exact; stream twin is bit-identical") {
    import graft.operators.Round8Ops
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val batch = Round8Ops.corpusPiiAudit(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(batch.map(_.getLong(1)).sum == docs.count())
    // injection ground truth: docs with id % 13 == 0 or % 17 == 0
    val expected = docs.filter(
      pmod(col("doc_id"), lit(13)) === 0 || pmod(col("doc_id"), lit(17)) === 0)
      .count()
    assert(batch.map(_.getLong(2)).sum == expected,
      "PII doc count must equal the planted set exactly")
    batch.foreach { r =>
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    val streamed = graft.streaming.Streaming.streamPiiMix(spark, sf).collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
  }

  test("events_erase_user: erasure is complete, surgical, idempotent; owned days tombstone") {
    import org.apache.spark.sql.functions._
    import graft.sources.Partitioned
    // synthetic copy: user 1 owns ALL of day 2 (the tombstone case) and
    // shares day 1; user 2 is untouched traffic
    val s = spark; import s.implicits._
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "click", 1.0),
      (2L, 2L, "2024-01-01 11:00:00", "view", 2.0),
      (3L, 1L, "2024-01-02 10:00:00", "click", 3.0),
      (4L, 1L, "2024-01-02 11:00:00", "view", 4.0),
      (5L, 2L, "2024-01-03 09:00:00", "view", 5.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val path = tempDir("graft_er") + "/events"
    ev.withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("p_date").parquet(path)
    val day3 = new java.io.File(s"$path/p_date=2024-01-03")
    val mtimes = day3.listFiles().map(f => f.getName -> f.lastModified).toMap
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val mode0 = spark.conf.getAll.get(modeKey)
    Partitioned.eraseUserFromCopy(ev, path, 1L)
    assert(spark.conf.getAll.get(modeKey) == mode0,
      "the erase changed the session's partitionOverwriteMode")
    val left = spark.read.parquet(path)
    assert(left.filter(col("user_id") === 1L).count() == 0, "user fully erased")
    assert(left.count() == 2, "other users' events survive")
    assert(!new java.io.File(s"$path/p_date=2024-01-02").exists(),
      "a fully-owned day tombstones (dynamic overwrite alone would leak it)")
    // untouched partitions are PHYSICALLY untouched (the #103 pin)
    day3.listFiles().foreach(f =>
      assert(mtimes.get(f.getName).contains(f.lastModified),
        s"day-3 file ${f.getName} was rewritten"))
    // retry is a no-op fixed point
    Partitioned.eraseUserFromCopy(ev, path, 1L)
    assert(spark.read.parquet(path).count() == 2)
    // the shipped query reconciles against the oracle's relational view
    val report = Partitioned.eventsEraseUser(spark, sf).collect()
    report.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(2) > 0))
  }

  test("stream_garbage_mix: streamed per-source registers are bit-identical to batch") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = Round6Ops12.garbageMixFinalize(
      Round6Ops12.garbageRegisters(docs)).collect()
    val streamed = graft.streaming.Streaming.streamGarbageMix(spark, sf)
      .collect()
    assert(batch.map(_.toString).toSeq == streamed.map(_.toString).toSeq)
    assert(batch.map(_.getLong(1)).sum == docs.count())
    batch.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }
}
