package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, Round6Ops4}
import graft.streaming.Streaming

/** Batch↔stream parity: the same logical operation executed through
  * Structured Streaming must agree with its batch expression. */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  /** Stage the NORMALIZED events table (canonical TIMESTAMP ts, whatever
    * encoding the source parquet used) split into per-subdir files, and
    * return the staged schema for the file-stream reader — the specs must
    * not hardcode an encoding the testdata generator is free to change. */
  private def stageSplit(dir: String, parts: Seq[(String, org.apache.spark.sql.DataFrame)])
      : org.apache.spark.sql.types.StructType = {
    parts.foreach { case (sub, df) =>
      df.coalesce(1).write.parquet(s"$dir/in/$sub")
    }
    spark.read.parquet(s"$dir/in").schema
  }

  test("stream_window_counts: streaming run equals batch run") {
    val batch = Streaming.streamWindowCounts(spark, sf)
      .orderBy("window_start", "event_type").collect().toSeq
    val stream = Streaming.runWindowCountsStream(spark, sf)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(stream == batch)
  }

  /** Rows as the oracle check compares them: columns sorted by name,
    * cells as strings, rows sorted. */
  private def canonical(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(df.col): _*).collect().toSeq
      .map(_.toSeq.map(String.valueOf))
    (cols, rows.sortBy(_.mkString("\u0001")))
  }

  /** A copy of the corpus' `table` at a new dir, written by Spark with
    * `f` applied: as one `<table>.parquet` file, or (`asDir`) as the
    * directory of part files Spark itself writes. */
  private def tableCopy(prefix: String, table: String = "events", asDir: Boolean = false)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = tempDir(prefix)
    val raw = f(spark.read.parquet(s"$sf/$table.parquet"))
    if (asDir) raw.repartition(3).write.parquet(s"$dir/$table.parquet")
    else {
      raw.coalesce(1).write.parquet(s"$dir/w")
      val part = new java.io.File(s"$dir/w").listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$table.parquet"))
    }
    dir
  }

  // the four day-grain twins on user 0's first observation (NaN, 1e12,
  // null) or its whole first day (all null, all +Inf): each value the
  // batch side reads must reach the stream's fold and come out the same
  test("stream_holt, stream_holt_winters and stream_cusum equal their batch twins on a NaN or a 1e12 observation") {
    val first = spark.read.parquet(s"$sf/events.parquet").orderBy("user_id", "ts").first()
    val (u, t) = (first.getAs[Any]("user_id"), first.getAs[Any]("ts"))
    val (obs, day) = (col("ts") === lit(t), to_date(col("ts")) === to_date(lit(t)))
    val nul = lit(null).cast("double")
    for ((what, at, v) <- Seq(("NaN", obs, lit(Double.NaN)), ("1e12", obs, lit(1e12)),
                              ("null", obs, nul), ("all-null day", day, nul),
                              ("all-+Inf day", day, lit(Double.PositiveInfinity)))) {
      val dir = tableCopy("graft_oddvalue") { ev =>
        ev.withColumn("value", when(col("user_id") === lit(u) && at, v).otherwise(col("value")))
      }
      for ((stream, batch) <- Seq("stream_holt" -> "ts_holt",
                                  "stream_holt_winters" -> "ts_holt_winters",
                                  "stream_cusum" -> "ts_cusum_alarm",
                                  "stream_periodogram" -> "ts_periodogram")) {
        val want = canonical(SparkEntry.queries(batch)(spark, dir))
        assert(want._2.nonEmpty)
        assert(canonical(SparkEntry.queries(stream)(spark, dir)) == want, s"$stream on $what")
      }
    }
  }

  test("stream_centroid_drift equals its batch twin on an embedding with a NaN component") {
    val dir = tableCopy("graft_nanemb", "embeddings") { emb =>
      val id = emb.agg(min(col("vec_id"))).first().get(0)
      emb.withColumn("embedding", when(col("vec_id") === lit(id),
        transform(col("embedding"), (x, i) => when(i === 1, lit(Float.NaN)).otherwise(x)))
        .otherwise(col("embedding")))
    }
    val want = canonical(SparkEntry.queries("emb_centroid_drift")(spark, dir))
    assert(want._2.nonEmpty)
    assert(canonical(SparkEntry.queries("stream_centroid_drift")(spark, dir)) == want)
  }

  test("stream_holt over a Spark-written (directory) events table returns the single-file rows") {
    val dir = tableCopy("graft_dirtable", asDir = true)(identity)
    assert(new java.io.File(s"$dir/events.parquet").isDirectory)
    val want = canonical(SparkEntry.queries("stream_holt")(spark, sf))
    assert(want._2.nonEmpty)
    assert(canonical(SparkEntry.queries("stream_holt")(spark, dir)) == want)
  }

  test("registry: each stream twin sharing a batch oracle returns the batch rows") {
    val batchBySql = SparkEntry.registry.filterNot(_.name.startsWith("stream_"))
      .groupBy(_.oracleSql)
    val pairs = SparkEntry.registry.filter(_.name.startsWith("stream_"))
      .flatMap(q => batchBySql.get(q.oracleSql).map(b => q -> b.head))
    assert(pairs.size >= 28, s"only ${pairs.size} stream/batch pairs share an oracle")
    // batch side first: some batch entries keep a staged copy under the
    // scratch root on purpose, and only the twins' drains are checked
    // for leftovers below
    val expected = pairs.map { case (_, batch) => canonical(batch.build(spark, sf)) }
    // every drain releases its sink view and staged dirs: the catalog's
    // temp views and the scratch root's graft_* entries are unchanged
    def views() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val views0 = views()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged() = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet
    val staged0 = staged()
    val diverged = pairs.zip(expected).filter { case ((stream, _), rows) =>
      canonical(stream.build(spark, sf)) != rows
    }.map { case ((stream, batch), _) => s"${stream.name} vs ${batch.name}" }
    assert(diverged.isEmpty, s"stream twins diverge: ${diverged.mkString(", ")}")
    assert(views() == views0, s"temp views left behind: ${views() -- views0}")
    assert(staged() -- staged0 == Set.empty, s"staged dirs left behind: ${staged() -- staged0}")
  }

  test("drain: a failing stream raises, then its sink view and scratch dir are gone") {
    import org.apache.spark.sql.streaming.OutputMode
    val scratch = tempDir("graft_drainfail")
    spark.range(3).write.parquet(s"$scratch/in")
    val schema = spark.read.parquet(s"$scratch/in").schema
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("boom") else x)
    val err = intercept[Exception] {
      Streaming.drain(spark, "drainfail", OutputMode.Append, Some(scratch))(
        spark.readStream.schema(schema).parquet(s"$scratch/in")
          .select(boom(col("id")).as("id")))(identity)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("boom")), err)
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(!views.exists(_.startsWith("drainfail")), views.mkString(", "))
    assert(!new java.io.File(scratch).exists(), s"scratch dir $scratch survived the failed drain")
  }

  test("stream_topk and stream_benford: drains equal their batch expressions") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val ev = graft.sources.Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("window_start")
      .orderBy(col("n").desc, col("event_type"))
    val topk = Streaming.windowCounts(ev)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("window_start", "event_type", "n", "rk")
    assert(rows(Streaming.streamTopK(spark, sf)) == rows(topk))
    val benford = Round6Ops4.benfordReport(spark, Round6Ops4.benfordDigitCounts(
      ev.select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))))
    assert(rows(Streaming.streamBenford(spark, sf)) == rows(benford))
  }

  test("stream_enrich_dim: stream-static broadcast join equals batch run") {
    val batch = Streaming.streamEnrichDim(spark, sf)
      .orderBy("window_start", "segment", "event_type").collect().toSeq
    val stream = Streaming.runEnrichDimStream(spark, sf)
      .orderBy("window_start", "segment", "event_type").collect().toSeq
    assert(stream == batch)
  }

  test("stream_dedup_watermark: single drain equals distinct; within-horizon dedup crosses batches; state evicts") {
    val ev = graft.sources.Tables.events(spark, sf)
    // single-batch drain == plain distinct (the oracle shape)
    val single = Streaming.streamDedupWatermark(spark, sf)
      .collect().map(_.toSeq).toSet
    val distinct = ev.select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    assert(single == distinct)
    // the API contract: duplicates WITHIN the horizon are dropped even
    // across batches, and state is EVICTED once the watermark passes a
    // key's expiry (re-emission timing beyond the horizon is expressly
    // unspecified — not pinned). b0 seeds A,B; b1 (10 days on) advances
    // the watermark far past their expiry; b2 repeats C within the
    // horizon (must dedup) and adds a new key D.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    def mk(rows: Seq[(Long, String, String)]) =
      rows.toDF("user_id", "event_type", "t")
        .select(col("user_id"), col("event_type"), to_timestamp(col("t")).as("ts"))
    val dir = tempDir("graft_dwm")
    val schema = stageSplit(dir, Seq(
      "b=0" -> mk(Seq((1L, "click", "2024-01-01 00:00:00"), (2L, "view", "2024-01-01 00:05:00"))),
      "b=1" -> mk(Seq((3L, "click", "2024-01-11 00:00:00"))),
      "b=2" -> mk(Seq((3L, "click", "2024-01-11 00:30:00"), (4L, "view", "2024-01-21 00:00:00")))))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream.format("memory").queryName("dwm_batches")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 3)
    val emitted = spark.table("dwm_batches").groupBy("user_id", "event_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(emitted((3L, "click")) == 1,
      s"within-horizon duplicate crossed batches and re-emitted: $emitted")
    assert(emitted((4L, "view")) == 1 && emitted.size == 4)
    // bounded state: eviction applies the POST-batch watermark — after
    // b2 it stands at Jan 20 23:00, so A,B (expiry ~Jan 1 01:05) AND C
    // (expiry Jan 11 01:00) are gone; only D survives. The state size
    // tracks the horizon, not the key universe.
    val finalState = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatten.lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(finalState == 1, s"expected only D in state after eviction, got $finalState")
  }

  test("stream_upsert: multi-batch incremental snapshot equals the batch snapshot; replay is idempotent") {
    import graft.streaming.StreamingUpsert
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_ups")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))
    val path = s"$dir/state"
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val mode0 = spark.conf.getAll.get(modeKey)
    StreamingUpsert.runUpsertStream(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"), path)
    assert(spark.conf.getAll.get(modeKey) == mode0,
      "the upsert changed the session's partitionOverwriteMode")
    val state = spark.read.parquet(path)
    assert(state.agg(max(col("batch_id"))).collect()(0).getLong(0) >= 1,
      "expected the snapshot to have been built across >= 2 micro-batches")
    def snap() = spark.read.parquet(path)
      .select("user_id", "ts", "event_type", "value", "n_events")
      .orderBy("user_id").collect().toSeq
    val incremental = snap()
    val batch = StreamingUpsert.latestPerUser(ev)
      .select("user_id", "ts", "event_type", "value", "n_events")
      .orderBy("user_id").collect().toSeq
    assert(incremental == batch)
    // at-least-once replay of the LAST batch must be a no-op
    val lastBatch = ev.filter(unix_micros(col("ts")) > cut)
    StreamingUpsert.mergeBatch(spark, path,
      StreamingUpsert.latestPerUser(lastBatch), 1L)
    assert(snap() == incremental, "replaying the last batch changed the snapshot")
    // an older batch id WITHIN the incarnation (0 < id < watermark) is
    // dropped by the high-watermark guard — the compacted snapshot can
    // no longer replace its partial, only skip it
    assert(StreamingUpsert.readWatermark(path) == 1L)
    val firstBatch = ev.filter(unix_micros(col("ts")) <= cut)
    // batch id 0 against an existing watermark = RESTARTED incarnation
    // (Structured Streaming resets ids when no checkpoint is set): the
    // snapshot RESETS to that batch and rebuilds — new events arriving
    // post-restart are never silently dropped
    StreamingUpsert.mergeBatch(spark, path,
      StreamingUpsert.latestPerUser(firstBatch), 0L)
    val afterReset = StreamingUpsert.latestPerUser(firstBatch)
      .select("user_id", "ts", "event_type", "value", "n_events")
      .orderBy("user_id").collect().toSeq
    assert(snap() == afterReset, "restart did not reset to the re-read batch")
    // ...and the re-read remainder rebuilds the identical fixed point
    StreamingUpsert.mergeBatch(spark, path,
      StreamingUpsert.latestPerUser(lastBatch), 1L)
    assert(snap() == incremental, "rebuild after restart diverged")
  }

  test("commit protocol: crash window repairs by replay; stale batches drop even with different data") {
    // Pins the claimed single-writer guarantee (SURVEY §5 "Mutation
    // commit protocol"): data files commit BEFORE the watermark, so the
    // crash window between the two replays the same batch id and the
    // idempotent merge absorbs it; a stale batch inside the incarnation
    // (0 < id < watermark) is dropped by the guard even when its
    // payload differs from what was originally merged.
    import graft.streaming.StreamingUpsert
    val ev = graft.sources.Tables.events(spark, sf)
    val Array(c1, c2) = ev
      .selectExpr("percentile(unix_micros(ts), 0.34)", "percentile(unix_micros(ts), 0.67)")
      .collect()(0).toSeq.map(_.asInstanceOf[Double].toLong).toArray
    val us = unix_micros(col("ts"))
    val batches = Seq(
      0L -> ev.filter(us <= c1),
      1L -> ev.filter(us > c1 && us <= c2),
      2L -> ev.filter(us > c2))
    val path = tempDir("graft_cp") + "/state"
    batches.foreach { case (id, b) =>
      StreamingUpsert.mergeBatch(spark, path, StreamingUpsert.latestPerUser(b), id)
    }
    def snap() = spark.read.parquet(path)
      .select("user_id", "ts", "event_type", "value", "n_events")
      .orderBy("user_id", "ts").collect().toSeq
    val committed = snap()
    assert(StreamingUpsert.readWatermark(path) == 2L)
    // CRASH SIMULATION: the data for batch 2 landed but the watermark
    // write did not (the watermark is the LAST step, so this is the
    // only partial state a crash can leave). On recovery, foreachBatch
    // replays batch 2.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_GRAFT_MAX_BATCH"), "1".getBytes)
    StreamingUpsert.mergeBatch(spark, path,
      StreamingUpsert.latestPerUser(batches(2)._2), 2L)
    assert(snap() == committed, "crash-window replay changed the snapshot")
    assert(StreamingUpsert.readWatermark(path) == 2L, "watermark not repaired")
    // STALE WRITER: batch 1 re-presented with DIFFERENT data (a buggy
    // or delayed duplicate delivery) must be dropped by the guard, not
    // merged — the compacted snapshot can no longer replace partials.
    val tampered = StreamingUpsert.latestPerUser(batches(1)._2)
      .withColumn("value", col("value") * 1000)
      .withColumn("n_events", col("n_events") * 1000)
    StreamingUpsert.mergeBatch(spark, path, tampered, 1L)
    assert(snap() == committed, "stale batch was merged instead of dropped")
    assert(StreamingUpsert.readWatermark(path) == 2L)
  }

  test("stream_hll: register maxes merge across micro-batches; estimate equals batch sketch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Analytics2
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_hll")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Analytics2.hllRegisters(events)
      .writeStream.format("memory").queryName("hll_batches")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val streamed = Analytics2.hllFinalize(spark.table("hll_batches"))
      .select("event_type", "hll_est").collect().map(_.toSeq).toSet
    val batch = Analytics2.hllFinalize(Analytics2.hllRegisters(ev))
      .select("event_type", "hll_est").collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream_benford: digit registers merge across micro-batches; report equals batch audit") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Round6Ops4
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_benford")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val cents = floor(col("value") * 100 + 0.5).cast("long").as("cents")
    val q = Round6Ops4.benfordDigitCounts(events.select(cents))
      .writeStream.format("memory").queryName("benford_batches")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val streamed = Round6Ops4.benfordReport(spark, spark.table("benford_batches"))
      .collect().map(_.toSeq).toSet
    val batch = Round6Ops4.benfordReport(spark,
      Round6Ops4.benfordDigitCounts(ev.select(cents)))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream_quantile: histogram registers merge across micro-batches; estimates equal batch sketch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Sketches
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_qs")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))
    val evCols = ev.select(col("event_type"), col("value"))
    val ranges = Sketches.qsRanges(evCols)
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .select(col("event_type"), col("value"))
    val q = Sketches.qsBinned(events, ranges)
      .writeStream.format("memory").queryName("qs_batches")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val streamed = Sketches.qsFinalize(spark.table("qs_batches"), ranges)
      .collect().map(_.toSeq).toSet
    val batch = Sketches.eventsQuantileSketch(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_kmv: O(k) fold state merges across micro-batches; sketches bit-identical to batch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Sketches
    graft.functions.GraftFunctions.ensure(spark)
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_kmv")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))
    val q = Streaming.kmvFoldSketches(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
          .select(col("event_type"), col("user_id")))
      .writeStream.format("memory").queryName("kmv_batches")
      .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val sk = Streaming.lastEmission(spark.table("kmv_batches"))
    // the folded sketch arrays are BIT-IDENTICAL to the batch build:
    // k smallest distinct hashes, ascending, regardless of chunking
    val batchSk = Sketches.kmvSketches(
        ev.select(col("event_type"), Sketches.kmvHash.as("h")).distinct())
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val foldSk = sk.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(foldSk == batchSk)
    val streamed = Sketches.kmvFinalize(sk, ev)
      .collect().map(_.toSeq).toSet
    val batch = Sketches.eventsKmvOverlapDf(ev).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_knn: per-query top-k state folds across micro-batches; bit-identical to batch") {
    import graft.streaming.StreamingKnn
    import graft.operators.Similarity2
    graft.functions.GraftFunctions.ensure(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val cut = emb.agg(expr("percentile(vec_id, 0.5)")).collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_sknn")
    val schema = stageSplit(dir, Seq(
      "b=0" -> emb.filter(col("vec_id") <= cut),
      "b=1" -> emb.filter(col("vec_id") > cut)))
    val queries = Similarity2.packedQueries(Similarity2.packCols(emb), 5)
    val sink = StreamingKnn.runKnnStream(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
      queries, 5)(identity)
    assert(sink.select("upd").agg(max(col("upd"))).collect()(0).getInt(0) >= 2,
      "expected the fold to run across >= 2 micro-batches")
    val streamed = StreamingKnn.finalShortlists(sink)
      .orderBy("q_id", "rank").collect().toSeq
    val batch = Similarity2.embHammingKnn(spark, sf)
      .orderBy("q_id", "rank").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream_sessionize: state carries across micro-batches") {
    import org.apache.spark.sql.functions._
    // split events at the median ts into two files; maxFilesPerTrigger=1
    // forces two micro-batches, so sessions spanning the split only
    // close if per-user state survives the batch boundary
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").collect()(0).getDouble(0).toLong
    val dir = tempDir("graft_stream")
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(unix_micros(col("ts")) <= cut),
      "b=1" -> ev.filter(unix_micros(col("ts")) > cut)))

    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .select(col("user_id"), Parity.epochUs(col("ts")).as("ts_us"))
      .as[graft.streaming.SessEvent]
    val q = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        graft.streaming.Streaming.foldGroup _)
      .writeStream.format("memory").queryName("sess_batches")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2) // really two batches

    val streamed = spark.table("sess_batches")
      .select(col("user_id"), timestamp_micros(col("session_start_us")).as("session_start"),
              timestamp_micros(col("session_end_us")).as("session_end"), col("n_events"))
      .collect().map(_.toSeq).toSet

    val batch = Events.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
    val lastPerUser = batch.groupBy("user_id").agg(max("session_start").as("session_start"))
    val expected = batch.join(lastPerUser, Seq("user_id", "session_start"), "left_anti")
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
  }

  test("stream_sessionize: closed sessions equal batch sessions minus each user's open tail") {
    val batch = Events.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
    // each user's last session never closes while the stream drains
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_start").as("session_start"))
    val expected = batch.join(lastPerUser, Seq("user_id", "session_start"),
        "left_anti")
      .collect().map(_.toSeq).toSet

    val streamed = Streaming.streamSessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet

    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("stream_click_attr: stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = Streaming.streamClickAttribution(spark, sf)
      .collect().map(_.toSeq).toSet
    val ev = graft.sources.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val expected = purchases.join(clicks,
        col("cu") === col("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
              (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
    // every attribution is within the hour, never negative
    streamed.foreach { r =>
      val gap = r(3).asInstanceOf[Long]
      assert(gap >= 0 && gap <= 3600L * 1000000)
    }
  }

  test("stream_click_attr: click state joins purchases arriving a micro-batch later") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // all clicks land in file b=0, all purchases in b=1;
    // maxFilesPerTrigger=1 forces the purchase batch to join against
    // click state carried from the previous micro-batch
    val dir = tempDir("graft_attr")
    val ev = graft.sources.Tables.events(spark, sf)
    val schema = stageSplit(dir, Seq(
      "b=0" -> ev.filter(col("event_type") === "click"),
      "b=1" -> ev.filter(col("event_type") === "purchase")))
    def side(tpe: String, u: String, t: String, id: String) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(u), col("ts").as(t), col("event_id").as(id))
        .withWatermark(t, "1 hour")
    val joined = side("purchase", "p_user", "p_ts", "purchase_id")
      .join(side("click", "c_user", "c_ts", "click_id"),
        col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("attr_batches")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val streamed = spark.table("attr_batches")
      .select(col("p_user"), col("purchase_id"), col("click_id"))
      .collect().map(_.toSeq).toSet
    val oneShot = Streaming.streamClickAttribution(spark, sf)
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }
}
