package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQueryListener, TestGroupState}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.Mhw
import graft.streaming.{MhwSpanDay, MhwStreamState, SevIn, StreamingMhw}

/** Incremental MHW detection: batch ↔ stream parity and the in-order
  * chunking invariance of the stateful fold. */
class StreamingMhwSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  import StreamingMhwSpec.foldChunks

  /** The distinct (evt, index_start, index_end) spans of emitted days. */
  private def spans(days: Seq[MhwSpanDay]): Seq[(Long, Int, Int)] =
    days.map(e => (e.evt, e.index_start, e.index_end)).distinct

  private def sevIn(idx: Int, tAnom: Double, sev: Double): SevIn =
    SevIn(1L, idx, tAnom, sev, sev > 1)

  test("foldMhw: emission is invariant to in-order chunking (property)") {
    val rnd = new scala.util.Random(20260812)
    for (trial <- 1 to 200) {
      // random day grid with holes, random severity pattern with bursts
      val nDays = 20 + rnd.nextInt(60)
      val days = (0 until nDays).flatMap { i =>
        if (rnd.nextDouble() < 0.12) None // absent day breaks runs
        else {
          val sev =
            if (rnd.nextDouble() < 0.45) 1.0 + rnd.nextInt(30) / 10.0
            else rnd.nextDouble()
          Some(sevIn(i, math.floor(sev * 3 * 1e6) / 1e6, sev))
        }
      }
      // single-shot reference
      val (oneShot, oneState) = foldChunks(Seq(days))
      // random in-order split into 2-5 chunks
      val nChunks = 2 + rnd.nextInt(4)
      val cuts = Seq.fill(nChunks - 1)(rnd.nextInt(days.size + 1)).sorted
      val bounds = (0 +: cuts) :+ days.size
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => days.slice(a, b) }
      val (multi, multiState) = foldChunks(chunks)
      assert(multi == oneShot, s"trial $trial: emitted events diverge under chunking")
      assert(multiState.map(_.evtBase) == oneState.map(_.evtBase), s"trial $trial: state diverges")
    }
  }

  test("foldMhw: emitted chains equal batch chains minus the open tail") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 100) {
      val days = (0 until 80).flatMap { i =>
        if (rnd.nextDouble() < 0.1) None
        else Some(sevIn(i, rnd.nextDouble(), if (rnd.nextDouble() < 0.5) 1.5 else 0.5))
      }
      val all = Mhw.eventChains(days.filter(_.hot).map(_.idx), 3, 2)
      val (emitted, _) = foldChunks(Seq(days))
      val closed = all.dropRight(1).zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
      assert(spans(emitted) == closed)
      // every day on record inside a closed span, gap days included, in order
      assert(emitted.map(e => (e.evt, e.idx)) == closed.flatMap { case (evt, a, b) =>
        days.filter(d => d.idx >= a && d.idx <= b).map(d => (evt, d.idx))
      })
    }
  }

  private def d(idx: Int, sev: Double = 2.0): SevIn =
    sevIn(idx, sev * 1.5, sev)

  test("foldMhw late data: out-of-order rows above the horizon are folded " +
       "exactly as if in-order (open-chain region repair)") {
    // in-order reference: one 0..7 run, closed by a later 12..14 run
    val closer = Seq(d(12), d(13), d(14))
    val (ref, refState) = foldChunks(Seq((0 to 7).map(d(_)), closer))
    // days 3 and 5 arrive a chunk LATE, while their chain is still open
    val (late, lateState) = foldChunks(Seq(
      Seq(0, 1, 2, 4, 6, 7).map(d(_)), Seq(d(3), d(5)), closer))
    assert(late == ref, "late-but-above-horizon rows must repair the open chain")
    assert(lateState.map(s => (s.evtBase, s.days)) ==
           refState.map(s => (s.evtBase, s.days)))
  }

  test("foldMhw late data: rows at/before the horizon are dropped — closed " +
       "events are never re-emitted, mutated, or bridged into") {
    // chain A (0..9), closed by chain B (15..17): horizon becomes 14
    val (emitted1, st1) = foldChunks(Seq((0 to 9).map(d(_)), (15 to 17).map(d(_))))
    assert(spans(emitted1) == Seq((1L, 0, 9)))
    assert(emitted1.map(_.idx) == (0 to 9))
    assert(st1.get.horizon == 14)
    // a late qualifying fragment 11..13 — in-order it would have gap-joined
    // A (11−9 ≤ 2) — arrives after A closed: dropped entirely
    var state = st1
    val gs = TestGroupState.create[MhwStreamState](
      org.apache.spark.api.java.Optional.fromNullable(state.orNull),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val lateOut = StreamingMhw.foldMhw(1L, (11 to 13).map(d(_)).iterator, gs).toSeq
    assert(lateOut.isEmpty, "late fragment behind the horizon must not emit")
    state = if (gs.exists) Some(gs.get) else None
    assert(state.map(s => (s.evtBase, s.days, s.horizon)) ==
           st1.map(s => (s.evtBase, s.days, s.horizon)),
      "an entirely-late batch must leave state untouched")
    // subsequent in-order flow closes B at its recorded span — the
    // dropped fragment neither bridged B back to A nor shifted B's start
    val gs2 = TestGroupState.create[MhwStreamState](
      org.apache.spark.api.java.Optional.fromNullable(state.orNull),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val out2 = StreamingMhw.foldMhw(1L,
      ((18 to 19).map(d(_)) ++ (25 to 27).map(d(_))).iterator, gs2).toSeq
    assert(spans(out2) == Seq((2L, 15, 19)))
  }

  test("stream_mhw_events: closed events equal batch events minus each series' last") {
    val batch = Mhw.mhwEvents(spark, sf)
    val lastPerUser = batch.groupBy("user_id").agg(max("evt").as("evt"))
    val expected = batch.join(lastPerUser, Seq("user_id", "evt"), "left_anti")
      .collect().map(_.toSeq).toSet
    val streamed = StreamingMhw.streamMhwEvents(spark, sf)
      .select(batch.columns.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("stream_mhw_events: state carries event chains across micro-batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // split the severity table at the median date into two files;
    // maxFilesPerTrigger=1 forces chains spanning the cut to survive a
    // batch boundary in state
    val (origin, sev) = StreamingMhw.indexed(Mhw.severityChain(spark, sf, 0.6))
    val dir = tempDir("graft_mhw_stream")
    val withIdx = sev.select(col("user_id"), col("idx"), col("t_anom"),
      col("severity"), Mhw.exceeds.as("hot"))
    val cut = withIdx.selectExpr("percentile(idx, 0.5)")
      .collect()(0).getDouble(0).toInt
    withIdx.filter(col("idx") <= cut).coalesce(1).write.parquet(s"$dir/in/b=0")
    withIdx.filter(col("idx") > cut).coalesce(1).write.parquet(s"$dir/in/b=1")

    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("idx", IntegerType),
      StructField("t_anom", DoubleType), StructField("severity", DoubleType),
      StructField("hot", BooleanType), StructField("b", IntegerType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .select(col("user_id"), col("idx"), col("t_anom"), col("severity"), col("hot"))
      .as[SevIn]
    val q = src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StreamingMhw.foldMhw _)
      .writeStream.format("memory").queryName("mhw_batches")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)

    // the sink holds the closed events' days: the drain's own finish
    val streamed = StreamingMhw.eventsOf(spark.table("mhw_batches"), origin)
      .select("user_id", "evt", "index_start", "index_end", "duration",
              "index_peak", "intensity_max", "intensity_mean", "intensity_cumul")
      .collect().map(_.toSeq).toSet
    val oneShot = StreamingMhw.streamMhwEvents(spark, sf)
      .select("user_id", "evt", "index_start", "index_end", "duration",
              "index_peak", "intensity_max", "intensity_mean", "intensity_cumul")
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }

  test("staged drains read their file-source input from under java.io.tmpdir") {
    import StreamingQueryListener._
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.sources(0).description
        if (d.startsWith("FileStreamSource["))
          paths.add(new org.apache.hadoop.fs.Path(
            d.stripPrefix("FileStreamSource[").stripSuffix("]")).toUri.getPath)
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      Seq("stream_mhw_events", "stream_periodogram")
        .foreach(n => SparkEntry.queries(n)(spark, sf).count())
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
      import scala.jdk.CollectionConverters._
      eventually(timeout(Span(30, Seconds))) {
        val staged = paths.asScala.toSeq.filter(p => p.contains("graft_mhw_sev_") ||
                                                     p.contains("graft_pg_daily_"))
        assert(staged.exists(_.contains("graft_mhw_sev_")))
        assert(staged.exists(_.contains("graft_pg_daily_")))
        staged.foreach(p => assert(p.startsWith(tmp + "/"), s"$p is not under $tmp"))
      }
    } finally spark.streams.removeListener(listener)
  }
}

object StreamingMhwSpec {

  /** Drive the pure fold over chunks of one series through a
    * TestGroupState, exactly as flatMapGroupsWithState would. */
  def foldChunks(chunks: Seq[Seq[SevIn]],
                 uid: Long = 1L): (Seq[MhwSpanDay], Option[MhwStreamState]) = {
    var state: Option[MhwStreamState] = None
    val out = Seq.newBuilder[MhwSpanDay]
    chunks.foreach { chunk =>
      val gs = TestGroupState.create[MhwStreamState](
        org.apache.spark.api.java.Optional.fromNullable(state.orNull),
        GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty[Long](), false)
      out ++= StreamingMhw.foldMhw(uid, chunk.iterator, gs)
      state = if (gs.exists) Some(gs.get) else None
    }
    (out.result(), state)
  }
}
