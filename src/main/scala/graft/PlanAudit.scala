package graft

/** Plan hygiene audit: builds every SparkEntry query against a small SF
  * and prints one line per query — exchanges, joins by strategy, scans,
  * window operators — so scale smells (unexpected sort-merge joins,
  * exchange explosions, repeated scans) are visible at a glance.
  *
  * Three passes (one JSON row per query, 368 keys total):
  *  - BATCH / audit mode (primary counts): [[Caches.PlanAuditConf]] on,
  *    so memoized persists and [[Lineage]] pins return the full builder
  *    plan instead of InMemoryRelation / RDD-scan stubs (the round-5
  *    MHW blind spot). Iterative ops therefore read as their fully
  *    UNROLLED lineage here (graph_pagerank: exchanges 204) — an audit
  *    artifact, not what a deployment executes.
  *  - BATCH / deployed mode (annotation): the same query rebuilt with
  *    audit mode OFF, i.e. through the real Lineage.cut path where each
  *    round's checkpoint replaces history with an RDD stub. This is the
  *    shape a deployment runs — for iterative ops the per-round shape
  *    (pagerank: the final round over a stub). Emitted as a "deployed"
  *    sub-object whenever it differs from the audit counts.
  *  - STREAMING (the 41 stream_ twins, previously skipped): each entry
  *    executes its micro-batch run eagerly; a StreamingQueryListener
  *    captures the run's progress — stateful-operator count and names,
  *    final state rows, input rows, watermark presence, batch count.
  *    `state_per_input` ≈ 1 with no watermark would mean per-event
  *    state retention (the registers/finalize contract forbids it — a
  *    register stream's state is key-proportional); such rows are
  *    flagged `unbounded_state`.
  *
  * Run: sbt "runMain graft.PlanAudit [sfDir]".
  */
object PlanAudit {

  private final case class Counts(ex: Int, bhj: Int, smj: Int, shj: Int,
                                  sc: Int, w: Int, driverFinal: Boolean) {
    def json: String =
      s"""{"exchanges":$ex,"bhj":$bhj,"smj":$smj,"shj":$shj,"scans":$sc,"windows":$w""" +
        (if (driverFinal) ""","driver_finalized":true}""" else "}")
    def sameShape(o: Counts): Boolean =
      ex == o.ex && bhj == o.bhj && smj == o.smj && shj == o.shj &&
        sc == o.sc && w == o.w
  }

  private def count(df: org.apache.spark.sql.DataFrame): Counts = {
    val qe = df.queryExecution
    val p = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def n(re: String) = re.r.findAllIn(p).length
    // a LocalRelation/LocalTableScan result means the operator
    // FINALIZES ON THE DRIVER over model-sized data (the MMR greedy
    // rounds) — mark it rather than reporting a misleading 0/0 plan
    val driverFinal =
      qe.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    // exclude WindowGroupLimit: it is Spark's rank-limit PUSHDOWN
    // helper (a streaming top-k filter before the real window sort),
    // not a window execution — counting it double-reported every
    // rank()<=k plan (round-8 fix)
    Counts(n("\\) Exchange"), n("\\) BroadcastHashJoin"),
           n("\\) SortMergeJoin"), n("\\) ShuffledHashJoin"),
           n("\\(\\d+\\) Scan parquet"), n("\\) Window(?!GroupLimit)"),
           driverFinal)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // explain strings must not truncate (regex-counted below) — the
    // audit session uncaps maxPlanStringLength (static conf, so it is
    // decided via system property before the JVM's first session)
    if (!sys.props.contains("SPARK_GRAFT_MAX_PLAN_STR"))
      sys.props("SPARK_GRAFT_MAX_PLAN_STR") = (64 << 20).toString
    val spark = GraftSession.local(GraftSession.cpus)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val (streamQs, batchQs) = names.partition(_._1.startsWith("stream_"))

    // ---------------- pass 1: batch, audit mode (full builder plans)
    spark.conf.set(Caches.PlanAuditConf, "true")
    val audit = batchQs.map { case (name, fn) => name -> count(fn(spark, sfDir)) }

    // ---------------- pass 2: batch, deployed mode (Lineage.cut live)
    // Builds execute eager pins/rounds at the audit SF; the explained
    // plan is the one a deployment actually runs per stage.
    spark.conf.set(Caches.PlanAuditConf, "false")
    val deployed = batchQs.map { case (name, fn) =>
      name -> (try Some(count(fn(spark, sfDir)))
               catch { case _: Throwable => None })
    }.toMap

    println(f"${"query"}%-24s exch  bhj  smj  shj  scan  win   (deployed exch/scan)")
    audit.foreach { case (q, c) =>
      val d = deployed.get(q).flatten.filterNot(_.sameShape(c))
        .map(dc => f" ${dc.ex}%4d/${dc.sc}%d").getOrElse("")
      println(f"$q%-24s ${c.ex}%4d ${c.bhj}%4d ${c.smj}%4d ${c.shj}%4d ${c.sc}%5d ${c.w}%4d$d")
    }

    // ---------------- pass 3: streaming state audit
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val progresses = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val inputRows = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.lang.Long]()
    val nStarted = new java.util.concurrent.atomic.AtomicInteger
    val nDone = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        nStarted.incrementAndGet(): Unit
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progresses.put(e.progress.runId, e.progress)
        inputRows.merge(e.progress.runId, e.progress.numInputRows,
          (a, b) => a + b): Unit
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        nDone.incrementAndGet(): Unit
    }
    spark.streams.addListener(listener)
    val streamRows = streamQs.map { case (name, fn) =>
      progresses.clear(); inputRows.clear(); nStarted.set(0); nDone.set(0)
      val err = try { fn(spark, sfDir).count(); None }
                catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      // listener delivery is async: wait for every started run to
      // terminate (AvailableNow drains finitely) before reading
      val t0 = System.nanoTime()
      while (nDone.get < nStarted.get && System.nanoTime() - t0 < 15e9)
        Thread.sleep(50)
      Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      val ps = progresses.values.asScala.toSeq
      val ops = ps.flatMap(_.stateOperators.toSeq)
      val opNames = ops.map(_.operatorName).sorted
      val stateRows = ops.map(_.numRowsTotal).sum
      val inRows = inputRows.values.asScala.map(_.longValue).sum
      val watermark = ps.exists(p =>
        Option(p.eventTime.get("watermark")).exists(_.nonEmpty))
      val perInput = if (inRows > 0) stateRows.toDouble / inRows else 0.0
      val unbounded = ops.nonEmpty && !watermark && perInput > 0.9
      val json =
        s"""{"stream":true,"state_ops":${opNames.size},""" +
        s""""state_op_names":${opNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""state_rows":$stateRows,"input_rows":$inRows,""" +
        s""""state_per_input":${"%.4f".format(perInput)},""" +
        s""""watermark":$watermark,"batches":${ps.size}""" +
        (if (unbounded) ""","unbounded_state":true""" else "") +
        err.map(e => s""","error":"$e"""").getOrElse("") + "}"
      println(f"$name%-28s state_ops=${opNames.size} rows=$stateRows " +
        f"in=$inRows wm=$watermark${if (unbounded) "  UNBOUNDED" else ""}")
      name -> json
    }
    spark.streams.removeListener(listener)

    // durable artifact: plan shapes are deterministic (unlike wall-clock
    // on a shared host), so per-round diffs of this file surface plan
    // regressions — a lost broadcast, an extra exchange — reliably
    val batchJson = audit.map { case (q, c) =>
      val dep = deployed.get(q).flatten.filterNot(_.sameShape(c))
        .map(dc => s""","deployed":${dc.json}""").getOrElse("")
      s""""$q":${c.json.dropRight(1)}$dep}"""
    }
    val json = (batchJson ++ streamRows.map { case (q, j) => s""""$q":$j""" })
      .mkString("{", ",", "}")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "/root/repo/PLAN_AUDIT.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Throwable => System.err.println(s"plan audit write failed: $e") }
    Caches.clear(spark)
    spark.stop()
  }
}
