package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{Caches, GraftSession, SparkEntry}

/** One benchmark run in one JVM: start a session, set up the workload,
  * then run passes of ops (one at a time, from this thread) until
  * `--seconds` have elapsed and the workload's minimum number of passes
  * is done. Pass 0 is the cold pass; latency figures come from the warm
  * passes after it, or from pass 0 when it is the only one.
  *
  * Writes `<out>.json` (metrics and host), `<out>.ops.jsonl` (one row per
  * op) and, when traced, `<out>.spans.jsonl`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --digests FILE --out PREFIX [--record]
  * With --record every eligible query (or one mhw_grid chain) runs once,
  * unverified, and `<out>.json` holds the digests to record.
  */
object Main {
  /** Streaming entries that stage their input under a hard-coded
    * absolute temp path instead of the session's scratch root; the
    * benchmark writes only inside its own directory, so they are left out. */
  val OutsideScratch = Set("stream_mhw_events", "stream_periodogram")

  /** Panel sizes: batch queries plus streaming drains, small enough that
    * a run's cold pass and two warm passes fit the time a run is given. */
  val BatchSeats = 6
  val StreamSeats = 2

  /** The ops latency figures are taken from: every pass after the cold
    * one, or the cold pass when the run made only that. */
  def latencyOps(ops: Seq[Op]): Seq[Op] =
    if (ops.exists(_.pass > 0)) ops.filter(_.pass > 0) else ops

  def batchNames: Seq[String] = SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted
  def streamNames: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("stream_")).filterNot(OutsideScratch).toSeq.sorted

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = argv.contains("--record")
    val workload = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val out = args("out")
    val recorded = Json.readFlat(Paths.get(args("digests")))
    val loadBefore = Host.loadavg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors.toString)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())

    val w: Workload = workload match {
      case "mhw_grid" =>
        new MhwGrid(spark, seed, if (seed == 1 && !record) recorded.get("mhw_grid.seed1") else None)
      case "query_mix" =>
        new RegistryMix(spark, args("data"),
          if (record) batchNames ++ streamNames
          else RegistryMix.panel(batchNames, BatchSeats) ++ RegistryMix.panel(streamNames, StreamSeats),
          recorded, seed)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    tracer.foreach(_.drain())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ops = ArrayBuffer.empty[Op]
    val passWallS = ArrayBuffer.empty[Double]
    val scratchBytes = ArrayBuffer.empty[Long]
    val sc = spark.sparkContext
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var p = 0
    while (p < w.minPasses || elapsed < seconds) {
      val passStart = System.nanoTime()
      w.pass(p).foreach { spec =>
        val o = new Op(ops.size, spec.name, p)
        val c0 = Caches.stats
        tracer.foreach(_.current = Some(o))
        sc.setLocalProperty(Tracer.PhaseProp, "build")
        o.buildStartMs = System.currentTimeMillis()
        val b0 = System.nanoTime()
        try {
          val r = spec.build()
          o.buildEndMs = System.currentTimeMillis()
          val a0 = System.nanoTime()
          o.buildNs = a0 - b0
          sc.setLocalProperty(Tracer.PhaseProp, "action")
          o.digest = spec.action(r)
          o.actionNs = System.nanoTime() - a0
        } catch {
          case e: Throwable =>
            if (o.buildNs == 0) { o.buildNs = System.nanoTime() - b0; o.buildEndMs = System.currentTimeMillis() }
            o.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        }
        o.actionEndMs = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.PhaseProp, null)
        tracer.foreach { t =>
          t.drain()
          t.current = None
          val c1 = Caches.stats
          t.finish(o, (c1._1 - c0._1, c1._2 - c0._2, c1._3 - c0._3))
        }
        if (!o.failed && !record) o.error = w.verify(o)
        ops += o
        System.err.println(f"[perfbench] pass $p ${o.name}%-34s ${o.latencyMs}%10.1f ms ${o.error}")
      }
      passWallS += (System.nanoTime() - passStart) / 1e9
      w.afterPass(p)
      if (trace) scratchBytes += Host.scratchBytes()
      p += 1
      if (record) p = Int.MaxValue
    }

    val timed = latencyOps(ops.toSeq).filterNot(_.failed)
    val lat = timed.map(_.latencyMs)
    val timedWallS = if (passWallS.size > 1) passWallS.drop(1).sum else passWallS.sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"),
      ("first_pass_s", passWallS.headOption.getOrElse(Double.NaN), "s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      ("op_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("ops_per_s", timed.size / timedWallS, "1/s"))
    val failed = ops.count(_.failed)
    val extra = Seq(
      ("fail_frac", failed.toDouble / math.max(1, ops.size), "ratio"),
      ("latency_samples", lat.size.toDouble, "count"),
      ("passes", passWallS.size.toDouble, "count")) ++ w.extra(ops.toSeq)

    val layers: Seq[(String, Double, String)] = tracer.toSeq.flatMap { _ =>
      val sums = Counters.names.map(k => k -> ops.map(_.n.v(k)).sum)
      val resident = Caches.residency(spark).map(r => r._2 + r._3).sum / 1048576.0
      Seq(("session.start_ms", sessionMs, "ms")) ++
        sums.map { case (k, v) => (k, v, Json.unitOf(k)) } ++
        Seq(("caches.resident_mb", resident, "MB"),
          ("scratch.bytes", scratchBytes.lastOption.getOrElse(0L).toDouble, "bytes"))
    }

    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_before" -> loadBefore.toString,
      "loadavg_after" -> Host.loadavg().toString,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" "),
      "scratch" -> sys.env.getOrElse("SPARK_GRAFT_SCRATCH", ""),
      "scratch_fs" -> sys.env.getOrElse("PERFBENCH_SCRATCH_FS", ""),
      "seed" -> seed.toString)

    Files.writeString(Paths.get(out + ".ops.jsonl"), ops.map(Json.opRow).mkString("", "\n", "\n"))
    if (trace) Files.writeString(Paths.get(out + ".spans.jsonl"), ops.flatMap(Json.spans).mkString("", "\n", "\n"))
    val ok = ops.filterNot(_.failed)
    val digests = if (!record) None
      else if (workload == "mhw_grid") Some(ok.filter(_.name == "events").take(1).map(o => s"mhw_grid.seed$seed" -> o.digest).toSeq)
      else Some(ok.map(o => o.name -> o.digest).toSeq)
    Files.writeString(Paths.get(out + ".json"), Json.result(workload, trace, ops.size, failed,
      e2e, extra, layers, host, ops.filter(_.failed).map(o => s"${o.name}@${o.pass}: ${o.error}").toSeq, digests))
    Caches.clear(spark)
    spark.stop()
  }
}

object Host {
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def scratchBytes(): Long = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_)).filter(Files.isDirectory(_))
    .map { root =>
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(p => try Files.size(p) catch { case _: Throwable => 0L }).sum()
      finally s.close()
    }.getOrElse(0L)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count"

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")

  def opRow(o: Op): String = {
    val layer = if (o.n.v.values.exists(_ != 0)) ", \"layers\": " + o.n.v.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}") else ""
    s"""{"name": ${str(o.name)}, "pass": ${o.pass}, "build_ms": ${num(o.buildNs / 1e6)}, "action_ms": ${num(o.actionNs / 1e6)}, "digest": ${str(o.digest)}, "error": ${str(o.error)}$layer}"""
  }

  /** The op span, its build and action children, and one span per job
    * with the phase it ran in as parent. */
  def spans(o: Op): Seq[String] = {
    def span(id: String, parent: String, name: String, a: Long, b: Long) =
      s"""{"trace": ${o.id}, "span": ${str(id)}, "parent": ${if (parent.isEmpty) "null" else str(parent)}, "name": ${str(name)}, "start_ms": $a, "end_ms": $b}"""
    val root = s"op${o.id}"
    Seq(span(root, "", s"op:${o.name}", o.buildStartMs, o.actionEndMs),
      span(s"$root.build", root, "build", o.buildStartMs, o.buildEndMs),
      span(s"$root.action", root, "action", o.buildEndMs, o.actionEndMs)) ++
      o.jobs.map { case (id, a, b, ph) =>
        span(s"$root.job$id", if (ph.isEmpty) root else s"$root.$ph", s"job:$id", a, b)
      }
  }

  def result(workload: String, trace: Boolean, attempted: Int, failed: Int,
             e2e: Seq[(String, Double, String)], extra: Seq[(String, Double, String)],
             layers: Seq[(String, Double, String)], host: Seq[(String, String)],
             errors: Seq[String], digests: Option[Seq[(String, String)]]): String =
    s"""{"workload": ${str(workload)}, "trace": $trace, "attempted": $attempted, "failed": $failed,
       | "end_to_end": ${metrics(e2e)},
       | "workload_metrics": ${metrics(extra)},
       | "per_layer": ${metrics(layers)},
       | "host": ${host.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")},
       | "errors": ${errors.map(str).mkString("[", ", ", "]")}""".stripMargin +
      digests.map(d => ",\n \"digests\": " + d.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")).getOrElse("") +
      "}\n"

  /** A flat JSON object of string values (the recorded digests). */
  def readFlat(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap
}
