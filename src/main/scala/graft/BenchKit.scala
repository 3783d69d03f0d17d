package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Plumbing shared by the harness mains ([[Bench]], [[BenchGrid]],
  * [[BenchCorpus]]): host load and its gate, the settle window before a
  * timed sweep, task-metric totals, error capture and the JSON artifact. */
object BenchKit {

  val LoadGateVar = "SPARK_GRAFT_LOAD_GATE"

  /** 1-min load average, or -1 where /proc/loadavg is unreadable. Timed
    * artifacts produced on a loaded host overstate queries 2-4x (round
    * 10's ann_pq: 10.04 s committed vs 3.35 s on the same tree), so every
    * harness records the load around its timed sweeps. */
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Threshold of the load gate from the [[LoadGateVar]] setting. It
    * defaults ON at 2.0 (round 11: the opt-in gate went unset on the run
    * of record and a loaded-host artifact was one env var away); `off` or
    * a value <= 0 disables it. */
  def loadGate(setting: Option[String]): Option[Double] = setting match {
    case None        => Some(2.0)
    case Some("off") => None
    case Some(v) =>
      val g = v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"$LoadGateVar must be a number or 'off', got '$v'"))
      if (g > 0.0) Some(g) else None
  }

  /** The window before a timed sweep, with the gate waits it took.
    *
    * GC happens here, between sweeps, not between queries: an explicit gc
    * discovers every dead RDD/broadcast/shuffle weak reference at once,
    * and the ContextCleaner's burst of removal RPCs contends with the
    * scheduler — per-query gc() made the most job-intensive queries
    * (iterative CC) measure 10x slow late in the suite.
    *
    * Then the JIT must go quiet (cumulative compilation time growing
    * < 100 ms/s for 3 consecutive seconds): ~200 distinct codegen'd plans
    * enqueue thousands of C2 jobs, and queries timed while the queue
    * drains run at tier 1 and measure 40-60x slow.
    *
    * Last, with this JVM idle, the load average decays toward external
    * load: wait (bounded) for it to clear the gate. Waits and timeouts
    * land in [[gateJson]], so a loaded artifact is never silent. */
  final class Settler {
    private val gate = loadGate(sys.env.get(LoadGateVar))
    private val MaxWaitS = 300
    private var gateWaitS = 0
    private var gateTimedOut = false

    def settle(): Unit = {
      System.gc()
      val jit = ManagementFactory.getCompilationMXBean
      var last = jit.getTotalCompilationTime
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < MaxWaitS) {
        Thread.sleep(1000); waited += 1
        val cur = jit.getTotalCompilationTime
        if (cur - last < 100) stable += 1 else stable = 0
        last = cur
      }
      gate.foreach { g =>
        var gw = 0
        while (loadavg() > g && gw < MaxWaitS) { Thread.sleep(5000); gw += 5 }
        gateWaitS += gw
        val timedOut = loadavg() > g
        gateTimedOut ||= timedOut
        System.err.println(s"load gate: ${loadavg()} (threshold $g) after ${gw}s" +
          (if (timedOut) " TIMED OUT" else ""))
      }
      System.err.println(s"settled after ${waited}s, loadavg=${loadavg()}")
    }

    /** `{"threshold":…,"wait_s":…,"timed_out":…}`, or `"disabled"`. */
    def gateJson: String = gate
      .map(g => s"""{"threshold":$g,"wait_s":$gateWaitS,"timed_out":$gateTimedOut}""")
      .getOrElse("\"disabled\"")
  }

  /** Session-wide task totals: spill, shuffle IO, input bytes, executor
    * run and GC time. Registers itself on `sc`. */
  final class TaskMetricsListener(sc: SparkContext) extends SparkListener {
    private val fields: Seq[(String, TaskMetrics => Long)] = Seq(
      "gc_ms" -> (_.jvmGCTime),
      "input_bytes" -> (_.inputMetrics.bytesRead),
      "run_ms" -> (_.executorRunTime),
      "shuffle_read" -> (_.shuffleReadMetrics.totalBytesRead),
      "shuffle_write" -> (_.shuffleWriteMetrics.bytesWritten),
      "spill_disk" -> (_.diskBytesSpilled),
      "spill_mem" -> (_.memoryBytesSpilled))
    private val totals = fields.map(_ => new AtomicLong)
    sc.addSparkListener(this)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        fields.zip(totals).foreach { case ((_, f), t) => t.addAndGet(f(m)) }
      }

    /** Totals so far. Drains the listener bus first, so every task of an
      * action that has returned is counted. */
    def snapshot(): ListMap[String, Long] = {
      GraftBus.drain(sc)
      ListMap.from(fields.map(_._1).zip(totals.map(_.get)))
    }

    /** Totals accrued since the snapshot `from`. */
    def delta(from: Map[String, Long]): ListMap[String, Long] =
      snapshot().map { case (k, v) => k -> (v - from(k)) }
  }

  /** Wall seconds of `body`, or -1 with its error recorded under `key`:
    * a failed query must not pass as a fast one. */
  def timeOrRecord(errors: mutable.Map[String, String], key: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      errors(key) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      -1.0
    }
  }

  /** A JSON string literal: escapes backslash, quote and every control
    * char (< 0x20), any of which would otherwise break the reader. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat JSON object: String values as [[jsonString]] literals, any
    * other value as its toString. */
  def jsonObject(fields: Iterable[(String, Any)]): String = fields.map {
    case (k, v: String) => jsonString(k) + ":" + jsonString(v)
    case (k, v)         => jsonString(k) + ":" + v
  }.mkString("{", ",", "}")

  /** Write the artifact line to `path`. A failed write is reported, not
    * thrown, so the stdout copy still gets printed. */
  def write(path: String, line: String): Unit =
    try Files.writeString(Paths.get(path), line + "\n")
    catch { case e: Throwable => System.err.println(s"artifact write to $path failed: $e") }
}
