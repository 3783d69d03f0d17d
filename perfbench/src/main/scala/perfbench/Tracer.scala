package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed op: the builder call (`build`) and the action on its result
  * (`action`). Times are epoch milliseconds (the clock Spark's task and
  * job events use) plus nanosecond durations for the latency figures.
  * The listener fields are filled only in a traced run. */
final class Op(val id: Int, val name: String, val pass: Int) {
  var buildStartMs, buildEndMs, actionEndMs = 0L
  var buildNs, actionNs = 0L
  var digest = ""
  var error = ""
  val n = new Counters
  val tasks = ArrayBuffer.empty[(Long, Long)]
  val jobs = ArrayBuffer.empty[(Int, Long, Long, String)] // id, start, end, phase
  def latencyMs: Double = (buildNs + actionNs) / 1e6
  def failed: Boolean = error.nonEmpty
}

/** Per-op layer counters; [[Counters.names]] fixes the order and names of
  * the per-layer metrics the traced run reports. */
final class Counters {
  val v = scala.collection.mutable.LinkedHashMap[String, Double](Counters.names.map(_ -> 0.0): _*)
  def add(k: String, x: Double): Unit = v(k) += x
}

object Counters {
  val names: Seq[String] = Seq(
    "sources.input_bytes", "sources.input_rows",
    "operators.build_ms", "operators.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms", "catalyst.plans",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.no_task_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "caches.hits", "caches.misses", "caches.evictions",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.state_commit_ms", "streaming.state_rows",
    "self.build_ms", "self.catalyst_ms", "self.task_busy_ms", "self.no_task_ms")
}

/** Listeners registered from the benchmark (never from the program):
  * a SparkListener for jobs, stages and tasks, a QueryExecutionListener
  * for Catalyst phase times and a StreamingQueryListener for micro-batch
  * splits. Events land on the op that is current when the listener bus
  * delivers them; the runner drains the bus after each op, so that is
  * the op that caused them. */
final class Tracer(spark: SparkSession) {
  @volatile var current: Option[Op] = None
  private def cur[T](f: Op => T): Unit = current.foreach(o => o.synchronized(f(o)))

  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseProp))).getOrElse("")
      jobStart(e.jobId) = (e.time, phase)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cur { o =>
      val (t0, phase) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
      o.jobs += ((e.jobId, t0, e.time, phase))
      o.n.add("scheduler.jobs", 1)
      if (phase == "build") o.n.add("operators.build_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur(_.n.add("scheduler.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur { o =>
      o.n.add("scheduler.tasks", 1)
      o.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        o.n.add("executor.run_ms", m.executorRunTime)
        o.n.add("executor.cpu_ms", m.executorCpuTime / 1e6)
        o.n.add("executor.gc_ms", m.jvmGCTime)
        o.n.add("sources.input_bytes", m.inputMetrics.bytesRead)
        o.n.add("sources.input_rows", m.inputMetrics.recordsRead)
        o.n.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        o.n.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        o.n.add("shuffle.spill_bytes", m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = cur { o =>
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      o.n.add("catalyst.analysis_ms", ms("analysis"))
      o.n.add("catalyst.optimization_ms", ms("optimization"))
      o.n.add("catalyst.planning_ms", ms("planning"))
      o.n.add("catalyst.plans", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = cur { o =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.withDefaultValue(0.0)
      o.n.add("streaming.batches", 1)
      o.n.add("streaming.trigger_ms", d("triggerExecution"))
      o.n.add("streaming.add_batch_ms", d("addBatch"))
      o.n.add("streaming.wal_commit_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        o.n.add("streaming.state_commit_ms", s.commitTimeMs)
        o.n.add("streaming.state_rows", s.numRowsUpdated)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Close an op after the bus has drained: derive the interval-based
    * counters (task-busy time, no-task time, build self time). */
  def finish(o: Op, cacheDelta: (Long, Long, Long)): Unit = {
    val buildMs = o.buildNs / 1e6
    val busyBuild = Tracer.covered(o.tasks, o.buildStartMs, o.buildEndMs)
    val busyAction = Tracer.covered(o.tasks, o.buildEndMs, o.actionEndMs)
    val actionMs = o.actionNs / 1e6
    o.n.add("operators.build_ms", buildMs)
    o.n.add("scheduler.no_task_ms", math.max(0.0, actionMs - busyAction))
    o.n.add("caches.hits", cacheDelta._1)
    o.n.add("caches.misses", cacheDelta._2)
    o.n.add("caches.evictions", cacheDelta._3)
    o.n.add("self.build_ms", math.max(0.0, buildMs - busyBuild))
    o.n.add("self.catalyst_ms", o.n.v("catalyst.analysis_ms") + o.n.v("catalyst.optimization_ms") +
      o.n.v("catalyst.planning_ms"))
    o.n.add("self.task_busy_ms", busyBuild + busyAction)
    o.n.add("self.no_task_ms", math.max(0.0, buildMs + actionMs - busyBuild - busyAction))
  }
}

object Tracer {
  val PhaseProp = "perfbench.phase"

  /** Milliseconds of [from, to) during which at least one task ran. */
  def covered(tasks: Iterable[(Long, Long)], from: Long, to: Long): Double = {
    val iv = tasks.iterator.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }
}
