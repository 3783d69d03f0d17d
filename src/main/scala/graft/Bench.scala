package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated subset for local iteration (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val settler = new BenchKit.Settler
    val spark = GraftSession.local(GraftSession.cpus)
    // SPARK_GRAFT_POSTURE=large runs the whole suite under the 100 TB
    // deployment knobs (no forced key-dim broadcasts, no exact-audit
    // columns, sketch percentiles) — the end-to-end proof that the three
    // Hints compose across every operator, not just in per-op specs.
    // Set BEFORE any query construction: the knobs bind at DataFrame
    // build time (see Hints).
    val posture = sys.env.getOrElse("SPARK_GRAFT_POSTURE", "test")
    if (posture == "large") {
      spark.conf.set(Hints.BroadcastKeyDims, "false")
      spark.conf.set(Hints.ExactAudit, "false")
      spark.conf.set(Hints.ApproxQuantiles, "true")
      // ALL four scale levers: a basin-wide MHW day must not run the
      // (active series)² exact fan in the deployed posture — cap the
      // per-day pair fan at 64² (the PostureSpec-pinned deterministic
      // md5-rank subsample; exact default untouched for oracle parity)
      spark.conf.set(Hints.SyncDayCap, "64")
    }
    // Untimed warmup pass over the measured SF: pays JIT, whole-stage
    // codegen (Janino), OS page-cache population, and operator-cache
    // materialization once, so the timed pass measures steady-state
    // operator throughput. The C2 queue it leaves behind drains in the
    // settle before each timed sweep.
    // deterministic name order: per-round numbers stay comparable (hash
    // order would reshuffle which queries inherit warmup/GC debt)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val loadStart = BenchKit.loadavg()
    settler.settle()
    val loadTimed = BenchKit.loadavg()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String, fn: (SparkSession, String) => DataFrame): Double =
      BenchKit.timeOrRecord(errors, name)(fn(spark, sfDir).count())
    // Report the per-query min of two timings: residual compile/GC
    // noise lands on individual queries but never the same one twice.
    // The second sweep only re-times queries the first sweep measured
    // above 1 s — a sub-second first timing is already noise-free, and
    // skipping the rest keeps the suite's wall clock bounded.
    val p1 = queries.map { case (name, fn) => name -> time(name, fn) }
    settler.settle()
    val results = p1.map { case (name, t1) =>
      if (t1 <= 1.0) name -> t1
      else name -> math.min(t1, time(name, SparkEntry.queries(name)))
    }
    System.err.println("bench pass1 total=" + p1.map(_._2).sum +
      " final total=" + results.map(_._2).sum)
    def fmt(v: Double, dp: Int): String = {
      val s = java.math.BigDecimal.valueOf(v)
        .setScale(dp, java.math.RoundingMode.HALF_UP).toPlainString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".") else s
    }
    // errored queries are enumerated in `errors` ONLY — a -1 sentinel in
    // the timings map would poison any consumer summing per-query times
    val timed = results.filter(_._2 >= 0)
    val total = if (timed.nonEmpty) timed.map(_._2).sum else 0.0
    // Host-contention indicator (SURVEY §5 protocol memo): whole-process
    // wall (JVM uptime — includes sbt/compile/warmup/settle) over the
    // timed total. A loaded gate host inflates the suite diffusely; the
    // min-of-two harness bounds per-query noise but cannot subtract a
    // host-wide slowdown, so cross-round per-query deltas are only
    // trustworthy when this ratio is comparable between the rounds
    // (r6's drift episode: 5.0x vs r7's 3.2x with identical code).
    val wallSec =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val wallRatio = if (total > 0) wallSec / total else -1.0
    val loadJson =
      s"""{"start":${fmt(loadStart, 2)},"timed":${fmt(loadTimed, 2)},""" +
      s""""end":${fmt(BenchKit.loadavg(), 2)},"gate":${settler.gateJson}}"""
    def queriesJson(dp: Int): String = timed
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
      .mkString("{", ",", "}")
    val errJson = BenchKit.jsonObject(errors)
    // operator-cache + block-residency diagnostics: settles whether a
    // slow cached-family query reused its persisted tables (hits>0,
    // evictions=0) and whether the BlockManager spilled them to disk
    val (cHit, cMiss, cEvict) = Caches.stats
    val cacheJson =
      s"""{"hits":$cHit,"misses":$cMiss,"evictions":$cEvict}"""
    val storageJson = Caches.residency(spark)
      .map { case (n, mem, disk, frac) =>
        // RDD names are plan strings: multi-line, arbitrarily long —
        // keep the first line only
        "{\"rdd\":" + BenchKit.jsonString(n.takeWhile(_ != '\n').take(120)) +
        ",\"mem\":" + mem +
        ",\"disk\":" + disk + ",\"cached_frac\":" + fmt(frac, 3) + "}" }
      .mkString("[", ",", "]")
    def line(dp: Int): String =
      s"""{"metric":"total","value":${fmt(total, dp)},"unit":"sec",""" +
      s""""queries":${queriesJson(dp)},"sf":"$sfDir","n_queries":${queries.size},""" +
      s""""n_timed":${timed.size},"posture":"$posture",""" +
      s""""wall_sec":${fmt(wallSec, 1)},"wall_timed_ratio":${fmt(wallRatio, 2)},""" +
      s""""loadavg":$loadJson,""" +
      s""""n_errors":${errors.size},"errors":$errJson,"cache":$cacheJson}"""
    // Full-precision copy to a file: the driver tail-captures only the
    // last ~2000 chars of stdout, and a full 150-query map is ~4 KB —
    // every round so far the tail sliced the line mid-map and the
    // driver's `parsed` came back null (BENCH_r02..r04). The file is
    // the durable full artifact; stdout's LAST line below is a
    // self-contained JSON sized to survive the tail window whole.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    // the file artifact additionally carries block residency (too long
    // for the tail-captured stdout line)
    val fileLine = line(6).dropRight(1) + s""","storage":$storageJson}"""
    BenchKit.write(outFile, fileLine)
    // Human/grep copy of the full line first (may be tail-truncated —
    // that's fine, it is not the parse target) ...
    println(line(3))
    // ... then the parse target: totals + error NAMES + the slowest
    // per-query timings, greedily packed into a conservative budget so
    // the whole line fits the driver's tail capture. `n_queries` counts
    // attempted queries (the driver-contract meaning), `n_timed` the
    // successfully timed subset; full per-query map lives in
    // `queries_full`.
    val budget = 1600
    // the head must be bounded too: an error-heavy run (shared fixture
    // breaking ~60 queries) would otherwise push errNames alone past
    // the tail window and slice the parse target mid-JSON — the exact
    // failure this line exists to prevent. Cap at 12 names + a count.
    val errNames = {
      val names = errors.keys.toSeq.sorted
      val kept = names.take(12).map("\"" + _ + "\"")
      val more = if (names.size > 12) Seq("\"+" + (names.size - 12) + " more\"") else Nil
      (kept ++ more).mkString("[", ",", "]")
    }
    val head =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${queries.size},"n_timed":${timed.size},""" +
      s""""wall_sec":${fmt(wallSec, 1)},"wall_timed_ratio":${fmt(wallRatio, 2)},""" +
      s""""loadavg":$loadJson,""" +
      s""""n_errors":${errors.size},"errored":$errNames,"cache":$cacheJson,""" +
      s""""queries_full":"$outFile","queries":{"""
    val entries = timed.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
    val packed = new StringBuilder(head)
    var used = head.length + 2 // "}}"
    var first = true
    entries.foreach { e =>
      val cost = e.length + (if (first) 0 else 1)
      if (used + cost <= budget) { if (!first) packed += ','; packed ++= e; used += cost; first = false }
    }
    packed ++= "}}"
    println(packed.result())
    Caches.clear(spark)
    spark.stop()
  }
}
