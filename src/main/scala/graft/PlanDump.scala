package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (plans/r12/<query>_{before,
  * after}.txt). Unlike [[PlanAudit]] this emits the full text, one
  * file per query, so plan-shape claims are reviewable offline.
  *
  * Run: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,..."
  * Default is AUDIT mode (memoized persists and pins render their full
  * builder plans instead of InMemoryRelation/RDD stubs), matching the
  * PlanAudit convention so before/after diffs show the real operator
  * chain, not cache hits; SPARK_GRAFT_PLAN_MODE=deployed dumps the
  * executed shape instead (memo stubs visible — the shape a session's
  * second consumer of a shared table actually runs).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    if (!sys.props.contains("SPARK_GRAFT_MAX_PLAN_STR"))
      sys.props("SPARK_GRAFT_MAX_PLAN_STR") = (64 << 20).toString
    val spark = GraftSession.local(GraftSession.cpus)
    if (sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "audit") != "deployed")
      spark.conf.set(Caches.PlanAuditConf, "true")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      System.err.println(s"dumped $name ($suffix)")
    }
    spark.stop()
  }
}
