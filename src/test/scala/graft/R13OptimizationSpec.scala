package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mhw, Round6Ops10, Round9Ops21, Graph}

/** Round-13 optimization invariants.
  *
  *  - The eager model-loop spelling of the iterative operators
  *    (markov stationary, pagerank, k-core) is value-identical to the
  *    lazy spelling (the audit-mode path IS the lazy spelling, so the
  *    equivalence is checked against it directly).
  *  - The legacy/bp registry chains (the per-series climatology
  *    kernel) equal their independent raw-fan DataFrame references.
  *  - PlanAudit mode runs ZERO jobs on the eager-loop queries (explain
  *    must never execute — the round-5 audit contract).
  */
class R13OptimizationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** Run `build` with the PlanAudit conf set: memoization, pins and the
    * eager loop rounds are all disabled, so collecting the result
    * executes the plain LAZY plan — the pre-round-13 spelling. */
  private def lazySpelling(build: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    spark.conf.set(Caches.PlanAuditConf, "true")
    try rows(build) finally spark.conf.set(Caches.PlanAuditConf, "false")
  }

  test("eager model-loop rounds ≡ lazy spelling: markov stationary, pagerank, k-core") {
    val viaLazy = Seq(
      lazySpelling(Round9Ops21.eventsMarkovStationary(spark, sf)),
      lazySpelling(Graph.graphPagerank(spark, sf)),
      lazySpelling(Round6Ops10.graphKcore(spark, sf)))
    val viaEager = Seq(
      rows(Round9Ops21.eventsMarkovStationary(spark, sf)),
      rows(Graph.graphPagerank(spark, sf)),
      rows(Round6Ops10.graphKcore(spark, sf)))
    assert(viaEager == viaLazy,
      "eager model-partitioned rounds diverged from the lazy spelling")
  }

  test("shared merged slot pool: legacy/bp chains equal raw-fan references") {
    val dl = Mhw.daily(spark, sf)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    assert(m(Mhw.climatologyLegacy(spark, sf)) ==
           m(MhwReference.smoothDoy(MhwReference.interpFeb29(
             MhwReference.pooledMeanRawFan(dl, 5), "seas"), "seas")),
      "climatology_legacy diverged from the raw-fan reference")
    assert(m(Mhw.thresholdLegacy(spark, sf)) ==
           m(MhwReference.smoothDoy(MhwReference.interpFeb29(
             MhwReference.pooledQuantileRawFan(dl, 5, 0.9), "thresh"), "thresh")),
      "threshold_legacy diverged from the raw-fan reference")
    assert(m(Mhw.thresholdBpRaw(spark, sf)) ==
           m(MhwReference.pooledQuantileRawFan(dl, 5, 0.9)),
      "threshold_bp diverged from the raw-fan reference")
    // the fused pair agrees column-by-column with the single-column chains
    val fused = Mhw.legacyClimThreshQ(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (Option(r.get(2)), Option(r.get(3)))).toMap
    val seas = m(Mhw.climatologyLegacy(spark, sf))
    val thr = m(Mhw.thresholdLegacy(spark, sf))
    assert(fused.keySet == seas.keySet)
    fused.foreach { case (k, (sv, tv)) =>
      assert(sv == seas(k) && tv == thr(k), s"fused chain diverged at $k")
    }
  }

  test("shared PCA model: emb_pca / emb_project equal the unshared builds") {
    import graft.operators.Similarity
    import graft.sources.Tables
    // lazySpelling bypasses the memo registry, so these are the
    // pre-round-13 independent builds of the same chain
    assert(rows(Similarity.embPca(spark, sf)) ==
           lazySpelling(Similarity.embPcaDf(Tables.embeddings(spark, sf))),
      "memoized emb_pca diverged from the unshared build")
    assert(rows(Similarity.embProject(spark, sf)) ==
           lazySpelling(Similarity.embProject(spark, sf)),
      "emb_project over the shared PCA model diverged from the unshared build")
  }

  test("PlanAudit mode runs zero jobs on the eager-loop queries") {
    // count ONLY jobs this thread submits (job-group scoped): in a full
    // suite run the shared session carries async stragglers of earlier
    // suites (listener-bus drains, cleaner churn) whose jobs would land
    // in the 2 s window and fail the assertion spuriously
    val group = "r13-audit-zero-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // DataFrameReader schema-inference/file-listing jobs ("parquet
        // at Tables.scala") are CONSTRUCTION metadata — audit mode
        // bypasses the table memos, so every fresh read pays one footer
        // job; PlanAudit's own session pays the same. The contract
        // under test is that explain never runs QUERY execution jobs.
        val metadataOnly =
          j.stageInfos.nonEmpty && j.stageInfos.forall(_.name.startsWith("parquet at "))
        if (Option(j.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group) && !metadataOnly)
          jobs.incrementAndGet()
        ()
      }
    }
    spark.conf.set(Caches.PlanAuditConf, "true")
    spark.sparkContext.setJobGroup(group, "audit-mode explain probe")
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(Round9Ops21.eventsMarkovStationary(spark, sf),
          Graph.graphPagerank(spark, sf),
          Round6Ops10.graphKcore(spark, sf),
          Mhw.legacyClimThreshQ(spark, sf))
        .foreach { df =>
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          ()
        }
      Thread.sleep(2000) // let the listener bus drain
      assert(jobs.get == 0, s"audit-mode explain ran ${jobs.get} jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(Caches.PlanAuditConf, "false")
    }
  }
}
