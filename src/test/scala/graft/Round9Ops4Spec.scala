package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Round9Ops2, Round9Ops4}

/** Round-9 batch-4 operators (#310-#313): PSI drift scorecard, the DiD
  * stream twin, LPA communities over the near-dup graph, modularity. */
class Round9Ops4Spec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("dq_value_psi: identical halves score ~0; a shifted half scores major") {
    import spark.implicits._
    // same uniform grid of values in both halves -> psi ≈ 0
    val stable = (0 until 200).map { i =>
      val day = if (i % 2 == 0) "2024-01-01" else "2024-01-31"
      ("t", java.sql.Timestamp.valueOf(s"$day 00:00:00"), (i / 2 % 50).toDouble)
    }.toDF("event_type", "ts", "value")
    val s0 = Round9Ops4.dqValuePsiDf(stable).collect()
    assert(s0.length == 1 && s0(0).getString(4) == "stable",
      s"identical halves must be stable, got ${s0(0)}")
    assert(math.abs(s0(0).getDouble(3)) < 0.01)
    // second half concentrated in the top of the range -> large shift
    val shifted = (0 until 200).map { i =>
      if (i % 2 == 0)
        ("t", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), (i / 2 % 50).toDouble)
      else
        ("t", java.sql.Timestamp.valueOf("2024-01-31 00:00:00"), 49.0)
    }.toDF("event_type", "ts", "value")
    val s1 = Round9Ops4.dqValuePsiDf(shifted).collect()
    assert(s1(0).getString(4) == "major" && s1(0).getDouble(3) > 0.25)
  }

  test("dq_value_psi: corpus run — psi >= 0 up to rounding, verdict bands consistent") {
    val out = Round9Ops4.dqValuePsi(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val psi = r.getDouble(3)
      assert(psi > -1e-4, s"psi is a divergence, got $psi")
      val v = r.getString(4)
      assert(if (psi < 0.1) v == "stable"
             else if (psi < 0.25) v == "moderate" else v == "major")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
  }

  test("stream_diff_in_diff: drained stream is bit-identical to the batch readout") {
    val streamed = graft.streaming.Streaming.streamDiffInDiff(spark, sf).collect()
    val batch = Round9Ops2.eventsDiffInDiff(spark, sf).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }

  test("dedup_lpa_communities: refinement of #42's connected components; all docs covered") {
    val lpa = Round9Ops4.dedupLpaCommunities(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(lpa.length.toLong == nDocs, "every doc gets a community")
    val cc = graft.operators.Analytics.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // labels propagate only within a component: each LPA community maps
    // into exactly one CC cluster
    lpa.groupBy(_.getLong(1)).foreach { case (comm, rs) =>
      val clusters = rs.map(r => cc(r.getLong(0))).distinct
      assert(clusters.length == 1,
        s"community $comm spans CC clusters ${clusters.toSeq}")
    }
    // sizes consistent
    val sizes = lpa.groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.length }
    lpa.foreach(r => assert(r.getLong(2) == sizes(r.getLong(1))))
  }

  // Two triangles {1,2,3},{4,5,6} + bridge 3-4; 4-round LPA labels the
  // halves 1 and 3 (pinned in Round9Ops2Spec). m = 7 edges, arcs = 14.
  // Each half: intra arcs 6, degree sum 7 ->
  //   q_contrib = 6/14 - (7/14)^2 = 0.178571 (6dp), Q = 0.357142.
  test("graph_modularity: hand-computed two-community graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
                    (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val out = Round9Ops4.modularityDf(edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, 7L, 0.178571, 0.357142),
      (3L, 3L, 3L, 7L, 0.178571, 0.357142)))
  }

  test("graph_modularity: corpus partition beats a random cut (Q > 0)") {
    val out = Round9Ops4.graphModularity(spark, sf).collect()
    assert(out.nonEmpty)
    val q = out.head.getDouble(5)
    assert(out.forall(r => math.abs(r.getDouble(5) - q) < 1e-9),
      "corpus Q identical on every row")
    assert(q > 0.0, s"LPA partition of the kNN graph should have Q > 0, got $q")
    // intra arcs cannot exceed the community's degree mass
    out.foreach(r => assert(2 * r.getLong(2) <= r.getLong(3)))
  }
}
