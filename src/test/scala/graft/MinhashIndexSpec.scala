package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LshDedup, MinhashIndex}
import graft.sources.Tables

/** #368 dedup_minhash_index_probe: the persisted MinHash signature
  * artifact — probe ≡ in-session bit-identity, zero signature jobs on
  * a fresh artifact, one k-keyed artifact serving multiple bandings,
  * and staging idempotence. */
class MinhashIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("probe from the persisted signatures is bit-identical to the in-session dedup") {
    val probed = MinhashIndex.probe(spark, sf).collect().map(_.toString).sorted
    val inSession = LshDedup.dedupMinhash(spark, sf).collect().map(_.toString).sorted
    assert(probed.toSeq == inSession.toSeq)
    assert(probed.nonEmpty)
  }

  test("probe plan reads the artifact and contains no signature job") {
    MinhashIndex.build(spark, sf)
    val df = MinhashIndex.probe(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("graft_mhix"))), "no signature-artifact scan in the probe plan")
    // the signature job's fingerprint is the k-wide min fold over the
    // affine re-hash columns h0..h63 — absent from a fresh-artifact
    // probe (band keys are a projection of the PERSISTED mins; the
    // verify side reads shingle arrays, never the h columns)
    val planStr = df.queryExecution.sparkPlan.toString
    assert(!planStr.contains("min(h"),
      "probe plan contains the signature min-fold — the signature job leaked in")
  }

  test("one k-keyed artifact serves a different banding without re-staging") {
    val base = MinhashIndex.build(spark, sf)
    val success = new File(s"$base/sigs/_SUCCESS")
    val t0 = success.lastModified()
    val probed = MinhashIndex.probe(spark, sf, bands = 16)
      .collect().map(_.toString).sorted
    val inSession = LshDedup.dedupMinhashDf(Tables.documents(spark, sf), bands = 16)
      .collect().map(_.toString).sorted
    assert(probed.toSeq == inSession.toSeq)
    assert(success.lastModified() == t0, "re-banding re-staged the artifact")
  }

  test("a fresh artifact is never rebuilt; a source regen re-stages it") {
    val base = MinhashIndex.build(spark, sf)
    val success = new File(s"$base/sigs/_SUCCESS")
    assert(success.exists())
    val t0 = success.lastModified()
    Thread.sleep(1100)
    MinhashIndex.build(spark, sf)
    assert(success.lastModified() == t0, "fresh signature artifact was rebuilt")
    new File(s"$base/_GRAFT_SRC_STAMP").delete()
    MinhashIndex.build(spark, sf)
    assert(success.lastModified() > t0, "stale signature artifact was not rebuilt")
  }
}
