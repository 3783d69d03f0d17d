package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Similarity}

/** #363 ann_index_probe: the persisted build-once/probe-many IVF
  * artifact — read-path ≡ build-path bit-identity, partition-pruned
  * probe plan, and build idempotence (a fresh artifact triggers no
  * training). */
class AnnIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  test("probe from the persisted index is bit-identical to the in-session IVF") {
    // row-sorted compare: neither side carries a final presentation sort
    val probed = AnnIndex.probe(spark, sf).collect().map(_.toString).sorted
    val inSession = Similarity.annIvf(spark, sf).collect().map(_.toString).sorted
    assert(probed.toSeq == inSession.toSeq)
    assert(probed.nonEmpty)
  }

  test("probe plan partition-prunes the postings and contains no training subtree") {
    val base = AnnIndex.build(spark, sf)
    // a narrow probe (2 queries × 2 cells) so pruning is strict even at
    // the sf0.001 cell count
    val df = AnnIndex.probe(spark, sf, k = 3, nQueries = 2, nProbe = 2)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val postings = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft_annix")))
    assert(postings.nonEmpty, "no postings scan in the probe plan")
    assert(postings.forall(_.partitionFilters.nonEmpty),
      "postings scan is not partition-pruned")
    // probed cells < cells on disk: pruning is real, not a tautology
    val allCells = new File(s"$base/postings").listFiles()
      .count(_.getName.startsWith("cluster="))
    val probedN = postings.head.partitionFilters.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
    }).sum
    assert(allCells > 4, s"only $allCells cells on disk")
    assert(probedN > 0 && probedN <= 4,
      s"expected an IN filter over <=4 probed cells, got $probedN")
    assert(probedN < allCells, s"probed=$probedN cells=$allCells — no pruning")
    // no aggregate over the full corpus embedding stream = no Lloyd
    // training in the plan (training is a build-time job, never probe-time)
    // the Lloyd update is an aggregate over posexplode(embedding) —
    // its fingerprint must be absent (topK's posexplode rides the
    // collected top-k array, not the embedding column)
    val planStr = df.queryExecution.sparkPlan.toString
    assert(!planStr.contains("posexplode(embedding"),
      "probe plan contains the centroid-update explode — training leaked in")
  }

  test("PQ probe from the persisted codes is bit-identical to the in-session ann_pq") {
    val probed = AnnIndex.probePq(spark, sf).collect().map(_.toString).sorted
    val inSession = graft.operators.SimilarityPq.annPq(spark, sf)
      .collect().map(_.toString).sorted
    assert(probed.toSeq == inSession.toSeq)
    assert(probed.nonEmpty)
  }

  test("PQ probe plan reads codes, not embeddings-wide: no encode argmax, no training") {
    AnnIndex.buildPq(spark, sf)
    val df = AnnIndex.probePq(spark, sf)
    val planStr = df.queryExecution.sparkPlan.toString
    // the encode argmax is a greatest() over 16 codebook literals per
    // subspace — absent from the probe plan (codes come from parquet)
    assert(!planStr.contains("floatdot(slice"),
      "probe plan contains the sub-slice encode scoring — encoding leaked in")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("graft_annpq"))), "no codes scan in the probe plan")
  }

  test("append-without-retrain: base ∪ delta postings ≡ full-corpus assignment " +
       "under the frozen day-1 model; probe answers from the union") {
    import org.apache.spark.sql.functions._
    val delta = AnnIndex.appendDelta(spark, sf)
    val base = AnnIndex.buildSliced(spark, sf)
    // the union must equal assigning EVERY vector with the read model
    val cents = spark.read.parquet(s"$base/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val appended = spark.read.parquet(s"$base/postings")
      .unionByName(spark.read.parquet(s"$delta/postings"))
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val fresh = Similarity.assignNearest(
        graft.sources.Tables.embeddings(spark, sf), cents)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(appended == fresh, "appended assignments diverge from the frozen model")
    // and the base model must really be slice-trained: it differs from
    // the full-corpus model (different training data, 16 cells)
    val fullBase = AnnIndex.build(spark, sf)
    val fullCents = spark.read.parquet(s"$fullBase/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    assert(cents.map(_._2.toSeq) != fullCents.map(_._2.toSeq))
    val out = AnnIndex.probeAppended(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getInt(3)).forall(r => r >= 1 && r <= 5))
  }

  test("PQ append-without-retrain: base ∪ delta codes ≡ full-corpus encode " +
       "under the frozen day-1 codebooks; probe answers from the union") {
    import org.apache.spark.sql.functions._
    val delta = AnnIndex.appendPqDelta(spark, sf)
    val base = AnnIndex.buildPqSliced(spark, sf)
    // the union must equal encoding EVERY vector with the read codebooks
    val cb = spark.read.parquet(s"$base/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
    def codeMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      df.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getInt)).toMap
    val appended = codeMap(spark.read.parquet(s"$base/codes")
      .unionByName(spark.read.parquet(s"$delta/codes")))
    val fresh = codeMap(graft.operators.SimilarityPq
      .withCodes(graft.sources.Tables.embeddings(spark, sf), cb)
      .select(col("vec_id") +: (0 until 8).map(m => col(s"code_$m")): _*))
    assert(appended == fresh, "appended codes diverge from the frozen codebooks")
    // the day-1 codebooks must really be slice-trained: they differ from
    // the full-corpus codebooks
    val fullBase = AnnIndex.buildPq(spark, sf)
    val fullCb = spark.read.parquet(s"$fullBase/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toSeq).toMap
    assert(cb.map { case (k, v) => k -> v.toSeq } != fullCb)
    val out = AnnIndex.probePqAppended(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getInt(3)).forall(r => r >= 1 && r <= 5))
  }

  test("PQ appended-probe plan reads base+delta codes with no encode, no training") {
    AnnIndex.appendPqDelta(spark, sf)
    val df = AnnIndex.probePqAppended(spark, sf)
    val planStr = df.queryExecution.sparkPlan.toString
    assert(!planStr.contains("floatdot(slice"),
      "appended-probe plan contains the sub-slice encode scoring")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val codeScans = scans.filter(_.relation.location.rootPaths.exists(p =>
      p.toString.contains("graft_annpq") && p.toString.contains("_m5")))
    assert(codeScans.size >= 2, "probe plan must scan base AND delta codes")
  }

  test("a fresh artifact is never rebuilt; a source regen re-stages it") {
    val base = AnnIndex.build(spark, sf)
    val success = new File(s"$base/postings/_SUCCESS")
    assert(success.exists())
    val t0 = success.lastModified()
    Thread.sleep(1100)
    AnnIndex.build(spark, sf)
    assert(success.lastModified() == t0, "fresh index was rebuilt")
    // invalidate the stamp (as a source regen would) → rebuild happens
    new File(s"$base/_GRAFT_SRC_STAMP").delete()
    AnnIndex.build(spark, sf)
    assert(success.lastModified() > t0, "stale index was not rebuilt")
  }
}
