package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-side scaling bench — the BENCH_GRID treatment applied to the
  * LLM-pipeline battery (the round-12 ask: the MHW chain has a
  * 1×/10×/30×/100× task-metric series; the dedup/ANN flagships had
  * only ever been timed at sf0.1, leaving the banding math and the
  * partition-pruning claims as design prose).
  *
  * Corpus construction (SPARK_GRAFT_CORPUS_SCALE = N): the sf0.1
  * documents/embeddings tables tiled ×N into a staged parquet dir.
  * Copy 0 is the base VERBATIM; copy i>0 remaps ids (+i·10⁷) and
  * rewrites EVERY token with a copy-keyed alphabetic suffix, so
  * cross-copy shingle similarity is ~0 and each document keeps exactly
  * its base-corpus near-duplicates — duplicate DENSITY is
  * scale-invariant, which is what makes ~LINEAR wall time the correct
  * expectation for the dedup family (tiling without the rewrite would
  * give every doc N−1 clones and an honest-but-different N² pair
  * workload). Embeddings get a copy-keyed dim-0 nudge (cross-copy
  * vectors stay near-dup — the ANN top-k is bounded, so that changes
  * answers, not asymptotics). Value content never drives operator
  * cost; row counts, group cardinalities and duplicate density do, and
  * all three scale as a real ×N crawl would.
  *
  * Protocol: per-corpus staged input (Staging-stamped), ANN/MinHash
  * index artifacts for the scaled dir WIPED at start (so the cold
  * sweep prices artifact BUILD + probe and the warm sweep prices
  * probe-only against fresh artifacts — both deployment shapes in one
  * artifact), task-metric listener (spill/shuffle/input/GC per sweep),
  * JIT-settle + default-on load gate between sweeps (the Bench
  * protocol), shuffle partitions auto-scaled to the staged volume.
  * Writes one JSON line to stdout and BENCH_CORPUS[_xN].json.
  */
object BenchCorpus {

  /** The flagship curation queries, in fixed order (session-level
    * operator caches are shared within a sweep exactly as in the full
    * Bench suite — the band curve reuses the minhash signature tables
    * its own family memoizes). */
  val Flagships: Seq[String] = Seq(
    "dedup_minhash", "dedup_minhash_band_curve", "dedup_minhash_index_probe",
    "dedup_substring", "dedup_cdc_chunks", "corpus_dedup_funnel",
    "ann_index_probe", "ann_pq_index_probe", "ann_pq_index_append_probe")

  private def pathHash(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private[graft] def scaledPath(base: String, scale: Int): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_corpus_${pathHash(base)}_x$scale"

  /** Two-letter purely-alphabetic copy suffix (keeps every rewritten
    * token inside the [a-z]+ vocabulary the text operators filter on). */
  private def suffix(i: Int): String =
    "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar

  /** Stage the ×N corpus (idempotent, stamped against the base
    * documents table). Scale 1 stages copy 0 only — the base tables
    * byte-identical, the control point of the series. */
  def stage(s: SparkSession, base: String, scale: Int): String = {
    val out = scaledPath(base, scale)
    val src = s"$base/documents.parquet"
    if (!graft.sources.Staging.isFresh(s"$out/staged", src)) {
      val docs = s.read.parquet(s"$base/documents.parquet")
      val embs = s.read.parquet(s"$base/embeddings.parquet")
      val docCopies = (0 until scale).map { i =>
        if (i == 0) docs
        else docs.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\p{Alpha}+)", "$1" + suffix(i)).as("text"),
          col("lang"), col("source"),
          length(regexp_replace(col("text"), "(\\p{Alpha}+)", "$1" + suffix(i)))
            .cast("long").as("n_chars"))
      }
      docCopies.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
      val embCopies = (0 until scale).map { i =>
        if (i == 0) embs
        else embs.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            when(j === 0, x + lit(i * 0.001f)).otherwise(x))
            .cast("array<float>").as("embedding"),
          col("label"))
      }
      embCopies.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
      new java.io.File(s"$out/staged").mkdirs()
      graft.sources.Staging.markStaged(s"$out/staged", src)
    }
    out
  }

  /** Wipe the dir-keyed index artifacts for the scaled corpus so this
    * run prices artifact build (cold) and fresh-artifact probe (warm). */
  private def wipeArtifacts(dir: String): Unit = {
    import graft.operators.{AnnIndex, MinhashIndex}
    val roots = Seq(
      AnnIndex.indexPath(dir, 16, 3), AnnIndex.slicedPath(dir, 16, 3, 5),
      AnnIndex.pqPath(dir, 2), AnnIndex.pqSlicedPath(dir, 2, 5),
      MinhashIndex.indexPath(dir, 64))
    roots.foreach(r => FileUtils.deleteQuietly(new java.io.File(r)))
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_CORPUS_SCALE", "1").toInt
    val settler = new BenchKit.Settler
    val spark = GraftSession.local(cpus)

    val dir = stage(spark, base, scale)
    wipeArtifacts(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // shingle/signature fans are ~an order of magnitude over the raw
    // text bytes — size the shuffle to the staged volume, not the core
    // count (the BENCH_GRID rule)
    val shufflePartitions = GraftSession.autoScaleShuffle(docs, amplification = 8.0)

    // spill is the headline task counter — the claim under test is zero
    // spill at ×30
    val tasks = new BenchKit.TaskMetricsListener(spark.sparkContext)

    val queries = Flagships.map(n => n -> SparkEntry.queries(n))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def sweep(tag: String): Seq[(String, Double, String)] =
      queries.map { case (name, fn) =>
        val m0 = tasks.snapshot()
        val t = BenchKit.timeOrRecord(errors, s"$tag:$name")(fn(spark, dir).count())
        (name, t, BenchKit.jsonObject(tasks.delta(m0)))
      }

    val loadStart = BenchKit.loadavg()
    settler.settle()
    val loadCold = BenchKit.loadavg()
    val cold = sweep("cold")
    settler.settle()
    val loadWarm = BenchKit.loadavg()
    val warm = sweep("warm")

    def fmt(v: Double): String = f"$v%.3f"
    def sweepJson(rows: Seq[(String, Double, String)]): String = rows
      .map { case (n, t, m) => s""""$n":{"sec":${fmt(t)},"metrics":$m}""" }
      .mkString("{", ",", "}")
    val coldTotal = cold.filter(_._2 >= 0).map(_._2).sum
    val warmTotal = warm.filter(_._2 >= 0).map(_._2).sum
    val json =
      s"""{"metric":"corpus_total_warm","value":${fmt(warmTotal)},"unit":"sec",""" +
      s""""scale":$scale,"base":"$base","n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""cpus":"$cpus","shuffle_partitions":$shufflePartitions,""" +
      s""""cold_total_sec":${fmt(coldTotal)},"warm_total_sec":${fmt(warmTotal)},""" +
      s""""cold":${sweepJson(cold)},"warm":${sweepJson(warm)},""" +
      s""""n_errors":${errors.size},"errors":${BenchKit.jsonObject(errors)},""" +
      s""""loadavg":{"start":$loadStart,"cold":$loadCold,"warm":$loadWarm,""" +
      s""""end":${BenchKit.loadavg()},"gate":${settler.gateJson}}}"""
    val outDefault =
      if (scale == 1) "/root/repo/BENCH_CORPUS.json"
      else s"/root/repo/BENCH_CORPUS_x$scale.json"
    BenchKit.write(sys.env.getOrElse("SPARK_GRAFT_CORPUS_OUT", outDefault), json)
    println(json)
    Caches.clear(spark)
    spark.stop()
  }
}
