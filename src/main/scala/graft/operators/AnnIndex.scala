package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.{Staging, Tables}

/** #363 ann_index_probe: the PERSISTED ANN index — build-once /
  * probe-many, the deployment shape #31b's in-session IVF memoization
  * only approximates. The build writes two parquet artifacts keyed by
  * the corpus identity and the quantizer hyper-parameters:
  *
  *   - `centroids/`  — the trained coarse quantizer (nCells × dim,
  *     the "model": tiny, read + collected at probe time);
  *   - `postings/`   — the inverted file: every corpus vector with its
  *     precomputed norm, PARTITIONED BY CLUSTER, so a probe reads only
  *     the probed cells via parquet partition pruning (the plan shows
  *     `PartitionFilters: cluster IN (...)` — at 100 TB this is the
  *     difference between scanning nProbe/nCells of the corpus and
  *     scanning all of it).
  *
  * Freshness: the [[graft.sources.Staging]] source-stamp discipline —
  * the artifact records the length+mtime of the source
  * `embeddings.parquet`; a regenerated corpus re-triggers the build,
  * an unchanged one never does (the spec pins probe-after-build
  * running zero training jobs).
  *
  * Probe ≡ build-path bit-identity: the index stores exactly what #31b
  * computes in-session — float embeddings (exact parquet round-trip),
  * double norms (exact round-trip), int cluster ids from the same
  * deterministic Lloyd training — and the probe runs the same Spark
  * expressions (FloatDot cell scoring, lossless prefilter, decimal
  * top-k), so the result is bit-identical to [[Similarity.annIvf]]
  * and SHARES ITS ORACLE (the k-means CTE chain + probe + exact
  * cosine + top-k).
  */
object AnnIndex {

  /** Staged artifact (source-stamped, see [[graft.sources.Staging]]):
    * the artifact `name` for `dir`'s embeddings, keyed by the data dir
    * and the name's hyper-parameters. A fresh artifact short-circuits —
    * no training job, no corpus scan. */
  private def artifact(s: SparkSession, dir: String, name: String)(
      write: String => Unit): String =
    Staging.staged(name, dir, s"$dir/embeddings.parquet") { base =>
      graft.functions.GraftFunctions.ensure(s)
      write(base)
    }

  /** `_m<mod>` when the index covers only the non-delta slice. */
  private def sliceSuffix(slice: Option[Int]): String =
    slice.fold("")(m => s"_m$m")

  /** The embeddings an index trains on and holds: the whole corpus, or
    * (sliced) everything but the delta slice. */
  private def indexed(s: SparkSession, dir: String, slice: Option[Int]): DataFrame = {
    val corpus = graft.Lineage.pin(Tables.embeddings(s, dir))
    slice.fold(corpus)(m => corpus.filter(!isDelta(m)))
  }

  /** Train the coarse quantizer on the indexed rows, write centroids +
    * their cluster-partitioned postings. Returns the artifact root. */
  private def buildIvf(s: SparkSession, dir: String, nCells: Int, iters: Int,
                       slice: Option[Int]): String =
    artifact(s, dir, s"annix_c${nCells}_i$iters${sliceSuffix(slice)}") { base =>
      val corpus = indexed(s, dir, slice)
      val cents = Similarity.trainCentroids(corpus, nCells, iters)
      import s.implicits._
      cents.toSeq.toDF("cluster", "c")
        .select(col("cluster"), col("c").cast("array<float>").as("c"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/centroids")
      Similarity.assignNearest(
          corpus.withColumn("e_norm", norm(col("embedding"))), cents)
        .select(col("vec_id"), col("embedding"), col("e_norm"), col("cluster"))
        .write.partitionBy("cluster")
        .mode(SaveMode.Overwrite).parquet(s"$base/postings")
    }

  /** Build (idempotent): train the coarse quantizer on the full corpus,
    * write centroids + cluster-partitioned postings. Returns the
    * artifact root. */
  def build(s: SparkSession, dir: String,
            nCells: Int = 16, iters: Int = 3): String =
    buildIvf(s, dir, nCells, iters, None)

  /** #363 ann_index_probe: answer queries FROM THE ARTIFACT — read the
    * centroid model (nCells rows, collected), score each query against
    * it with the same FloatDot expressions as #31b, read ONLY the
    * probed cells from the partitioned postings (the probe-cell set is
    * collected — ≤ nQueries × nProbe ints, the scalar class — and
    * pushed as a partition `isin` filter), then the shared lossless
    * exact top-k. No training subtree anywhere in the probe plan. */
  def probe(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
            nCells: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    val base = build(s, dir, nCells, iters)
    probeTail(s, dir, s"$base/centroids",
              s.read.parquet(s"$base/postings"), k, nQueries, nProbe)
  }

  /** The shared probe tail: read + collect the centroid model, score
    * the queries' cells with the identical expression set as #31b,
    * push the probed-cell set as a pruning literal over the (possibly
    * unioned) postings, then the shared lossless exact top-k. The
    * `isin` filter pushes through a union into every branch's scan, so
    * partition pruning survives the append layout. */
  private def probeTail(s: SparkSession, dir: String, centsPath: String,
                        postingsIn: DataFrame, k: Int, nQueries: Int,
                        nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val cents = s.read.parquet(centsPath)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // query-side cell scoring: the identical expression set as annIvf
    val qScored = cents.map { case (cid, c) =>
      struct(
        (call_function("float_dot", col("q_emb"), lit(c)) -
          lit(c.map(x => x.toDouble * x.toDouble).sum / 2.0)).as("score"),
        lit(cid).as("cluster"))
    }
    val probed = Similarity.queries(s, dir, nQueries)
      .withColumn("q_norm", norm(col("q_emb")))
      .withColumn("p", explode(slice(reverse(array_sort(array(qScored: _*))), 1, nProbe)))
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("p.cluster").as("probe"))
    // the probed-cell set as a pruning literal (tiny, deterministic)
    val cells = probed.select(col("probe")).distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = postingsIn
      .filter(col("cluster").isin(cells.map(Integer.valueOf): _*))
    val cands = postings.join(broadcast(probed), col("cluster") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
    Similarity.topKExact(cands, k)
  }

  // ------------------------------------------- append-without-retrain path

  /** Delta-slice convention shared with #287 emb_ivf_incremental:
    * vec_id ≡ mod−1 (mod `mod`) is the late-arriving batch. */
  private def isDelta(mod: Int) =
    pmod(col("vec_id"), lit(mod.toLong)) === (mod - 1)

  /** Day-1 build: train the quantizer on the INDEX slice only (the
    * amortized model #287 monitors), write centroids + the index
    * slice's cluster-partitioned postings. Idempotent, source-stamped. */
  def buildSliced(s: SparkSession, dir: String, nCells: Int = 16,
                  iters: Int = 3, mod: Int = 5): String =
    buildIvf(s, dir, nCells, iters, Some(mod))

  /** APPEND WITHOUT RETRAIN: the delta slice assigns against the
    * FROZEN day-1 centroid model — read from the [[buildSliced]]
    * artifact, never retrained — and lands in its own
    * cluster-partitioned `postings/` under a delta artifact beside the
    * base (idempotent, stamped). Returns the delta artifact's root. This
    * is the maintenance write a deployed IVF index runs between the
    * rebuilds #287's drift monitor calls for. */
  def appendDelta(s: SparkSession, dir: String, nCells: Int = 16,
                  iters: Int = 3, mod: Int = 5): String = {
    val base = buildSliced(s, dir, nCells, iters, mod)
    artifact(s, dir, s"annix_c${nCells}_i${iters}_m${mod}_delta") { delta =>
      val cents = s.read.parquet(s"$base/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      Similarity.assignNearest(
          Tables.embeddings(s, dir).filter(isDelta(mod))
            .withColumn("e_norm", norm(col("embedding"))), cents)
        .select(col("vec_id"), col("embedding"), col("e_norm"), col("cluster"))
        .write.partitionBy("cluster")
        .mode(SaveMode.Overwrite).parquet(s"$delta/postings")
    }
  }

  /** #366 ann_index_append_probe: probe the APPENDED index — base +
    * delta postings unioned under the frozen day-1 model. Because the
    * model is frozen and assignment is deterministic, base ∪ delta ≡
    * a full-corpus assignment under the slice-trained model, so the
    * oracle is #31b's k-means CTE chain with the TRAINING slice
    * restricted (`trainWhere`) and assignment over everything —
    * bit-identical end-to-end. */
  def probeAppended(s: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                    iters: Int = 3, mod: Int = 5): DataFrame = {
    val delta = appendDelta(s, dir, nCells, iters, mod)
    val base = buildSliced(s, dir, nCells, iters, mod)
    probeTail(s, dir, s"$base/centroids",
              s.read.parquet(s"$base/postings")
                .unionByName(s.read.parquet(s"$delta/postings")),
              k, nQueries, nProbe)
  }

  // ----------------------------------------------------------- PQ artifact

  /** Build the persisted PQ index (idempotent, source-stamped like the
    * IVF build): the 8×16×8-float codebooks plus the encoded CODES
    * table — (vec_id, code_0..code_7): 8 small ints per vector, the
    * 32:1 compression that lets a 100 TB corpus's index sit in cluster
    * RAM. Deliberately does NOT store raw embeddings: the exact
    * re-rank fetches the shortlist's vectors from primary storage at
    * probe time (shortlist-sized, never corpus-sized). */
  def buildPq(s: SparkSession, dir: String, iters: Int = 2): String =
    buildPqIndex(s, dir, iters, None)

  /** Train the codebooks on the indexed rows and write them with the
    * indexed rows' codes. Returns the artifact root. */
  private def buildPqIndex(s: SparkSession, dir: String, iters: Int,
                           slice: Option[Int]): String =
    artifact(s, dir, s"annpq_i$iters${sliceSuffix(slice)}") { base =>
      val corpus = indexed(s, dir, slice)
      val cb = SimilarityPq.trainCodebooks(corpus, iters)
      s.createDataFrame(cb.toSeq.map { case ((m, code), c) => (m, code, c) })
        .toDF("m", "code", "c").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/codebooks")
      writeCodes(corpus, cb, s"$base/codes")
    }

  /** The (vec_id, code_0..code_7) table of `corpus` under `cb`. */
  private def writeCodes(corpus: DataFrame, cb: Map[(Int, Int), Array[Float]],
                         path: String): Unit =
    SimilarityPq.withCodes(corpus, cb)
      .select(col("vec_id") +:
        (0 until SimilarityPq.SubSpaces).map(m => col(s"code_$m")): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** #365 ann_pq_index_probe: ADC retrieval FROM THE ARTIFACT — read
    * the codebooks (128 rows, collected: the model), read the codes
    * table (map-only scan, no encode expressions anywhere in the
    * plan), run the shared LUT → ADC → bounded shortlist → exact
    * re-rank tail. Codes are ints (exact parquet round-trip) and the
    * tail is the same expression set, so the result is bit-identical
    * to [[SimilarityPq.annPq]] and SHARES ITS ORACLE. */
  def probePq(s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
              iters: Int = 2, shortlist: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val base = buildPq(s, dir, iters)
    val cb = readCodebooks(s, base)
    val codes = s.read.parquet(s"$base/codes")
    val corpus = Tables.embeddings(s, dir)
    SimilarityPq.adcTopK(corpus, codes, cb, k, nQueries, shortlist)
  }

  private def readCodebooks(s: SparkSession, base: String): Map[(Int, Int), Array[Float]] =
    s.read.parquet(s"$base/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
      .toMap

  // ---------------------------------------- PQ append-without-retrain path

  /** Day-1 PQ build: train the codebooks on the INDEX slice only and
    * encode that slice. Idempotent, source-stamped — the exact
    * discipline [[buildSliced]] applies to the IVF artifact. */
  def buildPqSliced(s: SparkSession, dir: String, iters: Int = 2,
                    mod: Int = 5): String =
    buildPqIndex(s, dir, iters, Some(mod))

  /** PQ APPEND WITHOUT RETRAIN: the delta slice ENCODES against the
    * FROZEN day-1 codebooks — read from the [[buildPqSliced]] artifact,
    * never retrained — and lands as a `codes/` table under a delta
    * artifact beside the base (idempotent, stamped). Returns the delta
    * artifact's root. Encode is map-only (the codebook is a plan
    * literal), so the maintenance write scans only the delta: the daily
    * cost of a deployed 100 TB PQ index is proportional to the crawl,
    * not the corpus. #366's discipline applied to the compressed
    * index. */
  def appendPqDelta(s: SparkSession, dir: String, iters: Int = 2,
                    mod: Int = 5): String = {
    val base = buildPqSliced(s, dir, iters, mod)
    artifact(s, dir, s"annpq_i${iters}_m${mod}_delta") { delta =>
      writeCodes(Tables.embeddings(s, dir).filter(isDelta(mod)),
                 readCodebooks(s, base), s"$delta/codes")
    }
  }

  /** #367 ann_pq_index_append_probe: ADC retrieval from the APPENDED
    * PQ index — base ∪ delta codes under the frozen day-1 codebooks.
    * Because the codebooks are frozen and the encode argmax is
    * deterministic, base ∪ delta ≡ a full-corpus encode under the
    * slice-trained codebooks, so the oracle is #31g's PQ CTE chain
    * with the TRAINING rows restricted (`trainWhere`) and encoding
    * over everything — bit-identical end-to-end (codes are ints, exact
    * parquet round-trip; the ADC/re-rank tail is the shared expression
    * set). */
  def probePqAppended(s: SparkSession, dir: String, k: Int = 5,
                      nQueries: Int = 5, iters: Int = 2,
                      shortlist: Int = 32, mod: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val delta = appendPqDelta(s, dir, iters, mod)
    val base = buildPqSliced(s, dir, iters, mod)
    val cb = readCodebooks(s, base)
    val codes = s.read.parquet(s"$base/codes")
      .unionByName(s.read.parquet(s"$delta/codes"))
    SimilarityPq.adcTopK(Tables.embeddings(s, dir), codes, cb, k, nQueries,
                         shortlist)
  }
}
