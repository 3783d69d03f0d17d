package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Similarity2
import graft.sources.Tables

/** Candidate row for the streaming kNN fold: one scored (query,
  * candidate) pair. */
case class KnnIn(q_id: Long, vec_id: Long, hamming: Int)

/** One shortlist entry. Ordering is (hamming, vec_id) — the same
  * deterministic tie rule as the batch operator. */
case class KnnPair(hamming: Int, vec_id: Long)

/** Per-query streaming state AND emission: the k best candidates after
  * `upd` updates. */
case class KnnTopRow(q_id: Long, upd: Int, top: Seq[KnnPair])

/** #111 stream_knn (SURVEY §2): similarity search over a VECTOR STREAM —
  * the continuous-ingestion half of the ANN family. New embeddings
  * arrive as files; each is sign-sketched (the #95 two-long Hamming
  * sketch) in a stateless map, scored against the broadcast static
  * query set, and folded into a per-query top-k held as streaming
  * state by `flatMapGroupsWithState`. State is O(k) pairs per query —
  * bounded for an infinite stream — and the k-best merge is
  * associative, so the drained shortlist is bit-identical to the batch
  * [[Similarity2.embHammingKnn]] over the same corpus (the oracle is
  * the batch operator's own SQL; the spec additionally pins
  * bit-identity across a multi-batch staged drain). */
object StreamingKnn {

  /** Fold this batch's scored pairs into the carried top-k. A capped
    * TreeSet absorbs the iterator one pair at a time (O(k) working
    * memory within a batch — same discipline as the KMV fold). */
  private[graft] def foldKnn(k: Int)(
      qId: Long, rows: Iterator[KnnIn],
      state: GroupState[KnnTopRow]): Iterator[KnnTopRow] = {
    implicit val ord: Ordering[KnnPair] =
      Ordering.by(p => (p.hamming, p.vec_id))
    val set = scala.collection.mutable.TreeSet.empty[KnnPair]
    state.getOption.foreach(_.top.foreach(set.add))
    rows.foreach { r =>
      val p = KnnPair(r.hamming, r.vec_id)
      if (set.size < k) set.add(p)
      // size-guarded evict: a DUPLICATE pair re-arriving must not shrink
      // the set (TreeSet.add is then a no-op and nothing may be removed)
      else if (ord.lt(p, set.last)) {
        set.add(p); if (set.size > k) set.remove(set.last)
      }
    }
    val next = KnnTopRow(qId, state.getOption.map(_.upd).getOrElse(0) + 1,
      set.toSeq)
    state.update(next)
    Iterator(next)
  }

  /** The fold pipeline over any packed-embedding frame (streaming or
    * batch): score vs the broadcast queries (the SAME packing and
    * distance expressions as the batch operator — hoisted into
    * Similarity2 so the pinned bit-identity can't drift), fold per
    * query. */
  private[graft] def knnFold(packed: DataFrame, queries: DataFrame,
                             k: Int): Dataset[KnnTopRow] = {
    val s = packed.sparkSession
    import s.implicits._
    packed.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), Similarity2.hammingExpr.as("hamming"))
      .as[KnnIn]
      .groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldKnn(k))
  }

  /** Drain the kNN stream over `source` (raw embedding rows) and
    * return `finish` over the drained top-k sink. */
  private[graft] def runKnnStream(s: SparkSession, source: DataFrame,
                                  queries: DataFrame, k: Int)(
      finish: DataFrame => DataFrame): DataFrame =
    Streaming.drain(s, "knn", OutputMode.Update)(
      knnFold(Similarity2.packCols(source), queries, k))(finish)

  /** Last Update-mode emission per query (window over the tiny sink —
    * ≤ queries × batches rows), exploded to the batch operator's
    * output shape (q_id, vec_id, hamming, rank). */
  private[graft] def finalShortlists(sink: DataFrame): DataFrame = {
    val last = sink.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
    last.select(col("q_id"), posexplode(array_sort(col("top"))))
      .select(col("q_id"), col("col.vec_id").as("vec_id"),
              col("col.hamming").cast("int").as("hamming"),
              (col("pos") + 1).cast("int").as("rank"))
  }

  /** Driver-contract entry: stream the embeddings file, queries = the
    * first nQueries vectors (static batch read, broadcast). */
  def streamKnn(s: SparkSession, dir: String, k: Int = 5,
                nQueries: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    val queries = Similarity2.packedQueries(
      Similarity2.packCols(Tables.embeddings(s, dir)), nQueries)
    runKnnStream(s, Streaming.fileStream(s, dir, "embeddings"), queries, k)(
      finalShortlists(_).orderBy(col("q_id"), col("rank")))
  }

  /** The batch Hamming-kNN oracle — identical output contract. */
  val streamKnnSql: String = Similarity2.embHammingKnnSql()
}
