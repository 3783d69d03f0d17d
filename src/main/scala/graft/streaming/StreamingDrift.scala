package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Parity

/** #120 stream_centroid_drift: the #113 embedding distribution-shift
  * monitor maintained INCREMENTALLY — per-label, per-component exact
  * decimal sums and counts of both cohorts ARE the streaming state,
  * folded by one `flatMapGroupsWithState` keyed on the label. State is
  * O(dims) per label (each sum kept as its exact scale-10 unscaled
  * integer, [[graft.Parity.Sums]]), so a continuous deployment holds
  * |labels| × dims × 2 cells total, no watermark needed.
  *
  * The fold is order/chunking-invariant (sums commute) and each
  * emission replays the batch operator's exact arithmetic — per
  * component the exact mean of its non-NaN values at 6dp (a NaN or null
  * component adds nothing, as in [[graft.Parity.davg]]), then the L2 of
  * the component deltas over an exact sum — so the drained stream's
  * report is BIT-IDENTICAL to batch
  * [[graft.operators.Similarity2.embCentroidDrift]] (spec-pinned) and
  * shares its DuckDB oracle.
  */
object StreamingDrift {

  private[graft] case class DriftIn(label: Int, par: Long, x: Seq[Option[Double]])
  /** Per cell `2·pos + par`: the count of non-null values (`n`), of
    * non-null non-NaN values (`m`, the mean's divisor) and the exact
    * sum, None while it saw no finite value. */
  private[graft] case class DriftStateRow(
      upd: Int, n: Seq[Long], m: Seq[Long], sums: Seq[Option[BigInt]])
  private[graft] case class DriftEmit(
      label: Int, upd: Int, n_a: Long, n_b: Long, drift_l2: Option[Double])

  private[graft] def foldDrift(label: Int, rows: Iterator[DriftIn],
                        state: GroupState[DriftStateRow]): Iterator[DriftEmit] = {
    val prev = state.getOption
    val in = rows.toSeq
    if (in.isEmpty) Iterator.empty
    else {
      val cells = (prev.fold(0)(_.n.length) +: in.map(2 * _.x.length)).max
      val n, m = new Array[Long](cells)
      val acc = new Parity.Sums(cells)
      prev.foreach { st =>
        st.n.copyToArray(n); st.m.copyToArray(m)
        st.sums.zipWithIndex.foreach { case (u, j) => acc.addState(j, u) }
      }
      for (r <- in; (x, pos) <- r.x.zipWithIndex; v <- x) {
        val j = 2 * pos + r.par.toInt
        n(j) += 1
        if (!v.isNaN) { m(j) += 1; acc.addDouble(j, v) }
      }
      // deterministic per-key update counter orders the Update-mode
      // emissions (the KmvSketchRow pattern) - no clock involved
      val upd = prev.fold(0)(_.upd) + 1
      state.update(DriftStateRow(upd, n.toSeq, m.toSeq, (0 until cells).map(acc.state)))
      // the batch's final stage: components both cohorts hold, their
      // 6dp means, then the L2 of the deltas over an exact sum
      val both = (0 until cells / 2).filter(p => n(2 * p) > 0 && n(2 * p + 1) > 0)
      def mean(j: Int) = acc.get(j).map(t => Parity.r6d(t / m(j)))
      if (both.isEmpty) Iterator.empty
      else Iterator.single(DriftEmit(label, upd,
        both.map(p => n(2 * p)).min, both.map(p => n(2 * p + 1)).min,
        Parity.exactSum(both.flatMap(p =>
          for (ca <- mean(2 * p); cb <- mean(2 * p + 1)) yield (ca - cb) * (ca - cb)))
          .map(t => Parity.r6d(math.sqrt(t)))))
    }
  }

  /** The fold pipeline over any embeddings frame (streaming or batch
    * — the chunking-invariance spec drives batch slices through it).
    * Cohorts split on SIGNED vec_id parity exactly like the batch
    * operator (a negative id joins neither cohort, a null embedding
    * adds nothing). */
  private[graft] def driftFold(emb: DataFrame): Dataset[DriftEmit] = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select(col("label"), (col("vec_id") % 2).as("par"),
               transform(col("embedding"), _.cast("double")).as("x"))
      .filter(col("par").isin(0L, 1L) && col("x").isNotNull)
      .as[DriftIn]
      .groupByKey(_.label)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldDrift)
  }

  /** Finalize a drained sink: the last emission per label (a window
    * over the ≤ labels × batches sink). */
  private[graft] def finalizeDrift(sink: DataFrame): DataFrame =
    sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
      .select(col("label"), col("n_a"), col("n_b"), col("drift_l2"))
      .orderBy(col("label"))

  /** Driver-contract entry: stream the embeddings file through the
    * fold, finalize the drained sink. */
  def streamCentroidDrift(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "drift", OutputMode.Update)(
      driftFold(Streaming.fileStream(s, dir, "embeddings")))(finalizeDrift)

  /** The batch #113 oracle — identical output contract. */
  val streamCentroidDriftSql: String =
    graft.operators.Similarity2.embCentroidDriftSql
}
