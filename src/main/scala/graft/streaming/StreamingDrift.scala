package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** #120 stream_centroid_drift: the #113 embedding distribution-shift
  * monitor maintained INCREMENTALLY — per-label, per-component decimal
  * sums and cohort counts ARE the streaming state, folded by one
  * `flatMapGroupsWithState` keyed on the label. State is O(dims) longs
  * per label (the exact-decimal sums carried as scale-10 unscaled
  * longs — exact while |Σx| < 9.2e8, far past any per-label cohort this
  * sketch monitors; the same portability trick as the md5-affine hash
  * family), so a continuous deployment holds |labels| × dims × 4 longs
  * total, no watermark needed.
  *
  * The fold is order/chunking-invariant (sums commute) and the
  * finalize replays the batch operator's exact arithmetic — scale-10
  * decimal → double, divide by count, half-up 6dp round, L2 over the
  * component deltas — so the drained stream's report is BIT-IDENTICAL
  * to batch [[graft.operators.Similarity2.embCentroidDrift]]
  * (spec-pinned) and shares its DuckDB oracle.
  */
object StreamingDrift {

  private[graft] case class DriftIn(label: Int, par: Long, x: Seq[Double])
  private[graft] case class DriftStateRow(
      upd: Int, sa: Array[Long], na: Long, sb: Array[Long], nb: Long)
  private[graft] case class DriftEmit(
      label: Int, upd: Int,
      sa: Array[Long], na: Long, sb: Array[Long], nb: Long)


  private[graft] def foldDrift(label: Int, rows: Iterator[DriftIn],
                        state: GroupState[DriftStateRow]): Iterator[DriftEmit] = {
    var st = state.getOption.orNull
    rows.foreach { r =>
      if (st == null)
        st = DriftStateRow(0, new Array[Long](r.x.length), 0L,
                           new Array[Long](r.x.length), 0L)
      val tgt = if (r.par == 0L) st.sa else st.sb
      var i = 0
      while (i < r.x.length) { tgt(i) += graft.Parity.dec10Unscaled(r.x(i)); i += 1 }
      st = if (r.par == 0L) st.copy(na = st.na + 1) else st.copy(nb = st.nb + 1)
    }
    if (st == null) Iterator.empty
    else {
      // deterministic per-key update counter orders the Update-mode
      // emissions (the KmvSketchRow pattern) - no clock involved
      st = st.copy(upd = state.getOption.map(_.upd).getOrElse(0) + 1)
      state.update(st)
      Iterator.single(DriftEmit(label, st.upd, st.sa, st.na, st.sb, st.nb))
    }
  }

  /** The fold pipeline over any embeddings frame (streaming or batch
    * — the chunking-invariance spec drives batch slices through it).
    * Cohorts split on SIGNED vec_id parity exactly like the batch
    * operator (a negative id joins neither cohort). */
  private[graft] def driftFold(emb: DataFrame): Dataset[DriftEmit] = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select(col("label"), (col("vec_id") % 2).as("par"),
               transform(col("embedding"), _.cast("double")).as("x"))
      .filter(col("par").isin(0L, 1L))
      .as[DriftIn]
      .groupByKey(_.label)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldDrift)
  }

  /** Finalize a drained sink: last emission per label (window over the
    * ≤ labels × batches sink), then the batch operator's exact final
    * arithmetic per component and label. */
  private[graft] def finalizeDrift(sink: DataFrame): DataFrame = {
    val s = sink.sparkSession
    import s.implicits._
    val last = sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
      .select(col("label"), col("sa"), col("na"), col("sb"), col("nb"))
      .as[(Int, Array[Long], Long, Array[Long], Long)]
    // per-(label, pos) means with the batch davg bit-arithmetic, then
    // the L2 finalize — computed JVM-side over the model-sized sketch
    // (|labels| × dims values), exactly like the batch's final stage
    last.flatMap { case (label, sa, na, sb, nb) =>
      if (na == 0 || nb == 0) Iterator.empty
      else {
        var ss = java.math.BigDecimal.ZERO
        var i = 0
        while (i < sa.length) {
          val ca = graft.Parity.r6d(graft.Parity.dec10ToDouble(sa(i)) / na)
          val cb = graft.Parity.r6d(graft.Parity.dec10ToDouble(sb(i)) / nb)
          val d = ca - cb
          // the batch dsum: per-term double product cast DECIMAL(38,10)
          ss = ss.add(java.math.BigDecimal.valueOf(d * d)
            .setScale(10, java.math.RoundingMode.HALF_UP))
          i += 1
        }
        Iterator.single((label, na, nb, graft.Parity.r6d(math.sqrt(ss.doubleValue))))
      }
    }.toDF("label", "n_a", "n_b", "drift_l2")
      .orderBy(col("label"))
  }

  /** Driver-contract entry: stream the embeddings file through the
    * fold, finalize the drained sink. */
  def streamCentroidDrift(s: SparkSession, dir: String): DataFrame =
    Streaming.drain(s, "drift", OutputMode.Update)(
      driftFold(Streaming.fileStream(s, dir, "embeddings")))(finalizeDrift)

  /** The batch #113 oracle — identical output contract. */
  val streamCentroidDriftSql: String =
    graft.operators.Similarity2.embCentroidDriftSql
}
