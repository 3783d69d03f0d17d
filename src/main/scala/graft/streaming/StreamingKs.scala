package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables

/** #129 stream_ks: the #116 two-sample KS drift monitor maintained
  * incrementally — per-type 64-bin histogram counts ARE the streaming
  * state (one `flatMapGroupsWithState` keyed on the type; O(bins) longs
  * per type, the same mergeable partial the batch operator aggregates).
  * The value grid is FIXED up front from the static table (a production
  * monitor pins its histogram grid at deployment; here that makes the
  * drained stream bit-identical to the batch operator, which derives
  * the same bounds from the same data). Counts commute, so the fold is
  * arrival-order/chunking invariant; the finalize feeds the LAST
  * per-type emission through the batch operator's own post-histogram
  * stage ([[graft.operators.Round6Ops.ksFromCounts]]) — shared code,
  * shared oracle.
  */
object StreamingKs {

  // the ONE bin-count constant, shared with the batch operator whose
  // ksBin values this state indexes — divergence would be a runtime
  // ArrayIndexOutOfBounds inside the fold, not a compile error
  private def KsBins = graft.operators.Round6Ops.KsBins

  private[graft] case class KsIn(event_type: String, bin: Int)
  private[graft] case class KsStateRow(upd: Int, counts: Array[Long])
  private[graft] case class KsEmit(event_type: String, upd: Int,
                                       counts: Array[Long])

  private[graft] def foldKs(typ: String, rows: Iterator[KsIn],
                     state: GroupState[KsStateRow]): Iterator[KsEmit] = {
    val counts = state.getOption.map(_.counts.clone())
      .getOrElse(new Array[Long](KsBins))
    var any = false
    rows.foreach { r => any = true; counts(r.bin) += 1 }
    if (!any) Iterator.empty
    else {
      val upd = state.getOption.map(_.upd).getOrElse(0) + 1
      state.update(KsStateRow(upd, counts))
      Iterator.single(KsEmit(typ, upd, counts))
    }
  }

  /** The fold pipeline over any (event_type, value) frame binned on the
    * broadcast `bounds` grid. */
  private[graft] def ksFold(ev: DataFrame, bounds: DataFrame): Dataset[KsEmit] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.crossJoin(broadcast(bounds))
      .select(col("event_type"),
              graft.operators.Round6Ops.ksBin.as("bin"))
      .as[KsIn]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldKs)
  }

  /** Last emission per type → (event_type, bin, c) → the batch
    * post-histogram stage. */
  private[graft] def finalizeKs(sink: DataFrame): DataFrame = {
    // materialize the tiny last-emission table before it feeds TWO join
    // branches: memory-sink views reuse attribute ids across references,
    // which breaks join resolution (the lastEmission precedent)
    val last = sink.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("upd").desc)))
      .filter(col("rn") === 1)
      .localCheckpoint()
    val counts = last
      .select(col("event_type"), posexplode(col("counts")))
      .select(col("event_type"), col("pos").cast("int").as("bin"),
              col("col").as("c"))
    graft.operators.Round6Ops.ksFromCounts(
      counts, last.select(col("event_type")))
  }

  def streamKs(s: SparkSession, dir: String): DataFrame = {
    // grid pinned from the static table — the deployment-time histogram
    // grid; identical to the bounds the batch operator derives
    val bounds = graft.operators.Round6Ops.ksBounds(Tables.events(s, dir))
    Streaming.drain(s, "ks", OutputMode.Update)(
      ksFold(Streaming.eventsStream(s, dir)
        .select(col("event_type"), col("value")), bounds))(finalizeKs)
  }

  /** The batch #116 oracle — identical output contract. */
  val streamKsSql: String = graft.operators.Round6Ops.eventsKs2sampSql
}
