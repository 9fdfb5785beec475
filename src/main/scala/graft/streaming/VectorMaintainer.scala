package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{StoreKernel, VectorIndexStore}
import graft.state.JdbcStateStore

/** Streaming maintenance of the IVF [[VectorIndexStore]] faces: each
  * micro-batch of freshly-embedded vectors is assigned against the
  * FROZEN stored codebook(s) and appended as its own day exactly once
  * ([[StoreKernel.advanceOnce]]). The batch id doubles as the store day
  * — build with a day OUTSIDE the stream's batch-id range (e.g. -1 for
  * the backfill) or batch 0 would retire-and-replace it. The store must
  * already exist: a codebook is a trained artifact, not something a
  * micro-batch may invent.
  */
object VectorMaintainer {

  /** Advance the base face (q139) by one micro-batch exactly once;
    * returns true when this call performed the advance. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(
      VectorIndexStore.advanceDay(batch, dir, StoreKernel.dayOf(batchId)))

  /** Wire a streaming embedding DataFrame (vec_id, embedding, …) into
    * the base face's maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)((df, id) =>
      VectorIndexStore.advanceDay(df, dir, StoreKernel.dayOf(id)))

  /** Advance the SCALED face (q188/xsk) by one micro-batch exactly
    * once. K froze at BUILD-time corpus size: a corpus that outgrows
    * its √N codebook re-[[VectorIndexStore.buildScaled]]s. */
  def advanceBatchScaled(batch: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(
      VectorIndexStore.advanceDayScaled(batch, dir, StoreKernel.dayOf(batchId)))

  /** Wire a streaming embedding DataFrame into the scaled face's
    * maintainer. */
  def exactlyOnceScaled(stream: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)((df, id) =>
      VectorIndexStore.advanceDayScaled(df, dir, StoreKernel.dayOf(id)))

  /** Advance the SCALED-PQ face (q195/xpk) by one micro-batch exactly
    * once: coarse-assigned and PQ-encoded against BOTH frozen
    * codebooks. */
  def advanceBatchPqScaled(batch: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(
      VectorIndexStore.advanceDayPqScaled(batch, dir, StoreKernel.dayOf(batchId)))

  /** Wire a streaming embedding DataFrame into the scaled-PQ face's
    * maintainer. */
  def exactlyOncePqScaled(stream: DataFrame, store: JdbcStateStore,
      sinkId: String, dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)((df, id) =>
      VectorIndexStore.advanceDayPqScaled(df, dir, StoreKernel.dayOf(id)))
}
