package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{StoreKernel, WinnowStore}
import graft.state.JdbcStateStore

/** Streaming maintenance of the substring-dedup [[WinnowStore]]: each
  * micro-batch of fresh documents is winnowed and appended as its own
  * day partition exactly once ([[StoreKernel.advanceOnce]]), so q152's
  * daily probe reads an index current through the last committed batch.
  */
object WinnowMaintainer {

  /** Advance the store by one micro-batch exactly once; returns true
    * when this call performed the advance. The batch id doubles as the
    * store day. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(advance(batch, dir, batchId))

  /** Wire a streaming document DataFrame (doc_id, text, …) into the
    * maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)(advance(_, dir, _))

  private def advance(batch: DataFrame, dir: String, batchId: Long): Unit =
    WinnowStore.advanceDay(batch, dir, StoreKernel.dayOf(batchId))
}
