package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{SignatureStore, StoreKernel}
import graft.state.JdbcStateStore

/** Streaming maintenance of the shared [[SignatureStore]]: each
  * micro-batch of fresh documents is shingled, signed and appended as
  * its own day partition exactly once ([[StoreKernel.advanceOnce]]), so
  * the nightly dedup queries read signatures current through the last
  * committed micro-batch. The batch id doubles as the store day.
  */
object SignatureMaintainer {

  /** Advance the store by one micro-batch exactly once; returns true
    * when this call performed the advance (false = committed replay
    * skipped). */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(advance(batch, dir, batchId))

  /** Wire a streaming document DataFrame (doc_id, text, …) into the
    * maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)(advance(_, dir, _))

  private def advance(batch: DataFrame, dir: String, batchId: Long): Unit =
    SignatureStore.advanceDay(batch, dir, StoreKernel.dayOf(batchId))
}
