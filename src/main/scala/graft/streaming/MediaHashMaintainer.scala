package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.multimodal.MediaDedup
import graft.sources.{MediaHashStore, StoreKernel}
import graft.state.JdbcStateStore

/** Streaming maintenance of the media hash index's SOURCED face
  * ([[MediaHashStore]]): each micro-batch of arriving
  * (media_id, text, content) rows is DECODED ONCE and its dHashes
  * appended as the batch's own day with the day's source digest,
  * exactly once ([[StoreKernel.advanceOnce]]), so q197/q198's dispatch
  * ([[MediaHashStore.openFreshFor]]) reads an index current through
  * the last committed batch.
  */
object MediaHashMaintainer {

  /** Advance the store by one micro-batch of (media_id, text, content)
    * rows exactly once; returns true when this call performed the
    * advance. The batch id doubles as the store day — build with a day
    * outside the stream's batch-id range (e.g. -1 for the backfill). */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(advance(batch, dir, batchId))

  /** Wire a streaming media DataFrame (media_id, text, content) into
    * the maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)(advance(_, dir, _))

  /** The source digest and the hash rows must derive from ONE
    * evaluation of the batch, but pinning the raw batch would cache
    * every payload byte: the hashing pass carries the caption through
    * and the pin is the NARROW (media_id, text, dhash) output. */
  private def advance(batch: DataFrame, dir: String, batchId: Long): Unit =
    StoreKernel.pinned(MediaDedup.hashImagesWithSource(
        batch.select(col("media_id"), col("text"), col("content")))) { hashed =>
      MediaHashStore.advanceDaySourced(hashed.select("media_id", "text"),
        hashed.select("media_id", "dhash"), dir, StoreKernel.dayOf(batchId))
    }
}
