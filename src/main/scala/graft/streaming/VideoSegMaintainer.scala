package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.multimodal.VideoSegDedup
import graft.sources.{StoreKernel, VideoSegStore}
import graft.state.JdbcStateStore

/** Streaming maintenance of the video segment fingerprint index
  * ([[VideoSegStore]]): each micro-batch of arriving videos is DECODED
  * ONCE and its segment fingerprints appended as the batch's own day
  * exactly once ([[StoreKernel.advanceOnce]]) — a committed replay
  * skips the decode entirely.
  */
object VideoSegMaintainer {

  /** Advance the store by one micro-batch of (video_id, content)
    * payloads exactly once; returns true when this call performed the
    * advance. The batch id doubles as the store day. */
  def advanceBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(advance(batch, dir, batchId))

  /** Wire a streaming video DataFrame (video_id, content) into the
    * maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)(advance(_, dir, _))

  private def advance(batch: DataFrame, dir: String, batchId: Long): Unit =
    VideoSegStore.advanceDay(
      VideoSegDedup.segmentFingerprints(batch), dir, StoreKernel.dayOf(batchId))
}
