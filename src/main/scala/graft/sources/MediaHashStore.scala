package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the image dHash index — takedown parity
  * for the media tier (VERDICT r10 missing item 3).
  *
  * q153's production face probes a persisted (media_id, dhash) index
  * (16 bytes/image) instead of re-decoding the corpus. Before this
  * store that index was append-only: a right-to-be-forgotten deletion
  * forced a full rebuild — and rebuilds in the media tier re-run the
  * DECODE, the one cost the index exists to amortize. Day partitions
  * put it on the [[StoreKernel]] contract (day-keyed): [[advanceDay]]
  * hashes only its own batch, [[retireDay]] drops one day, and neither
  * ever re-reads another day's binary payloads.
  *
  * The store holds the HASHED relation — decoding happens once at
  * ingest — so the per-day digest is over the stored (media_id, dhash)
  * rows, read back from the just-written partition (a re-decoded batch
  * plan must not be trusted to reproduce its bytes).
  *
  * Layout under one root:
  * {{{
  *   <dir>/hashes/day=N/  (media_id, dhash)
  *   <dir>/meta/          (day, n_media, digest) one row per day
  *   <dir>/source_meta/   (day, n_src, digest)   sourced face only
  * }}}
  *
  * '''The SOURCED face.''' The decon probe (q197) is offered the train
  * corpus's SOURCE relation, so [[buildSourced]]/[[advanceDaySourced]]
  * also commit, per day, a digest of the (media_id, text) rows the
  * hashes derive from; [[openFreshFor]] verifies the offered source in
  * one xxhash64 scan (no decode). The source meta is the sourced face's
  * commit point — written last, retired first.
  */
object MediaHashStore {

  /** Session conf: root dir of the store for the SOURCED decon face
    * ([[openFreshFor]]). Unset (default) = no store, hash inline. */
  val DirKey = "spark.graft.mediastore.dir"

  /** Session conf: skip the INTEGRITY scan — [[open]]'s digest
    * verification of the stored index, and [[openFreshFor]]'s
    * stored-rows-vs-hash-meta check — and trust the store's bytes:
    * the [[VectorIndexStore.TrustKey]] semantics (a per-open
    * index-proportional scan is exactly what the trust lever exists
    * to avoid where external checksums / an immutable object store
    * already guarantee integrity).
    *
    * Deliberately NOT covered (split, ADVICE r15): [[openFreshFor]]'s
    * source-FRESHNESS comparison. Freshness is one xxhash64 scan over
    * the OFFERED captions — no decode, no stored-index scan — and
    * skipping it in a decontamination gate converts a lagging ingest
    * into silently missed contamination pairs. A deployment whose
    * pipeline ordering provably advances the store before any probe
    * runs may additionally set [[TrustFreshKey]]. Default false:
    * verify integrity. */
  val TrustKey = "spark.graft.mediastore.trust"

  /** Session conf: ALSO skip [[openFreshFor]]'s source-freshness
    * comparison (one caption xxhash64 scan — the stale-store-demotion
    * signal). Its own lever, separate from [[TrustKey]], because the
    * two checks fail differently: a torn store is an operational
    * fault the integrity scan catches loudly, while a stale store is
    * a SILENT decon miss the freshness scan demotes to inline. Set
    * only where ingest provably advances the store before any probe
    * runs. Default false: verify freshness even when trusted. */
  val TrustFreshKey = "spark.graft.mediastore.trustfresh"

  private val face = StoreKernel.DayFace("mediastore", "meta", "n_media", Seq("hashes"))
  private val sourced = StoreKernel.DayFace("mediastore", "source_meta", "n_src", Nil)

  /** Order-independent digest of a hashed batch:
    * (count, XOR of xxhash64(media_id, dhash)) — [[FileDigests]]-cached
    * per file, so an unchanged stored-hash corpus digests scan-free. */
  def digestOf(hashed: DataFrame): (Long, Long) =
    FileDigests.digestOf(hashed, xxhash64(col("media_id"), col("dhash")))

  /** Write-path variant: whole-relation aggregate over `hashed` as
    * evaluated (honors a pinned batch), never the per-file cache —
    * [[FileDigests.digestOfPinned]]'s tear argument (ADVICE r17). */
  def digestOfPinned(hashed: DataFrame): (Long, Long) =
    FileDigests.digestOfPinned(hashed, xxhash64(col("media_id"), col("dhash")))

  private def writeDay(spark: SparkSession, dir: String, day: Int,
      hashedBatch: DataFrame): Unit = {
    face.write(hashedBatch.select("media_id", "dhash"), dir, "hashes", day)
    face.commit(spark, dir, day, face.writtenDigest(spark, dir, "hashes", day, digestOf))
  }

  /** Build a fresh store from an already-hashed (media_id, dhash)
    * relation, replacing any prior content. */
  def build(hashed: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreKernel.replace(hashed.sparkSession, dir)
    writeDay(hashed.sparkSession, dir, day, hashed)
  }

  /** Append one ingest day of hashes. Idempotent per day. */
  def advanceDay(hashedBatch: DataFrame, dir: String, day: Int): Unit = {
    retireDay(hashedBatch.sparkSession, dir, day)
    writeDay(hashedBatch.sparkSession, dir, day, hashedBatch)
  }

  /** Retire one day (takedown/expiry) out of BOTH metas — the source
    * meta first — then drop its partition. After this [[open]]/
    * [[openFreshFor]] serve the index exactly as if that day had never
    * been ingested — no decode, no rebuild. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit = {
    sourced.dropMeta(spark, dir, day)
    face.retire(spark, dir, day)
  }

  // -------------------------------------------- sourced decon face
  /** Order-independent digest of the SOURCE relation (media_id, text)
    * a day's hashes were rendered/decoded from — what makes the decon
    * dispatch's freshness check decode-free: one xxhash64 scan over
    * the offered captions instead of re-rendering + re-hashing the
    * images to compare. A real lake digests (media_id, content-etag)
    * the same way — any cheap per-row key that changes when the
    * payload does. */
  def sourceDigestOf(source: DataFrame): (Long, Long) =
    FileDigests.digestOf(source, xxhash64(col("media_id"), col("text")))

  private def writeSourceMeta(spark: SparkSession, dir: String, day: Int,
      source: DataFrame): Unit =
    sourced.commit(spark, dir, day,
      FileDigests.digestOfPinned(source, xxhash64(col("media_id"), col("text"))))

  /** Build a fresh SOURCED store: the hash index plus the day's source
    * digest. `source` must be the exact (media_id, text) relation
    * `hashed` was derived from. `day` defaults to -1 — outside a
    * Structured Streaming batch-id range — so the first batch of
    * [[graft.streaming.MediaHashMaintainer]] cannot retire the backfill. */
  def buildSourced(source: DataFrame, hashed: DataFrame, dir: String,
      day: Int = -1): Unit = {
    val spark = hashed.sparkSession
    StoreKernel.replace(spark, dir)
    writeDay(spark, dir, day, hashed)
    writeSourceMeta(spark, dir, day, source)
  }

  /** Append one ingest day with its source digest. Idempotent per day. */
  def advanceDaySourced(source: DataFrame, hashedBatch: DataFrame,
      dir: String, day: Int): Unit = {
    val spark = hashedBatch.sparkSession
    retireDay(spark, dir, day)
    writeDay(spark, dir, day, hashedBatch)
    writeSourceMeta(spark, dir, day, source)
  }

  /** The stored hash index IF [[DirKey]] is configured and the store
    * is FRESH for the offered (media_id, text) source — the q197
    * store-or-inline dispatch. Only days the source meta names are
    * read. Untrusted opens also verify the served hash rows against
    * the hash meta (16-byte rows, still no decode); [[TrustKey]] skips
    * only that integrity scan, the freshness comparison needs
    * [[TrustFreshKey]]. */
  def openFreshFor(source: DataFrame): Option[DataFrame] = {
    val spark = source.sparkSession
    StoreKernel.open(spark, DirKey, face.tag) { dir =>
      sourced.fresh(spark, dir, StoreKernel.trusted(spark, TrustFreshKey),
        sourceDigestOf(source)).map { m =>
        val idx = face.read(spark, dir, "hashes", m.live)(
          StoreKernel.empty(spark, "media_id BIGINT, dhash BIGINT")).select("media_id", "dhash")
        if (m.live.nonEmpty && !StoreKernel.trusted(spark, TrustKey)) {
          val hashMeta = StoreKernel.Meta(face.meta(spark, dir).rows.filter(r => m.live.contains(r._1)))
          require(digestOf(idx) == hashMeta.digest,
            s"media hash store $dir is torn: partition digest != meta digest")
        }
        idx
      }
    }
  }

  /** The stored index across all live days — the kernel's audit read:
    * the partitions must digest to the meta unless [[TrustKey]] is set,
    * so a torn write surfaces here instead of as missing candidates.
    * Retiring the LAST live day serves an empty relation. */
  def open(spark: SparkSession, dir: String): DataFrame =
    face.audited(spark, dir, "hashes", Seq("media_id", "dhash"),
      StoreKernel.trusted(spark, TrustKey), digestOf)(
      StoreKernel.empty(spark, "media_id BIGINT, dhash BIGINT"))
}
