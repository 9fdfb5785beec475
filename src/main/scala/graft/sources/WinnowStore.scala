package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Day-partitioned store for the substring-dedup char-winnow
  * fingerprint index, on the [[StoreKernel]] contract — q152's daily
  * probe reads (doc_id, fp) from here instead of re-winnowing a history
  * that grows a batch per day and shrinks under takedown.
  *
  * {{{
  *   <dir>/fps/day=N/   (doc_id, fp)          winnowed fingerprints
  *   <dir>/meta/        (day, n_docs, digest) digest over (doc_id, text)
  * }}}
  *
  * The digest covers the SOURCE text ([[SignatureStore.digestOf]]), which
  * openFresh re-digests from the offered history; the fps are a lossy
  * derivation.
  */
object WinnowStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.winnowstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store. */
  val TrustKey = "spark.graft.winnowstore.trust"

  private val face = StoreKernel.DayFace("winnowstore", "meta", "n_docs", Seq("fps"), sparse = true)

  private def writeDay(dir: String, day: Int, docBatch: DataFrame): Unit =
    StoreKernel.pinned(docBatch) { batch =>
      face.write(graft.operators.SubstringDedup.charWinnowOf(batch), dir, "fps", day)
      face.commit(batch.sparkSession, dir, day, SignatureStore.digestOfPinned(batch))
    }

  /** Build a fresh store at `dir` from the full history (replacing any
    * prior content), recorded as `day`. */
  def build(docRel: DataFrame, dir: String, day: Int = 0): Unit = {
    StoreKernel.replace(docRel.sparkSession, dir)
    writeDay(dir, day, docRel)
  }

  /** Append one ingest day: winnow ONLY the batch. Idempotent per day —
    * the property [[graft.streaming.WinnowMaintainer]] relies on. */
  def advanceDay(docBatch: DataFrame, dir: String, day: Int): Unit = {
    retireDay(docBatch.sparkSession, dir, day)
    writeDay(dir, day, docBatch)
  }

  /** Retire one day (takedown/expiry). */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    face.retire(spark, dir, day)

  /** The stored fingerprint index (doc_id, fp) for this history, IF
    * configured and fresh; callers otherwise fall back to
    * `charWinnowOf(history)`. */
  def openFresh(histRel: DataFrame): Option[DataFrame] = {
    val spark = histRel.sparkSession
    StoreKernel.open(spark, DirKey, face.tag) { dir =>
      face.fresh(spark, dir, StoreKernel.trusted(spark, TrustKey),
        SignatureStore.digestOf(histRel)).map { m =>
        face.read(spark, dir, "fps", m.live)(
          StoreKernel.empty(spark, "doc_id BIGINT, fp BIGINT")).select("doc_id", "fp")
      }
    }
  }
}
