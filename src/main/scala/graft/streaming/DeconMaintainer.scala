package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{DeconStore, StoreKernel}
import graft.state.JdbcStateStore

/** Streaming maintenance of the GRAM decontamination store
  * ([[DeconStore]]) — [[SemanticDeconMaintainer]]'s contract for the
  * exact-match eye (r15): a benchmark release, revision, or takedown
  * arrives as a micro-batch of edit events and the store's
  * per-benchmark (fps, grams) partitions advance/retire exactly once,
  * so [[DeconGate.flag]]'s store-served path — and through it the
  * composed two- and three-eye gates — stays fresh through suite churn
  * without anyone hand-running `advanceBenchmark`. Before this, the
  * semantic eye's store streamed suite edits while the gram eye's was
  * maintained by hand: the composed gate reads BOTH stores, so suite
  * churn has to flow into both or the slower one drags every verdict
  * back to the inline arm.
  *
  * Event schema: `(bench, action, doc_id, text)` with `action` ∈
  * {"advance", "retire"}. Within one batch retires apply FIRST, so a
  * replacement (retire + advance rows in the same batch) lands as the
  * new content; a retire needs no docs (its doc_id/text are ignored).
  *
  * Exactly-once via [[StoreKernel.advanceOnce]] over the shared
  * [[SuiteEditBatch]] protocol; suite edits are benchmark-sized, never
  * corpus-sized.
  */
object DeconMaintainer {

  /** Apply one micro-batch of suite edits exactly once; returns true
    * when this call applied them. */
  def applyBatch(batch: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String, batchId: Long): Boolean =
    StoreKernel.advanceOnce(store, sinkId, batchId)(apply(batch, dir))

  /** Wire a streaming suite-edit DataFrame into the maintainer. */
  def exactlyOnce(stream: DataFrame, store: JdbcStateStore, sinkId: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    StoreKernel.exactlyOnce(stream, store, sinkId)((df, _) => apply(df, dir))

  private def apply(batch: DataFrame, dir: String): Unit =
    SuiteEditBatch(batch)(DeconStore.retireBenchmark(_, batch.sparkSession, dir),
      (b, rows) => DeconStore.advanceBenchmark(b, rows.select("doc_id", "text"), dir))
}
