package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.{SemanticDeconStore, StoreKernel}
import graft.state.JdbcStateStore

/** Streaming maintenance of the semantic decontamination store
  * ([[SemanticDeconStore]]) — the [[VideoSegMaintainer]] contract for
  * SUITE EDITS (VERDICT r13 next-5): a benchmark release, revision, or
  * takedown arrives as a micro-batch of edit events, and the store's
  * per-benchmark partitions advance/retire exactly once — so
  * [[DeconGate.flagSemantic]]'s store-served path stays fresh through
  * suite churn without anyone hand-running `advanceBenchmark`.
  *
  * Event schema: `(bench, action, vec_id, embedding)` with `action` ∈
  * {"advance", "retire"}. Within one batch retires apply FIRST, so an
  * edit that replaces a benchmark (retire + advance rows in the same
  * batch) lands as the new content; a retire needs no embeddings
  * (its vec_id/embedding are ignored).
  *
  * Exactly-once via [[StoreKernel.advanceOnce]] over the shared
  * [[SuiteEditBatch]] protocol; suite edits are benchmark-sized, never
  * corpus-sized.
  */
object SemanticDeconMaintainer {

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
    SuiteEditBatch(batch)(SemanticDeconStore.retireBenchmark(_, batch.sparkSession, dir),
      (b, rows) => SemanticDeconStore.advanceBenchmark(b, rows.select("vec_id", "embedding"), dir))
}
