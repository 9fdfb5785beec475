package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.StoreKernel

/** The suite-edit protocol of the decon-store maintainers
  * ([[SemanticDeconMaintainer]], [[DeconMaintainer]], the suite face of
  * [[VerdictMaintainer]]), applied exactly once per micro-batch through
  * [[StoreKernel.advanceOnce]]:
  *
  *  - the batch is pinned across the event collect and every advance;
  *  - retires apply FIRST, so a replacement (retire + advance in one
  *    batch) lands as the new content;
  *  - an UNKNOWN action fails LOUD before anything applies and before
  *    the marker commits — marking the batch would lose the edit for
  *    good, failing it makes Structured Streaming redeliver it.
  */
private[streaming] object SuiteEditBatch {

  /** Apply one micro-batch of (bench, action, …payload) edit events;
    * `advance` receives the pinned batch's rows for its benchmark. */
  def apply(batch: DataFrame)(retire: String => Unit,
      advance: (String, DataFrame) => Unit): Unit =
    StoreKernel.pinned(batch) { pinned =>
      // one row per (benchmark, action): suite edits are benchmark-sized
      val events = pinned.select("bench", "action").distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
      val unknown = events.filter(e => e._2 != "advance" && e._2 != "retire")
      require(unknown.isEmpty,
        s"unknown suite-edit action(s) ${unknown.mkString(", ")} — " +
          "refusing to commit a batch that would silently drop edits")
      events.collect { case (b, "retire") => b }.sorted.foreach(retire)
      events.collect { case (b, "advance") => b }.sorted.foreach(b =>
        advance(b, pinned.filter(col("bench") === b && col("action") === "advance")))
    }
}
