package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.types.StructType

import graft.state.JdbcStateStore

/** The control-plane store the compactor is handed, timed from outside:
  * every public call opens a `state` span (a no-op with tracing off). */
class TracedStateStore(url: String) extends JdbcStateStore(url) {
  private def t[T](name: String)(body: => T): T = Trace.span("state", name)(body)

  override def register(key: String, district: String, uploadedAt: Timestamp): Unit =
    t("register")(super.register(key, district, uploadedAt))
  override def claim(runId: String, limit: Int, district: Option[String]): Seq[String] =
    t("claim")(super.claim(runId, limit, district))
  override def ack(runId: String): Int = t("ack")(super.ack(runId))
  override def release(runId: String): Int = t("release")(super.release(runId))
  override def requeueSuccessSince(since: Timestamp): Int =
    t("requeue")(super.requeueSuccessSince(since))
  override def loadSchema(dataset: String): Option[StructType] =
    t("schema")(super.loadSchema(dataset))
  override def schemaUpdatedAt(dataset: String): Option[Timestamp] =
    t("schema")(super.schemaUpdatedAt(dataset))
  override def mergeSchema(dataset: String, observed: StructType): StructType =
    t("schema")(super.mergeSchema(dataset, observed))
}
