package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call the harness made into a layer, plus the Spark work the
  * listener attributed to it. Times are epoch milliseconds, the clock the
  * Spark listener events carry. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
    val start: Long) {
  @volatile var end: Long = 0L
  val jobs, stages, tasks = new AtomicInteger
  val runMs, cpuNs, gcMs, inBytes, outBytes, shuffleRead, shuffleWrite, spill = new AtomicLong
  /** (start, end) of every Spark job submitted under this span. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]
  def durMs: Long = end - start
}

/** Spans recorded from outside the program: the harness wraps each call it
  * makes into a layer with [[Trace.span]], and a [[SparkListener]]
  * attributes jobs, stages and task metrics to the innermost span of the
  * thread that submitted them (carried by a Spark local property, which
  * child threads such as the compaction pool and the stream thread
  * inherit). Off unless [[Trace.enabled]] is set, in which case
  * [[Trace.span]] only runs its body. */
object Trace {
  val SpanProp = "perfbench.span"
  val runId: String = java.util.UUID.randomUUID().toString

  @volatile var enabled = false
  @volatile private var sc: Option[SparkContext] = None
  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** The innermost open span of this thread. */
  def current: Option[Span] = stack.get().headOption

  /** Id the next span will get: spans with ids at or above a mark taken
    * before a pass are that pass's spans. */
  def mark(): Int = nextId.get()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val s = new Span(nextId.getAndIncrement(), outer.headOption.fold(0)(_.id), layer, name,
        System.currentTimeMillis())
      spans.add(s); byId.put(s.id, s)
      stack.set(s :: outer)
      sc.foreach(_.setLocalProperty(SpanProp, s.id.toString))
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack.set(outer)
        sc.foreach(_.setLocalProperty(SpanProp, outer.headOption.map(_.id.toString).orNull))
      }
    }

  /** Register the listeners; from here on spans collect Spark work. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(Work)
    spark.streams.addListener(Progress)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)

  private object Work extends SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]
    private val stageSpan = new ConcurrentHashMap[Int, Span]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.jobs.incrementAndGet()
          jobSpan.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageSpan.put(_, s))
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) => s.jobIntervals.add((t0, e.time)) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        s.tasks.incrementAndGet()
        s.runMs.addAndGet(m.executorRunTime)
        s.cpuNs.addAndGet(m.executorCpuTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.inBytes.addAndGet(m.inputMetrics.bytesRead)
        s.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) { progress.add(e); () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ---- reports over the recorded spans ------------------------------

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Long = s.durMs - union(children(s).map(c => (c.start, c.end)), s.start, s.end)

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def union(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    iv.toSeq.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Spark job intervals of `s` and everything under it. */
  def jobIntervals(s: Span): Seq[(Long, Long)] =
    s.jobIntervals.asScala.toSeq ++ children(s).flatMap(jobIntervals)

  /** A span's Spark work summed over its subtree. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def sum(s: Span)(f: Span => Long): Long = subtree(s).map(f).sum

  /** The spans as JSON lines: name, layer, start, end, parent, run id and
    * the Spark work attributed directly to each. */
  def writeJsonLines(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "jobs" -> s.jobs.get.toString, "stages" -> s.stages.get.toString,
        "tasks" -> s.tasks.get.toString, "executor_run_ms" -> s.runMs.get.toString,
        "executor_cpu_ns" -> s.cpuNs.get.toString, "gc_ms" -> s.gcMs.get.toString,
        "input_bytes" -> s.inBytes.get.toString, "output_bytes" -> s.outBytes.get.toString,
        "shuffle_read_bytes" -> s.shuffleRead.get.toString,
        "shuffle_write_bytes" -> s.shuffleWrite.get.toString,
        "spill_bytes" -> s.spill.get.toString)))
    } finally w.close()
  }
}
