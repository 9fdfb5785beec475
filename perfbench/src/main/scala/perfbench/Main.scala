package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One run of one workload:
  *
  *   Main --workload ingest|dashboard|curation --seed N --seconds S
  *        --trace 0|1 --work DIR --data DIR
  *
  * Set-up (session start, warm-up, corpus or lake build) is timed as
  * `setup_s`; then one closed-loop client thread runs the workload's
  * passes. Every end-to-end figure is printed by name with its unit, and
  * the last stdout line is the JSON result. With `--trace 1` two untraced
  * passes are followed by one traced pass; the per-layer metrics come from
  * the traced pass, and its wall time minus the second untraced pass's is
  * the tracing overhead. Exits 1 if any operation or check failed.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val workload: Workload = Workloads(name, seconds)

    val heap = new HeapAfterGc
    val fcpuBefore = LoadSentinel.foreignCpu()
    val (steal0, ticks0) = LoadSentinel.stealTicks()
    Trace.enabled = traced
    Corpus.deleteTree(work)
    work.mkdirs()

    val t0 = System.nanoTime()
    val prepared = new Thread(() => workload.prepare(work, seed, cores), "prepare")
    prepared.start()
    val (spark, sessionS) = Time.secs(Trace.span("core", "session start")(session(cores, work)))
    spark.sparkContext.addSparkListener(ExecutorCpu)
    prepared.join()
    val ctx = new Ctx(spark, work, seed, new File(opt("data")))
    try {
      workload.setup(ctx)
      val setupS = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"[perfbench] $name set-up $setupS%.2f s (session $sessionS%.2f s)")

      // One closed-loop client: each pass (and each operation in it) starts
      // only after the previous one completed.
      def client[T](body: => T): T = {
        var out: Either[Throwable, T] = Left(new IllegalStateException("client did not run"))
        val th = new Thread(() => out = try Right(body) catch { case e: Throwable => Left(e) }, "client")
        th.start(); th.join()
        out.fold(e => throw e, identity)
      }
      val (passes, layerMetrics) = client {
        if (!traced) ((0 until workload.passes).map(i => ExecutorCpu.measure(spark)(workload.pass(ctx, i))),
          Map.empty[String, Double])
        else {
          // An untraced pass that only warms further, the untraced
          // reference pass, then the traced pass.
          Trace.enabled = false
          workload.pass(ctx, 0)
          val plain = workload.pass(ctx, 1)
          Trace.attach(spark)
          Trace.enabled = true
          Trace.progress.clear()
          val mark = Trace.mark()
          val tracedPass = ExecutorCpu.measure(spark)(Trace.span("core", "traced pass")(workload.pass(ctx, 2)))
          Trace.drain(spark)
          val spans = Trace.all.filter(_.id >= mark)
          val m = Layers.all ++ workload.layers(ctx, spans) ++ Layers.selfTimes(spans) ++ Map(
            "core.session_start_s" -> sessionS,
            "core.warmup_s" -> Trace.all.filter(_.name == "warmup").map(_.durMs).sum / 1000.0,
            "trace.spans" -> Trace.all.size.toDouble,
            "trace.overhead_s" -> (tracedPass.workS - plain.workS))
          (Seq(tracedPass), m)
        }
      }
      val (steal1, ticks1) = LoadSentinel.stealTicks()
      val fcpuAfter = LoadSentinel.foreignCpu()
      heap.stop()

      val ops = passes.flatMap(_.opsMs)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("work_s", Stats.median(passes.map(_.workS)), "s"),
        ("work_cpu_s", Stats.median(passes.map(_.cpuS)), "s"),
        ("peak_heap_mb", heap.peakMb, "MB"))
      val figures = workload.figures(passes) ++ Seq(
        ("op_p50_ms", Stats.median(ops), "ms"),
        ("passes", passes.size.toDouble, "count"),
        ("operations", ops.size.toDouble, "count"),
        ("error_rate", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio"),
        ("nproc", cores.toDouble, "count"),
        ("foreign_cpu_before", fcpuBefore, "cores"),
        ("foreign_cpu_after", fcpuAfter, "cores"),
        ("steal_share", (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0), "ratio"))
      (e2e ++ figures).foreach { case (k, v, u) => println(f"$name%-9s $k%-32s ${fmt(v)}%14s $u") }
      if (traced) {
        Trace.writeJsonLines(new File(work, s"spans-$name-$seed.jsonl"))
        layerMetrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"$name%-9s $k%-40s ${fmt(v)}%14s") }
      }
      val metrics =
        if (traced) layerMetrics.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Layers.unit(k)) }
        else e2e
      println(Json.obj(Seq(
        "correct" -> (ctx.failed == 0).toString,
        "attempted" -> ctx.attempted.toString,
        "failed" -> ctx.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    } finally spark.stop()
    System.exit(if (ctx.failed == 0) 0 else 1)
  }

  /** The program's session factory on local[cores], with scratch space
    * inside `work`. */
  def session(cores: Int, work: File): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"
}

object Workloads {
  def apply(name: String, seconds: Int): Workload = name match {
    case "ingest" => new IngestWorkload(
      Corpus.Spec(Seq("DISTRICTA" -> "site-a", "DISTRICTB" -> "site-b"),
        devices = 3, hours = 4, rowsPerFile = 60),
      Corpus.Spec(Seq("WARMA" -> "warm-a"), devices = 2, hours = 4, rowsPerFile = 10),
      passes = math.max(1, seconds / 10))
    case "dashboard" => new DashboardWorkload(days = 2, unitsPerDistrict = 4, requests = 2 * seconds)
    case "curation" => new CurationWorkload
    case other => sys.error(s"unknown workload '$other' (ingest, dashboard, curation)")
  }
}

/** Executor CPU time of every task, the load-robust companion of the wall
  * times: time the hypervisor takes from the machine does not count. */
object ExecutorCpu extends org.apache.spark.scheduler.SparkListener {
  private val ns = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => ns.addAndGet(m.executorCpuTime))

  /** Run a pass and record the executor CPU its tasks used. */
  def measure(spark: SparkSession)(pass: => Pass): Pass = {
    Trace.drain(spark)
    val before = ns.get
    val p = pass
    Trace.drain(spark)
    p.copy(cpuS = (ns.get - before) / 1e9)
  }
}

/** Foreign CPU: whole-machine CPU minus this JVM's, in cores, medianed over
  * four 150 ms samples (the method Bench records beside its numbers); and
  * the share of CPU time the hypervisor took from this machine (steal). */
object LoadSentinel {
  /** (steal, total) jiffies so far, from /proc/stat; (0, 0) elsewhere. */
  def stealTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally src.close()
    }
  }

  def foreignCpu(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean =>
      val s = (1 to 4).flatMap { _ =>
        Thread.sleep(150)
        val all = b.getCpuLoad
        val self = b.getProcessCpuLoad
        if (all < 0 || self < 0) None else Some(math.max(0.0, all - self))
      }
      if (s.isEmpty) -1.0 else Stats.median(s) * Runtime.getRuntime.availableProcessors
    case _ => -1.0
  }
}

/** Peak heap this JVM kept live: the largest heap occupancy right after
  * a garbage collection, from the collectors' own notifications. The
  * occupancy before a collection only says when the collector ran. */
final class HeapAfterGc {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, after) }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Collect once more so the live heap at the end counts too, then stop. */
  def stop(): Unit = {
    System.gc()
    Thread.sleep(100)
    emitters.foreach(_.removeNotificationListener(listener))
  }
  def peakMb: Double = peak / 1048576.0
}
