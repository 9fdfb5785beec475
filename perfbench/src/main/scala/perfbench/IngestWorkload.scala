package perfbench

import java.io.File
import java.sql.{DriverManager, Timestamp}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.jobs.{CompactionJob, CompactorJob}
import graft.sources.BronzeReader
import graft.streaming.StreamingIngest

/** The paper's write path on a seeded bronze corpus: a batch phase (every
  * key registered in a fresh Derby store, `CompactorJob.run` per district
  * until nothing is claimed, then `CompactionJob.run`) and a stream phase
  * (`StreamingIngest` with AvailableNow over the same bronze, into a
  * second silver target). One pass is one such cycle with its own store
  * and targets; the bronze corpus is generated once in set-up. */
class IngestWorkload(spec: Corpus.Spec, warmSpec: Corpus.Spec, val passes: Int)
    extends Workload {

  private var bronze: Corpus.Manifest = _
  private var bronzeRoot: File = _

  /** The latest pass, read by [[layers]] after the traced pass. */
  private var lastCycle: Cycle = _

  private case class Batch(seconds: Double, r: CompactorJob.Result, span: Option[Span])
  private case class Cycle(batches: Seq[Batch], drainS: Double, compaction: CompactionJob.Result,
      compactionS: Double, streamS: Double, streamRows: Long, silverRows: Long,
      silver: String, silverFiles: Seq[File], compactionSpan: Option[Span], streamSpans: Seq[Span]) {
    def batchSpans: Seq[Span] = batches.flatMap(_.span)
  }

  /** Compaction threshold: a partition with more data files than this is
    * rewritten. Lower than the job's default so a corpus of a few hours
    * per district already fragments (the warm-up uses 1). */
  val MaxFiles = 2

  private var warm: Corpus.Manifest = _
  private var warmRoot: File = _

  override def prepare(work: File, seed: Long, cores: Int): Unit = {
    bronzeRoot = new File(work, "ingest/bronze")
    bronze = Corpus.generate(bronzeRoot, spec, seed, cores)
    Console.err.println(s"[ingest] corpus: ${bronze.files.size} files, ${bronze.rows} rows, " +
      s"${bronze.corrupt} corrupt, ${bronze.late} late, ${bronze.drift} drift rows, " +
      s"${bronze.bytes} gz bytes, ${spec.fields} fields")
    // The warm-up corpus: small, with a seed of its own.
    warmRoot = new File(work, "ingest/warm_bronze")
    warm = Corpus.generate(warmRoot, warmSpec, seed ^ 0x5eed, cores)
  }

  def setup(ctx: Ctx): Unit = {
    // Warm-up: the same cycle over the small corpus, so JIT and codegen
    // are warm before the timed drain.
    Trace.span("core", "warmup") {
      val c = cycle(ctx, warm, warmRoot, warmSpec, "warm", maxFiles = 1)
      checkCycle(ctx, warm, warmSpec, c, "warm-up", maxFiles = 1)
    }
  }

  def pass(ctx: Ctx, i: Int): Pass = {
    val c = cycle(ctx, bronze, bronzeRoot, spec, s"c$i")
    checkCycle(ctx, bronze, spec, c, s"cycle $i")
    lastCycle = c
    val silverBytes = c.silverFiles.map(_.length).sum.toDouble
    Pass(c.drainS + c.compactionS + c.streamS, c.batches.map(_.seconds * 1000),
      Seq(
        ("ingest_rows_per_s", bronze.rows / c.drainS, "1/s"),
        ("compaction_s", c.compactionS, "s"),
        ("stream_rows_per_s", c.streamRows / c.streamS, "1/s"),
        ("silver_bytes_per_bronze_byte", silverBytes / bronze.bytes, "ratio")))
  }

  def figures(ps: Seq[Pass]): Seq[(String, Double, String)] = {
    def med(name: String) = Stats.median(ps.map(_.figures.find(_._1 == name).get._2))
    val batches = ps.flatMap(_.opsMs)
    Seq(
      ("ingest_rows_per_s", med("ingest_rows_per_s"), "1/s"),
      ("ingest_batch_p50_s", Stats.median(batches) / 1000, "s"),
      ("ingest_batch_samples", batches.size.toDouble, "count"),
      ("compaction_s", med("compaction_s"), "s"),
      ("stream_rows_per_s", med("stream_rows_per_s"), "1/s"),
      ("silver_bytes_per_bronze_byte", med("silver_bytes_per_bronze_byte"), "ratio"),
      ("ingest_rows_per_hour", med("ingest_rows_per_s") * 3600, "1/h"))
  }

  /** One full cycle over `corpus` with a fresh store and fresh targets. */
  private def cycle(ctx: Ctx, corpus: Corpus.Manifest, root: File, sp: Corpus.Spec,
      tag: String, maxFiles: Int = MaxFiles): Cycle = {
    val spark = ctx.spark
    val dir = ctx.dir(s"ingest/$tag")
    Corpus.deleteTree(dir)
    val silver = new File(dir, "silver").getPath
    val streamSilver = new File(dir, "silver_stream").getPath
    val url = s"jdbc:derby:memory:perfbench_$tag;create=true"
    val store = new TracedStateStore(url)
    try {
      store.ensureTable()
      corpus.files.foreach(f => store.register(f.key, f.district, new Timestamp(f.uploadMs)))

      // Batch phase: each district drained until nothing is claimed, and
      // again while a drift requeue re-opened keys.
      val batches = ArrayBuffer.empty[Batch]
      val (_, drainS) = Time.secs {
        var more = true
        while (more) {
          more = false
          for ((district, _) <- sp.districts) {
            var claimed = 1
            while (claimed > 0) {
              val runId = s"$tag-$district-${batches.size}"
              val (r, s) = Time.secs(ctx.op(s"CompactorJob.run $runId") {
                Trace.span("jobs", "CompactorJob.run")(
                  (CompactorJob.run(spark, store, runId, district, silver, keyLimit = sp.devices),
                    Trace.current))
              })
              claimed = r.fold(0)(_._1.claimed)
              r.filter(_._1.claimed > 0).foreach { case (res, span) =>
                batches += Batch(s, res, span); more = true
                Console.err.println(f"[ingest] $runId: ${res.claimed} keys, ${res.rows} rows, " +
                  f"${res.quarantined} quarantined, requeued ${res.requeued} in $s%.2f s")
              }
            }
          }
        }
      }

      val ((compaction, compactionSpan), compactionS) = Time.secs {
        Trace.span("jobs", "CompactionJob.run") {
          val r = ctx.op("CompactionJob.run")(CompactionJob.run(spark, silver, maxFiles = maxFiles))
            .getOrElse(CompactionJob.Result(Nil, -1L, -2L))
          (r, Trace.current)
        }
      }

      // Stream phase: the registry's merged schema, one AvailableNow query
      // per district over that district's jobsite.
      val schema = BronzeReader.withCorruptColumn(
        store.loadSchema(CompactorJob.SchemaDataset).getOrElse(
          throw new IllegalStateException("no schema registered by the batch phase")))
      val streamStart = Trace.all.size
      val (_, streamS) = Time.secs {
        for ((district, site) <- sp.districts) ctx.op(s"StreamingIngest $district") {
          Trace.span("streaming", "StreamingIngest") {
            val q = StreamingIngest.start(spark, new File(root, s"$site/*/*").getPath, schema,
              streamSilver, new File(dir, s"ckpt/$district").getPath, district)
            q.awaitTermination()
            q.exception.foreach(e => throw e)
          }
        }
      }
      val streamSpans = Trace.all.drop(streamStart).filter(_.layer == "streaming")
      val streamRows = spark.read.parquet(streamSilver).count()
      val silverRows = spark.read.parquet(silver).count()
      checkStore(ctx, url, corpus, tag)
      Cycle(batches.toSeq, drainS, compaction, compactionS, streamS, streamRows, silverRows,
        silver, Files.dataFiles(new File(silver)), compactionSpan, streamSpans)
    } finally store.close()
  }

  /** Every registered key ends SUCCESS: read the control table directly. */
  private def checkStore(ctx: Ctx, url: String, corpus: Corpus.Manifest, tag: String): Unit = {
    val c = DriverManager.getConnection(url.stripSuffix(";create=true"))
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT count(*) FROM tbl_t_upload_datalog WHERE is_upload_s3 = 'true' " +
          "AND compression_status = 'SUCCESS'")
      rs.next()
      val ok = rs.getLong(1)
      ctx.check(s"$tag: every key SUCCESS", ok == corpus.files.size, s"$ok of ${corpus.files.size}")
    } finally c.close()
  }

  private def checkCycle(ctx: Ctx, corpus: Corpus.Manifest, sp: Corpus.Spec, c: Cycle,
      tag: String, maxFiles: Int = MaxFiles): Unit = {
    val spark = ctx.spark
    // The drift requeue replays the two batches read since the registry
    // last learned: the first district's two newest hours.
    val replayed = corpus.files.filter(f =>
      f.district == sp.districts.head._1 && f.hour >= sp.hours - 2)
    val requeued = c.batches.map(_.r.requeued).sum
    ctx.check(s"$tag: drift requeue", requeued == replayed.size, s"requeued $requeued")
    val quarantined = c.batches.map(_.r.quarantined).sum
    val expectQ = corpus.corrupt + replayed.map(_.corrupt).sum
    ctx.check(s"$tag: quarantined = planted", quarantined == expectQ,
      s"quarantined $quarantined, planted ${corpus.corrupt} (+${expectQ - corpus.corrupt} replayed)")
    ctx.check(s"$tag: batch silver rows = bronze - corrupt", c.silverRows == corpus.rows,
      s"${c.silverRows} vs ${corpus.rows}")
    val agg = spark.read.parquet(c.silver).agg(
      count(col(Corpus.DriftField)).as("drift"),
      countDistinct(col("source_file"), col("heartbeat")).as("distinct"),
      count(lit(1)).as("n"),
      sum(when(col("hiveperiod") < lit(sp.day.toString).cast("date"), 1).otherwise(0)).as("late"))
      .head()
    ctx.check(s"$tag: drift column non-null = rows carrying it", agg.getLong(0) == corpus.drift,
      s"${agg.getLong(0)} vs ${corpus.drift}")
    ctx.check(s"$tag: no duplicate (source_file, heartbeat)", agg.getLong(1) == agg.getLong(2),
      s"${agg.getLong(1)} distinct of ${agg.getLong(2)}")
    ctx.check(s"$tag: late rows in the previous day", agg.getLong(3) == corpus.late,
      s"${agg.getLong(3)} vs ${corpus.late}")
    ctx.check(s"$tag: compaction verified", c.compaction.verified && c.compaction.compacted.nonEmpty &&
      c.silverFiles.groupBy(_.getParentFile).values.forall(_.size <= maxFiles),
      s"${c.compaction}")
    ctx.check(s"$tag: stream silver rows = batch silver rows", c.streamRows == c.silverRows,
      s"${c.streamRows} vs ${c.silverRows}")
  }

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val c = lastCycle
    val top = spans.filter(s => s.layer == "state" &&
      spans.find(_.id == s.parent).forall(_.layer != "state"))
    def stateMs(name: String) = top.filter(_.name == name).map(_.durMs.toDouble).sum
    val inDrain = top.filter(s => c.batchSpans.exists(b => s.start >= b.start && s.end <= b.end))
    val nb = c.batchSpans.size.max(1)
    val driverOnly = c.batchSpans.map(b => b.durMs - Trace.union(Trace.jobIntervals(b), b.start, b.end))
    val jobsCpu = c.batchSpans.map(b => Trace.sum(b)(_.cpuNs.get)).sum / 1e9
    val outBytes = (c.batchSpans ++ c.compactionSpan).map(b => Trace.sum(b)(_.outBytes.get)).sum
    val inBytes = c.batchSpans.map(b => Trace.sum(b)(_.inBytes.get)).sum
    val silverBytes = c.silverFiles.map(_.length).sum.toDouble
    val parts = c.silverFiles.map(_.getParentFile).distinct.size
    val prog = Trace.progress.toArray(Array.empty[org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent])
      .map(_.progress).toSeq
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    Map(
      "state.claim_ms" -> stateMs("claim"),
      "state.ack_ms" -> stateMs("ack"),
      "state.schema_ms" -> stateMs("schema"),
      "state.calls" -> inDrain.size.toDouble,
      "jobs.batches" -> c.batchSpans.size.toDouble,
      "jobs.spark_jobs_per_batch" -> c.batchSpans.map(b => Trace.sum(b)(_.jobs.get.toLong)).sum.toDouble / nb,
      "jobs.driver_only_s_per_batch" -> driverOnly.sum / 1000.0 / nb,
      "jobs.executor_cpu_s" -> jobsCpu,
      "jobs.requeued_keys" -> c.batches.map(_.r.requeued).sum.toDouble,
      "jobs.quarantined_rows" -> c.batches.map(_.r.quarantined).sum.toDouble,
      "jobs.compaction_spark_jobs" -> c.compactionSpan.map(s => Trace.sum(s)(_.jobs.get.toLong)).getOrElse(0L).toDouble,
      "jobs.compaction_executor_cpu_s" -> c.compactionSpan.map(s => Trace.sum(s)(_.cpuNs.get)).getOrElse(0L) / 1e9,
      "sources.bronze_input_bytes" -> inBytes.toDouble,
      "sources.output_bytes" -> outBytes.toDouble,
      "sources.write_amplification" -> outBytes / silverBytes,
      "sources.silver_files" -> c.silverFiles.size.toDouble,
      "sources.silver_files_per_partition" -> c.silverFiles.size.toDouble / parts.max(1),
      "sources.silver_bytes" -> silverBytes,
      "streaming.batches" -> prog.count(_.numInputRows > 0).toDouble,
      "streaming.trigger_ms_p50" -> (if (prog.isEmpty) 0.0 else Stats.median(dur("triggerExecution"))),
      "streaming.add_batch_ms" -> dur("addBatch").sum,
      "streaming.latest_offset_ms" -> dur("latestOffset").sum,
      "streaming.query_planning_ms" -> dur("queryPlanning").sum,
      "streaming.wal_commit_ms" -> dur("walCommit").sum,
      "streaming.executor_cpu_s" -> c.streamSpans.map(s => Trace.sum(s)(_.cpuNs.get)).sum / 1e9)
  }
}
