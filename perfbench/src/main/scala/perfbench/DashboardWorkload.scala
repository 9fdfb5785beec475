package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.analytics.Dashboard
import graft.jobs.CompactionJob
import graft.sources.{BronzeReader, SilverWriter}

/** The read path: a multi-day, two-district silver lake built in set-up
  * from a seeded bronze corpus through the program's own reader and writer
  * (`BronzeReader`, `SilverWriter.enrich`/`write` appends), then
  * `CompactionJob` on every day but the newest, which stays
  * fragmented in hourly appends as it would between compactions. The timed
  * pass is one client issuing a seeded mix of `Dashboard.unitList` and
  * `Dashboard.telemetrySlice` → `perMinuteDeviation` requests against a
  * fresh read of the lake, collecting each result. */
class DashboardWorkload(days: Int, unitsPerDistrict: Int, requests: Int)
    extends Workload {

  val Districts = Seq("DISTRICTA", "DISTRICTB")
  val FirstDay: LocalDate = LocalDate.of(2024, 3, 1)

  private var lake: String = _

  private sealed trait Req { def day: LocalDate; def district: String }
  private case class UnitList(day: LocalDate, district: String) extends Req
  private case class Slice(day: LocalDate, district: String, units: Seq[String], hours: (Int, Int))
      extends Req
  private case class Done(req: Req, ms: Double, span: Option[Span], planningMs: Double,
      files: Long, bytes: Long, rows: Array[String])

  /** The latest pass's requests, read by [[layers]] after the traced pass. */
  private var last = Seq.empty[Done]

  val passes = 1

  private def spec(d: Int) = Corpus.Spec(Districts.map(x => x -> x.toLowerCase), unitsPerDistrict,
    hours = 24, rowsPerFile = 60, day = FirstDay.plusDays(d))
  private var bronze: Seq[Corpus.Manifest] = Nil

  /** One bronze file per unit per hour, one row per unit-minute. */
  override def prepare(work: File, seed: Long, cores: Int): Unit =
    bronze = (0 until days).map { d =>
      Corpus.generate(new File(work, s"dashboard/bronze/day$d"), spec(d), seed + d, cores)
    }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    lake = ctx.dir("dashboard/lake").getPath
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      Console.err.println(f"[dashboard] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // Read and written the way the compactor does it: schema read, corrupt
    // lines quarantined, enriched, appended `hours` hours at a time.
    val schema = BronzeReader.withCorruptColumn(Corpus.schema(spec(0)))
    def appendDay(d: Int, hours: Int): Unit = for (from <- 0 until 24 by hours) {
      val parts = Districts.map { district =>
        val keys = bronze(d).files
          .filter(f => f.district == district && f.hour >= from && f.hour < from + hours).map(_.key)
        SilverWriter.enrich(BronzeReader.quarantine(BronzeReader.read(spark, keys, schema))._1, district)
      }
      Trace.span("sources", "SilverWriter.write")(SilverWriter.write(parts.reduce(_ union _), lake))
    }
    // Compaction rewrites a day to one file per partition however it was
    // appended, so the days it takes are appended in halves: hourly, they
    // would add ~10 s of set-up per run and leave the same layout.
    (0 until days - 1).foreach(appendDay(_, 12))
    phase("appended")
    val c = Trace.span("jobs", "CompactionJob.run")(CompactionJob.run(spark, lake, maxFiles = 1))
    ctx.check("lake compaction verified", c.verified && c.compacted.nonEmpty, c.toString)
    phase("compacted")
    appendDay(days - 1, 1)
    phase("newest day appended")
    val files = Files.dataFiles(new File(lake))
    val rows = spark.read.parquet(lake).count()
    ctx.check("lake rows = bronze rows", rows == bronze.map(_.rows).sum, s"$rows rows")
    Console.err.println(s"[dashboard] lake: ${files.size} files, ${files.map(_.length).sum} bytes, $rows rows")
    // Warm-up requests, from a seed stream of their own.
    Trace.span("core", "warmup") {
      mix(new java.util.Random(ctx.seed ^ 0x5eed), 2).foreach(r => request(ctx, r))
    }
    phase("warm")
  }

  /** `n` requests of a fixed make-up, so every seed asks for the same
    * work: every fourth a unit list, the rest slices of 1–3 units over
    * 2–4 hours, spread evenly over days and districts. The seed picks the
    * units, the start hour and the order. */
  private def mix(rng: java.util.Random, n: Int): Seq[Req] = {
    val r = scala.util.Random.javaRandomToRandom(rng)
    r.shuffle((0 until n).map { i =>
      val day = FirstDay.plusDays((i / 4) % days)
      val district = Districts((i / 8) % Districts.size)
      if (i % 4 == 0) UnitList(day, district)
      else {
        val units = r.shuffle((0 until unitsPerDistrict).toList).take(1 + i % 3)
          .map(Corpus.unitName(district, _))
        val span = 1 + (i / 4) % 3
        val from = r.nextInt(24 - span)
        Slice(day, district, units, (from, from + span))
      }
    })
  }

  private def frame(spark: SparkSession, r: Req): DataFrame = {
    val silver = spark.read.parquet(lake)
    r match {
      case UnitList(day, district) => Dashboard.unitList(silver, day.toString, district)
      case Slice(day, district, units, hours) =>
        Dashboard.perMinuteDeviation(
          Dashboard.telemetrySlice(silver, day.toString, district, units, hours))
    }
  }

  private def request(ctx: Ctx, r: Req): Option[Done] = {
    val kind = r match { case _: UnitList => "Dashboard.unitList"; case _ => "Dashboard.slice" }
    val t0 = System.nanoTime()
    ctx.op(kind) {
      Trace.span("analytics", kind) {
        val df = frame(ctx.spark, r)
        val got = df.collect().map(_.toSeq.mkString("|"))
        val rows = if (r.isInstanceOf[UnitList]) got.sorted else got
        val ms = (System.nanoTime() - t0) / 1e6
        val planning = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        val sc = scans(df.queryExecution.executedPlan)
        def m(k: String) = sc.flatMap(_.metrics.get(k)).map(_.value).sum
        Done(r, ms, Trace.current, planning, m("numFiles"), m("filesSize"), rows)
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  def pass(ctx: Ctx, i: Int): Pass = {
    val rng = new java.util.Random(ctx.seed * 31 + i)
    val (done, wall) = Time.secs(mix(rng, requests).flatMap(request(ctx, _)))
    // A seeded sample of the responses, recomputed directly on the lake.
    scala.util.Random.javaRandomToRandom(rng).shuffle(done).take(4).foreach { d =>
      val want = recompute(ctx.spark, d.req)
      ctx.check(s"pass $i: ${d.req} equals direct recomputation", want.sameElements(d.rows),
        s"${d.rows.length} rows vs ${want.length} recomputed; first ${d.rows.headOption} vs ${want.headOption}")
    }
    last = done
    Pass(wall, done.map(_.ms))
  }

  /** The same answers from SQL over the lake, without the Dashboard code. */
  private def recompute(spark: SparkSession, r: Req): Array[String] = {
    spark.read.parquet(lake).createOrReplaceTempView("perfbench_lake")
    def clean(c: String, to: String) = s"CASE WHEN $c = -9999.0 THEN -1.0 ELSE $c END AS $to"
    def avg(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / COUNT($c)"
    val sql = r match {
      case UnitList(day, district) =>
        s"""SELECT DISTINCT dstrct_code, unitno, deviceid FROM perfbench_lake
           |WHERE hiveperiod = DATE'$day' AND dstrct_code = '$district'""".stripMargin
      case Slice(day, district, units, (h0, h1)) =>
        s"""SELECT unitno, dstrct_code, hiveperiod,
           |  ${avg("gs")} AS avg_gpsspeed, ${avg("vs")} AS avg_vehiclespeed,
           |  ${avg("abs(gs - vs)")} AS avg_error_rate, ${avg("ns")} AS avg_gpsnumsat,
           |  ${avg("1")} AS avg_constant,
           |  MIN(CASE WHEN gpslat < -8880.0 THEN 'false' ELSE 'true' END) AS gpsstatus,
           |  MIN(camfrontstatus), MIN(camcabinstatus), MIN(speedsource),
           |  CAST(date_trunc('MINUTE', datetime_wita) AS TIMESTAMP_NTZ) AS minute
           |FROM (SELECT *, ${clean("gpsspeed", "gs")}, ${clean("VehicleSpeed", "vs")},
           |        ${clean("gpsnumsat", "ns")} FROM perfbench_lake
           |      WHERE hiveperiod = DATE'$day' AND dstrct_code = '$district'
           |        AND unitno IN (${units.map(u => s"'$u'").mkString(", ")})
           |        AND hour(datetime_wita) BETWEEN $h0 AND $h1)
           |GROUP BY unitno, dstrct_code, hiveperiod, date_trunc('MINUTE', datetime_wita)
           |ORDER BY minute, unitno""".stripMargin
    }
    val rows = spark.sql(sql).collect().map(_.toSeq.mkString("|"))
    r match { case _: UnitList => rows.sorted; case _ => rows }
  }

  def figures(ps: Seq[Pass]): Seq[(String, Double, String)] = {
    val ms = ps.flatMap(_.opsMs)
    Seq(
      ("dash_p50_ms", Stats.median(ms), "ms"),
      ("dash_p95_ms", Stats.quantile(ms, 0.95), "ms"),
      ("dash_requests", ms.size.toDouble, "count"),
      ("dash_requests_per_s", ms.size / ps.map(_.workS).sum, "1/s"))
  }

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    def p50(ds: Seq[Done]) = if (ds.isEmpty) 0.0 else Stats.median(ds.map(_.ms))
    val n = last.size.max(1).toDouble
    val files = Files.dataFiles(new File(lake))
    Map(
      "analytics.unit_list_ms_p50" -> p50(last.filter(_.req.isInstanceOf[UnitList])),
      "analytics.slice_agg_ms_p50" -> p50(last.filter(_.req.isInstanceOf[Slice])),
      "analytics.planning_ms_p50" -> Stats.median(last.map(_.planningMs)),
      "analytics.files_read_per_request" -> last.map(_.files).sum / n,
      "analytics.bytes_read_per_request" -> last.map(_.bytes).sum / n,
      "analytics.spark_jobs_per_request" ->
        last.flatMap(_.span).map(s => Trace.sum(s)(_.jobs.get.toLong)).sum / n,
      "sources.silver_files" -> files.size.toDouble,
      "sources.silver_files_per_partition" -> files.size.toDouble / Files.leafDirs(new File(lake)).size,
      "sources.silver_bytes" -> files.map(_.length).sum.toDouble)
  }
}
