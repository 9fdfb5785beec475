package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The query tier: a fixed list of declared queries from
  * `SparkEntry.queries` over the bundled sf0.01 test tables, each forced
  * through `queryExecution.toRdd` with the program's caches released
  * between queries. Set-up runs one untimed pass that also checks each query's
  * row count and order-independent hash against the pinned values; the
  * timed pass runs the list in a seed-shuffled order and checks the row
  * counts again. */
class CurationWorkload extends Workload {
  import CurationWorkload._

  val passes = 1
  private var dir: String = _
  private var pins: Map[String, (Long, String)] = Map.empty

  private case class Run(query: String, seconds: Double, planningS: Double, span: Option[Span])
  private var last = Seq.empty[Run]

  def setup(ctx: Ctx): Unit = {
    dir = tables(ctx.dataDir).getPath
    pins = Pins.load(new File(ctx.dataDir, "curation_pins.tsv"))
    Trace.span("core", "warmup") {
      for (q <- Queries) ctx.op(s"$q (warm-up)") {
        val (rows, hash) = fingerprint(SparkEntry.queries(q)(ctx.spark, dir))
        release(ctx.spark)
        val (pinRows, pinHash) = pins.getOrElse(q, (-1L, "unpinned"))
        ctx.check(s"$q row count and hash", rows == pinRows && hash == pinHash,
          s"got $rows rows / $hash, pinned $pinRows / $pinHash")
      }
    }
  }

  def pass(ctx: Ctx, i: Int): Pass = {
    val order = new scala.util.Random(ctx.seed * 31 + i).shuffle(Queries)
    val runs = order.flatMap { q =>
      val t0 = System.nanoTime()
      ctx.op(q) {
        Trace.span("operators", q) {
          val df = SparkEntry.queries(q)(ctx.spark, dir)
          val rows = df.queryExecution.toRdd.count()
          val s = (System.nanoTime() - t0) / 1e9
          val planning = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0
          ctx.check(s"$q row count", rows == pins.get(q).fold(-1L)(_._1), s"$rows rows")
          Run(q, s, planning, Trace.current)
        }
      }.map { r => release(ctx.spark); r }
    }
    last = runs
    Pass(runs.map(_.seconds).sum, runs.map(_.seconds * 1000))
  }

  def figures(ps: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("curation_wall_s", Stats.median(ps.map(_.workS)), "s"),
      ("curation_queries", Queries.size.toDouble, "count"))

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] =
    last.flatMap { r =>
      val s = r.span
      def sum(f: Span => Long) = s.fold(0L)(Trace.sum(_)(f))
      Seq(
        s"operators.${r.query}.wall_s" -> r.seconds,
        s"operators.${r.query}.planning_s" -> r.planningS,
        s"operators.${r.query}.spark_jobs" -> sum(_.jobs.get.toLong).toDouble,
        s"operators.${r.query}.executor_cpu_s" -> sum(_.cpuNs.get) / 1e9,
        s"operators.${r.query}.shuffle_bytes" -> sum(_.shuffleWrite.get).toDouble)
    }.toMap
}

object CurationWorkload {
  /** One query per kind of work the tier does: relational windowing, the
    * native gram kernels, and the multimodal (video) path. */
  val Queries: Seq[String] = Seq("q03_window_agg", "q151_substring_fast", "q155_video_segdup")

  /** The bundled tables the queries read. */
  def tables(dataDir: File): File = new File(dataDir, "sf0.01")

  /** Release what a query pinned, as Bench does between queries. */
  def release(spark: SparkSession): Unit = {
    graft.core.Caches.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Row count and an order-independent hash of a result: the exact sum
    * of one 64-bit hash per row over its columns in name order, with
    * floating-point values rounded to six decimals. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val row = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(row.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e @ (DoubleType | FloatType), _) => transform(c, x => canonical(x, e))
    case _: MapType => to_json(c)
    case _ => c
  }
}

/** The pinned (row count, hash) per query: tab-separated
  * `query rows hash oracle` lines, written by pin.py. */
object Pins {
  def load(file: File): Map[String, (Long, String)] =
    if (!file.exists) Map.empty
    else scala.io.Source.fromFile(file, "UTF-8").getLines()
      .map(_.split('\t')).collect { case Array(q, rows, hash, _*) => q -> (rows.toLong, hash) }
      .toMap
}
