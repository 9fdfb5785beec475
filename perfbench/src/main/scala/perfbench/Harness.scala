package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one run shares with its workload: the session, its own scratch
  * directory, the seed, and the correctness tally. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val dataDir: File) {
  var attempted = 0
  var failed = 0

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        Console.err.println(s"[perfbench] FAILED $what: $e")
        e.printStackTrace(Console.err)
        None
    }
  }

  /** One correctness check, counted like an operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    Console.err.println(s"[check] ${if (ok) "ok  " else "FAIL"} $what ${if (ok) "" else detail}")
  }

  def dir(name: String): File = new File(work, name)
}

/** One timed pass: its wall time, the latency of each operation in it,
  * the workload's own named figures (value, unit), and the executor CPU
  * its tasks used (filled in by [[ExecutorCpu.measure]]). */
case class Pass(workS: Double, opsMs: Seq[Double], figures: Seq[(String, Double, String)] = Nil,
    cpuS: Double = 0.0)

trait Workload {
  /** Input generation that needs no Spark; runs alongside the session
    * start. */
  def prepare(work: File, seed: Long, cores: Int): Unit = ()
  /** The rest of the set-up: everything before the timed phase. */
  def setup(ctx: Ctx): Unit
  /** How many passes an untraced run measures. */
  def passes: Int
  /** One pass of the timed work; correctness checks go to `ctx`. */
  def pass(ctx: Ctx, i: Int): Pass
  /** Named end-to-end figures over all passes (value, unit), printed. */
  def figures(ps: Seq[Pass]): Seq[(String, Double, String)]
  /** Per-layer metrics over the spans recorded during the traced pass
    * (the last pass run). */
  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double]
}

object Time {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Files {
  /** Data files (not hidden, not `_`-prefixed) under `root`. */
  def dataFiles(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(dataFiles)

  /** Leaf partition directories holding data files. */
  def leafDirs(root: File): Seq[File] = dataFiles(root).map(_.getParentFile).distinct
}
