package perfbench

import java.io.{File, PrintWriter}

import graft.SparkEntry

/** Pinning helper for the curation checks, driven by pin.py:
  *
  *   Pin --data DIR --out DIR
  *
  * Runs each curation query once over the bundled tables, writes its
  * result as parquet under `out/<query>`, its row count and hash to
  * `out/fingerprints.tsv`, and the DuckDB oracle SQL of the queries that
  * have one to `out/oracle_sql.tsv`. */
object Pin {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opts("out")).getAbsoluteFile
    val dir = CurationWorkload.tables(new File(opts("data"))).getPath
    Corpus.deleteTree(out)
    out.mkdirs()
    val spark = Main.session(Runtime.getRuntime.availableProcessors, new File(out, "scratch"))
    val fp = new PrintWriter(new File(out, "fingerprints.tsv"), "UTF-8")
    val sql = new PrintWriter(new File(out, "oracle_sql.tsv"), "UTF-8")
    try CurationWorkload.Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.write.parquet(new File(out, q).getPath)
      CurationWorkload.release(spark)
      val (rows, hash) = CurationWorkload.fingerprint(spark.read.parquet(new File(out, q).getPath))
      val (rows2, hash2) = CurationWorkload.fingerprint(SparkEntry.queries(q)(spark, dir))
      CurationWorkload.release(spark)
      require(rows == rows2 && hash == hash2, s"$q: fingerprint of the written result differs")
      fp.println(s"$q\t$rows\t$hash")
      SparkEntry.oracleSql.get(q).foreach(s => sql.println(s"$q\t${s.replace('\n', ' ')}"))
    } finally { fp.close(); sql.close(); spark.stop() }
  }
}
