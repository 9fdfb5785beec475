package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private val spec = Corpus.Spec(Seq("DISTRICTA" -> "site-a", "DISTRICTB" -> "site-b"),
    devices = 3, hours = 5, rowsPerFile = 30)

  private def tmp(): File = Files.createTempDirectory("corpus-spec").toFile

  private def lines(f: File): Seq[String] = {
    val r = new BufferedReader(new InputStreamReader(new GZIPInputStream(new FileInputStream(f)), "UTF-8"))
    try Iterator.continually(r.readLine()).takeWhile(_ != null).toList finally r.close()
  }

  private def bytes(root: File): Map[String, Seq[Byte]] =
    Files.walk(root.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
      .map(p => root.toPath.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed gives byte-identical files, whatever the thread count") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      Corpus.generate(a, spec, 7L, threads = 1)
      Corpus.generate(b, spec, 7L, threads = 4)
      Corpus.generate(c, spec, 8L, threads = 4)
      assert(bytes(a) == bytes(b))
      assert(bytes(a).keySet == bytes(c).keySet)
      assert(bytes(a) != bytes(c))
    } finally Seq(a, b, c).foreach(Corpus.deleteTree)
  }

  test("planted corrupt, late and drift lines come out as declared") {
    val root = tmp()
    try {
      val m = Corpus.generate(root, spec, 11L, threads = 2)
      assert(m.files.size == 2 * 3 * 5)
      val dayStart = spec.day.atStartOfDay(java.time.ZoneOffset.ofHours(8)).toEpochSecond
      def seconds(hb: Long): Long =
        if (hb < 10000000000L) hb else if (hb < 10000000000000L) hb / 1000
        else if (hb < 10000000000000000L) hb / 1000000 else hb / 1000000000
      val heartbeat = """"heartbeat": (\d+)""".r
      var corrupt, late, drift, rows = 0L
      val precisions = scala.collection.mutable.Set.empty[Int]
      for (f <- m.files; l <- lines(new File(new java.net.URI(f.key)))) {
        if (!l.endsWith("}")) corrupt += 1
        else {
          rows += 1
          val hb = heartbeat.findFirstMatchIn(l).get.group(1).toLong
          precisions += hb.toString.length
          if (seconds(hb) < dayStart) late += 1
          if (l.contains("\"" + Corpus.DriftField + "\"")) drift += 1
          assert(l.split("\": ").length - 1 == spec.fields + (if (l.contains(Corpus.DriftField)) 1 else 0))
        }
      }
      assert(corrupt == m.corrupt && m.corrupt == m.files.count(f => Corpus.carriesCorrupt(f.device, f.hour)))
      assert(late == m.late && m.late == 2 * 2)
      assert(drift == m.drift && m.drift == (spec.devices + 1) * spec.rowsPerFile -
        m.files.filter(f => Corpus.carriesDrift(spec, 0, f.device, f.hour) && f.district == "DISTRICTA")
          .map(_.corrupt).sum)
      assert(rows == m.rows)
      assert(precisions.size == 4, "seconds, milliseconds, microseconds and nanoseconds")
    } finally Corpus.deleteTree(root)
  }
}
