package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded bronze-corpus generator in the reference layout
  * `jobsite/deviceid/datehour/datehour.txt.gz`: one gzipped NDJSON file
  * per device per hour, ~179 fields per row (the 11 reference fields plus
  * numeric sensor fields).
  *
  * The seed decides every value; the shape (files, rows, planted lines)
  * depends only on the [[Corpus.Spec]], so every seed yields the same
  * counts and the same bytes for the same seed.
  *
  * Planted on purpose, with exact counts in the [[Corpus.Manifest]]:
  *  - heartbeats in all four epoch precisions (s, ms, µs, ns), rotating
  *    per row;
  *  - corrupt (truncated) lines, one in every fourth file;
  *  - late rows, stamped one day before their file's hour, so they land
  *    in the previous day's silver partition;
  *  - a drift field, `fw_tilt`, in the first district only. The compactor
  *    claims newest uploads first, one hour per batch, and samples the
  *    batch's newest file (the last device) for new fields. The field
  *    first shows up in hour `hours - 2` of device 0 alone, which the
  *    sample misses; one hour earlier every device carries it, so that
  *    batch's sample finds it and the earlier batches are requeued and
  *    replayed.
  */
object Corpus {

  /** `districts` pairs a district code with its jobsite directory. */
  case class Spec(
      districts: Seq[(String, String)],
      devices: Int,
      hours: Int,
      rowsPerFile: Int,
      sensors: Int = 168,
      day: LocalDate = LocalDate.of(2024, 3, 1)) {
    require(hours >= 4, "the drift plant needs at least four hours")
    require(devices >= 2, "the drift plant needs a sampled and an unsampled device")
    require(rowsPerFile >= 4 && rowsPerFile <= 3600, "one row per second at most")
    def fields: Int = 11 + sensors
  }

  /** One bronze file. `rows` counts parseable rows (late ones included);
    * `uploadMs` orders claims (newest first). */
  case class FileInfo(key: String, district: String, device: Int, hour: Int,
      uploadMs: Long, rows: Int, corrupt: Int, late: Int, drift: Int, bytes: Long)

  case class Manifest(files: Seq[FileInfo]) {
    def rows: Long = files.map(_.rows.toLong).sum
    def corrupt: Long = files.map(_.corrupt.toLong).sum
    def late: Long = files.map(_.late.toLong).sum
    def drift: Long = files.map(_.drift.toLong).sum
    def bytes: Long = files.map(_.bytes).sum
  }

  val DriftField = "fw_tilt"

  def unitName(district: String, device: Int): String = s"${district.last}U${100 + device}"

  /** The bronze schema a corpus of `spec` reads with. */
  def schema(spec: Spec): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(StructField("heartbeat", LongType)) ++
        Seq("unitno", "deviceid", "speedsource", "camcabinstatus", "camfrontstatus")
          .map(StructField(_, StringType)) ++
        (Seq("gpsspeed", "VehicleSpeed", "gpsnumsat", "gpslat", "gpslong", DriftField) ++
          (0 until spec.sensors).map(s => f"s$s%03d")).map(StructField(_, DoubleType)))
  }

  /** WITA (UTC+8) midnight of the spec's day, as epoch seconds. */
  private def dayStart(spec: Spec): Long =
    spec.day.atStartOfDay(ZoneOffset.ofHours(8)).toEpochSecond

  def carriesCorrupt(device: Int, hour: Int): Boolean = (device + hour) % 4 == 1

  def carriesLate(device: Int, hour: Int): Boolean = hour == 0 && (device == 1 || device == 2)

  def carriesDrift(spec: Spec, district: Int, device: Int, hour: Int): Boolean =
    district == 0 && ((hour == spec.hours - 2 && device == 0) || hour == spec.hours - 3)

  /** Write the corpus under `root` (which is emptied first) with up to
    * `threads` writers; files are independent, so the bytes do not
    * depend on the thread count. */
  def generate(root: File, spec: Spec, seed: Long, threads: Int): Manifest = {
    deleteTree(root)
    val jobs = for {
      (district, di) <- spec.districts.zipWithIndex
      dev <- 0 until spec.devices
      h <- 0 until spec.hours
    } yield (district, di, dev, h)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = jobs.map { case ((district, site), di, dev, h) =>
        pool.submit(new java.util.concurrent.Callable[FileInfo] {
          def call(): FileInfo = writeFile(root, spec, seed, district, site, di, dev, h)
        })
      }
      Manifest(futures.map(_.get()))
    } finally pool.shutdown()
  }

  private def writeFile(root: File, spec: Spec, seed: Long, district: String, site: String,
      di: Int, dev: Int, h: Int): FileInfo = {
    val rng = new SplittableRandom(seed * 1000003L + di * 7919L * 7919L + dev * 7919L + h)
    val deviceId = f"$district%s-D$dev%03d"
    val unit = unitName(district, dev)
    val hourStart = dayStart(spec) + h * 3600L
    val dateHour = java.time.Instant.ofEpochSecond(hourStart)
      .atOffset(ZoneOffset.ofHours(8)).format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH"))
    val file = new File(root, s"$site/$deviceId/$dateHour/$dateHour.txt.gz")
    file.getParentFile.mkdirs()
    val drift = carriesDrift(spec, di, dev, h)
    val corruptAt = if (carriesCorrupt(dev, h)) rng.nextInt(spec.rowsPerFile) else -1
    // Never the corrupt line's index: a late row must parse to count.
    val lateAt = if (!carriesLate(dev, h)) -1
      else (corruptAt + 1 + rng.nextInt(spec.rowsPerFile - 1)) % spec.rowsPerFile
    // Sensor values drift as a random walk in tenths, as real telemetry does.
    val level = Array.fill(spec.sensors)(rng.nextInt(-5000, 5000))
    val step = 3600 / spec.rowsPerFile
    val keys = Array.tabulate(spec.sensors)(s => f", \"s$s%03d\": ")
    val sb = new java.lang.StringBuilder(64 * 1024)
    val out = new GZIPOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16), 1 << 16)
    def flush(): Unit = {
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8)); sb.setLength(0)
    }
    def tenths(v: Int): Unit = {
      if (v < 0) sb.append('-')
      val a = math.abs(v)
      sb.append(a / 10).append('.').append(a % 10)
    }
    var rows = 0
    for (i <- 0 until spec.rowsPerFile) {
      val t = hourStart + i * step - (if (i == lateAt) 86400L else 0L)
      val hb = (i + dev) % 4 match {
        case 0 => t
        case 1 => t * 1000L + rng.nextInt(1000)
        case 2 => t * 1000000L + rng.nextInt(1000000)
        case _ => t * 1000000000L + rng.nextInt(1000000000)
      }
      if (i == corruptAt) {
        // A line cut short mid-record, as a torn upload leaves it.
        sb.append("{\"heartbeat\": ").append(hb).append(", \"unitno\": \"").append(unit)
          .append("\", \"gpsspeed\": 4").append('\n')
      } else {
        val speed = rng.nextInt(0, 600)
        sb.append("{\"heartbeat\": ").append(hb)
          .append(", \"unitno\": \"").append(unit)
          .append("\", \"deviceid\": \"").append(deviceId)
          .append("\", \"gpsspeed\": ")
        if (rng.nextInt(50) == 0) sb.append("-9999.0") else tenths(speed)
        sb.append(", \"VehicleSpeed\": "); tenths(speed + rng.nextInt(-20, 21))
        sb.append(", \"gpsnumsat\": ").append(rng.nextInt(4, 14)).append(".0")
        sb.append(", \"gpslat\": "); tenths(-20 - rng.nextInt(5))
        sb.append(", \"gpslong\": "); tenths(1150 + rng.nextInt(5))
        sb.append(", \"speedsource\": \"").append(if (rng.nextInt(10) == 0) "CAN" else "GPS")
        sb.append("\", \"camcabinstatus\": \"").append(if (rng.nextInt(40) == 0) "ERR" else "OK")
        sb.append("\", \"camfrontstatus\": \"").append(if (rng.nextInt(40) == 0) "ERR" else "OK")
        sb.append('"')
        var s = 0
        while (s < spec.sensors) {
          level(s) += rng.nextInt(-3, 4)
          sb.append(keys(s))
          tenths(level(s))
          s += 1
        }
        if (drift) { sb.append(", \"").append(DriftField).append("\": "); tenths(rng.nextInt(-900, 900)) }
        sb.append("}\n")
        rows += 1
      }
      if (sb.length > 60000) flush()
    }
    flush()
    out.close()
    FileInfo(file.toURI.toString, district, dev, h,
      uploadMs = (hourStart + 3600L) * 1000L + dev, rows = rows,
      corrupt = if (corruptAt >= 0) 1 else 0, late = if (lateAt >= 0) 1 else 0,
      drift = if (drift) rows else 0, bytes = file.length())
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }
}
