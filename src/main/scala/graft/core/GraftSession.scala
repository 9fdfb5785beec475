package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory with the engine's canonical configuration.
  *
  * UTC session time zone (the reference keeps storage in UTC and derives
  * display offsets as columns — reference `README.md:68`), AQE enabled for
  * runtime re-planning (skew joins, partition coalescing at scale), and
  * shuffle partitions sized for the local test harness (a real cluster
  * deployment overrides `spark.sql.shuffle.partitions` per job).
  */
object GraftSession {

  /** How wide the input has to be before shuffles START wide. */
  private val WideInputBytes = 512L << 20

  /** AQE's starting shuffle width — the data-sized deployment knob.
    *
    * Shuffles begin at this many partitions and AQE COALESCES down to
    * the data's actual size, so the number only costs tiny extra map
    * tasks when it is too big — but when a shuffle is genuinely large,
    * starting wide is what keeps per-task sort buffers out of spill.
    * Two regimes, because both directions were measured to matter:
    *  - small inputs (the per-round sf0.001–sf0.1 harness): width =
    *    `shufflePartitions`. Starting 8× wide here taxed ITERATIVE
    *    loops — x_pagerank_tol's 50 rounds × 3 stages × 224 extra tiny
    *    map tasks took it 38 s → 83 s at sf0.1 — while winning nothing
    *    (nothing spills at 17 MB).
    *  - large inputs (`dataDir` ≥ 512 MB — the sf10 scale point, or a
    *    real multi-TB run): width = 8×. q151's 205M-row hashed-gram
    *    shuffle at sf10 ran 197 s at width 32 (6.4M rows per sorter →
    *    spill thrash, occasional task page-allocation failure) and
    *    139 s at width 256.
    * `SPARK_GRAFT_IPN` overrides both (a cluster deployment sizes this
    * per job, like `spark.sql.shuffle.partitions` itself). */
  def initialPartitionNum(shufflePartitions: Int, dataDir: String = ""): Int =
    sys.env.get("SPARK_GRAFT_IPN") match {
      case Some(v) =>
        v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_IPN must be a positive integer, got '$v'"))
      case None =>
        def bytes(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).iterator.map(bytes).sum
          else f.length()
        // The size probe is a local-FS walk (the harness always hands a
        // local path). A remote URI (hdfs://, s3a://) can't be sized
        // cheaply here — and only exists on the large deployments the
        // wide regime targets — so any non-file scheme goes wide.
        val remote = dataDir.contains("://") && !dataDir.startsWith("file:")
        val wide = remote || (dataDir.nonEmpty &&
          bytes(new java.io.File(dataDir)) >= WideInputBytes)
        if (wide) 8 * shufflePartitions else shufflePartitions
    }

  /** The one session factory: every main and spec builds through it.
    * `dataDir` sizes AQE's starting width ([[initialPartitionNum]]). */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32,
      dataDir: String = ""): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionNum(shufflePartitions, dataDir).toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // parquet TIMESTAMP(NANOS) is otherwise rejected outright; with
      // this flag it reads as a raw long, which Tables.normalizeNanos
      // truncates to a µs timestamp (DuckDB's nanos-read semantics).
      // The testdata has shipped both ns- and µs-encoded `events.ts`
      // over the project's life; keeping the flag means either encoding
      // reads through the same seam (NanosEncodingSpec pins both).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Table loader for the deterministic testdata layout
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see TESTDATA.md).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeNanos(spark.read.parquet(s"$dir/$name.parquet"))

  /** Parquet TIMESTAMP(NANOS) columns arrive as raw long nanos (see the
    * `nanosAsLong` flag in [[GraftSession]]); truncate to µs wall-clock
    * timestamps — identical to DuckDB's nanos→TIMESTAMP read semantics.
    * µs-encoded data (the current testdata era) already reads as
    * `timestamp_ntz` and passes through untouched — both encodings land
    * identically (NanosEncodingSpec). */
  private[graft] def normalizeNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    // The only nanos column in the testdata contract is `events.ts`
    // (FIXTURES.md §A); anything else long-typed stays untouched.
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType && f.name == "ts")
        d.withColumn(f.name,
          timestamp_micros(call_function("div", col(f.name), lit(1000L)))
            .cast("timestamp_ntz"))
      else d
    }
  }
}
