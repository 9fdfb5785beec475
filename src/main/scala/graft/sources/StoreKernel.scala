package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.state.JdbcStateStore

/** The one commit contract of the digest-verified stores (Signature,
  * Winnow, MediaHash, VideoSeg, VectorIndex, Decon, SemanticDecon,
  * Tokenizer, Verdict) and of their streaming maintainers.
  *
  * A store is payload partitions keyed `day=N` or `bench=<name>` plus
  * meta rows `(key, n, digest)`: `n` counts the key's source rows and
  * `digest` XORs their xxhash64s, so digests compose over keys by
  * (Σn, XOR) and a reader checks a store against the corpus it is
  * offered with one hash scan. A day face keeps ONE meta table with a
  * row per day and writes each payload partitioned by day into one
  * root; a bench face keeps a meta DIR per benchmark and writes each
  * payload dir whole.
  *
  *  - '''Commit order.''' Advance = retire, write every payload, then
  *    the meta row LAST ([[Face.commit]]: [[StoreLease.checkWrite]] at
  *    the commit point, then the write). Retire = meta FIRST, payload
  *    second ([[Face.retire]]). A crash in either direction can only
  *    leave an orphan partition that no meta row covers, and a
  *    replayed advance rewrites it.
  *  - '''Live-partition reads.''' Readers compose the digest over the
  *    committed meta rows and read only the partitions those rows name
  *    ([[Face.read]]), so an orphan is never served; no live key serves
  *    a typed empty relation. A live key without its partition is a
  *    torn store and raises, except on a sparse face whose derivation
  *    can be empty. The audit read ([[Face.audited]]) reads everything
  *    on disk instead and raises when it does not digest to the meta.
  *  - '''Fallback.''' An open that does not serve — store stale for the
  *    offered corpus, unreadable, or without a configured dir — returns
  *    None after one [[fallback]] stderr line; the caller recomputes
  *    inline. A stale store costs time, never correctness. A store's
  *    trust conf skips the digest scan.
  *  - '''Pinning.''' The input batch is pinned across every derivation
  *    and the digest ([[pinned]]), so a non-deterministic plan cannot
  *    commit a digest that does not cover the written rows.
  *  - '''Maintainers.''' `foreachBatch` is at-least-once; an advance
  *    is convergent under replay and [[advanceOnce]] skips a batch the
  *    control table already marked, so each batch applies exactly once.
  */
object StoreKernel {

  type Digest = (Long, Long)

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def trusted(spark: SparkSession, trustKey: String): Boolean =
    spark.conf.get(trustKey, "false").toBoolean

  /** The one stderr line of an open that does not serve. */
  def fallback(tag: String, dir: String, reason: String): None.type = {
    System.err.println(s"[$tag] $dir $reason — recomputing inline")
    None
  }

  /** A reader's open: None when `dirKey` is unset, the dir otherwise;
    * any failure inside is an unreadable store, never an error. */
  def open[A](spark: SparkSession, dirKey: String, tag: String)(
      body: String => Option[A]): Option[A] = {
    val dir = spark.conf.get(dirKey, "")
    if (dir.isEmpty) None
    else try body(dir)
    catch { case NonFatal(e) => fallback(tag, dir, s"unreadable (${e.getMessage})") }
  }

  /** Start a build: replace the content, keep the owner lease. */
  def replace(spark: SparkSession, dir: String): Unit = {
    StoreLease.checkWrite(spark, dir)
    StoreLease.replaceContents(spark, dir)
  }

  /** The single meta commit: the lease is re-checked at the commit
    * point, then the one-row (or rewritten) meta lands. */
  def commitRow(spark: SparkSession, dir: String, path: String, rows: DataFrame,
      mode: String = "append"): Unit = {
    StoreLease.checkWrite(spark, dir)
    rows.coalesce(1).write.mode(mode).parquet(path)
  }

  /** Run `body` over `df` pinned; a relation the caller already cached
    * stays the caller's to release. */
  def pinned[A](df: DataFrame)(body: DataFrame => A): A = {
    val mine = df.storageLevel == StorageLevel.NONE
    val p = if (mine) df.persist() else df
    try body(p)
    finally if (mine) p.unpersist(blocking = false): Unit
  }

  /** A typed empty relation. */
  def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))

  /** Meta rows of a bench-style meta root `<root>/<key>=<v>/` in ONE
    * partitioned read with an explicit schema (no footer inference): a
    * key dir without committed files contributes no row. */
  def keyedMetas(spark: SparkSession, root: String, key: String,
      cols: Seq[String]): Seq[Row] = {
    val schema = StructType(cols.map(StructField(_, LongType)) :+ StructField(key, StringType))
    spark.read.schema(schema).option("basePath", root).parquet(root).collect().toSeq
  }

  /** Committed meta rows `(key, n, digest)` of one face; `key` is the
    * partition value as it is spelled in the dir name. */
  final case class Meta(rows: Seq[(String, Long, Long)]) {
    def digest: Digest = (rows.map(_._2).sum, rows.map(_._3).foldLeft(0L)(_ ^ _))
    /** Keys with rows: a zero-count key wrote no partition. */
    def live: Seq[String] = rows.collect { case (k, n, _) if n > 0 => k }
  }

  /** One store face: the meta dir and its count column, and the payload
    * dirs the meta commits. The layout comes with the key type:
    * [[DayFace]] (`day=N`, Int) or [[BenchFace]] (`bench=<name>`,
    * String). */
  sealed abstract class Face[K] {
    def tag: String
    def meta: String
    def count: String
    def payloads: Seq[String]
    /** The partition column. */
    def key: String
    /** A payload may lack the partition of a live key: its derivation
      * of that key was empty and a `partitionBy` write made no dir. On
      * every other face a live key without its partition is a torn
      * store and raises, so the open falls back. */
    protected def sparse: Boolean

    protected def part(k: Any): String = s"$key=$k"

    /** Write one payload of key `k`. */
    def write(df: DataFrame, dir: String, payload: String, k: K): Unit

    /** Commit `k`'s meta row — after every payload of `k`. */
    def commit(spark: SparkSession, dir: String, k: K, d: Digest): Unit

    /** Take `k` out of the meta (the first step of a retire). */
    def dropMeta(spark: SparkSession, dir: String, k: K): Unit

    /** The committed meta rows. */
    def meta(spark: SparkSession, dir: String): Meta

    /** Read the `on` partitions of the payload root. */
    protected def readParts(spark: SparkSession, root: String, on: Seq[String]): DataFrame

    /** Retire `k`: meta first, then its payload partitions. Safe on a
      * torn store (no meta ⇒ partition drops only). */
    def retire(spark: SparkSession, dir: String, k: K): Unit = {
      StoreLease.checkWrite(spark, dir)
      dropMeta(spark, dir, k)
      val f = fs(spark, dir)
      payloads.foreach(p => f.delete(new Path(s"$dir/$p/${part(k)}"), true): Unit)
    }

    /** Digest of what `payload` holds on disk for `k` — for faces whose
      * batch plan must not be evaluated a second time (a decode). An
      * empty key wrote no partition and digests (0, 0). */
    def writtenDigest(spark: SparkSession, dir: String, payload: String, k: K,
        digest: DataFrame => Digest): Digest = {
      val p = s"$dir/$payload/${part(k)}"
      if (fs(spark, dir).exists(new Path(p))) digest(spark.read.parquet(p)) else (0L, 0L)
    }

    /** The meta, if it composes to the offered digest (or `trust`);
      * otherwise the stale fallback. */
    def fresh(spark: SparkSession, dir: String, trust: Boolean,
        offered: => Digest): Option[Meta] = {
      val m = meta(spark, dir)
      if (!trust && offered != m.digest) fallback(tag, dir, "is stale for the offered corpus")
      else Some(m)
    }

    /** `payload` restricted to the `live` keys, without the key column;
      * `empty` when none of them is on disk. */
    def read(spark: SparkSession, dir: String, payload: String, live: Seq[String])(
        empty: => DataFrame): DataFrame = {
      val root = new Path(s"$dir/$payload")
      val f = fs(spark, dir)
      val present =
        if (f.exists(root)) f.listStatus(root).map(_.getPath.getName).toSet
        else Set.empty[String]
      val (on, off) = live.partition(k => present(part(k)))
      require(sparse || off.isEmpty,
        s"store $dir is torn: $payload/ has no partition for live $key ${off.mkString(", ")}")
      if (on.isEmpty) empty else readParts(spark, root.toString, on)
    }

    /** The audit read: every partition of `payload` on disk, which must
      * digest to the committed meta unless trusted — a torn write or a
      * crashed advance raises instead of serving. A zero-sum meta over
      * orphan partitions is torn too, not an empty index. */
    def audited(spark: SparkSession, dir: String, payload: String, cols: Seq[String],
        trust: Boolean, digest: DataFrame => Digest)(empty: => DataFrame): DataFrame = {
      val stored = meta(spark, dir).digest
      val root = new Path(s"$dir/$payload")
      if (stored._1 == 0L) {
        if (!trust) {
          val f = fs(spark, dir)
          require(!(f.exists(root) &&
            f.listStatus(root).exists(_.getPath.getName.startsWith(s"$key="))),
            s"store $dir is torn: $payload/ has $key partitions but the meta sums to zero")
        }
        empty
      } else {
        val idx = spark.read.parquet(root.toString).select(cols.map(col): _*)
        if (!trust) require(digest(idx) == stored,
          s"store $dir is torn: partition digest != meta digest $stored")
        idx
      }
    }
  }

  /** A day-keyed face: ONE meta table with a row per day, each payload
    * written partitioned by day into one root and read as that root
    * pruned to the live days (one listing, not a path per day). */
  final case class DayFace(tag: String, meta: String, count: String,
      payloads: Seq[String], sparse: Boolean = false) extends Face[Int] {
    val key = "day"

    def write(df: DataFrame, dir: String, payload: String, day: Int): Unit =
      df.withColumn(key, lit(day)).write.mode("append").partitionBy(key).parquet(s"$dir/$payload")

    def commit(spark: SparkSession, dir: String, day: Int, d: Digest): Unit =
      commitRow(spark, dir, s"$dir/$meta",
        spark.createDataFrame(Seq((day, d._1, d._2))).toDF(key, count, "digest"))

    def dropMeta(spark: SparkSession, dir: String, day: Int): Unit =
      if (fs(spark, dir).exists(new Path(s"$dir/$meta"))) {
        val kept = spark.read.parquet(s"$dir/$meta").where(col(key) =!= day).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        commitRow(spark, dir, s"$dir/$meta",
          spark.createDataFrame(kept).toDF(key, count, "digest"), "overwrite")
      }

    def meta(spark: SparkSession, dir: String): Meta =
      Meta(spark.read.parquet(s"$dir/$meta").collect().toSeq
        .map(r => (r.getInt(0).toString, r.getLong(1), r.getLong(2))))

    protected def readParts(spark: SparkSession, root: String, on: Seq[String]): DataFrame =
      spark.read.parquet(root).where(col(key).isin(on.map(_.toInt): _*)).drop(key)
  }

  /** A bench-keyed face: a meta DIR per benchmark, each payload dir
    * written whole, so every live benchmark has its partitions. Names
    * come from outside the program and are spelled raw in the paths,
    * while partition discovery URL-unescapes them on read ('mmlu%3Dv2'
    * reads back as 'mmlu=v2'), so [[meta]] maps each discovered value
    * back to the dir it was listed under and reads go by those dirs. */
  final case class BenchFace(tag: String, meta: String, count: String,
      payloads: Seq[String]) extends Face[String] {
    val key = "bench"
    protected def sparse = false

    def write(df: DataFrame, dir: String, payload: String, name: String): Unit =
      df.write.mode("append").parquet(s"$dir/$payload/${part(name)}")

    def commit(spark: SparkSession, dir: String, name: String, d: Digest): Unit =
      commitRow(spark, dir, s"$dir/$meta/${part(name)}",
        spark.createDataFrame(Seq(d)).toDF(count, "digest"))

    def dropMeta(spark: SparkSession, dir: String, name: String): Unit =
      fs(spark, dir).delete(new Path(s"$dir/$meta/${part(name)}"), true): Unit

    /** Two listed names that unescape alike are ambiguous and raise. */
    def meta(spark: SparkSession, dir: String): Meta = {
      val root = s"$dir/$meta"
      val listed = fs(spark, dir).listStatus(new Path(root)).map(_.getPath.getName)
        .collect { case n if n.startsWith(s"$key=") => n.drop(key.length + 1) }
        .groupBy(ExternalCatalogUtils.unescapePathName)
      Meta(keyedMetas(spark, root, key, Seq(count, "digest")).map { r =>
        val names = listed.getOrElse(r.getString(2), Array.empty[String])
        require(names.length == 1,
          s"store $dir: $key '${r.getString(2)}' matches the meta dirs ${names.mkString(", ")}")
        (names.head, r.getLong(0), r.getLong(1))
      })
    }

    protected def readParts(spark: SparkSession, root: String, on: Seq[String]): DataFrame =
      spark.read.parquet(on.map(k => s"$root/${part(k)}"): _*)
  }

  // ------------------------------------------------------ maintainers

  /** Store day of a micro-batch. Store days are Int; a truncated batch
    * id would alias an existing day, whose rows the unconditional
    * retire-then-write would then delete — so it fails loud instead
    * (2³¹ batches is 68 years at one per second). */
  def dayOf(batchId: Long): Int = {
    require(batchId >= 0 && batchId <= Int.MaxValue,
      s"batch id $batchId does not fit a store day (Int) — truncation would alias an existing day")
    batchId.toInt
  }

  /** Apply `advance` for one micro-batch exactly once: a batch the
    * control table already marked is skipped, the advance's pins are
    * released (on failure too, and only this batch's), and the marker
    * commits last. Returns true when this call applied the batch. */
  def advanceOnce(state: JdbcStateStore, sinkId: String, batchId: Long)(
      advance: => Unit): Boolean =
    if (state.batchCommitted(sinkId, batchId)) false
    else {
      graft.core.Caches.scoped(advance)
      // first caller wins: a racing zombie's convergent advance stands
      state.markBatch(sinkId, batchId)
    }

  /** Wire a stream into a maintainer: each micro-batch runs `advance`
    * through [[advanceOnce]]. The caller starts the query and owns its
    * checkpoint location and trigger. */
  def exactlyOnce(stream: DataFrame, state: JdbcStateStore, sinkId: String)(
      advance: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (df: DataFrame, batchId: Long) =>
      advanceOnce(state, sinkId, batchId)(advance(df, batchId))
      ()
    }
}
