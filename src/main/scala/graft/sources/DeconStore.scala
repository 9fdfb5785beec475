package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once / probe-daily store for eval-set decontamination
  * (q172–q175), partitioned BY BENCHMARK — the operational shape: a
  * benchmark suite changes rarely while training batches arrive
  * daily, and when it does change it changes one benchmark at a time
  * (a new eval lands, a deprecated one is dropped). Each benchmark's
  * derived relations are computed once from that benchmark's docs
  * alone and every batch probes the union.
  *
  * Layout under one root (one partition per benchmark, the same
  * advance/retire contract as the day-partitioned sibling stores):
  * {{{
  *   <dir>/fps/bench=<name>/    (doc_id, fp)  winnow fingerprints
  *   <dir>/grams/bench=<name>/  (g)      distinct RAW K-char grams
  *   <dir>/meta/bench=<name>/   (n_docs, digest)  commit point, LAST
  * }}}
  *
  * Raw grams (not hashes) are stored deliberately: the eval side is
  * benchmark-sized (MBs against TBs of train), so 40 bytes/gram is
  * affordable, and raw keys keep the probe inside the DuckDB oracle's
  * exactness contract (q175 is oracle-green through this store); a
  * deployment that wants 8-byte keys hashes the stored grams at read
  * time — an eval-sized map, not a re-gram of anything.
  *
  * Relations are distinct WITHIN a benchmark partition and may repeat
  * ACROSS partitions (two benchmarks can share a gram); the probe
  * distincts its eval side anyway ([[graft.operators.SubstringDedup]]
  * `deconProbeOn`), so the union is exactly the suite's gram/fp set.
  * This is also why retire is sound where a global distinct store
  * could not be: dropping one benchmark's partition cannot delete a
  * gram another live benchmark still contributes.
  *
  * Freshness: per-benchmark [[SignatureStore.digestOf]] metas compose
  * to the offered eval corpus on the [[StoreKernel]] contract
  * (bench-keyed), so advance/retire never touch other partitions'
  * sources.
  */
object DeconStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.deconstore.dir"

  /** Session conf: skip the digest freshness scan and trust the store. */
  val TrustKey = "spark.graft.deconstore.trust"

  private val face = StoreKernel.BenchFace("deconstore", "meta", "n_docs", Seq("fps", "grams"))

  /** Build the whole store from the full eval corpus, replacing prior
    * content — an advance of a single benchmark named `all`. */
  def build(evalRel: DataFrame, dir: String): Unit = {
    StoreKernel.replace(evalRel.sparkSession, dir)
    advanceBenchmark("all", evalRel, dir)
  }

  /** Add (or replace) ONE benchmark's partitions from that benchmark's
    * docs alone. The fps keep their doc_id so the decon arm picker can
    * price the matched eval sliver from the store alone
    * (SubstringDedup.deconProbeOrRecompute). */
  def advanceBenchmark(name: String, benchRel: DataFrame, dir: String): Unit = {
    retireBenchmark(name, benchRel.sparkSession, dir)
    StoreKernel.pinned(benchRel) { bench =>
      val sd = graft.operators.SubstringDedup
      face.write(sd.charWinnowOf(bench).select("doc_id", "fp"), dir, "fps", name)
      face.write(sd.rawGramsOf(bench).select("g").distinct(), dir, "grams", name)
      face.commit(bench.sparkSession, dir, name, SignatureStore.digestOfPinned(bench))
    }
  }

  /** Drop ONE benchmark's partitions. */
  def retireBenchmark(name: String, spark: SparkSession, dir: String): Unit =
    face.retire(spark, dir, name)

  /** The stored (fps, grams) union IF configured and the per-benchmark
    * metas compose to this exact eval corpus. */
  def openFresh(evalRel: DataFrame): Option[(DataFrame, DataFrame)] = {
    val spark = evalRel.sparkSession
    StoreKernel.open(spark, DirKey, face.tag) { dir =>
      face.fresh(spark, dir, StoreKernel.trusted(spark, TrustKey),
        SignatureStore.digestOf(evalRel)).map { m =>
        (face.read(spark, dir, "fps", m.live)(StoreKernel.empty(spark, "doc_id BIGINT, fp BIGINT")),
          face.read(spark, dir, "grams", m.live)(StoreKernel.empty(spark, "g STRING")))
      }
    }
  }
}
