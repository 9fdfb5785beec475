package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Every keyed store face, driven through its public entry points on a
  * tiny sf0.001 fixture: three keys (days 0-2, or benchmarks all/b/c),
  * `seed` commits the first two, `advance`/`retire` move one key, and
  * `open` serves the store for the corpus of the given keys as sorted
  * row strings — None when the face fell back (or, for the audit faces
  * that take no corpus, failed its integrity check).
  */
final case class StoreFace(name: String, keys: Seq[String], metaDirs: Set[String],
    seed: String => Unit, advance: (String, String) => Unit,
    retire: (String, String) => Unit,
    open: (String, Seq[String]) => Option[Seq[String]])

object StoreFaces {
  val sf = "/root/testdata/sf0.001"
  val days = Seq("0", "1", "2")
  /** `benches` names the three benchmarks; the first is the build's `all`. */
  def all(spark: SparkSession, benches: Seq[String] = Seq("all", "b", "c")): Seq[StoreFace] = {
    import spark.implicits._
    def docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    def emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    def range(df: DataFrame, c: String, lo: Int, n: Int) =
      df.where(col(c) >= lo && col(c) < lo + n)
    // day d of the train side, benchmark b of the eval side
    def dayDocs(d: String) = range(docs, "doc_id", 20 * d.toInt, 20)
    def dayEmb(d: String) = range(emb, "vec_id", 40 * d.toInt, 40)
    def benchIx(b: String) = benches.indexOf(b)
    def benchDocs(b: String) = range(docs, "doc_id", 100 + 10 * benchIx(b), 10)
    def benchEmb(b: String) = range(emb, "vec_id", 200 + 10 * benchIx(b), 10)
    def union(parts: Seq[DataFrame]) = parts.reduce(_ unionByName _)
    def docsOf(ds: Seq[String]) = union(ds.map(dayDocs))
    def embOf(ds: Seq[String]) = union(ds.map(dayEmb))
    val codebookCorpus = range(emb, "vec_id", 0, 120)
    def hashes(d: String) = dayDocs(d)
      .select(col("doc_id").as("media_id"), xxhash64(col("text")).as("dhash"))
    def captions(d: String) = dayDocs(d).select(col("doc_id").as("media_id"), col("text"))
    def segs(d: String) = dayDocs(d)
      .select(col("doc_id").as("video_id"), substring(col("text"), 1, 12).as("seg_fp"))
    def noImg = Seq.empty[(Long, Long)].toDF("media_id", "dhash")
    def trainDays(ds: Seq[String]) = VerdictStore.Corpus(docsOf(ds),
      union(ds.map(d => range(emb, "vec_id", 20 * d.toInt, 20))), noImg)
    val verdictTrain = VerdictStore.Corpus(docsOf(days), range(emb, "vec_id", 0, 60), noImg)
    def benchCorpus(b: String) = VerdictStore.Corpus(benchDocs(b), benchEmb(b), noImg)
    def suiteOf(bs: Seq[String]) = VerdictStore.Corpus(
      union(bs.map(benchDocs)), union(bs.map(benchEmb)), noImg)

    def rows(df: DataFrame, tag: String = ""): Seq[String] =
      df.collect().map(tag + _.toString).toSeq
    def served(dirKey: String, dir: String)(body: => Option[Seq[String]]): Option[Seq[String]] = {
      spark.conf.set(dirKey, dir)
      try body.map(_.sorted)
      finally { spark.conf.unset(dirKey); Caches.releaseAll() }
    }
    def audited(body: => DataFrame): Option[Seq[String]] =
      try Some(rows(body).sorted)
      catch { case NonFatal(_) => None }
      finally Caches.releaseAll()
    def op(body: => Unit): Unit = try body finally Caches.releaseAll()

    Seq(
      StoreFace("signature", days, Set("meta"),
        dir => op { SignatureStore.build(dayDocs("0"), dir, 0); SignatureStore.advanceDay(dayDocs("1"), dir, 1) },
        (dir, d) => op(SignatureStore.advanceDay(dayDocs(d), dir, d.toInt)),
        (dir, d) => op(SignatureStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(SignatureStore.DirKey, dir)(
          SignatureStore.openFresh(docsOf(ds)).map(s => rows(s.shingles, "sh ") ++ rows(s.sigs, "sig ")))),
      StoreFace("winnow", days, Set("meta"),
        dir => op { WinnowStore.build(dayDocs("0"), dir, 0); WinnowStore.advanceDay(dayDocs("1"), dir, 1) },
        (dir, d) => op(WinnowStore.advanceDay(dayDocs(d), dir, d.toInt)),
        (dir, d) => op(WinnowStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(WinnowStore.DirKey, dir)(WinnowStore.openFresh(docsOf(ds)).map(rows(_)))),
      StoreFace("mediahash", days, Set("meta", "source_meta"),
        dir => op { MediaHashStore.build(hashes("0"), dir, 0); MediaHashStore.advanceDay(hashes("1"), dir, 1) },
        (dir, d) => op(MediaHashStore.advanceDay(hashes(d), dir, d.toInt)),
        (dir, d) => op(MediaHashStore.retireDay(spark, dir, d.toInt)),
        (dir, _) => audited(MediaHashStore.open(spark, dir))),
      StoreFace("mediahash_sourced", days, Set("meta", "source_meta"),
        dir => op {
          MediaHashStore.buildSourced(captions("0"), hashes("0"), dir, 0)
          MediaHashStore.advanceDaySourced(captions("1"), hashes("1"), dir, 1)
        },
        (dir, d) => op(MediaHashStore.advanceDaySourced(captions(d), hashes(d), dir, d.toInt)),
        (dir, d) => op(MediaHashStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(MediaHashStore.DirKey, dir)(
          MediaHashStore.openFreshFor(union(ds.map(captions))).map(rows(_)))),
      StoreFace("videoseg", days, Set("meta"),
        dir => op { VideoSegStore.build(segs("0"), dir, 0); VideoSegStore.advanceDay(segs("1"), dir, 1) },
        (dir, d) => op(VideoSegStore.advanceDay(segs(d), dir, d.toInt)),
        (dir, d) => op(VideoSegStore.retireDay(spark, dir, d.toInt)),
        (dir, _) => audited(VideoSegStore.open(spark, dir))),
      StoreFace("vector", days, Set("meta"),
        dir => op {
          VectorIndexStore.build(codebookCorpus, dayEmb("0"), dir, 0)
          VectorIndexStore.advanceDay(dayEmb("1"), dir, 1)
        },
        (dir, d) => op(VectorIndexStore.advanceDay(dayEmb(d), dir, d.toInt)),
        (dir, d) => op(VectorIndexStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(VectorIndexStore.DirKey, dir)(
          VectorIndexStore.openFresh(codebookCorpus, embOf(ds)).map(s => rows(s._2)))),
      StoreFace("vector_pq", days, Set("meta"),
        dir => op { VectorIndexStore.buildPq(dayEmb("0"), dir, 0); VectorIndexStore.advanceDayPq(dayEmb("1"), dir, 1) },
        (dir, d) => op(VectorIndexStore.advanceDayPq(dayEmb(d), dir, d.toInt)),
        (dir, d) => op(VectorIndexStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(VectorIndexStore.DirKey, dir)(
          VectorIndexStore.openFreshPq(embOf(ds)).map(s => rows(s._3)))),
      StoreFace("vector_scaled", days, Set("meta_scaled", "codebook_meta_scaled"),
        dir => op {
          VectorIndexStore.buildScaled(codebookCorpus, dayEmb("0"), dir, 0, trained = false)
          VectorIndexStore.advanceDayScaled(dayEmb("1"), dir, 1)
        },
        (dir, d) => op(VectorIndexStore.advanceDayScaled(dayEmb(d), dir, d.toInt)),
        (dir, d) => op(VectorIndexStore.retireDayScaled(spark, dir, d.toInt)),
        (dir, ds) => served(VectorIndexStore.DirKey, dir)(
          VectorIndexStore.openFreshScaled(codebookCorpus, embOf(ds)).map(s => rows(s._2)))),
      StoreFace("vector_pqscaled", days, Set("meta_pqs", "codebook_meta_pqs"),
        dir => op {
          VectorIndexStore.buildPqScaled(codebookCorpus, dayEmb("0"), dir, 0, trained = false)
          VectorIndexStore.advanceDayPqScaled(dayEmb("1"), dir, 1)
        },
        (dir, d) => op(VectorIndexStore.advanceDayPqScaled(dayEmb(d), dir, d.toInt)),
        (dir, d) => op(VectorIndexStore.retireDayPqScaled(spark, dir, d.toInt)),
        (dir, ds) => served(VectorIndexStore.DirKey, dir)(
          VectorIndexStore.openFreshPqScaled(codebookCorpus, embOf(ds)).map(s => rows(s._3)))),
      StoreFace("verdict_day", days, Set("day_meta", "suite_meta"),
        dir => op {
          VerdictStore.build(trainDays(Seq("0")), Seq("all" -> benchCorpus("all")), dir,
            day = 0, trained = false)
          VerdictStore.advanceDay(trainDays(Seq("1")), Seq("all" -> benchCorpus("all")), dir, 1)
        },
        (dir, d) => op(VerdictStore.advanceDay(trainDays(Seq(d)),
          Seq("all" -> benchCorpus("all")), dir, d.toInt)),
        (dir, d) => op(VerdictStore.retireDay(spark, dir, d.toInt)),
        (dir, ds) => served(VerdictStore.DirKey, dir) {
          val t = trainDays(ds)
          val s = benchCorpus("all")
          VerdictStore.openFreshTwoEye(t.txt, t.emb, s.txt, s.emb).map(rows(_))
        }),
      StoreFace("decon", benches, Set("meta"),
        dir => op { DeconStore.build(benchDocs("all"), dir); DeconStore.advanceBenchmark(benches(1), benchDocs(benches(1)), dir) },
        (dir, b) => op(DeconStore.advanceBenchmark(b, benchDocs(b), dir)),
        (dir, b) => op(DeconStore.retireBenchmark(b, spark, dir)),
        (dir, bs) => served(DeconStore.DirKey, dir)(
          DeconStore.openFresh(union(bs.map(benchDocs))).map(s => rows(s._1, "fp ") ++ rows(s._2, "g ")))),
      StoreFace("semdecon", benches, Set("meta"),
        dir => op {
          SemanticDeconStore.build(benchEmb("all"), dir, Some(codebookCorpus), trained = false)
          SemanticDeconStore.advanceBenchmark(benches(1), benchEmb(benches(1)), dir)
        },
        (dir, b) => op(SemanticDeconStore.advanceBenchmark(b, benchEmb(b), dir)),
        (dir, b) => op(SemanticDeconStore.retireBenchmark(b, spark, dir)),
        (dir, bs) => served(SemanticDeconStore.DirKey, dir)(
          SemanticDeconStore.openFresh(union(bs.map(benchEmb))).map(s => rows(s._2)))),
      StoreFace("verdict_bench", benches, Set("day_meta", "suite_meta"),
        dir => op {
          VerdictStore.build(verdictTrain, Seq("all" -> benchCorpus("all")), dir, day = 0,
            trained = false)
          VerdictStore.advanceBenchmark(benches(1), benchCorpus(benches(1)), verdictTrain, dir)
        },
        (dir, b) => op(VerdictStore.advanceBenchmark(b, benchCorpus(b), verdictTrain, dir)),
        (dir, b) => op(VerdictStore.retireBenchmark(b, spark, dir)),
        (dir, bs) => served(VerdictStore.DirKey, dir) {
          val s = suiteOf(bs)
          VerdictStore.openFreshTwoEye(verdictTrain.txt, verdictTrain.emb, s.txt, s.emb).map(rows(_))
        })
    )
  }

  /** The tokenizer store has no keyed face: a build is its whole script. */
  def buildTokenizer(spark: SparkSession, dir: String): Unit =
    try TokenizerStore.build(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40), dir)
    finally Caches.releaseAll()
}
