package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Day-partitioned store for the IVF vector index — the
  * [[SignatureStore]]/[[WinnowStore]] maintenance contract applied to
  * the similarity tier, the last heavy-artifact tier that still
  * rebuilt its index per run. q139's daily probe reads a bucket-
  * assigned corpus (n_id, n_vec, bkt); before this store that index
  * was re-derived from the embeddings every run — the corpus-
  * proportional rescan the incremental path exists to avoid, and
  * exactly what Faiss-style deployments persist.
  *
  * Layout under one root:
  * {{{
  *   <dir>/codebook/      (c_id, cv)               written ONCE at build
  *   <dir>/assign/day=N/  (n_id, n_vec, bkt)       bucket assignments
  *   <dir>/meta/          (day, n_vecs, digest)    one row per day
  * }}}
  *
  * **The codebook is a FROZEN model artifact.** [[advanceDay]] assigns
  * its batch against the STORED codebook (K driver rows, never
  * re-derived) — that is what makes the index incremental: day N+1's
  * assignments are valid next to day ≤ N's because both used the same
  * quantizer, the standard IVF operational contract (retraining the
  * quantizer = a new index = [[build]]).
  *
  * Freshness covers BOTH halves: the per-day digests over the indexed
  * vectors `(count, XOR of xxhash64(vec_id, embedding))` follow the
  * [[StoreKernel]] contract (day-keyed; base and PQ faces share `meta`,
  * the scaled faces keep `meta_scaled`/`meta_pqs`), and the stored
  * codebook must equal the one the offered corpus implies — a K-row
  * driver comparison, or for the scaled faces the build-time corpus
  * digest in `codebook_meta_*`. A stale store costs an inline
  * re-assignment, never a wrong neighbor.
  */
object VectorIndexStore {

  /** Session conf: root dir of the store. Unset (default) = no store. */
  val DirKey = "spark.graft.vectorstore.dir"

  /** Session conf: skip BOTH freshness checks and trust the store. */
  val TrustKey = "spark.graft.vectorstore.trust"

  /** Whether the last [[buildPqScaled]] reused the artifact pass's
    * codes (`corpus eq indexRel`) instead of re-encoding the index
    * relation — observability for the one-build-one-encode contract
    * (VERDICT r15 next-4); result rows are identical either way. */
  private[graft] val lastPqBuildReusedCodes =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private val face = StoreKernel.DayFace("vectorstore", "meta", "n_vecs", Seq("assign", "codes"))
  private val scaled = StoreKernel.DayFace("vectorstore", "meta_scaled", "n_vecs", Seq("assign_scaled"))
  private val pqScaled = StoreKernel.DayFace("vectorstore", "meta_pqs", "n_vecs", Seq("codes_pqs"))

  private val sq = graft.operators.SimilarityQueries

  /** Corpus digest over an embedding relation (vec_id, embedding) —
    * the [[SignatureStore.digestOf]] shape for the vector tier.
    * xxhash64 hashes the float array exactly, so the digest is
    * bit-stable across partitionings and parquet roundtrips. */
  def digestOf(e: DataFrame): (Long, Long) =
    FileDigests.digestOf(e, xxhash64(col("vec_id"), col("embedding")))

  /** Write-path variant: whole-relation aggregate over `e` as
    * evaluated (honors a pinned batch), never the per-file cache —
    * [[FileDigests.digestOfPinned]]'s tear argument (ADVICE r17). */
  def digestOfPinned(e: DataFrame): (Long, Long) =
    FileDigests.digestOfPinned(e, xxhash64(col("vec_id"), col("embedding")))

  /** Write `derive(batch)` as `day` of `f`'s `payload` and commit the
    * batch digest, the batch pinned across both. */
  private def writeDay(f: StoreKernel.DayFace, payload: String, dir: String, day: Int,
      batch: DataFrame)(derive: DataFrame => DataFrame): Unit =
    StoreKernel.pinned(batch) { b =>
      f.write(derive(b), dir, payload, day)
      f.commit(b.sparkSession, dir, day, digestOfPinned(b))
    }

  private def codebookAt(spark: SparkSession, path: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  private def writeCodebook(spark: SparkSession, path: String,
      cents: Seq[(Long, Seq[Double])]): Unit =
    spark.createDataFrame(cents).toDF("c_id", "cv").coalesce(1).write.parquet(path)

  /** Freeze the coarse codebook of a decon store at `<dir>/codebook`:
    * k-means over `src` when `trained`, else its first K vectors. */
  private[sources] def freezeCodebook(src: DataFrame, dir: String, trained: Boolean,
      what: String): Seq[(Long, Seq[Double])] = {
    val cents =
      if (trained) sq.trainedCodebook(src, sq.NumCentroids) else sq.centroidList(src)
    require(cents.nonEmpty,
      s"$what $dir: codebook source has no vec_id below the codebook size")
    writeCodebook(src.sparkSession, s"$dir/codebook", cents)
    cents
  }

  private def writePqCodebook(spark: SparkSession, path: String,
      cents: Map[Int, Seq[(Long, Seq[Double])]]): Unit = {
    import spark.implicits._
    cents.toSeq.flatMap { case (sub, cs) => cs.map { case (cid, cv) => (sub, cid, cv) } }
      .toDF("sub", "cid", "cv").coalesce(1).write.parquet(path)
  }

  /** A scaled face's build-time corpus digest — the codebook's
    * freshness artifact, verified on open instead of retraining. */
  private def commitCodebookMeta(spark: SparkSession, dir: String, path: String,
      corpus: DataFrame, trained: Boolean): Unit = {
    val (n, dg) = digestOfPinned(corpus)
    StoreKernel.commitRow(spark, dir, path,
      spark.createDataFrame(Seq((n, dg, trained))).toDF("n_vecs", "digest", "trained"))
  }

  private def clear(spark: SparkSession, dir: String, subs: Seq[String]): Unit = {
    StoreLease.checkWrite(spark, dir)
    val f = StoreKernel.fs(spark, dir)
    subs.foreach(p => f.delete(new Path(s"$dir/$p"), true): Unit)
  }

  /** Build a fresh index at `dir`: train (collect) the codebook from
    * `corpus`, assign `indexRel` as `day`. Replaces prior content. */
  def build(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0): Unit = {
    val spark = corpus.sparkSession
    StoreKernel.replace(spark, dir)
    val cents = sq.centroidList(corpus)
    writeCodebook(spark, s"$dir/codebook", cents)
    writeDay(face, "assign", dir, day, indexRel)(sq.ivfAssign(_, cents))
  }

  /** The stored codebook — K driver rows. */
  def storedCodebook(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    codebookAt(spark, s"$dir/codebook")

  /** Append one ingest day: assign ONLY the batch against the STORED
    * codebook (never re-derived — the frozen-quantizer contract).
    * Idempotent per day. */
  def advanceDay(batch: DataFrame, dir: String, day: Int): Unit = {
    val cents = storedCodebook(batch.sparkSession, dir)
    retireDay(batch.sparkSession, dir, day)
    writeDay(face, "assign", dir, day, batch)(sq.ivfAssign(_, cents))
  }

  /** Retire one day (takedown/expiry) of the base and PQ faces. The
    * codebook stays — it is a model artifact, not data derived from
    * the retired day. */
  def retireDay(spark: SparkSession, dir: String, day: Int): Unit =
    face.retire(spark, dir, day)

  // ------------------------------------------------------ PQ face
  /** Build the COMPRESSED index (IVF-PQ): coarse codebook + per-
    * subspace PQ codebooks (both frozen model artifacts, driver rows)
    * + the coded corpus (vec_id, bkt, sub, code) as `day` — the
    * artifact whose derivation is expensive at production shapes (a
    * k-means training pass + a full encode per run); q82/q88 read it
    * instead when configured and fresh. */
  def buildPq(corpus: DataFrame, dir: String, day: Int = 0): Unit = {
    val spark = corpus.sparkSession
    StoreKernel.replace(spark, dir)
    StoreKernel.pinned(corpus) { c =>
      val (coarse, cents, codes) = sq.pqIndexArtifacts(c)
      writeCodebook(spark, s"$dir/codebook", coarse)
      writePqCodebook(spark, s"$dir/pq_codebook", cents)
      face.write(codes, dir, "codes", day)
      face.commit(spark, dir, day, digestOfPinned(c))
    }
  }

  /** The stored PQ codebooks — m × k' driver rows. */
  def storedPqCodebook(spark: SparkSession, dir: String)
      : Map[Int, Seq[(Long, Seq[Double])]] =
    storedPqCodebookAt(spark, s"$dir/pq_codebook")

  /** Append one day of PQ codes, encoded against BOTH frozen
    * codebooks. Idempotent per day. */
  def advanceDayPq(batch: DataFrame, dir: String, day: Int): Unit = {
    val spark = batch.sparkSession
    val coarse = storedCodebook(spark, dir)
    val cents = storedPqCodebook(spark, dir)
    retireDay(spark, dir, day)
    writeDay(face, "codes", dir, day, batch)(sq.pqEncodeWith(_, coarse, cents))
  }

  /** The stored (coarse codebook, PQ codebooks, codes) IF configured
    * and the day digests compose to this exact corpus — None on key
    * unset, unreadable store, coarse-codebook drift, or digest
    * mismatch. */
  def openFreshPq(corpus: DataFrame)
      : Option[(Seq[(Long, Seq[Double])], Map[Int, Seq[(Long, Seq[Double])]], DataFrame)] = {
    val spark = corpus.sparkSession
    StoreKernel.open(spark, DirKey, face.tag) { dir =>
      val coarse = storedCodebook(spark, dir)
      val trusted = StoreKernel.trusted(spark, TrustKey)
      if (!trusted && sq.centroidList(corpus) != coarse)
        StoreKernel.fallback(face.tag, dir, "codebook differs from the offered corpus's")
      else face.fresh(spark, dir, trusted, digestOf(corpus)).map { m =>
        (coarse, storedPqCodebook(spark, dir), face.read(spark, dir, "codes", m.live)(
          StoreKernel.empty(spark, CodesDdl)).select("vec_id", "bkt", "sub", "code"))
      }
    }
  }

  private val CodesDdl = "vec_id BIGINT, bkt BIGINT, sub INT, code BIGINT"

  // ------------------------------------------- scaled-K face (r13)
  /** Build the DATA-SCALED index face: the q188 shape — a FROZEN
    * unit-normalized codebook at the Faiss K = ⌈√N⌉ sizing plus the
    * (vec_id, nv, bkt) assignments as `day`. This is the face where
    * the store's economics flip POSITIVE on this very fixture (unlike
    * the K=16 base face, whose honest negative SCALE.md documents):
    * at K = √N the assignment is K dots per vector — the dominant,
    * corpus-sided term of every probe — and the digest-verify scan it
    * pays instead is one hash per vector. Lives beside the base/PQ
    * faces under the same [[DirKey]] (own subpaths + meta).
    *
    * `trained` defaults TRUE (r16, VERDICT r15 next-2): a production
    * build runs the spherical k-means job — on a clustered corpus
    * whose low ids share a cluster, first-K leaves other clusters
    * centroid-less and the candidate join under-recalls
    * (TrainedCodebookSpec plants that corpus and pins the repair).
    * First-K remains the EXPLICIT fixture/oracle convention: parity
    * specs pass `trained = false` because the inline arm they pin
    * against derives first-K, and byte-parity across two separately
    * trained builds would additionally hang on float-sum order. */
  def buildScaled(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0, trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    clear(spark, dir, Seq("codebook_scaled", "codebook_meta_scaled", "assign_scaled", "meta_scaled"))
    // Pinned: the codebook meta's digest must cover exactly the rows
    // the codebook was derived from.
    StoreKernel.pinned(corpus) { c =>
      val k = sq.scaledK(c)
      val cents = if (trained) sq.scaledCodebookTrained(c, k) else sq.scaledCodebook(c, k)
      writeCodebook(spark, s"$dir/codebook_scaled",
        cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
      commitCodebookMeta(spark, dir, s"$dir/codebook_meta_scaled", c, trained)
      writeDay(scaled, "assign_scaled", dir, day, indexRel)(sq.scaledAssign(_, cents))
    }
  }

  /** The stored scaled codebook — ⌈√N⌉ driver rows, index-ordered. */
  def storedScaledCodebook(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    codebookAt(spark, s"$dir/codebook_scaled").map(_._2)

  /** Append one day against the FROZEN scaled codebook (K froze at
    * build-time corpus size; a corpus that outgrows its √N codebook
    * re-[[buildScaled]]s, the Faiss retrain event). Idempotent. */
  def advanceDayScaled(batch: DataFrame, dir: String, day: Int): Unit = {
    val cents = storedScaledCodebook(batch.sparkSession, dir)
    retireDayScaled(batch.sparkSession, dir, day)
    writeDay(scaled, "assign_scaled", dir, day, batch)(sq.scaledAssign(_, cents))
  }

  /** Retire one scaled-face day. */
  def retireDayScaled(spark: SparkSession, dir: String, day: Int): Unit =
    scaled.retire(spark, dir, day)

  /** The stored (scaled codebook, assignments) IF configured and fresh
    * for this exact (corpus, index) pair: the build-time corpus digest
    * must match the offered corpus (so a grown corpus reads stale,
    * forcing the retrain) and the index digest must compose. */
  def openFreshScaled(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[Seq[Double]], DataFrame)] = {
    val spark = corpus.sparkSession
    StoreKernel.open(spark, DirKey, scaled.tag) { dir =>
      val cents = storedScaledCodebook(spark, dir)
      val trusted = StoreKernel.trusted(spark, TrustKey)
      // Pre-meta stores (no codebook_meta_scaled) fall back to the
      // first-K comparison. Only evaluated when untrusted.
      val cbFresh = trusted || {
        if (StoreKernel.fs(spark, dir).exists(new Path(s"$dir/codebook_meta_scaled"))) {
          val m = spark.read.parquet(s"$dir/codebook_meta_scaled").head()
          (m.getLong(0), m.getLong(1)) == digestOf(corpus)
        } else sq.scaledCodebook(corpus, sq.scaledK(corpus)) == cents
      }
      if (!cbFresh)
        StoreKernel.fallback(scaled.tag, dir, "scaled codebook differs from the offered corpus's")
      else scaled.fresh(spark, dir, trusted, digestOf(idxRel)).map { m =>
        (cents, scaled.read(spark, dir, "assign_scaled", m.live)(
          StoreKernel.empty(spark, "vec_id BIGINT, nv ARRAY<DOUBLE>, bkt BIGINT"))
          .select("vec_id", "nv", "bkt"))
      }
    }
  }

  // --------------------------------------- scaled-K PQ face (r14)
  /** Build the DATA-SCALED compressed index — the q195 serving shape:
    * K=⌈√N⌉ coarse codebook (`trained = true` runs the spherical
    * k-means job instead of first-K), per-subspace PQ codebooks, and
    * the coded corpus, all under the same [[DirKey]] root (own
    * subpaths + metas). This face is where the store's economics are
    * strongest: it amortizes the N·√N coarse assignment AND the PQ
    * train + encode — everything q195 pays except the probe itself
    * (the xpk bench pair prices the split). Freshness is the scaled
    * face's: a build-time corpus digest for the codebooks (one hash
    * pass on open — no retraining to verify a trained codebook) plus
    * XOR-composed day digests for the codes.
    *
    * When `corpus eq indexRel` (the common self-indexing build: Bench
    * xpk, q195's specs) the artifacts' codes ARE the index codes and
    * the build runs ONE assignment + subvector explode; value-equal
    * but DISTINCT plans still re-encode because nothing ties their
    * row sets together until the digests (ADVICE r14). Every in-repo
    * caller now threads the same reference;
    * [[lastPqBuildReusedCodes]] makes the dispatch spec-pinnable
    * (VERDICT r15 next-4's one-build-one-encode).
    *
    * `trained` defaults TRUE (r16 — [[buildScaled]]'s argument; the
    * r15 xpk serve-invariance pair measured that the probe cost is
    * codebook-provenance-independent, so the default costs the serve
    * path nothing and buys the recall). First-K stays the explicit
    * fixture/oracle convention at parity call sites. */
  def buildPqScaled(corpus: DataFrame, indexRel: DataFrame, dir: String,
      day: Int = 0, trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    clear(spark, dir, Seq("codebook_pqs", "pq_codebook_pqs", "codes_pqs", "meta_pqs",
      "codebook_meta_pqs"))
    // Reference equality is the honest test: value-equal but distinct
    // plans still need their own encode because nothing ties their row
    // sets together until the digests.
    val same = corpus eq indexRel
    StoreKernel.pinned(corpus) { c =>
      val k = sq.scaledK(c)
      val cents = if (trained) sq.scaledCodebookTrained(c, k) else sq.scaledCodebook(c, k)
      writeCodebook(spark, s"$dir/codebook_pqs",
        cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
      // Codebooks (coarse AND PQ) train on the CORPUS, keyed separately
      // from the indexed data, so advances/retires of the code set never
      // read stale just because the code set changed.
      val (_, pqCents, corpusCodes) = sq.pqScaledIndexArtifactsWith(c, cents)
      writePqCodebook(spark, s"$dir/pq_codebook_pqs", pqCents)
      lastPqBuildReusedCodes.set(same)
      if (same) {
        pqScaled.write(corpusCodes, dir, "codes_pqs", day)
        commitCodebookMeta(spark, dir, s"$dir/codebook_meta_pqs", c, trained)
        pqScaled.commit(spark, dir, day, digestOfPinned(c))
      } else StoreKernel.pinned(indexRel) { i =>
        pqScaled.write(sq.pqEncodeScaledWith(i, cents, pqCents), dir, "codes_pqs", day)
        commitCodebookMeta(spark, dir, s"$dir/codebook_meta_pqs", c, trained)
        pqScaled.commit(spark, dir, day, digestOfPinned(i))
      }
    }
  }

  /** The stored scaled coarse codebook — ⌈√N⌉ driver rows. */
  def storedPqScaledCodebook(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    codebookAt(spark, s"$dir/codebook_pqs").map(_._2)

  /** Append one day of scaled PQ codes, encoded against BOTH frozen
    * codebooks. Idempotent per day. */
  def advanceDayPqScaled(batch: DataFrame, dir: String, day: Int): Unit = {
    val spark = batch.sparkSession
    val cents = storedPqScaledCodebook(spark, dir)
    val pqCents = storedPqCodebookAt(spark, s"$dir/pq_codebook_pqs")
    retireDayPqScaled(spark, dir, day)
    writeDay(pqScaled, "codes_pqs", dir, day, batch)(sq.pqEncodeScaledWith(_, cents, pqCents))
  }

  /** Retire one scaled-PQ day. */
  def retireDayPqScaled(spark: SparkSession, dir: String, day: Int): Unit =
    pqScaled.retire(spark, dir, day)

  /** The stored (scaled codebook, PQ codebooks, codes) IF configured
    * and fresh for this exact (codebook corpus, indexed data) pair —
    * the [[openFreshScaled]] two-relation contract: the build-time
    * codebook digest must equal the offered codebook corpus's, and the
    * day digests must compose to the offered INDEX relation. */
  def openFreshPqScaled(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[Seq[Double]], Map[Int, Seq[(Long, Seq[Double])]], DataFrame)] = {
    val spark = corpus.sparkSession
    StoreKernel.open(spark, DirKey, pqScaled.tag) { dir =>
      val cents = storedPqScaledCodebook(spark, dir)
      val trusted = StoreKernel.trusted(spark, TrustKey)
      lazy val cb = spark.read.parquet(s"$dir/codebook_meta_pqs").head()
      if (!trusted && (cb.getLong(0), cb.getLong(1)) != digestOf(corpus))
        StoreKernel.fallback(pqScaled.tag, dir, "scaled-PQ codebook predates the offered corpus")
      else pqScaled.fresh(spark, dir, trusted, digestOf(idxRel)).map { m =>
        (cents, storedPqCodebookAt(spark, s"$dir/pq_codebook_pqs"),
          pqScaled.read(spark, dir, "codes_pqs", m.live)(StoreKernel.empty(spark, CodesDdl))
            .select("vec_id", "bkt", "sub", "code"))
      }
    }
  }

  private def storedPqCodebookAt(spark: SparkSession, path: String)
      : Map[Int, Seq[(Long, Seq[Double])]] =
    spark.read.parquet(path)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .groupBy(_._1).map { case (sub, rs) =>
        sub -> rs.sortBy(_._2).map(t => (t._2, t._3)).toSeq
      }

  /** The stored (codebook, assignments) IF configured and fresh for
    * this exact (corpus, index) pair — None (one fallback line) on key
    * unset, unreadable store, stored-vs-implied codebook mismatch, or
    * index digest mismatch. */
  def openFresh(corpus: DataFrame, idxRel: DataFrame)
      : Option[(Seq[(Long, Seq[Double])], DataFrame)] = {
    val spark = corpus.sparkSession
    StoreKernel.open(spark, DirKey, face.tag) { dir =>
      val cents = storedCodebook(spark, dir)
      val trusted = StoreKernel.trusted(spark, TrustKey)
      if (!trusted && sq.centroidList(corpus) != cents)
        StoreKernel.fallback(face.tag, dir, "codebook differs from the offered corpus's")
      else face.fresh(spark, dir, trusted, digestOf(idxRel)).map { m =>
        (cents, face.read(spark, dir, "assign", m.live)(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          idxRel.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
            lit(0L).as("bkt")).schema)).select("n_id", "n_vec", "bkt"))
      }
    }
  }
}
