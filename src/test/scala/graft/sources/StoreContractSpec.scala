package graft.sources

import graft.SparkSpec

/** The store commit contract, crash-injected once over every keyed
  * face ([[StoreFaces]]): a kill is placed between two steps of an
  * operation by [[CrashFs]], and what a reader sees afterwards is
  * compared with an uninterrupted store driven through the same script.
  *
  *  (a) payload written, meta never committed: opening the committed
  *      corpus serves exactly the committed rows — no orphan row;
  *  (b) retire killed after its first step: the store reads stale for a
  *      corpus that still holds the key (never fresh-but-short), and
  *      is never wrong for the corpus without it;
  *  (c) replaying the killed operation converges to the uninterrupted
  *      store.
  *
  * Also: (d) a live key whose payload partition is missing makes the
  * open fall back instead of serving the store short, and bench faces
  * serve benchmarks whose names partition discovery reads back altered.
  */
class StoreContractSpec extends SparkSpec {
  CrashFs.register(spark.sparkContext.hadoopConfiguration)

  private val faces = StoreFaces.all(spark)

  /** The uninterrupted script's serves: committed {k0,k1}, then k2
    * advanced, then k1 retired. */
  private final case class Reference(s01: Option[Seq[String]],
      s012: Option[Seq[String]], s02: Option[Seq[String]])

  private val references = scala.collection.mutable.Map.empty[String, Reference]

  private def reference(f: StoreFace): Reference = references.getOrElseUpdate(f.name, {
    val Seq(k0, k1, k2) = f.keys
    val dir = tmpDir(s"ref_${f.name}")
    f.seed(dir)
    val s01 = f.open(dir, Seq(k0, k1))
    f.advance(dir, k2)
    val s012 = f.open(dir, Seq(k0, k1, k2))
    f.retire(dir, k1)
    val s02 = f.open(dir, Seq(k0, k2))
    assert(s01.isDefined && s012.isDefined && s02.isDefined,
      s"${f.name}: the uninterrupted store must serve every committed state")
    Reference(s01, s012, s02)
  })

  private def crashed(f: StoreFace, dir: String, at: CrashFs.Point)(op: => Unit): Unit = {
    CrashFs.arm(dir, f.metaDirs, at)
    try {
      intercept[Throwable](op)
      assert(CrashFs.fired, s"${f.name}: the injected crash must interrupt the operation")
    } finally CrashFs.disarm()
  }

  private def crashDir(f: StoreFace, tag: String) =
    CrashFs.uri(tmpDir(s"crash_${tag}_${f.name}"))

  faces.foreach { f =>
    val Seq(k0, k1, k2) = f.keys

    test(s"${f.name} (a): a payload written without its meta commit serves no orphan row") {
      val ref = reference(f)
      val dir = crashDir(f, "a")
      f.seed(dir)
      crashed(f, dir, CrashFs.AfterPayloadWrite)(f.advance(dir, k2))
      val got = f.open(dir, Seq(k0, k1))
      assert(got.forall(ref.s01.contains),
        s"${f.name}: the committed corpus must be served exactly as committed, " +
          s"got ${got.map(_.diff(ref.s01.get).take(5))} beyond it")
    }

    test(s"${f.name} (b): a retire killed after its first step reads stale, never fresh-but-short") {
      val ref = reference(f)
      val dir = crashDir(f, "b")
      f.seed(dir)
      f.advance(dir, k2)
      crashed(f, dir, CrashFs.AfterFirstStep)(f.retire(dir, k1))
      val withKey = f.open(dir, Seq(k0, k1, k2))
      assert(withKey.isEmpty,
        s"${f.name}: a corpus that still holds $k1 must read stale after the interrupted " +
          s"retire, got ${withKey.map(_.size)} rows against ${ref.s012.get.size} committed")
      val withoutKey = f.open(dir, Seq(k0, k2))
      assert(withoutKey.forall(ref.s02.contains),
        s"${f.name}: the corpus without $k1 must be served exactly or not at all")
    }

    test(s"${f.name} (c): replaying an interrupted advance or retire converges to the uninterrupted store") {
      val ref = reference(f)
      val dir = crashDir(f, "c")
      f.seed(dir)
      crashed(f, dir, CrashFs.AfterPayloadWrite)(f.advance(dir, k2))
      f.advance(dir, k2)
      assert(f.open(dir, Seq(k0, k1, k2)) == ref.s012,
        s"${f.name}: the replayed advance must serve what an uninterrupted advance serves")
      crashed(f, dir, CrashFs.AfterFirstStep)(f.retire(dir, k1))
      f.retire(dir, k1)
      assert(f.open(dir, Seq(k0, k2)) == ref.s02,
        s"${f.name}: the replayed retire must serve what an uninterrupted retire serves")
    }
  }

  // The payload each open reads, on the faces where every live key has
  // a partition (Signature and Winnow may lack one for an empty
  // derivation; the audit and verdict faces check the digest instead).
  private val densePayload = Map("vector" -> "assign", "vector_pq" -> "codes",
    "vector_scaled" -> "assign_scaled", "vector_pqscaled" -> "codes_pqs",
    "mediahash_sourced" -> "hashes", "decon" -> "fps", "semdecon" -> "vecs")

  faces.filter(f => densePayload.contains(f.name)).foreach { f =>
    val Seq(k0, k1, _) = f.keys
    test(s"${f.name} (d): a live key without its payload partition falls back, never serves short") {
      val dir = tmpDir(s"short_${f.name}")
      f.seed(dir)
      val key = if (f.keys == StoreFaces.days) "day" else "bench"
      val part = new org.apache.hadoop.fs.Path(s"$dir/${densePayload(f.name)}/$key=$k1")
      assert(part.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(part, true))
      assert(f.open(dir, Seq(k0, k1)).isEmpty,
        s"${f.name}: a store missing a live partition must fall back")
    }
  }

  test("vector: a PQ store opened through the assignment face falls back") {
    val emb = spark.read.parquet(s"${StoreFaces.sf}/embeddings.parquet")
      .select("vec_id", "embedding").where("vec_id < 40")
    val dir = tmpDir("pq_as_assign")
    try {
      VectorIndexStore.buildPq(emb, dir, 0)
      spark.conf.set(VectorIndexStore.DirKey, dir)
      assert(VectorIndexStore.openFreshPq(emb).isDefined)
      assert(VectorIndexStore.openFresh(emb, emb).isEmpty,
        "a store with no assign partitions must not serve an empty index")
    } finally { spark.conf.unset(VectorIndexStore.DirKey); graft.core.Caches.releaseAll() }
  }

  // Benchmark names come from the suite-edit stream; discovery URL-
  // unescapes 'mmlu%3Dv2' to 'mmlu=v2' on read. The verdict store
  // rejects such names at write time, so it is not in this list.
  StoreFaces.all(spark, Seq("all", "mmlu%3Dv2", "a=b"))
    .filter(f => Set("decon", "semdecon")(f.name)).foreach { f =>
      val Seq(k0, k1, k2) = f.keys
      test(s"${f.name}: a benchmark name with '%' or '=' is served as committed") {
        val ref = reference(faces.find(_.name == f.name).get)
        val dir = tmpDir(s"names_${f.name}")
        f.seed(dir)
        f.advance(dir, k2)
        assert(f.open(dir, Seq(k0, k1, k2)) == ref.s012,
          s"${f.name}: every committed benchmark must be served")
        f.retire(dir, k1)
        assert(f.open(dir, Seq(k0, k2)) == ref.s02,
          s"${f.name}: the retire must leave the other benchmarks served")
      }
    }
}
