package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** On-disk layout parity for the nine stores: one fixed tiny script
  * (seed two keys, advance a third, retire the second; a plain build
  * for the tokenizer store) runs against every face, and the store
  * directory is compared with a golden listing written by the store
  * code before it moved onto [[StoreKernel]] —
  * `src/test/resources/store-layout/<face>.txt`. The listing holds the
  * relative partition tree (part-file names and `.crc` files left out),
  * each meta table's schema and its rows, and each payload dir's schema
  * with its row count and an order-independent row hash, so a store
  * directory written by either code opens under the other and serves
  * the same rows.
  */
class StoreLayoutParitySpec extends SparkSpec {

  private def listing(dir: String, metaDirs: Seq[String]): String = {
    val root = Paths.get(dir)
    val tree = Files.walk(root).iterator().asScala.toSeq
      .filterNot(_ == root)
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") || n.endsWith(".crc")
      }
      .map(p => root.relativize(p).toString + (if (Files.isDirectory(p)) "/" else ""))
      .sorted
    val metas = metaDirs.filter(m => Files.exists(root.resolve(m))).flatMap { m =>
      val df = spark.read.parquet(s"$dir/$m")
      Seq(s"meta $m: ${df.schema.toDDL}") ++
        df.collect().map(r => s"  ${r.toSeq.mkString(",")}").sorted
    }
    val payloads = tree.filter(t => t.endsWith("/") && t.count(_ == '/') == 1)
      .map(_.dropRight(1)).filterNot(metaDirs.contains).flatMap { p =>
        val files = Files.walk(root.resolve(p)).iterator().asScala
        if (!files.exists(_.getFileName.toString.endsWith(".parquet"))) Seq(s"payload $p: no rows")
        else {
          val df = spark.read.parquet(s"$dir/$p")
          val h = df.agg(count(lit(1)),
            sum(xxhash64(to_json(struct(df.columns.map(col): _*))).cast("decimal(38,0)"))).head()
          Seq(s"payload $p: ${df.schema.toDDL}", s"  rows ${h.getLong(0)}, hash ${h.get(1)}")
        }
      }
    (Seq("tree:") ++ tree.map("  " + _) ++ metas ++ payloads).mkString("", "\n", "\n")
  }

  private def golden(name: String): String =
    new String(Files.readAllBytes(Paths.get(
      getClass.getResource(s"/store-layout/$name.txt").toURI)), "UTF-8")

  private def check(name: String, dir: String, metaDirs: Seq[String]): Unit = {
    val got = listing(dir, metaDirs)
    assert(got == golden(name), s"$name layout drifted from the golden listing:\n$got")
  }

  StoreFaces.all(spark).foreach { f =>
    test(s"${f.name}: build, advance and retire leave the golden layout") {
      val Seq(_, k1, k2) = f.keys
      val dir = tmpDir(s"layout_${f.name}")
      f.seed(dir)
      f.advance(dir, k2)
      f.retire(dir, k1)
      check(f.name, dir, f.metaDirs.toSeq.sorted)
    }
  }

  test("tokenizer: a build leaves the golden layout") {
    val dir = tmpDir("layout_tokenizer")
    StoreFaces.buildTokenizer(spark, dir)
    check("tokenizer", dir, Seq("meta"))
  }
}
