package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** The shared half of the generational commit protocol ([[GenStore]]),
  * run against BOTH stores that use it — the PageRank layout and the ANN
  * index — so a guard that holds for one store but not the other fails
  * here:
  *  - a CDC batch carrying a null op, or an op other than `I`/`D`, is
  *    refused before any write: no generation bump, no new or touched
  *    file;
  *  - a streaming batch against a store that was never built fails loudly
  *    (the missing-meta guard) and writes nothing. */
class GenStoreSpec extends SparkSpec {
  import GenStoreSpec.Store

  private lazy val stores: Seq[Store] = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val emb = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    Seq(
      Store("layout", PageRankLayout.layoutRoot,
        dir => PageRankLayout.buildLayoutFrom(spark, dir, li),
        ops => {
          val k = li.agg(max("l_orderkey")).head().getLong(0) + 1
          ops.map(op => (op, k, 1L)).toDF("op", "l_orderkey", "l_partkey")
        },
        (dir, b, id) => PageRankLayout.mergeLayoutBatch(spark, dir,
          b.select("l_orderkey", "l_partkey"), id),
        (dir, b, id) => PageRankLayout.mergeLayoutCdcBatch(spark, dir, b, id)),
      Store("ann", Similarity.annIndexRoot,
        dir => { Similarity.buildAnnIndexFrom(spark, dir, emb); () },
        ops => {
          // a fresh id outside the training stratum (vec_id % 4 == 0)
          val id = emb.agg(max("vec_id")).head().getLong(0) * 4 + 1
          val v = emb.head().getSeq[Float](1).toArray
          ops.map(op => (op, id, v)).toDF("op", "vec_id", "embedding")
        },
        (dir, b, id) => Similarity.mergeAnnIndexBatch(spark, dir,
          b.select("vec_id", "embedding"), id),
        (dir, b, id) => Similarity.mergeAnnCdcBatch(spark, dir, b, id)))
  }

  private def walkFiles(dir: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  private def freshKey(prefix: String, s: Store): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s.root(dir)))
    dir
  }

  private def cleanUp(dir: String, s: Store): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s.root(dir)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  for (storeName <- Seq("layout", "ann")) {
    def store: Store = stores.find(_.name == storeName).get

    test(s"$storeName: a CDC batch with a null or unknown op is refused with " +
      "no generation bump and no file written") {
      val s = store
      val dir = freshKey(s"gs_op_$storeName", s)
      s.build(dir)
      val root = s.root(dir)
      def lastGen: Long = spark.read.parquet(s"$root/meta").head().getAs[Long]("last_gen")
      val gen0 = lastGen
      val before = walkFiles(root)
      Seq(Seq("I", null), Seq("I", "X")).foreach { ops =>
        // batchId = gen0 maps to the next generation, so the batch is
        // applied — and must be stopped by the op check
        val e = intercept[IllegalArgumentException] {
          s.mergeCdc(dir, s.cdcBatch(ops), gen0)
        }
        assert(e.getMessage.contains("unknown op"), e.getMessage)
        assert(lastGen === gen0, s"ops $ops bumped the generation")
        assert(walkFiles(root) === before, s"ops $ops wrote into the store")
      }
      cleanUp(dir, s)
    }

    test(s"$storeName: a streaming batch against a store that was never built " +
      "fails loudly and writes nothing") {
      val s = store
      val dir = freshKey(s"gs_nometa_$storeName", s)
      val root = s.root(dir)
      val batch = s.cdcBatch(Seq("I"))
      Seq[(String, () => Unit)](
        "merge" -> (() => s.merge(dir, batch, 0L)),
        "mergeCdc" -> (() => s.mergeCdc(dir, batch, 0L))).foreach { case (entry, call) =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("wiped"), s"$entry: ${e.getMessage}")
        assert(!new java.io.File(root).exists(), s"$entry wrote under $root")
      }
      cleanUp(dir, s)
    }
  }
}

object GenStoreSpec {

  /** One store under test. `cdcBatch(ops)` is a CDC frame with one row per
    * op, each keyed to a row the store does not hold. */
  private final case class Store(name: String, root: String => String,
      build: String => Unit, cdcBatch: Seq[String] => DataFrame,
      merge: (String, DataFrame, Long) => Unit,
      mergeCdc: (String, DataFrame, Long) => Unit)
}
