package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** A fixed round through the layers the timed loops do not reach. It runs
  * once, after the loop of a traced run, and feeds only per-layer metrics:
  *
  *  - the generational stores. The PageRank layout (over the generated
  *    lineitem table) and the ANN index (over the generated embeddings) are
  *    built untimed; then each takes one append → read → delete → read →
  *    upsert-to-same → read cycle of a small batch at the reference cadence
  *    (one 4-line order, 8 vectors). A read is the stored table resolved
  *    through the committed generation, as any reader does, reduced to a
  *    row count and a content digest;
  *  - one pass of registered corpus operators from `graft.dedup`,
  *    `graft.text`, `graft.pipelines` and `graft.similarity` over the
  *    generated documents and embeddings, each op `QueryDef.fn` plus a
  *    parquet write of its result.
  *
  * Store files are inventoried (by inode, so hardlinked carries count once)
  * around every commit, untraced.
  */
final class LayerRound(ctx: Ctx) {
  private val spark = ctx.spark
  private val data = ctx.dataDir
  private val Batch = 8

  private val modules = Seq("dedup" -> "c17_span_dedup", "text" -> "c19_quality_score",
    "pipelines" -> "pipeline_curate", "similarity" -> "c18_knn_agg").map { case (m, q) =>
    m -> graft.Registry.defs.find(_.name == q)
      .getOrElse(throw new IllegalArgumentException(s"unregistered query $q"))
  }

  private val layoutRoot = PageRankLayout.layoutRoot(data)
  private val annRoot = Similarity.annIndexRoot(data)

  /** Runs `body` with the tracer off: set-up and bookkeeping, not an op. */
  private def quiet[T](body: => T): T = {
    val was = ctx.tracer.map(_.enabled)
    ctx.tracer.foreach(_.enabled = false)
    try body finally ctx.tracer.zip(was).foreach { case (t, w) => t.enabled = w }
  }

  private def local(rows: Seq[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), like.schema)

  private def lastGen(dir: String): Long =
    Files.list(Paths.get(dir)).iterator().asScala
      .flatMap(_.getFileName.toString.stripPrefix("v=").toLongOption).max

  /** The stored edge table of the committed layout generation. */
  private def layoutTable: DataFrame =
    spark.read.parquet(s"$layoutRoot/v=${lastGen(layoutRoot)}/edges").select("src", "dst", "wn")

  /** The ANN code partitions named by the committed cell manifest. */
  private def annLive: Seq[String] = {
    val g = lastGen(s"$annRoot/cells")
    spark.read.parquet(s"$annRoot/cells/v=$g").collect().toSeq.map(r =>
      s"$annRoot/codes/gen=${r.getAs[Long]("gen")}/c_id=${r.getAs[Int]("c_id")}")
  }

  private def annTable: DataFrame =
    spark.read.option("basePath", s"$annRoot/codes").parquet(annLive: _*)
      .select("vec_id", "c_id", "s", "code")

  /** Row count and order-independent content digest of a stored table. */
  private def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** Regular data files under `dir` as inode -> size. */
  private def files(dir: String): Map[Long, Long] = {
    val p = Paths.get(dir)
    Dirs.dataFiles(p).filterNot { f =>
      val n = f.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }.map(f => Files.getAttribute(f, "unix:ino").asInstanceOf[Long] -> Files.size(f)).toMap
  }

  /** Files of the committed generation of each store. */
  private def live(): Map[Long, Long] = {
    val g = lastGen(layoutRoot)
    files(s"$layoutRoot/v=$g") ++ files(s"$layoutRoot/meta") ++
      annLive.map(files).foldLeft(Map.empty[Long, Long])(_ ++ _) ++
      Seq("cents", "books", "meta", s"cells/v=${lastGen(s"$annRoot/cells")}")
        .map(d => files(s"$annRoot/$d")).reduce(_ ++ _)
  }

  private def all(): Map[Long, Long] = files(layoutRoot) ++ files(annRoot)

  private val checks = scala.collection.mutable.ArrayBuffer.empty[Any]
  private val commits = scala.collection.mutable.ArrayBuffer.empty[Any]
  private var n = 0
  /** Each corpus operator's result dir, for the oracle check. */
  var verify: Seq[(String, String)] = Seq.empty

  private def commit(rec: Record, store: String, verb: String)(body: => Unit): Unit = {
    val before = quiet(all())
    ctx.timed(rec, "store", s"$store.$verb", n, s"store.$verb")(body)
    val now = quiet(live())
    commits += Json.obj("store" -> store, "verb" -> verb,
      "written" -> now.keySet.count(!before.contains(_)),
      "carried" -> now.keySet.count(before.contains))
    n += 1
  }

  private def read(rec: Record, store: String, after: String)(table: => DataFrame): Unit = {
    val d = ctx.timed(rec, "store", s"$store.read", n, "store.read")(digest(table))
    checks += Json.obj("store" -> store, "after" -> after, "step" -> n, "digest" -> d)
    n += 1
  }

  def run(rec: Record): Unit = {
    val (layoutBuilt, annBuilt, order, sameOrder, vectors, sameVectors) = quiet {
      val li = Tables.lineitem(spark, data).select("l_orderkey", "l_partkey")
      val emb = Tables.embeddings(spark, data).select("vec_id", "embedding")
      PageRankLayout.buildLayoutFrom(spark, data, li)
      Similarity.buildAnnIndexFrom(spark, data, emb)
      // a new order: the lines of the first 4-line order under a fresh key
      val k4 = li.groupBy("l_orderkey").count().where(col("count") === 4)
        .agg(min("l_orderkey")).head().getLong(0)
      val newKey = li.agg(max("l_orderkey")).head().getLong(0) + 1
      val lines = li.where(col("l_orderkey") === k4).collect().toSeq
      // new vectors: ids past the corpus and outside the training stratum
      // (vec_id % 4 == 0), embeddings borrowed from stored rows
      val maxVec = emb.agg(max("vec_id")).head().getLong(0)
      val ids = Iterator.iterate(maxVec + 1)(_ + 1).filter(_ % 4 != 0).take(Batch).toSeq
      val borrowed = emb.orderBy("vec_id").limit(Batch).collect().toSeq
      val stored = emb.where(pmod(col("vec_id"), lit(16)) === 13).orderBy("vec_id")
        .limit(Batch).collect().toSeq
      (digest(layoutTable), digest(annTable),
        local(lines.map(r => Row(newKey, r.getLong(1))), li), local(lines, li),
        local(borrowed.zip(ids).map { case (r, id) => Row(id, r.get(1)) }, emb),
        local(stored, emb))
    }
    checks += Json.obj("store" -> "layout", "after" -> "build", "step" -> -1, "digest" -> layoutBuilt)
    checks += Json.obj("store" -> "ann", "after" -> "build", "step" -> -1, "digest" -> annBuilt)

    commit(rec, "layout", "append")(PageRankLayout.appendLayout(spark, data, order))
    read(rec, "layout", "append")(layoutTable)
    commit(rec, "layout", "delete")(PageRankLayout.deleteLayout(spark, data, order))
    read(rec, "layout", "delete")(layoutTable)
    commit(rec, "layout", "upsert")(PageRankLayout.upsertLayout(spark, data, sameOrder, sameOrder))
    read(rec, "layout", "upsert")(layoutTable)

    commit(rec, "ann", "append")(Similarity.appendAnnIndex(spark, data, vectors))
    read(rec, "ann", "append")(annTable)
    commit(rec, "ann", "delete")(Similarity.deleteAnnIndex(spark, data, vectors))
    read(rec, "ann", "delete")(annTable)
    commit(rec, "ann", "upsert")(Similarity.upsertAnnIndex(spark, data, sameVectors, sameVectors))
    read(rec, "ann", "upsert")(annTable)

    val (liveNow, allNow) = quiet((live(), all()))
    rec.facts("round") = Json.obj(
      "checks" -> checks.toSeq, "commits" -> commits.toSeq,
      "live_bytes" -> liveNow.values.sum, "total_bytes" -> allNow.values.sum,
      "batch_lines" -> 4, "batch_vectors" -> Batch)

    // each op writes its result: the checked output is the timed one
    verify = modules.map { case (m, q) =>
      val dir = s"${ctx.workDir}/verify/round/${q.name}"
      ctx.timed(rec, "curate", q.name, n, s"$m.op")(
        ctx.build(s"$m.build")(q.fn(spark, data)).write.mode("overwrite").parquet(dir))
      q.name -> dir
    }
  }
}
