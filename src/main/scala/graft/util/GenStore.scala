package graft.util

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.util.CorpusFingerprint.Fp

/** The store-independent half of the generational commit protocol run by
  * both maintained artifacts, the PageRank edge layout
  * ([[graft.queries.PageRankLayout]]) and the ANN index
  * ([[graft.similarity.Similarity.buildAnnIndex]]). Every append, delete
  * or upsert becomes ONE generation `last_gen + 1`, written beside the
  * committed one and committed by overwriting the one-row `meta` pointer
  * that readers resolve through. A store supplies its data-specific parts
  * (maintenance core with its legs, guards, carry and manifest; build;
  * live-corpus fingerprint); this class owns the meta pointer and its
  * fingerprint, the batch and streaming entries with their guards, the
  * [[ensure]] gate and the retention rule ([[GenStore.collectBelow]]).
  *
  * Crash window. A crash before the meta write leaves the previous
  * generation committed and the half-written one invisible; replaying the
  * batch rewrites and then commits it. The meta write itself is NOT
  * atomic: `mode("overwrite").parquet(meta)` deletes `meta/` before its
  * write job commits, so a crash inside that write — or a reader arriving
  * during it — finds no pointer at all, although every generation is
  * intact on disk. Readers then fail (and [[ensure]] rebuilds) rather than
  * serve a wrong answer; closing the window needs a versioned pointer, a
  * format change.
  *
  * @param noun      what the store calls itself in error messages
  * @param buildName the entry that creates the store, named by the
  *                  missing-meta guard
  * @param countCol  meta column holding the fingerprint's row count
  * @param verCol    meta column holding the on-disk format version
  * @param ver       current format version; any other value reads stale
  */
abstract class GenStore(noun: String, buildName: String, countCol: String,
    verCol: String, ver: Long) {
  import GenStore._

  /** Root directory of the store for a corpus. */
  def root(dataDir: String): String

  /** A statically-empty leg for the pure append / delete entries. */
  protected def emptyLeg(spark: SparkSession): DataFrame

  /** Fingerprint of the live corpus the store derives from. */
  protected def liveFp(spark: SparkSession, dataDir: String): Fp

  /** Full build over the live corpus, committed as generation 0. */
  protected def build(spark: SparkSession, dataDir: String): Unit

  /** The maintenance core: fold the `del` and `add` legs into the
    * committed state `meta` as generation `gen`, committing through
    * [[writeMeta]]. */
  protected def maintain(spark: SparkSession, dataDir: String, meta: Row,
      del: DataFrame, add: DataFrame, gen: Long): Unit

  /** Called by [[ensure]] when the stored artifact is trusted. */
  protected def trusted(spark: SparkSession, dataDir: String, meta: Row): Unit = ()

  final def readMeta(spark: SparkSession, dataDir: String): Row =
    metaAt(spark, root(dataDir))

  final def metaFp(m: Row): Fp =
    Fp(m.getAs[Long](countCol), m.getAs[Long]("fp_xor"),
      new java.math.BigDecimal(m.getAs[String]("fp_sum")))

  /** Commit generation `gen` by overwriting the meta pointer. Columns land
    * in the fixed order `countCol, head…, fp_xor, fp_sum, tail…,
    * last_gen, verCol`; head/tail values must be Long or Int (Long and
    * Int columns are non-nullable, strings nullable — the schema a tuple
    * `toDF` derives). */
  final def writeMeta(spark: SparkSession, dataDir: String, fp: Fp,
      gen: Long, head: Seq[(String, Any)], tail: Seq[(String, Any)] = Nil): Unit = {
    val cols = ((countCol -> fp.count) +: head) ++
      Seq("fp_xor" -> fp.xorFp, "fp_sum" -> fp.sumFp.toString) ++ tail ++
      Seq("last_gen" -> gen, verCol -> ver)
    val schema = StructType(cols.map {
      case (n, _: Long) => StructField(n, LongType, nullable = false)
      case (n, _: Int) => StructField(n, IntegerType, nullable = false)
      case (n, _: String) => StructField(n, StringType, nullable = true)
    })
    spark.createDataFrame(java.util.List.of(Row.fromSeq(cols.map(_._2))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${root(dataDir)}/meta")
  }

  /** Fold an appended batch into the store. An empty batch is a no-op (no
    * generation bump). */
  final def append(spark: SparkSession, dataDir: String, batch: DataFrame): Unit =
    if (!batch.isEmpty) next(spark, dataDir, emptyLeg(spark), batch)

  /** Retire a batch from the store. An empty batch is a no-op. */
  final def delete(spark: SparkSession, dataDir: String, batch: DataFrame): Unit =
    if (!batch.isEmpty) next(spark, dataDir, batch, emptyLeg(spark))

  /** Retire `del` and fold `add` as ONE commit with one fingerprint
    * transition: no intermediate generation exposes a half-corrected
    * artifact. */
  final def upsert(spark: SparkSession, dataDir: String, del: DataFrame,
      add: DataFrame): Unit =
    next(spark, dataDir, del, add)

  private def next(spark: SparkSession, dataDir: String, del: DataFrame,
      add: DataFrame): Unit = {
    val meta = readMeta(spark, dataDir)
    maintain(spark, dataDir, meta, del, add, lastGen(meta) + 1L)
  }

  /** Streaming append entry: fold one micro-batch with replay idempotence
    * (see [[streamGen]]). An empty micro-batch still commits its
    * generation so the mapping never desynchronizes. */
  final def mergeBatch(spark: SparkSession, dataDir: String, batch: DataFrame,
      batchId: Long, what: String): Unit = {
    val meta = committedMeta(spark, dataDir, what)
    streamGen(what, dataDir, meta, batchId).foreach { gen =>
      maintain(spark, dataDir, meta, emptyLeg(spark), batch, gen)
    }
  }

  /** Streaming CDC entry: one micro-batch of mixed `op` rows — `I`
    * inserts, `D` deletes (the full deleted rows), a key under both ops
    * is an upsert — applied as ONE commit, replay-idempotent like
    * [[mergeBatch]]. Any other op, null included, is refused before any
    * write. */
  final def mergeCdcBatch(spark: SparkSession, dataDir: String, batch: DataFrame,
      batchId: Long, what: String): Unit = {
    val meta = committedMeta(spark, dataDir, what)
    streamGen(what, dataDir, meta, batchId).foreach { gen =>
      // isNull disjunct: `!isin` is NULL (not true) for a null op under
      // three-valued logic, so a null-op row would otherwise bypass the
      // check and silently drop from both legs
      val bad = batch.where(col("op").isNull || !col("op").isin("I", "D"))
        .limit(1).collect()
      require(bad.isEmpty,
        s"$what: unknown op '${bad.headOption.map(_.getAs[String]("op")).getOrElse("")}' — " +
          "the CDC feed carries only I (insert) and D (delete)")
      maintain(spark, dataDir, meta,
        batch.where(col("op") === "D"), batch.where(col("op") === "I"), gen)
    }
  }

  /** The committed meta a streaming batch folds into. A missing meta
    * under a surviving checkpoint is refused, never rebuilt from the
    * batch. */
  private def committedMeta(spark: SparkSession, dataDir: String, what: String): Row = {
    val r = root(dataDir)
    try metaAt(spark, r)
    catch {
      case e @ (_: AnalysisException | _: java.io.FileNotFoundException) =>
        throw new IllegalStateException(
          s"$what: no committed $noun meta under $r — the $noun must be " +
            s"built ($buildName) before streaming maintenance can fold " +
            "batches into it, and a missing meta under a surviving " +
            "checkpoint means the store was wiped or repointed; refusing " +
            "to guess", e)
    }
  }

  /** batchId → generation (the build is generation 0): gen == last_gen is
    * a REPLAY of the committed batch — a complete no-op (None); gen ==
    * last_gen + 1 is the next batch (Some). Structured Streaming only
    * re-delivers the most recent uncommitted batch under one checkpoint,
    * so gen < last_gen can only come from a recreated or swapped
    * checkpoint — a blanket `<=` no-op would silently drop those batches'
    * rows, so they fail fast like the too-far-ahead case. */
  private def streamGen(what: String, dataDir: String, meta: Row,
      batchId: Long): Option[Long] = {
    val gen = batchId + 1L
    val last = lastGen(meta)
    if (gen == last) None
    else if (gen == last + 1L) Some(gen)
    else throw new IllegalStateException(
      s"$what: $noun at ${root(dataDir)} is at generation $last but the " +
        s"stream delivered batchId=$batchId (gen $gen; valid: $last = " +
        s"replay, ${last + 1} = next): the streaming checkpoint was " +
        s"recreated or swapped against this $noun; refusing to fork")
  }

  /** Trust the stored artifact only while its format version is current
    * and its fingerprint matches the live corpus; otherwise rebuild. Only
    * the expected missing/old-schema failures mean "stale" — anything
    * else (a permissions fault, a concurrent writer) propagates instead
    * of silently triggering a corpus-sized rebuild. The live fingerprint
    * is computed only when a current-version meta exists. */
  final def ensure(spark: SparkSession, dataDir: String): Unit = {
    val stored: Option[(Row, Fp)] =
      try {
        val m = readMeta(spark, dataDir)
        // older format versions (or pre-version metas, whose getAs throws
        // IllegalArgumentException) read as stale → rebuild
        if (m.getAs[Long](verCol) != ver) None else Some(m -> metaFp(m))
      } catch {
        case _: AnalysisException | _: java.io.FileNotFoundException |
             _: IllegalArgumentException => None
      }
    stored match {
      case Some((m, fp)) if fp.matches(liveFp(spark, dataDir)) => trusted(spark, dataDir, m)
      case _ => build(spark, dataDir)
    }
  }
}

object GenStore {

  /** A readable directory tag for a corpus path — every character matching
    * `unsafe` becomes `_`, case optionally folded — plus a MurmurHash of
    * the RAW path, so two corpora whose paths collide after sanitization
    * never share a store. */
  def rootTag(dataDir: String, unsafe: String, foldCase: Boolean): String = {
    val sanitized = dataDir.replaceAll(unsafe, "_")
    val readable = if (foldCase) sanitized.toLowerCase else sanitized
    f"${readable}_${scala.util.hashing.MurmurHash3.stringHash(dataDir)}%08x"
  }

  def metaAt(spark: SparkSession, root: String): Row =
    spark.read.parquet(s"$root/meta").head()

  def lastGen(meta: Row): Long = meta.getAs[Long]("last_gen")

  /** A frame whose optimized plan is a LITERALLY EMPTY local relation —
    * the statically-empty legs the pure append/delete entries pass.
    * Driver-side plan inspection only: no Spark job, unlike `df.isEmpty`.
    * A runtime-empty distributed frame (a CDC leg whose filter matched
    * nothing) correctly reports false and pays its one stats job. */
  def isStaticallyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** (generation, path) of every `v=G` entry directly under `dir`. */
  def generations(spark: SparkSession, dir: String): Seq[(Long, String)] =
    ArtifactStore.list(spark, dir).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=")) n.stripPrefix("v=").toLongOption.map(_ -> st.getPath.toString)
      else None
    }

  /** Retention after committing `gen`: delete every `v=G` entry under
    * `dir` with G ≤ gen − 2, calling `release(G)` first. The committed
    * generation and its one predecessor stay, so a reader that resolved
    * meta just before the commit keeps scanning valid files. */
  def collectBelow(spark: SparkSession, dir: String, gen: Long,
      release: Long => Unit = _ => ()): Unit =
    generations(spark, dir).filter(_._1 <= gen - 2).foreach { case (g, path) =>
      release(g)
      ArtifactStore.delete(spark, path)
    }
}
