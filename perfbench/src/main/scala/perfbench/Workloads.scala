package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.etl.Purchases

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Regular files under `p`, excluding Hadoop checksum sidecars. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.endsWith(".crc")).toSeq
      finally s.close()
    }
}

/** The reference's own traffic: one hourly CSV lands per step, goes through
  * `Purchases.etl(failFast = false)` and `writeOrderedPartitioned` into the
  * `purchases` table, and the reference query reads the table back right
  * after each commit.
  *
  * The table keeps a rolling window of [[Window]] hour partitions: set-up
  * loads the first [[Window]] hours in one append, and before each later
  * append the benchmark drops the oldest hour's partition directory
  * (retention, untimed). Every timed read therefore lists exactly
  * [[Window]] partitions, past the 32 at which Spark's partition discovery
  * turns into a parallel listing job, however many steps a run makes. */
final class HourlyIngest extends Workload {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Hour0 = LocalDateTime.of(2021, 3, 21, 0, 0)
  private val ReferenceQuery = "SELECT * FROM purchases ORDER BY purchase_date"
  private val Window = 40
  private val WarmSteps = 10

  /** CRC-32 of a UTF-8 string; sums of these are the row-set digests the
    * checker recomputes from the CSVs on its own. */
  private def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  private def landing(ctx: Ctx) = Paths.get(ctx.workDir, "landing")
  private def table(ctx: Ctx) = Paths.get(ctx.workDir, "purchases")
  // check data for the checker: every landed hour, every timed step's read
  private val hours = scala.collection.mutable.ArrayBuffer.empty[Any]
  private val steps = scala.collection.mutable.ArrayBuffer.empty[Any]
  private var round: Option[LayerRound] = None

  /** Writes hour `i`'s CSV into `dir` from `Purchases.generate` with a
    * seeded share (0-5 %) of malformed rows spliced in, and records it for
    * the checker. */
  private def land(ctx: Ctx, dir: Path, i: Int): Path = {
    val seed = ctx.seed * 1000003L + i
    val hour = Hour0.plusHours(i)
    val rnd = new scala.util.Random(seed)
    val valid = Purchases.generate(seed, hour).map { case (e, id, q, p, ts) =>
      Array(e, id.toString, q.toString, p.toString, ts)
    }
    val lines = valid.map(_.mkString(",")).toBuffer
    for (_ <- 0 until rnd.nextInt(1 + valid.size / 20)) {
      val fields = valid(rnd.nextInt(valid.size))
      val broken = rnd.nextInt(3) match {
        case 0 => fields.updated(2, "x" + fields(2))                       // non-numeric quantity
        case 1 => fields.take(4)                                           // missing field
        case _ => fields.updated(4, hour.format(TsFmt).take(14) + "61:07") // bad minute
      }
      lines.insert(rnd.nextInt(lines.size + 1), broken.mkString(","))
    }
    Files.createDirectories(dir)
    val csv = dir.resolve(f"h$i%05d.csv")
    Files.write(csv, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    hours += Json.obj("hour" -> i, "csv" -> landing(ctx).relativize(csv).toString,
      "lines" -> lines.size)
    csv
  }

  private def append(ctx: Ctx, csv: Path): Unit = {
    val df = ctx.build("etl.plan")(Purchases.etl(ctx.spark, csv.toString, failFast = false))
    ctx.span("etl.write")(Purchases.writeOrderedPartitioned(df, table(ctx).toString))
  }

  private def read(ctx: Ctx): Array[Row] = {
    ctx.spark.read.parquet(table(ctx).toString).createOrReplaceTempView("purchases")
    ctx.spark.sql(ReferenceQuery).collect()
  }

  private def partitions(ctx: Ctx): Seq[Path] =
    if (!Files.exists(table(ctx))) Seq.empty
    else {
      val s = Files.list(table(ctx))
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("hour=")).toSeq
        .sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Retention: drops the oldest hours until one more fits the window.
    * Partition directory names sort in time order. */
  private def retain(ctx: Ctx): Unit =
    partitions(ctx).dropRight(Window - 1).foreach(Dirs.deleteTree)

  /** One step: retention, land hour `i`, append it, read the table back. */
  private def step(ctx: Ctx, i: Int, rec: Option[Record]): Unit = {
    retain(ctx)
    val csv = land(ctx, landing(ctx), i)
    rec match {
      case None =>
        append(ctx, csv)
        read(ctx)
      case Some(r) =>
        ctx.timed(r, "ingest", "append", i, "ingest.op")(append(ctx, csv))
        val rows = ctx.timed(r, "read", "reference_query", i, "table.read")(read(ctx))
        var ordered = true
        var prev: LocalDateTime = null
        val digest = rows.map(_.foldLeft(0L) { (sum, row) =>
          val ts = row.getAs[LocalDateTime]("purchase_date")
          if (prev != null && ts.isBefore(prev)) ordered = false
          prev = ts
          sum + crc(Seq(row.getAs[String]("buyer"), row.getAs[Int]("item_id"),
            row.getAs[Int]("quantity"), row.getAs[Int]("price"), ts.format(TsFmt)).mkString(","))
        })
        steps += Json.obj("step" -> i, "rows" -> rows.map(_.length.toLong),
          "digest" -> digest, "ordered" -> ordered)
    }
  }

  /** Loads the first [[Window]] hours in one append, then runs a few
    * untimed steps to warm the JIT and code generation caches. */
  def setup(ctx: Ctx): Unit = {
    val preload = landing(ctx).resolve("preload")
    (0 until Window).foreach(land(ctx, preload, _))
    append(ctx, preload)
    (Window until Window + WarmSteps).foreach(step(ctx, _, None))
  }

  def loop(ctx: Ctx, rec: Record): Unit = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var i = Window + WarmSteps
    while (System.nanoTime() < deadline) ctx.step(rec) {
      step(ctx, i, Some(rec))
      i += 1
    }
    rec.facts("window") = Window
    rec.facts("first_timed_hour") = Window + WarmSteps
    rec.facts("steps") = steps.toSeq
    rec.facts("hours") = hours.toSeq
    rec.facts("landing") = landing(ctx).toString
    rec.facts("table_files") = Dirs.dataFiles(table(ctx))
      .count(_.getFileName.toString.endsWith(".parquet")).toLong
    rec.facts("table_partitions") = partitions(ctx).size.toLong
  }

  override def layers(ctx: Ctx, rec: Record): Unit = {
    val r = new LayerRound(ctx)
    r.run(rec)
    round = Some(r)
  }

  def verify(ctx: Ctx): Seq[(String, String)] = round.fold(Seq.empty[(String, String)])(_.verify)
}

/** Analysts' interactive traffic: a fixed list of registered relational
  * queries run in passes, each pass in an order shuffled from the seed. An
  * op is the query's build (`QueryDef.fn`) plus its noop-forced execution. */
final class AnalystMix extends Workload {
  /** Queries whose wall is mostly fixed per-job cost (schema inference,
    * planning, scheduling) rather than task time. */
  private val defs = Seq("c1_scan_project", "c3_broadcast_join", "c9_tpch_q1",
    "c8_asof_join").map(q =>
    graft.Registry.defs.find(_.name == q)
      .getOrElse(throw new IllegalArgumentException(s"unregistered query $q")))

  private def run(ctx: Ctx, q: graft.QueryDef): Unit = {
    val df = ctx.build("queries.build")(q.fn(ctx.spark, ctx.dataDir))
    ctx.span("queries.exec")(Main.force(df))
  }

  private def write(ctx: Ctx, pass: String): Seq[(String, String)] = defs.map { q =>
    val dir = s"${ctx.workDir}/verify/$pass/${q.name}"
    q.fn(ctx.spark, ctx.dataDir).write.mode("overwrite").parquet(dir)
    q.name -> dir
  }

  private var cold = Seq.empty[(String, String)]

  private val WarmPasses = 3

  /** Untimed passes: the first writes each query's result, cold, for the
    * oracle check; the others warm the JIT and code generation caches. */
  def setup(ctx: Ctx): Unit = {
    cold = write(ctx, "cold")
    for (_ <- 0 until WarmPasses) defs.foreach(run(ctx, _))
  }

  /** Whole passes only, so every query weighs the same in the totals. */
  def loop(ctx: Ctx, rec: Record): Unit = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline) ctx.step(rec) {
      new scala.util.Random(ctx.seed * 7919L + pass).shuffle(defs).foreach { q =>
        ctx.timed(rec, "query", q.name, pass, "query.op")(run(ctx, q))
      }
      pass += 1
    }
    rec.facts("queries") = defs.map(_.name)
  }

  /** The cold set-up results and one more untimed pass after the loop, in
    * the same session, so repeated warm calls are checked as well. */
  def verify(ctx: Ctx): Seq[(String, String)] = cold ++ write(ctx, "after")
}
