package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, key: String, step: Int, wallS: Double, error: Option[String])

/** What a workload's loop hands back to [[Main]]. */
final class Record {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Workload-specific facts: input sizes, per-step check data, counts. */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val stepWalls = mutable.ArrayBuffer.empty[Double]
  var loopWallS = 0.0
  var steps = 0
}

/** Run-time context shared by a workload's setup and loop. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    dataDir: String, workDir: String, tracer: Option[Tracer]) {
  /** Times `body` and records it as one op. In a traced run the time is
    * the span's wall, which leaves out the tracer's own settle time. */
  def timed[T](rec: Record, kind: String, key: String, step: Int, spanName: String)(
      body: => T): Option[T] = {
    val tr = tracer.filter(_.enabled)
    val before = tr.fold(0.0)(_.topWallS)
    val t0 = System.nanoTime()
    val result =
      try Right(tr.fold(body)(_.span(spanName)(body)))
      catch { case e: Throwable => Left(e) }
    val wallS = tr.fold((System.nanoTime() - t0) / 1e9)(_.topWallS - before)
    result match {
      case Right(v) =>
        rec.ops += Op(kind, key, step, wallS, None)
        Some(v)
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $key step $step failed: $e")
        rec.ops += Op(kind, key, step, wallS, Some(String.valueOf(e.getMessage)))
        None
    }
  }

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** A span around building a DataFrame; its analysis phase is billed to it. */
  def build(name: String)(body: => DataFrame): DataFrame = span(name) {
    val df = body
    tracer.filter(_.enabled).foreach(_.phases(df.queryExecution))
    df
  }

  /** Runs one closed-loop step and records its wall, less the tracer's
    * settle time. */
  def step(rec: Record)(body: => Unit): Unit = {
    val settle0 = tracer.fold(0L)(_.settleNs)
    val t0 = System.nanoTime()
    body
    val wallS = (System.nanoTime() - t0 - (tracer.fold(0L)(_.settleNs) - settle0)) / 1e9
    rec.stepWalls += wallS
    rec.steps += 1
  }
}

trait Workload {
  /** Loads, warms and builds everything the timed loop needs. */
  def setup(ctx: Ctx): Unit
  /** The closed loop: one client, next op only after the previous one. */
  def loop(ctx: Ctx, rec: Record): Unit
  /** A fixed round through layers the loop does not reach; traced runs
    * only, after the loop. */
  def layers(ctx: Ctx, rec: Record): Unit = ()
  /** Result dumps for the oracle check, as (query name, dir). */
  def verify(ctx: Ctx): Seq[(String, String)]
}

/** Benchmark entry: sets a workload up, runs its closed loop for the given
  * seconds, then records drift labels and writes every sample to
  * `<work>/result.json`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --cores N --canary DIR
  */
object Main {

  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def loadAvg1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The pinned canary pair of the repo's bench records: a pure-CPU range
    * sum and a Q6-shaped scan over a lineitem table generated from a fixed
    * seed, median of three each. Labels only; never used to rescale. */
  def canary(spark: SparkSession, canaryDir: String): Map[String, Double] = {
    def med(f: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    Map(
      "range_mod_sum_s" -> med(force(spark.range(50000000L).selectExpr("sum(id % 7) AS s"))),
      "scan_lineitem_s" -> med(force(graft.Tables.lineitem(spark, canaryDir)
        .select(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")))))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val work = opt("work")
    val cores = opt("cores").toInt
    val load1Before = loadAvg1
    val workload: Workload = name match {
      case "hourly_ingest" => new HourlyIngest
      case "analyst_mix" => new AnalystMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def ctx(spark: SparkSession, tracer: Option[Tracer]) =
      Ctx(spark, seed, opt("seconds").toDouble, opt("data"), work, tracer)

    // set-up: session start, warm-up and artifact builds, until the first timed op
    val t0 = System.nanoTime()
    val spark = session(cores, work, opt("trace") == "1")
    workload.setup(ctx(spark, None))
    val setupS = (System.nanoTime() - t0) / 1e9
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
    val c = ctx(spark, tracer)
    val rec = new Record
    tracer.foreach(_.enabled = true)
    val t1 = System.nanoTime()
    workload.loop(c, rec)
    rec.loopWallS = (System.nanoTime() - t1) / 1e9
    // the loop's own share of the trace, before the layer round adds to it
    val loopTrace = tracer.map(t => (t.topWallS, t.settleNs, t.unattributed.jobs))
    tracer.foreach(_ => workload.layers(c, rec))
    tracer.foreach(_.enabled = false)
    val verify = workload.verify(c)
    val canaryS = canary(spark, opt("canary"))
    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS,
      "loop_wall_s" -> rec.loopWallS, "steps" -> rec.steps,
      "step_walls" -> rec.stepWalls.toSeq,
      "ops" -> rec.ops.toSeq.map(o => Json.obj(
        "kind" -> o.kind, "key" -> o.key, "step" -> o.step, "wall_s" -> o.wallS,
        "error" -> o.error)),
      "facts" -> rec.facts.toMap,
      "verify" -> verify.map { case (q, d) => Json.obj("query" -> q, "dir" -> d) },
      "oracle_sql" -> verify.map { case (q, _) => q -> graft.Registry.oracleSql.get(q) }.toMap,
      "canary" -> canaryS,
      "load1_before" -> load1Before, "load1_after" -> loadAvg1,
      "trace" -> tracer.zip(loopTrace).map { case (t, (wall, settle, jobs)) =>
        traceJson(t, wall, settle, jobs) })
    Files.write(Paths.get(s"$work/result.json"), out.s.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def traceJson(t: Tracer, loopTopWallS: Double, loopSettleNs: Long,
      loopUnattributedJobs: Long): Json.Raw = Json.obj(
    "top_wall_s" -> loopTopWallS,
    "settle_s" -> loopSettleNs / 1e9,
    "unattributed_jobs" -> loopUnattributedJobs,
    "spans" -> t.stats.toMap.map { case (k, s) =>
      val c = s.counters
      k -> Json.obj(
        "n" -> s.n, "wall_s" -> s.wallS,
        "fs_read_ops" -> s.fsReadOps, "fs_write_ops" -> s.fsWriteOps,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_s" -> c.taskRunS, "task_cpu_s" -> c.taskCpuS, "gc_s" -> c.gcS,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "analysis_s" -> c.analysisS, "optimization_s" -> c.optimizationS,
        "planning_s" -> c.planningS)
    })
}

/** Minimal JSON rendering for the result file; objects nest as [[Json.Raw]]. */
object Json {
  final case class Raw(s: String)

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => graft.util.JsonStr.quote(k) + ":" + render(v) }
      .mkString("{", ",", "}"))

  private def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(s) => s
    case s: String => graft.util.JsonStr.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => graft.util.JsonStr.quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => graft.util.JsonStr.quote(other.toString)
  }
}
