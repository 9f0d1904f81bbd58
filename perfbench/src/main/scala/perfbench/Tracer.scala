package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters billed to a span by the listeners. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisS = 0.0
  var optimizationS = 0.0
  var planningS = 0.0

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; gcS += o.gcS
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    analysisS += o.analysisS; optimizationS += o.optimizationS
    planningS += o.planningS
  }
}

/** Totals over every closed span of one name. `wallS` excludes the time
  * the tracer itself spent settling child spans; the counters are
  * inclusive of child spans. */
final class SpanStat {
  var n = 0L
  var wallS = 0.0
  var fsReadOps = 0L
  var fsWriteOps = 0L
  val counters = new Counters
}

/** Spans around the benchmark's calls into the program, with Spark and
  * Hadoop-FS counters attributed to them.
  *
  * Jobs, stages and tasks are attributed through a local property the span
  * sets on the client thread (Spark copies it into every job the thread
  * starts, including broadcast and subquery jobs). Catalyst phase times are
  * attributed to the innermost span open when the phase started: executed
  * plans through a QueryExecutionListener, Datasets analyzed at build time
  * through [[phases]]. Filesystem
  * call counts are the span's delta of [[CountingLocalFileSystem]]'s
  * JVM-wide counters; ops run one at a time, so the delta belongs to the span.
  *
  * Before a span closes it waits until the listener bus is empty and no
  * asynchronous unpersist is in flight, so one op's jobs, task time and GC
  * are never billed to the next. That wait is tracing overhead: it is
  * excluded from every enclosing span's wall time.
  *
  * While `enabled` is false, `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var enabled = false

  private val sc = spark.sparkContext

  private final class Span(val id: Long, val name: String,
      val parent: Option[Span], val startMs: Long) {
    val own = new Counters
    val childIncl = new Counters
    var childSettleNs = 0L
    @volatile var endMs = Long.MaxValue
    val depth: Int = parent.fold(0)(_.depth + 1)
  }

  private var nextId = 0L
  private var stack = List.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  // recently opened spans, newest last: Catalyst phases are looked up by time
  private val recent = mutable.ArrayBuffer.empty[Span]

  val stats: mutable.LinkedHashMap[String, SpanStat] = mutable.LinkedHashMap.empty
  /** Wall time of closed top-level spans. */
  var topWallS = 0.0
  /** Time spent settling spans, all of it tracing overhead. */
  var settleNs = 0L
  /** Work started while tracing with no span open on the client thread. */
  val unattributed = new Counters

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(id => Option(byId.get(id.toLong)))
      owner match {
        case Some(s) =>
          s.own.synchronized(s.own.jobs += 1)
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
        case None => if (enabled) unattributed.synchronized(unattributed.jobs += 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.own.synchronized(s.own.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = Option(stageSpan.get(e.stageId)).map(_.own)
      if (owner.nonEmpty || enabled) tally(owner.getOrElse(unattributed), e)
    }
  })

  private def tally(c: Counters, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskRunS += m.executorRunTime / 1e3
        c.taskCpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  })

  /** Bills a query's Catalyst phases to the span open when each started.
    * The listener sees only executed plans; a Dataset analyzed at build time
    * and executed through a derived plan (a write) is recorded here. */
  def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      spanAt(summary.startTimeMs).foreach { s =>
        val secs = summary.durationMs / 1e3
        s.own.synchronized(phase match {
          case "analysis" => s.own.analysisS += secs
          case "optimization" => s.own.optimizationS += secs
          case "planning" => s.own.planningS += secs
          case _ => ()
        })
      }
    }

  /** Innermost span open at wall-clock time `ms`. */
  private def spanAt(ms: Long): Option[Span] = synchronized {
    recent.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.depth)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        nextId += 1
        val sp = new Span(nextId, name, stack.headOption, System.currentTimeMillis())
        stack = sp :: stack
        recent += sp
        if (recent.size > RecentSpans) recent.remove(0, recent.size - RecentSpans)
        sp
      }
      byId.put(s.id, s)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      val (r0, w0) = fsOps()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        settle()
        val t2 = System.nanoTime()
        settleNs += t2 - t1
        val (r1, w1) = fsOps()
        sc.setLocalProperty(SpanProp, prevProp)
        val wallS = (t1 - t0 - s.childSettleNs) / 1e9
        synchronized {
          stack = stack.tail
          s.endMs = System.currentTimeMillis()
        }
        val incl = new Counters
        incl.add(s.own)
        incl.add(s.childIncl)
        s.parent.foreach { p =>
          p.childIncl.add(incl)
          p.childSettleNs += s.childSettleNs + (t2 - t1)
        }
        val st = stats.getOrElseUpdate(name, new SpanStat)
        st.n += 1
        st.wallS += wallS
        st.fsReadOps += r1 - r0
        st.fsWriteOps += w1 - w0
        st.counters.add(incl)
        if (s.parent.isEmpty) topWallS += wallS
        byId.remove(s.id)
      }
    }

  private def settle(): Unit = {
    drain()
    val deadline = System.nanoTime() + SettleTimeoutNs
    while (PerfbenchBridge.unpersistPending(sc) && System.nanoTime() < deadline)
      Thread.sleep(2)
    drain()
  }

  private def drain(): Unit =
    try PerfbenchBridge.drainListenerBus(sc, SettleTimeoutNs / 1000000)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

object Tracer {
  private val SpanProp = "perfbench.span"
  private val RecentSpans = 256
  private val SettleTimeoutNs = 5000000000L

  /** JVM-wide local-filesystem (read, write) call counts. */
  def fsOps(): (Long, Long) =
    (CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get)
}
