package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.graftbench.Bus

/** One traced call into a module: `layer` is the module name, `parent`
  * the span that was open when this one started (-1 at the top). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-runtime counters summed over the stages of some set of jobs. */
final class Engine {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L
}

/** Streaming progress counters summed over triggers. */
final class Streaming {
  var triggers = 0L
  var planningMs, walMs, offsetsMs, latestMs, addBatchMs, stateCommitMs = 0.0
  var rowsIn, lateRows = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  // state size is a level, not a flow: the last report of each query
  val stateRows = mutable.Map.empty[java.util.UUID, Long]
  val stateBytes = mutable.Map.empty[java.util.UUID, Long]
}

/** The benchmark's tracer. When off, `span` runs its body and records
  * nothing, and no listener is registered. When on, each span tags the
  * Spark jobs started under it with a job group, and three listeners
  * attribute runtime counters to spans: jobs by job group or streaming
  * run id, stages by job, triggers by run id (a run belongs to the span
  * open when it started). Spans stay in memory
  * until [[write]]. */
final class Tracer(val enabled: Boolean) {
  private var spark: SparkSession = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Int] = Nil
  private var nextId = 0
  private val lock = new Object

  // listener-side state, guarded by `lock`
  private val stageKey = mutable.Map.empty[Int, String]
  private val engineBy = mutable.Map.empty[String, Engine]
  private val streamingBy = mutable.Map.empty[String, Streaming]
  private var catalystNs = 0L
  private val queryToSpan = mutable.Map.empty[String, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val key = prop("sql.streaming.runId").map("q:" + _)
        .orElse(prop("spark.jobGroup.id")).getOrElse("none")
      lock.synchronized {
        e.stageIds.foreach(s => stageKey(s) = key)
        engineBy.getOrElseUpdate(key, new Engine).jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      lock.synchronized {
        val g = engineBy.getOrElseUpdate(
          stageKey.getOrElse(i.stageId, "none"), new Engine)
        g.stages += 1
        g.tasks += i.numTasks
        if (m != null) {
          g.runMs += m.executorRunTime
          g.cpuMs += m.executorCpuTime / 1e6
          g.gcMs += m.jvmGCTime
          g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously while the client thread waits in start(),
    // so the open span is the one that started the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { queryToSpan("q:" + e.runId) = open.headOption.getOrElse(-1) }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      lock.synchronized {
        val s = streamingBy.getOrElseUpdate("q:" + p.runId, new Streaming)
        s.triggers += 1
        s.planningMs += d("queryPlanning")
        s.walMs += d("walCommit")
        s.offsetsMs += d("commitOffsets")
        s.latestMs += d("latestOffset")
        s.addBatchMs += d("addBatch")
        s.triggerMs += d("triggerExecution")
        s.rowsIn += p.numInputRows
        p.stateOperators.foreach { o =>
          s.stateCommitMs += o.commitTimeMs
          s.lateRows += o.numRowsDroppedByWatermark
        }
        s.stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        s.stateBytes(p.id) = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val t = qe.tracker.phases.values.map(_.durationMs).sum
      lock.synchronized { catalystNs += t * 1000000L }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var active = false
  /** Measured iterations run with tracing active. */
  var tracedIterations = 0

  /** Attach to a (new) session, inactive. */
  def attach(s: SparkSession): Unit = { active = false; spark = s }

  /** Turn recording on or off; a traced run alternates so that it can
    * report its own overhead. Listeners are registered only while on. */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    active = on
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def isActive: Boolean = active

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = lock.synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val sc = spark.sparkContext
      sc.setJobGroup(s"span:$id", s"$layer.$name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span:$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        lock.synchronized { spans += Span(id, parent, layer, name, t0, t1) }
      }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) Bus.drain(spark)

  // --- read-out -----------------------------------------------------------

  def all: Seq[Span] = lock.synchronized(spans.toList)

  /** Self time: a span's duration minus the union of its children. */
  def selfMs(s: Span, within: Seq[Span]): Double = {
    val kids = within.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs max 0L; cs = a; ce = b }
      else ce = ce max b
    }
    covered += ce - cs max 0L
    s.ms - covered / 1e6
  }

  /** Every span id in the subtree rooted at each of `roots`. */
  private def subtree(roots: Seq[Span]): Set[Int] = {
    val byParent = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] =
      id +: byParent.getOrElse(id, Nil).flatMap(c => walk(c.id))
    roots.flatMap(r => walk(r.id)).toSet
  }

  /** Engine counters of all jobs run under the given spans (job groups)
    * or by streaming queries started under them. */
  def engine(roots: Seq[Span]): Engine = {
    val ids = subtree(roots)
    val out = new Engine
    lock.synchronized {
      engineBy.foreach { case (k, g) =>
        val owner =
          if (k.startsWith("span:")) Some(k.stripPrefix("span:").toInt)
          else queryToSpan.get(k)
        if (owner.exists(ids.contains)) {
          out.jobs += g.jobs; out.stages += g.stages; out.tasks += g.tasks
          out.runMs += g.runMs; out.cpuMs += g.cpuMs; out.gcMs += g.gcMs
          out.shuffleRead += g.shuffleRead
          out.shuffleWrite += g.shuffleWrite; out.spill += g.spill
        }
      }
    }
    out
  }

  /** Streaming counters of the queries started under the given spans. */
  def streaming(roots: Seq[Span]): Streaming = {
    val ids = subtree(roots)
    val out = new Streaming
    lock.synchronized {
      streamingBy.foreach { case (k, s) =>
        if (queryToSpan.get(k).exists(ids.contains)) {
          out.triggers += s.triggers; out.planningMs += s.planningMs
          out.walMs += s.walMs; out.offsetsMs += s.offsetsMs
          out.latestMs += s.latestMs; out.addBatchMs += s.addBatchMs
          out.stateCommitMs += s.stateCommitMs; out.rowsIn += s.rowsIn
          out.lateRows += s.lateRows; out.triggerMs ++= s.triggerMs
          out.stateRows ++= s.stateRows; out.stateBytes ++= s.stateBytes
        }
      }
    }
    out
  }

  def catalystMs: Double = lock.synchronized(catalystNs / 1e6)

  /** Spans as JSON lines: id, parent, layer, name, start/end (ns), self ms. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val lines = ss.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""ms":${s.ms}%.3f,"self_ms":${selfMs(s, ss)}%.3f}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
