package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans taken around the benchmark's calls into each layer.
  * A span records its name, start, end, parent span and the op it belongs
  * to; nothing is recorded when tracing is off, so the untraced run pays
  * one branch per call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, op: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get().headOption.getOrElse(0L)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        open.set(open.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in seconds of every span called `name`. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it its child spans cover (children may overlap). */
  def selfTimes: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
            val from = math.max(a, reach)
            (acc + math.max(0L, b - from), math.max(reach, b))
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, op: Long, startNs: Long, endNs: Long)
}

/** Listener-fed counters. They only count while recording is on, and the
  * window moves only after the listener bus has drained, so work done by
  * set-up and by the output checks stays out of the numbers. */
final class LayerCounters(spark: SparkSession) {
  @volatile private var recording = false

  val analysisMs, optimizationMs, planningMs, actions = new LongAdder
  val jobs, tasks, taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill = new LongAdder

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (recording) {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.add(p.durationMs))
      ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs))
      ph.get("planning").foreach(p => planningMs.add(p.durationMs))
      actions.increment()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.increment()
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  })

  /** Registers the Catalyst listener on a session the benchmark drives
    * (each `newSession()` has its own listener manager). */
  def watch(session: SparkSession): Unit = session.listenerManager.register(catalyst)

  def record(on: Boolean): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    recording = on
  }
}

object Jvm {
  import java.lang.management.ManagementFactory

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }
}
