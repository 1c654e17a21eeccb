package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the library. A span
  * has a name, start and end (epoch microseconds), its parent span and the
  * poll it belongs to. The id of the innermost open span rides on the
  * SparkContext as a local property, so [[SpanListener]] can attribute
  * every job (and its stages and tasks) to the span that submitted it. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val buf = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def spans: Seq[Span] = buf.toSeq

  def span[A](name: String, poll: Int = -1)(f: => A): A = {
    val parent = open.headOption
    val s = Span(buf.size, name, parent.map(_.id).getOrElse(-1),
      if (poll >= 0) poll else parent.map(_.poll).getOrElse(-1), nowUs)
    buf += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try f
    finally {
      s.endUs = nowUs
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, poll: Int,
                        startUs: Long) {
    var endUs: Long = -1L
  }
}

/** Job, stage and task records keyed by the span that was open when the
  * job was submitted. Installed once per session, and only in traced runs. */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time * 1000L))
    e.stageIds.foreach(st => stageSpan.put(st, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec(e.stageInfo.stageId).attempts += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val r = rec(e.stageId)
      r.synchronized {
        r.taskMs += m.executorRunTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.outBytes += m.outputMetrics.bytesWritten
        r.rows += m.inputMetrics.recordsRead
      }
    }
  }

  private def rec(stageId: Int): StageRec =
    stages.computeIfAbsent(stageId, id =>
      StageRec(id, Option(stageSpan.get(id)).map(_.intValue).getOrElse(-1)))

  def jobRecs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageRecs: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.id)
}

object SpanListener {
  final case class JobRec(id: Int, span: Int, startUs: Long) {
    @volatile var endUs: Long = -1L
  }
  final case class StageRec(id: Int, span: Int) {
    var attempts = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var outBytes = 0L
    var rows = 0L
  }
}

/** Live heap: the heap's occupancy right after a full collection, which
  * the benchmark runs after every poll of its main session, outside the
  * timed window. Spark frees unpersisted blocks and unreachable broadcasts
  * asynchronously, so the sample first waits (up to 2 s, collecting every
  * 100 ms) until the block manager's memory store is empty again. A block
  * the program keeps across polls therefore stays in the sample. */
object Heap {
  def sample(sc: SparkContext): Double = {
    def storeEmpty = sc.getExecutorMemoryStatus.values.forall {
      case (max, remaining) => max == remaining
    }
    val until = System.nanoTime() + 2000000000L
    System.gc()
    while (!storeEmpty && System.nanoTime() < until) {
      Thread.sleep(100)
      System.gc()
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** The JVM's own counters, read around each poll: process CPU time (all
  * threads), time spent in garbage collection and in the JIT compiler. */
object Jvm {
  final case class Counters(cpuS: Double, gcS: Double, jitS: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def counters(): Counters = Counters(
    os.getProcessCpuTime / 1e9,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
}
