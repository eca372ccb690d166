package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each module.
  * Off (`enabled = false`) a span is only the timed call; on, each span
  * keeps name, start, end, parent and request id in memory, tags the
  * Spark jobs it starts (a local property the listener reads), and is
  * written out when the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private val ids = new AtomicLong(0)
  var request: Long = 0L
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Time `body` as a span named `name`; returns (result, nanos). */
  def span[T](name: String)(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val v = body
      (v, System.nanoTime() - t0)
    } else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try {
        val v = body
        val t1 = System.nanoTime()
        spans += Span(id, parent, request, name, t0, t1)
        (v, t1 - t0)
      } finally {
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }
  }

  def timed[T](name: String)(body: => T): T = span(name)(body)._1

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark work of the spans selected by `keep` and of their
    * descendants. */
  def work(keep: Span => Boolean): Work = {
    drain()
    val byId = spans.map(s => s.id -> s).toMap
    val selected = spans.filter(keep).map(_.id).toSet
    def under(id: Long): Boolean =
      id != 0L && (selected(id) || byId.get(id).exists(s => under(s.parent)))
    listener.map(_.total(under)).getOrElse(Work())
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, request: Long, name: String,
      startNs: Long, endNs: Long) {
    def nanos: Long = endNs - startNs
  }

  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      inputBytes: Long = 0, inputRecords: Long = 0, shuffleBytes: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, inputBytes + o.inputBytes,
      inputRecords + o.inputRecords, shuffleBytes + o.shuffleBytes)
  }

  /** Counts Spark work per span id (the job's `perfbench.span` local
    * property; stages and tasks inherit their job's span). */
  final class JobListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val perSpan = new ConcurrentHashMap[Long, Work]()
    private def add(span: Long, w: Work): Unit =
      perSpan.merge(span, w, (a: Work, b: Work) => a + b)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      add(span, Work(jobs = 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span: Long = Option(stageSpan.get(e.stageInfo.stageId)).map(_.longValue).getOrElse(0L)
      add(span, Work(stages = 1, tasks = e.stageInfo.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val span: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
        add(span, Work(inputBytes = m.inputMetrics.bytesRead,
          inputRecords = m.inputMetrics.recordsRead,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten))
      }
    }
    def total(keep: Long => Boolean): Work = {
      import scala.jdk.CollectionConverters._
      perSpan.asScala.collect { case (k, w) if keep(k) => w }
        .foldLeft(Work())(_ + _)
    }
  }

  /** Executor CPU (task deserialisation and run) of every stage whose
    * job started with the `perfbench.op` local property set: the Spark
    * side of the operations timed by [[Workload.timedRounds]]. Always
    * registered; it keeps one running sum. */
  final class CpuListener extends SparkListener {
    private val opStages = ConcurrentHashMap.newKeySet[Int]()
    private val nanos = new AtomicLong(0)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(OpProp) != null))
        e.stageIds.foreach(s => opStages.add(s))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (opStages.remove(e.stageInfo.stageId)) {
        val m = e.stageInfo.taskMetrics
        if (m != null) nanos.addAndGet(m.executorDeserializeCpuTime + m.executorCpuTime)
      }
    /** Executor CPU nanoseconds counted so far; drain the bus first. */
    def cpuNanos: Long = nanos.get
  }
  val OpProp = "perfbench.op"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Self time per span name: duration minus the time its children
    * cover (children of one span never overlap on the one calling
    * thread). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childNanos = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.nanos - childNanos.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}

/** Process CPU, GC time and live heap, from the JVM's own beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def threadCpuNanos: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
  /** Heap in use after full collections, with pauses between them so
    * Spark's context cleaner can drop what the first one freed. */
  def liveHeapMb: Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** Classes generated so far by whole-stage and expression codegen. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
