package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The per-layer counters the traced run reports. Every value is a
  * per-pass figure. */
final class Counter {
  var selfS, jobs, tasks, executorCpuS, shuffleBytes, spillBytes = 0.0
  var filesWritten, bytesWritten, rowsIn, rowsOut, driverGapS, calls = 0.0

  def fields: Seq[(String, Double)] = Seq(
    "self_s" -> selfS, "calls" -> calls, "jobs" -> jobs, "tasks" -> tasks,
    "executor_cpu_s" -> executorCpuS, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "files_written" -> filesWritten,
    "bytes_written" -> bytesWritten, "rows_in" -> rowsIn,
    "rows_out" -> rowsOut, "driver_gap_s" -> driverGapS)
}

object Layers {
  /** Every layer the benchmark times, in report order. */
  val Names: Seq[String] = Seq(
    "session", "fred.extract", "fred.transform", "fred.aggregate",
    "fred.load_sheet", "fred.load_jdbc", "fred.delete", "lake.compact",
    "ext.gate", "ext.exact_dedup", "ext.near_dedup", "ext.substring",
    "ext.split")

  /** Local property that names the layer a job belongs to. The job
    * group carries the same name, but Spark replaces the group on the
    * threads that run broadcast exchanges; local properties are
    * inherited there. */
  val LayerProperty = "pipebench.layer"
  val JobGroupProperty = "spark.jobGroup.id"
}

/** One timed call into a layer: wall-clock span in epoch nanoseconds. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int)

/** Counts operations (one per layer call), records spans when tracing,
  * and tags the Spark jobs each call launches with the layer name. */
final class Tracer(sc: SparkContext, val tracing: Boolean) {
  private val epochAtNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = epochAtNano + System.nanoTime()

  var attempted = 0L
  var failed = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Run `body` as one call of `layer`. A call that throws counts as
    * failed and yields None; the pass goes on. */
  def call[T](layer: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(span(layer)(body))
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[pipebench] $layer failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A span without an operation count (the pass itself, the session). */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = sc.getLocalProperty(Layers.JobGroupProperty)
    val prevLayer = sc.getLocalProperty(Layers.LayerProperty)
    sc.setJobGroup(name, name)
    sc.setLocalProperty(Layers.LayerProperty, name)
    stack = id :: stack
    val start = nowNs()
    try body
    finally {
      spans += Span(id, name, start, nowNs(), parent)
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevGroup)
      sc.setLocalProperty(Layers.LayerProperty, prevLayer)
    }
  }
}

/** Untraced runs need only the job count for `spark_jobs`. */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
}

/** The traced run's collector. Jobs are attributed to a layer by the
  * layer property (or job group) set in [[Tracer.span]]; tasks by
  * their stage's job; file-write counts by the SQL execution that ran
  * the write, whose driver-side metrics ("number of written files",
  * "written output", "number of output rows") arrive as
  * `SparkListenerDriverAccumUpdates`. */
final class LayerListener extends SparkListener {
  private val Unattributed = "unattributed"
  final class Acc {
    val jobs, tasks, cpuNs, shuffleBytes, spillBytes, files, bytes,
      rowsIn, rowsOut = new AtomicLong
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  // accumulator id → which write counter it feeds
  private val writeAccums = new ConcurrentHashMap[Long, String]()
  /** Finished jobs: (layer, start ms, end ms). */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Layers.LayerProperty))
        .orElse(Option(p.getProperty(Layers.JobGroupProperty))))
      .getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = layerOf(e.properties)
    acc(layer).jobs.incrementAndGet()
    e.stageIds.foreach(stageLayer.put(_, layer))
    jobStart.put(e.jobId, (layer, e.time))
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execLayer.putIfAbsent(id.toLong, layer))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (layer, start) =>
      jobIntervals.add((layer, start, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageLayer.get(e.stageId)).getOrElse(Unattributed))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.rowsIn.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private def registerWrites(info: SparkPlanInfo): Unit = {
    val names = info.metrics.map(_.name).toSet
    if (names.contains("number of written files"))
      info.metrics.foreach { m =>
        m.name match {
          case "number of written files" => writeAccums.put(m.accumulatorId, "files")
          case "written output" => writeAccums.put(m.accumulatorId, "bytes")
          case "number of output rows" => writeAccums.put(m.accumulatorId, "rows")
          case _ => ()
        }
      }
    info.children.foreach(registerWrites)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      e.jobGroupId.foreach(g => execLayer.putIfAbsent(e.executionId, g))
      registerWrites(e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerWrites(e.sparkPlanInfo)
    case e: SparkListenerDriverAccumUpdates =>
      val a = acc(Option(execLayer.get(e.executionId)).getOrElse(Unattributed))
      e.accumUpdates.foreach { case (id, v) =>
        writeAccums.get(id) match {
          case "files" => a.files.addAndGet(v)
          case "bytes" => a.bytes.addAndGet(v)
          case "rows" => a.rowsOut.addAndGet(v)
          case _ => ()
        }
      }
    case _ => ()
  }

  /** Counters accumulated since the last call (the bus must be drained
    * first); `spans` are the pass's layer calls, which the job intervals
    * are clipped to for the driver gap. */
  def takePass(spans: Seq[Span]): Map[String, Counter] = {
    val out = mutable.Map.empty[String, Counter]
    def c(layer: String) = out.getOrElseUpdate(layer, new Counter)
    accs.asScala.foreach { case (layer, a) =>
      val k = c(layer)
      k.jobs = a.jobs.getAndSet(0).toDouble
      k.tasks = a.tasks.getAndSet(0).toDouble
      k.executorCpuS = a.cpuNs.getAndSet(0) / 1e9
      k.shuffleBytes = a.shuffleBytes.getAndSet(0).toDouble
      k.spillBytes = a.spillBytes.getAndSet(0).toDouble
      k.filesWritten = a.files.getAndSet(0).toDouble
      k.bytesWritten = a.bytes.getAndSet(0).toDouble
      k.rowsIn = a.rowsIn.getAndSet(0).toDouble
      k.rowsOut = a.rowsOut.getAndSet(0).toDouble
    }
    val jobs = Iterator.continually(jobIntervals.poll())
      .takeWhile(_ != null).toSeq.groupBy(_._1)
    val children = spans.groupBy(_.parent)
    spans.filter(s => Layers.Names.contains(s.name)).foreach { s =>
      val k = c(s.name)
      val childNs = children.getOrElse(s.id, Nil).map(x => x.endNs - x.startNs).sum
      val selfS = (s.endNs - s.startNs - childNs) / 1e9
      // job time inside this span, overlapping jobs merged
      val (lo, hi) = (s.startNs / 1000000L, s.endNs / 1000000L)
      val clipped = jobs.getOrElse(s.name, Nil)
        .map { case (_, a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      clipped.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      k.calls += 1
      k.selfS += selfS
      k.driverGapS += math.max(0.0, selfS - covered / 1e3)
    }
    out.toMap
  }
}
