package erbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Half-open time interval, in milliseconds since the epoch. */
final case class Interval(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
}

object Interval {

  /** Sorted, non-overlapping union of `xs`. */
  def union(xs: Iterable[Interval]): Vector[Interval] = {
    val out = mutable.ArrayBuffer[Interval]()
    xs.filter(_.length > 0).toVector.sortBy(_.start).foreach { x =>
      if (out.nonEmpty && x.start <= out.last.end)
        out(out.size - 1) = Interval(out.last.start, math.max(out.last.end, x.end))
      else out += x
    }
    out.toVector
  }

  /** The parts of `a` that no interval of `b` covers. */
  def subtract(a: Iterable[Interval], b: Iterable[Interval]): Vector[Interval] = {
    val cut = union(b)
    union(a).flatMap { x =>
      // cut is sorted: walk it once per piece of `a`
      val pieces = mutable.ArrayBuffer[Interval]()
      var from = x.start
      cut.iterator.takeWhile(_.start < x.end).filter(_.end > x.start).foreach { c =>
        if (c.start > from) pieces += Interval(from, c.start)
        from = math.max(from, c.end)
      }
      if (from < x.end) pieces += Interval(from, x.end)
      pieces
    }
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, aligned
  * with the task launch/finish times Spark reports.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class SpanRecord(id: Long, layer: String, parent: Option[Long],
    start: Double, end: Double) {
  def interval: Interval = Interval(start, end)
}

/** Opens named spans around calls into the engine's layers. The id of
  * the innermost open span is set as a Spark local property, so every
  * job the driver thread submits inside a span carries it, and
  * [[SpanListener]] attributes the job's stages and tasks to that span.
  */
final class Tracer(sc: SparkContext) {
  private var nextId = 0L
  private val stack = mutable.Stack[Long]()
  private val records = mutable.ArrayBuffer[SpanRecord]()
  private val rowCounts = mutable.LinkedHashMap[String, Long]()
  private val counters = mutable.LinkedHashMap[String, Double]()

  def span[T](layer: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption
    stack.push(id)
    sc.setLocalProperty(Tracer.Property, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack.pop()
      sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
      records += SpanRecord(id, layer, parent, t0, t1)
    }
  }

  /** Output rows a layer produced (summed over its spans). */
  def addRows(layer: String, n: Long): Unit =
    rowCounts(layer) = rowCounts.getOrElse(layer, 0L) + n

  /** A named per-layer count or ratio input (summed over calls). */
  def add(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def spans: Seq[SpanRecord] = records.toSeq
  def rows: Map[String, Long] = rowCounts.toMap
  def counts: Map[String, Double] = counters.toMap
}

object Tracer {
  val Property = "erbench.span"
}

final case class TaskRecord(span: Option[Long], launch: Double, finish: Double,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def interval: Interval = Interval(launch, finish)
}

/** Collects, per Spark job and task, the span that submitted it. Stage
  * ids map to spans through the properties of the stage submission, so
  * a task is charged to the span whose job actually ran its stage.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[Option[Long]]()
  private val taskLog = new ConcurrentLinkedQueue[TaskRecord]()

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    jobSpans.add(s)
    s.foreach(id => e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    taskLog.add(TaskRecord(
      Option(stageSpan.get(e.stageId)).map(_.longValue),
      e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L)))
  }

  def jobs: Seq[Option[Long]] = jobSpans.asScala.toSeq
  def tasks: Seq[TaskRecord] = taskLog.asScala.toSeq

  def clear(): Unit = { stageSpan.clear(); jobSpans.clear(); taskLog.clear() }
}

final case class LayerStats(wallS: Double, driverS: Double, taskS: Double, cpuS: Double,
    gcS: Double, shuffleWriteMb: Double, spillMb: Double, jobs: Long, rowsOut: Long)

object Profile {

  /** Self intervals of each span: its interval minus its children's. */
  def selfIntervals(spans: Seq[SpanRecord]): Map[Long, Vector[Interval]] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Interval.subtract(Seq(s.interval),
        children.getOrElse(Some(s.id), Seq.empty).map(_.interval))
    }.toMap
  }

  /** Per-layer statistics. `wallS` is self time; `driverS` is the part
    * of self time during which no task of any span was running.
    */
  def layers(spans: Seq[SpanRecord], tasks: Seq[TaskRecord], jobs: Seq[Option[Long]],
      rows: Map[String, Long]): Map[String, LayerStats] = {
    val self = selfIntervals(spans)
    val busy = Interval.union(tasks.map(_.interval))
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val tasksBy = tasks.groupBy(_.span.flatMap(layerOf.get))
    val jobsBy = jobs.flatten.groupBy(layerOf.get)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val mine = ss.flatMap(s => self(s.id))
      val ts = tasksBy.getOrElse(Some(layer), Seq.empty)
      layer -> LayerStats(
        wallS = mine.map(_.length).sum / 1e3,
        driverS = Interval.subtract(mine, busy).map(_.length).sum / 1e3,
        taskS = ts.map(_.runMs).sum / 1e3,
        cpuS = ts.map(_.cpuNs).sum / 1e9,
        gcS = ts.map(_.gcMs).sum / 1e3,
        shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / 1e6,
        spillMb = ts.map(_.spillBytes).sum / 1e6,
        jobs = jobsBy.getOrElse(Some(layer), Seq.empty).size.toLong,
        rowsOut = rows.getOrElse(layer, 0L))
    }
  }
}
