package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are driver-clock milliseconds. The
  * layer is the span name up to its first dot (`lake.append` -> `lake`).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, var end: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, output = 0L
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * work each span caused.
  *
  * Attribution is by a local property, not by time window: a span sets
  * `perfbench.span` on the driver thread, Spark copies local properties
  * into every job it starts, and the listener maps job -> stages -> tasks
  * back to the span. A task that finishes after its span ended is still
  * charged to the span that launched its job. Planning time comes from
  * each QueryExecution's tracker phases; planning runs on the driver
  * thread, so a phase belongs to the innermost span open when it started.
  *
  * Disabled, `span` only runs its body; nothing is registered with Spark.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val phases = new ConcurrentLinkedQueue[(Double, Double)]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
  private def c(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
          val id = s.toInt
          c(id).jobs += 1
          e.stageIds.foreach(stageSpan.put(_, id))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => c(id).stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        taskIntervals.add((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        val m = e.taskMetrics
        Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { id =>
          val k = c(id)
          k.tasks += 1
          k.taskMs += m.executorRunTime
          k.gcMs += m.jvmGCTime
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          k.output += m.outputMetrics.bytesWritten
        }
      }
    })
    def plan(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p =>
        phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
    })
  }

  private def mark(): Unit =
    spark.sparkContext.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)

  private var nextId = 0

  /** Forget every span and counter recorded so far (a warm-up's). Span ids
    * are never reused, so a late event cannot land on a new span.
    */
  def reset(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.clear(); stageSpan.clear(); phases.clear(); counters.clear(); taskIntervals.clear()
  }

  /** Open a span as a child of the innermost open span. */
  def begin(name: String, op: Int): Unit = if (enabled) {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(-1), op, nowMs)
    nextId += 1
    spans += s
    open = s :: open
    mark()
  }

  /** Close the innermost open span. */
  def end(): Unit = if (enabled && open.nonEmpty) {
    open.head.end = nowMs
    open = open.tail
    mark()
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else { begin(name, op); try body finally end() }

  /** Per-layer self times and counters over every closed span, in the
    * units the benchmark reports, divided by `units` (the number of
    * workload units the spans cover).
    */
  def layerMetrics(layers: Seq[String], cores: Int, units: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val closed = spans.filterNot(_.end.isNaN).toSeq
    val planMs = phases.asScala.toSeq.flatMap { case (s, e) =>
      closed.filter(sp => sp.start <= s && s < sp.end).sortBy(-_.start).headOption
        .map(_.id -> (e - s))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val children = closed.groupBy(_.parent)
    val tasks = Intervals.union(taskIntervals.asScala.toSeq)
    val perSpan = closed.map { s =>
      val kids = Intervals.union(children.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
      val self = Intervals.minus(Seq((s.start, s.end)), kids)
      val busy = Intervals.length(Intervals.intersect(self, tasks))
      (s, Intervals.length(self), Intervals.length(self) - busy)
    }
    val n = units.max(1).toDouble
    layers.flatMap { layer =>
      val mine = perSpan.filter(_._1.layer == layer)
      val ks = mine.flatMap(m => Option(counters.get(m._1.id)))
      def sum(f: Counters => Long): Double = ks.map(f).sum.toDouble
      val selfMs = mine.map(_._2).sum
      val mb = 1024.0 * 1024.0
      Seq(
        "self_s" -> selfMs / 1e3,
        "jobs" -> sum(_.jobs),
        "stages" -> sum(_.stages),
        "tasks" -> sum(_.tasks),
        "task_s" -> sum(_.taskMs) / 1e3,
        "gc_s" -> sum(_.gcMs) / 1e3,
        "shuffle_read_mb" -> sum(_.shuffleRead) / mb,
        "shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
        "spill_mb" -> sum(_.spill) / mb,
        "output_mb" -> sum(_.output) / mb,
        "plan_s" -> mine.map(m => planMs.getOrElse(m._1.id, 0.0)).sum / 1e3,
        "driver_only_s" -> mine.map(_._3).sum / 1e3,
      ).map { case (k, v) => s"$layer.$k" -> v / n } :+
        (s"$layer.core_util" ->
          (if (selfMs > 0) sum(_.taskMs) / (selfMs * cores) else 0.0))
    }.toMap
  }

  /** Summed duration per span name, `<name>_s`, divided by `units`. */
  def timers(names: Seq[String], units: Int): Map[String, Double] = {
    val closed = spans.filterNot(_.end.isNaN)
    names.map(n => s"${n}_s" ->
      closed.filter(_.name == n).map(_.dur).sum / 1e3 / units.max(1)).toMap
  }

  def toJson: String =
    spans.map(s => f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
      .mkString("[\n", ",\n", "\n]\n")
}

/** Closed-interval arithmetic on (start, end) pairs in milliseconds. */
object Intervals {
  type I = (Double, Double)

  def union(xs: Seq[I]): Seq[I] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[I]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def intersect(a: Seq[I], b: Seq[I]): Seq[I] =
    for { x <- a; y <- b; s = math.max(x._1, y._1); e = math.min(x._2, y._2); if e > s }
      yield (s, e)

  /** `a` minus `b`, where `b` is a sorted disjoint union. */
  def minus(a: Seq[I], b: Seq[I]): Seq[I] =
    a.flatMap { case (s0, e0) =>
      val (out, cur) = b.foldLeft((List.empty[I], s0)) { case ((acc, cur), (s, e)) =>
        if (e <= cur || s >= e0) (acc, cur)
        else ((if (s > cur) (cur, s) :: acc else acc), math.max(cur, e))
      }
      (if (cur < e0) (cur, e0) :: out else out).reverse
    }

  def length(xs: Seq[I]): Double = xs.map(x => x._2 - x._1).sum
}
