package perfbench

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans and Spark counters of the traced run.
  *
  * A span records its name, start, end, the span that caused it and the
  * run id. Spans stay in memory and are written out when the run ends.
  * Every span of an engine call sets the job group to "<unit>|<phase>"
  * (a unit is one timed pass), so the listener can attribute each job's
  * interval and each task's metrics to the phase and pass that spawned
  * it.
  */
final class Tracer(runId: String) {
  import Tracer.Span

  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val gauges = mutable.Map.empty[(Int, String), Double]
  private val listener = new PhaseListener
  private var context: SparkContext = _

  /** Registers the listener on the run's SparkContext. */
  def attach(sc: SparkContext): Unit = {
    sc.addSparkListener(listener)
    context = sc
  }

  def span[A](sc: SparkContext, unit: Int, name: String, phase: Option[String])(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      phase.foreach(p => sc.setJobGroup(s"$unit|$p", p))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, phase, unit, startMs, System.currentTimeMillis(),
          (System.nanoTime() - t0) / 1e9)
        stack = stack.tail
        if (phase.isDefined) sc.clearJobGroup()
      }
    }

  /** A value a layer reports about its own work (iterations, bytes, ...). */
  def gauge(unit: Int, name: String, value: Double): Unit =
    gauges((unit, name)) = gauges.getOrElse((unit, name), 0.0) + value

  /** Per-layer metrics of one traced unit: span seconds by name, gauges,
    * and the five Spark counters of every phase seen in the unit.
    */
  def layers(unit: Int): Map[String, Double] = {
    if (context != null && !context.isStopped) PerfbenchBridge.drainListeners(context)
    val own = spans.filter(_.unit == unit)
    val bySpan = own.filter(_.parent >= 0).groupMapReduce(_.name + "_s")(_.seconds)(_ + _)
    val byGauge = gauges.collect { case ((u, n), v) if u == unit => n -> v }
    val phases = listener.groupsOf(unit).distinct
    val counters = phases.flatMap { phase =>
      val group = s"$unit|$phase"
      val c = listener.counters(group)
      val jobIntervals = listener.jobIntervals(group)
      val wall = own.filter(_.phase.contains(phase)).map(_.seconds).sum
      Seq(s"$phase.cpu_s" -> c(0), s"$phase.gc_s" -> c(1), s"$phase.shuffle_bytes" -> c(2),
        s"$phase.spill_bytes" -> c(3), s"$phase.driver_gap_s" -> (wall - unionSeconds(jobIntervals)))
    }
    bySpan ++ byGauge ++ counters
  }

  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) { total += curEnd - curStart; curStart = s; curEnd = e }
      else curEnd = math.max(curEnd, e)
    }
    if (iv.nonEmpty) total += curEnd - curStart
    total / 1e3
  }

  /** All spans as JSON lines, each with its self time: its duration minus
    * the part of it covered by its child spans.
    */
  def spansJson: Seq[String] = spans.sortBy(_.id).toSeq.map { s =>
    val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq
    val self = s.seconds - unionSeconds(children)
    Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "unit" -> s.unit,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds, "self_s" -> self)
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, phase: Option[String], unit: Int,
                                startMs: Long, endMs: Long, seconds: Double)
}

/** Per job group: executor CPU, GC, shuffle read+write and spill of the
  * group's tasks, and the wall interval of each of its jobs. Events arrive
  * on the listener-bus thread; readers drain the bus first.
  */
final class PhaseListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val sums = mutable.Map.empty[String, Array[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      e.stageIds.foreach(stageGroup(_) = g)
      jobStart(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      intervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = sums.getOrElseUpdate(g, new Array[Double](4))
      s(0) += m.executorCpuTime / 1e9
      s(1) += m.jvmGCTime / 1e3
      s(2) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s(3) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def groupsOf(unit: Int): Seq[String] = synchronized {
    (sums.keys ++ intervals.keys).filter(_.startsWith(s"$unit|")).map(_.stripPrefix(s"$unit|")).toSeq
  }
  def counters(group: String): Array[Double] = synchronized(sums.getOrElse(group, new Array[Double](4)).clone())
  def jobIntervals(group: String): Seq[(Long, Long)] = synchronized(intervals.get(group).toSeq.flatten)
}
