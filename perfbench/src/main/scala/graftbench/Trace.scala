package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into the engine, with every Spark
  * job the call started attached as a child span.
  *
  * A call span sets a local property on the calling thread; Spark copies
  * local properties into each job it submits (also from threads the
  * call spawns), so the listener attributes a job to its call exactly,
  * not by time window. Spans stay in memory and are summarised once,
  * after the timed loop, when the listener bus has drained.
  *
  * `active` switches recording on and off. The listener is registered
  * when recording is switched on and stays until [[detach]], so outside
  * that window the process runs as an untraced one does. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private final class Job(val span: Long, val startMs: Long) {
    var endMs: Long = -1L
    var taskMs: Long = 0L
    var shuffleWriteBytes: Long = 0L
  }

  private val nextId = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // written by the listener-bus thread only; read after Bus.drain
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  @volatile private var on = false
  private var listening = false

  def active: Boolean = on
  def active_=(v: Boolean): Unit = {
    if (v && !listening) {
      sc.addSparkListener(listener)
      listening = true
    }
    on = v
  }

  /** Stop recording and remove the listener once it has seen every
    * event so far; the spans and jobs recorded stay. */
  def detach(): Unit = {
    on = false
    if (listening) {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
      listening = false
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach { s =>
        jobs(e.jobId) = new Job(s.toLong, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j)
           if e.taskMetrics != null) {
        job.taskMs += e.taskMetrics.executorRunTime
        job.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
  }

  /** Time `body` as call `name` (`<module>.<call>`) when recording. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val wall0 = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = (System.nanoTime() - t0) / 1e6
        sc.setLocalProperty(SpanKey, prev)
        spans += Span(name, id, wall0, dur)
      }
    }

  /** Per call name: median wall ms, jobs, task seconds and the wall not
    * covered by any of the call's jobs (driver self time), plus the
    * median shuffle MB written. */
  def summary(): Map[String, CallStats] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val byspan = jobs.values.groupBy(_.span)
    spans.groupBy(_.name).map { case (name, ss) =>
      val per = ss.toSeq.map { s =>
        val js = byspan.getOrElse(s.id, Nil).toSeq
        val end = s.startMs + s.durMs
        val covered = union(js.map(j =>
          (math.max(j.startMs.toDouble, s.startMs),
            math.min((if (j.endMs < 0) end else j.endMs.toDouble), end))))
        (s.durMs, js.size.toDouble, js.map(_.taskMs).sum / 1e3,
          math.max(0.0, s.durMs - covered),
          js.map(_.shuffleWriteBytes).sum / (1024.0 * 1024.0))
      }
      name -> CallStats(Stats.median(per.map(_._1)),
        Stats.median(per.map(_._2)), Stats.median(per.map(_._3)),
        Stats.median(per.map(_._4)), Stats.median(per.map(_._5)))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(name: String, id: Long, startMs: Double, durMs: Double)

  final case class CallStats(ms: Double, jobs: Double, taskS: Double,
      offjobMs: Double, shuffleMb: Double)

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
