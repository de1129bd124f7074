package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the benchmark: an operation or a phase inside it.
  * Times are wall-clock milliseconds (the clock Spark stamps jobs with)
  * plus a nanosecond duration for the span's own length.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    var endMs: Long = -1L, var nanos: Long = 0L)

/** A Spark job as the listener saw it. `span` is the innermost span
  * that submitted it (-1 when none was open).
  */
final case class Job(id: Int, span: Int, startMs: Long, stages: Seq[Int],
    callSite: String) {
  @volatile var endMs: Long = -1L
  @volatile var failed: Boolean = false
}

/** Task-level totals of the jobs a set of spans submitted. */
final case class TaskTotals(tasks: Long, runS: Double, cpuS: Double,
    gcS: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
    spillMb: Double, inputMb: Double, failed: Long, stages: Long)

/** Span recorder plus a SparkListener that files every job under the
  * span that submitted it. Spans are opened and closed on the
  * thread that runs the workload; the span id travels to the scheduler
  * as a job local property, so jobs are attributed even though listener
  * events arrive asynchronously. A job submitted from a thread that did
  * not inherit the property goes to the innermost span that is still
  * open when its start event arrives and began before the job did.
  * Everything stays in memory until [[dump]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "graftbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageTasks = new ConcurrentHashMap[Int, Array[Double]]()
  @volatile private var open: List[Span] = Nil

  def attach(): Unit = sc.addSparkListener(this)

  /** Detach after the listener bus has drained, so no event is lost. */
  def detach(): Unit = {
    Tracer.drain(sc)
    sc.removeSparkListener(this)
  }

  def span[A](name: String)(body: => A): A = {
    val parent = stack.headOption.fold(-1)(_.id)
    val s = Span(spans.size, name, parent, System.currentTimeMillis())
    spans += s
    stack.push(s)
    open = stack.toList
    sc.setLocalProperty(Prop, s.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      stack.pop()
      open = stack.toList
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromProp = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Prop))).map(_.toInt)
    val span = fromProp.getOrElse(
      open.find(_.startMs <= e.time).fold(-1)(_.id))
    val site = e.stageInfos.map(_.name).mkString(" | ")
    jobs.put(e.jobId, Job(e.jobId, span, e.time, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageTasks.computeIfAbsent(e.stageId, _ => new Array[Double](9))
    val m = e.taskMetrics
    acc.synchronized {
      acc(0) += 1
      if (e.taskInfo.failed || e.taskInfo.killed) acc(8) += 1
      if (m != null) {
        acc(1) += m.executorRunTime / 1e3
        acc(2) += m.executorCpuTime / 1e9
        acc(3) += m.jvmGCTime / 1e3
        acc(4) += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        acc(5) += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        acc(6) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        acc(7) += m.inputMetrics.bytesRead / 1048576.0
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Ids of `roots` and every span below them. */
  def subtree(roots: Seq[Span]): Set[Int] = {
    val ids = mutable.Set[Int]() ++= roots.map(_.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def jobsUnder(ids: Set[Int]): Seq[Job] =
    jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq.sortBy(_.id)

  /** Wall seconds covered by the union of the jobs' intervals. */
  def jobSeconds(js: Seq[Job]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e3
  }

  def taskTotals(js: Seq[Job]): TaskTotals = {
    val stages = js.flatMap(_.stages).distinct
    val sum = new Array[Double](9)
    stages.foreach(st => Option(stageTasks.get(st)).foreach { a =>
      a.synchronized { a.indices.foreach(i => sum(i) += a(i)) } })
    val ran = stages.count(stageTasks.containsKey).toLong
    TaskTotals(sum(0).toLong, sum(1), sum(2), sum(3), sum(4), sum(5),
      sum(6), sum(7), sum(8).toLong, ran)
  }

  /** Spans and jobs as JSON lines, written once at the end of a run. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"s":${s.nanos / 1e9}}""" + "\n"
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      sb ++= s"""{"job":${j.id},"parent":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages.size},"failed":${j.failed},"site":${Json.str(j.callSite)}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.result())
  }
}

object Tracer {
  /** Tracing overhead: each operation of `ops` runs once traced and
    * once untraced, alternating which goes first so neither side always
    * meets the warmer JVM; returns traced over untraced total seconds
    * minus one.
    */
  def overhead[A](t: Tracer, ops: Seq[A])(run: (A, Option[Tracer]) => Double): Double = {
    def traced(op: A): Double = { t.attach(); try run(op, Some(t)) finally t.detach() }
    val pairs = ops.zipWithIndex.map { case (op, i) =>
      if (i % 2 == 1) { val v = traced(op); (v, run(op, None)) }
      else { val u = run(op, None); (traced(op), u) }
    }
    pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.BenchShim.drainListeners(sc, 30000L)
}
