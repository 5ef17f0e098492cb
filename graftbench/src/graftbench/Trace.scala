package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-layer tracing. A span times one call into a layer's public
  * function from the benchmark's side and tags every Spark job the call
  * submits with its own job group; a [[JobRecorder]] listener files the
  * jobs' task metrics under that group. Untraced runs never construct a
  * Tracer, so they carry no listener and set no job group.
  */
final class Tracer(sc: SparkContext, threads: Int) {
  private val recorder = new JobRecorder
  sc.addSparkListener(recorder)

  private case class Call(span: String, group: String, startMs: Long, endMs: Long, wallS: Double)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private var seq = 0

  /** Run `body` as one call of span `name`. Spans do not nest: the
    * inner span's jobs belong to the inner span only.
    */
  def span[A](name: String)(body: => A): A = {
    seq += 1
    val group = s"graftbench-$seq"
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      calls += Call(name, group, startMs, System.currentTimeMillis(), wall)
      prev match {
        case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Per-call metrics of a span: wall, driver-only time, core
    * utilisation, shuffle write, disk spill and GC time.
    */
  private def callMetrics(startMs: Long, endMs: Long, wallS: Double,
      jobs: Seq[JobRecord], task: TaskTotals): Map[String, Double] = {
    val busyMs = JobRecorder.unionMs(jobs.map(j => (j.startMs, j.endMs)), startMs, endMs)
    Map(
      "wall_s" -> wallS,
      "driver_s" -> math.max(0.0, wallS - busyMs / 1e3),
      "core_util" -> (if (wallS > 0) task.runMs / 1e3 / (wallS * threads) else 0.0),
      "shuffle_mb" -> task.shuffleWriteBytes / 1e6,
      "spill_mb" -> task.diskSpillBytes / 1e6,
      "gc_s" -> task.gcMs / 1e3)
  }

  /** Median over calls of each span's metrics, keyed `span.metric`.
    * Read after the session has stopped: stopping drains the listener
    * bus, so every job and task event is in.
    */
  def spanMetrics(): Map[String, Double] = {
    val perCall = calls.toSeq.map { c =>
      c.span -> callMetrics(c.startMs, c.endMs, c.wallS, recorder.jobsOf(c.group),
        recorder.groupTotals(c.group))
    }
    medians(perCall)
  }

  /** Iterations of a loop inside span `parent` that the benchmark cannot
    * call directly, one Spark job per iteration: the jobs whose stages
    * include `stageMarker` (as in "treeReduce at Glove.scala:…"). An
    * iteration runs from the end of the previous such job (the first
    * from its own job's start) to the end of its job, so its driver time
    * is the driver-side work between jobs. Reported as calls of span
    * `name`, with the task results the job sent to the driver.
    */
  def iterationMetrics(parent: String, stageMarker: String, name: String): Map[String, Double] = {
    val perCall = calls.toSeq.filter(_.span == parent).flatMap { c =>
      val jobs = recorder.jobsOf(c.group)
      val iters = jobs.filter(_.stageNames.exists(_.contains(stageMarker))).sortBy(_.endMs)
      val froms = iters.headOption.map(_.startMs).toSeq ++ iters.map(_.endMs).dropRight(1)
      iters.zip(froms).map { case (j, from) =>
        val task = recorder.jobTotals(j)
        name -> (callMetrics(from, j.endMs, (j.endMs - from) / 1e3, jobs, task) +
          ("result_mb" -> task.resultBytes / 1e6))
      }
    }
    medians(perCall)
  }

  /** Forget the calls made so far (set-up and warm-up). */
  def reset(): Unit = calls.clear()

  private def medians(perCall: Seq[(String, Map[String, Double])]): Map[String, Double] =
    perCall.groupBy(_._1).flatMap { case (span, ms) =>
      ms.head._2.keys.map(k => s"$span.$k" -> Stats.median(ms.map(_._2(k))))
    }
}

final case class JobRecord(jobId: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int], stageNames: Seq[String])

final case class TaskTotals(runMs: Double, shuffleWriteBytes: Double,
    diskSpillBytes: Double, gcMs: Double, resultBytes: Double)

/** Listener that keeps job intervals and task metrics, both by job
  * group. Events arrive on the listener bus thread.
  */
final class JobRecorder extends SparkListener {
  private val lock = new Object
  private val started = mutable.Map.empty[Int, (String, Long, Seq[Int], Seq[String])]
  private val jobs = mutable.ArrayBuffer.empty[JobRecord]
  // stage id -> (job group, submission time, totals: run, shuffle, spill, gc, result)
  private val stages = mutable.Map.empty[Int, (String, Long, Array[Double])]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    started(e.jobId) = (groupOf(e.properties), e.time, e.stageInfos.map(_.stageId),
      e.stageInfos.map(_.name))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    started.remove(e.jobId).foreach { case (g, t0, ids, names) =>
      jobs += JobRecord(e.jobId, g, t0, e.time, ids, names)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val at = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages(e.stageInfo.stageId) = (groupOf(e.properties), at, new Array[Double](5))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).filter(_ => m != null).foreach { case (_, _, a) =>
      a(0) += m.executorRunTime
      a(1) += m.shuffleWriteMetrics.bytesWritten
      a(2) += m.diskBytesSpilled
      a(3) += m.jvmGCTime
      a(4) += m.resultSize
    }
  }

  def jobsOf(group: String): Seq[JobRecord] = lock.synchronized(jobs.filter(_.group == group).toSeq)

  private def totals(sel: Iterable[Array[Double]]): TaskTotals = {
    def sum(k: Int) = sel.iterator.map(_(k)).sum
    TaskTotals(sum(0), sum(1), sum(2), sum(3), sum(4))
  }

  /** Task totals of every stage submitted under the job group. */
  def groupTotals(group: String): TaskTotals = lock.synchronized {
    totals(stages.values.collect { case (g, _, a) if g == group => a })
  }

  /** Task totals of the stages one job ran itself (stages it skipped
    * because an earlier job already computed them are not counted).
    */
  def jobTotals(j: JobRecord): TaskTotals = lock.synchronized {
    totals(j.stageIds.flatMap(stages.get).collect {
      case (g, at, a) if g == j.group && at >= j.startMs => a
    })
  }
}
object JobRecorder {
  /** Length of the union of intervals, clipped to [from, to]. */
  def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
