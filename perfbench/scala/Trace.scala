package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A finished Spark task as the listener saw it (times in epoch ms). */
final case class TaskRec(
    stageId: Int, start: Long, end: Long, runMs: Long,
    recordsRead: Long, recordsWritten: Long, bytesWritten: Long,
    shuffleWriteBytes: Long)

final case class JobRec(jobId: Int, start: Long, end: Long, stageIds: Seq[Int], ok: Boolean)

/** Spark jobs, and with `detail` their tasks, seen by a listener the
  * benchmark registers. Events are kept in memory; [[settle]] waits until
  * the asynchronous listener bus has delivered the end of every job that
  * started.
  */
final class JobLog(detail: Boolean) extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, (e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEvent.set(System.currentTimeMillis())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, stages) = Option(starts.remove(e.jobId)).getOrElse((e.time, Seq.empty))
    jobs.add(JobRec(e.jobId, t0, e.time, stages, e.jobResult == JobSucceeded))
    lastEvent.set(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detail) {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    lastEvent.set(System.currentTimeMillis())
  }

  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
        (!starts.isEmpty || System.currentTimeMillis() - lastEvent.get < 50))
      Thread.sleep(10)
  }

  def failedJobs: Int = jobs.asScala.count(!_.ok)

  /** Jobs that started and ended within [from, to] (epoch ms), by start. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.start >= from && j.end <= to).toSeq.sortBy(_.start)

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.jobId).toSet
    tasks.asScala.filter(t => ids.contains(stageJob.getOrDefault(t.stageId, -1))).toSeq
  }
}

/** In-memory spans: one per benchmark phase, Spark job, stage and task and
  * per kernel-stage call. Written as JSON lines when the run ends.
  */
final class Spans {
  final case class Span(id: Long, parent: Long, name: String,
      startUs: Long, endUs: Long, count: Long)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1L
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()

  def nowUs: Long = (System.nanoTime() - t0Ns) / 1000
  private def msToUs(ms: Long): Long = (ms - t0Ms) * 1000

  def add(parent: Long, name: String, startUs: Long, endUs: Long, count: Long = 0): Long = {
    val id = newId()
    synchronized { buf += Span(id, parent, name, startUs, endUs, count) }
    id
  }

  def newId(): Long = synchronized { val i = next; next += 1; i }

  def close(id: Long, parent: Long, name: String, startUs: Long, count: Long = 0): Unit =
    synchronized { buf += Span(id, parent, name, startUs, nowUs, count) }

  /** Times `f` as a span named `name`; `f` receives the span's id. */
  def timed[A](parent: Long, name: String)(f: Long => A): A = {
    val id = newId()
    val s = nowUs
    val r = f(id)
    close(id, parent, name, s)
    r
  }

  /** Adds the jobs, stages and tasks of `js` below `parent`. */
  def addJobs(parent: Long, log: JobLog, js: Seq[JobRec]): Unit = {
    val ts = log.tasksOf(js).groupBy(_.stageId)
    js.foreach { j =>
      val jid = add(parent, "spark.job", msToUs(j.start), msToUs(j.end), j.stageIds.size)
      j.stageIds.flatMap(s => ts.get(s).map(s -> _)).foreach { case (s, tks) =>
        val sid = add(jid, s"spark.stage.$s", msToUs(tks.map(_.start).min),
          msToUs(tks.map(_.end).max), tks.size)
        tks.foreach(t => add(sid, "spark.task", msToUs(t.start), msToUs(t.end),
          t.recordsRead + t.recordsWritten))
      }
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try buf.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"count":${s.count}}""")
      w.newLine()
    } finally w.close()
  }
}

/** What a traced run records around one call into the program. */
final case class Phase(jobs: Seq[JobRec], wallS: Double, gapS: Double)

/** The traced run's instruments: a detailed [[JobLog]] and the [[Spans]],
  * with the phases recorded so far by name (a later phase of the same name
  * replaces an earlier one).
  */
final class Tracer(val log: JobLog, val spans: Spans, val root: Long, slots: Int) {
  val phases = mutable.Map.empty[String, Phase]

  /** Times `f`, then records its jobs, stages and tasks as spans below a
    * span named `name`. Returns f's result, its jobs and its wall seconds.
    */
  def phase[A](name: String)(f: => A): ((A, Seq[JobRec]), Double) = {
    val id = spans.newId()
    val s0 = spans.nowUs
    val from = System.currentTimeMillis()
    val (r, sec) = Main.time(f)
    val to = System.currentTimeMillis()
    spans.close(id, root, name, s0)
    log.settle()
    val js = log.jobsIn(from, to)
    spans.addJobs(id, log, js)
    phases(name) = Phase(js, sec, Tracer.gap(js, from, to))
    ((r, js), sec)
  }

  /** Σ task time ÷ (slots × Σ job wall time) over `js`. */
  def slotUtil(js: Seq[JobRec]): Double = {
    val busy = log.tasksOf(js).map(t => t.end - t.start).sum.toDouble
    busy / math.max(1.0, slots * js.map(j => j.end - j.start).sum.toDouble)
  }
}

object Tracer {
  /** `f`, timed as a phase when tracing. */
  def timed[A](t: Option[Tracer], name: String)(f: => A): (A, Double) = t match {
    case Some(tr) => val ((r, _), s) = tr.phase(name)(f); (r, s)
    case None => Main.time(f)
  }

  def sec(js: Seq[JobRec]): Double = js.map(j => j.end - j.start).sum / 1e3

  /** Seconds of [from, to] (epoch ms) covered by no job. */
  def gap(js: Seq[JobRec], from: Long, to: Long): Double = {
    var covered = 0L
    var reach = from
    js.sortBy(_.start).foreach { j =>
      val s = math.max(j.start, reach)
      if (j.end > s) { covered += j.end - s; reach = j.end }
    }
    (to - from - covered) / 1e3
  }

  /** Longest task ÷ mean task, over tasks that ran (1 when uniform). */
  def skew(ts: Seq[TaskRec]): Double = {
    val d = ts.map(t => (t.end - t.start).toDouble)
    if (d.isEmpty) 0.0 else d.max / math.max(1e-9, d.sum / d.size)
  }
}
