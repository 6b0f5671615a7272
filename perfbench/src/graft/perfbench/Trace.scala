package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** A timed interval. `parent` is the id of the span that caused it (0 for
  * the run's root); times are microseconds from the tracer's origin. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store for one run (`runId`); written out when the run
  * ends. Benchmark spans use the monotonic clock, Spark spans the
  * listener's wall-clock millis, both mapped onto one origin. */
final class Tracer(val runId: String) {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def nowUs: Long = (System.nanoTime() - nano0) / 1000
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def spans: Seq[Span] = buf.asScala.toSeq

  /** Run `body` inside a new span; the body gets the span's id so it can
    * label Spark jobs (job group = span id) or open child spans. */
  def span[T](name: String, kind: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val t0 = nowUs
    try body(id) finally add(Span(id, parent, name, kind, t0, nowUs))
  }
}

object SelfTime {
  /** span id -> its duration minus the part of it its children cover
    * (children clipped to the parent, overlaps counted once). */
  def apply(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var lo = 0L
      var hi = 0L
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      covered += hi - lo
      s.id -> (s.durUs - covered)
    }.toMap
  }
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
    shuffleWriteB: Long, spillB: Long, outB: Long, accs: Map[String, Long])
final case class JobRec(jobId: Int, group: String, startMs: Long, endMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, submitMs: Long, doneMs: Long)

/** Spark-side counters of one group of jobs (a query, a table attempt, a
  * set of scan reps). `taskMaxOverMedian` is taken in the stage holding
  * the longest task, the stage that bounds the job's wall. */
final case class SparkAgg(jobs: Int, tasks: Int, cpuS: Double,
    shuffleWriteMb: Double, spillMb: Double, writeMb: Double,
    taskMaxOverMedian: Double, accs: Map[String, Long])

/** Listener the benchmark attaches from outside the program: records every
  * job (with the job group the benchmark set), stage and task. */
final class SparkLedger extends SparkListener {
  private val open = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    open.put(e.jobId, (g.getOrElse(""), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (g, t0, st) =>
      jobs.add(JobRec(e.jobId, g, t0, e.time, st))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val accs = e.taskInfo.accumulables.iterator
        .filter(a => a.name.exists(_.startsWith("graft.")))
        .flatMap(a => a.update.collect { case v: java.lang.Long => a.name.get -> v.longValue })
        .toMap
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten, accs))
    }
  }

  /** Jobs whose group satisfies `p`, with their stages and tasks. A stage
    * belongs to the first job that lists it (later jobs only skip it). */
  private def select(p: String => Boolean): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = {
    val all = jobs.asScala.toSeq.sortBy(_.jobId)
    val owner = all.flatMap(j => j.stageIds.map(_ -> j)).groupBy(_._1)
      .map { case (s, js) => s -> js.head._2 }
    val js = all.filter(j => p(j.group))
    val ids = js.map(_.jobId).toSet
    val mine = (s: Int) => owner.get(s).exists(j => ids(j.jobId))
    (js, stages.asScala.toSeq.filter(s => mine(s.stageId)),
      tasks.asScala.toSeq.filter(t => mine(t.stageId)))
  }

  def agg(p: String => Boolean): SparkAgg = {
    val (js, _, ts) = select(p)
    val skew = if (ts.isEmpty) 0.0 else {
      val xs = ts.groupBy(_.stageId).values.maxBy(_.map(t => t.finishMs - t.launchMs).max)
        .map(t => (t.finishMs - t.launchMs).toDouble).sorted
      xs.last / math.max(1.0, xs(xs.length / 2))
    }
    val mb = 1024.0 * 1024.0
    SparkAgg(js.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleWriteB).sum / mb,
      ts.map(_.spillB).sum / mb, ts.map(_.outB).sum / mb, skew,
      ts.flatMap(_.accs).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Job, stage and task spans for the jobs whose group is a span id. */
  def spans(tracer: Tracer): Seq[Span] = {
    val (js, ss, ts) = select(g => g.nonEmpty && g.forall(_.isDigit))
    val jobSpan = js.map(j => j.jobId -> Span(tracer.nextId(), j.group.toLong,
      s"job ${j.jobId}", "job", tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs))).toMap
    val owner = js.flatMap(j => j.stageIds.map(_ -> j.jobId)).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).min }
    val stageSpan = ss.flatMap(s => owner.get(s.stageId).map(j => s.stageId -> Span(
      tracer.nextId(), jobSpan(j).id, s"stage ${s.stageId}", "stage",
      tracer.fromEpochMs(s.submitMs), tracer.fromEpochMs(s.doneMs)))).toMap
    val taskSpans = ts.flatMap(t => stageSpan.get(t.stageId).map(st => Span(tracer.nextId(),
      st.id, s"task of stage ${t.stageId}", "task",
      tracer.fromEpochMs(t.launchMs), tracer.fromEpochMs(t.finishMs))))
    jobSpan.values.toSeq ++ stageSpan.values ++ taskSpans
  }
}
