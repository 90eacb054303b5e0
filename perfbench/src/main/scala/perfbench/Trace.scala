package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds (the clock Spark's
  * listener events use) so jobs can be placed inside spans. */
final case class Span(id: Int, name: String, label: String, parent: Int,
                      runId: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
}

/** A finished Spark job with the task totals of its stages. */
final class JobRec(val id: Int, val group: String, val name: String, val start: Long) {
  @volatile var end: Long = start
  var tasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleBytes, inputBytes, spillBytes = 0L
}

/** Span recorder plus the listeners that attach Spark's job, stage and task
  * events to spans. Each leaf span sets a Spark job group on its calling
  * thread, so the jobs it causes carry the span's id. Jobs Spark starts from
  * its own threads (streaming micro-batches) carry another group; they are
  * attached to the leaf span whose interval holds their start.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val stageCount = new AtomicInteger(0)
  private val planMs = new java.util.concurrent.atomic.AtomicLong(0)
  private val Prefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val rec = new JobRec(e.jobId, group.getOrElse(""), name, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageCount.incrementAndGet()
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) rec.synchronized {
        val info = e.taskInfo
        rec.tasks += 1
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val queued = info.launchTime - stageSubmitted.getOrDefault(e.stageId, info.launchTime)
        val overhead = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        rec.schedMs += math.max(0L, queued) + math.max(0L, overhead)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Record `f` as a span; a leaf span owns the jobs it starts. */
  def span[T](name: String, label: String, parent: Int, leaf: Boolean = true)(f: Int => T): T = {
    val id = ids.incrementAndGet()
    val start = System.currentTimeMillis()
    if (leaf) sc.setJobGroup(Prefix + id, s"$name $label", interruptOnCancel = false)
    try f(id)
    finally {
      if (leaf) sc.clearJobGroup()
      spans.add(Span(id, name, label, parent, runId, start, System.currentTimeMillis()))
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)
  def leaves: Seq[Span] = {
    val ss = allSpans
    val parents = ss.map(_.parent).toSet
    ss.filterNot(s => parents.contains(s.id))
  }
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stages: Int = stageCount.get()
  def planSeconds: Double = planMs.get() / 1000.0

  /** Jobs of each leaf span: by job group, else by the span holding the
    * job's start time. */
  def jobsBySpan: Map[Int, Seq[JobRec]] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    val ls = leaves
    allJobs.flatMap { j =>
      val own = if (j.group.startsWith(Prefix)) byId.get(j.group.stripPrefix(Prefix).toInt) else None
      own.orElse(ls.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(-_.start).headOption).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Time inside `span` during which none of `its` jobs ran, in seconds. */
  def gapSeconds(span: Span, its: Seq[JobRec]): Double = {
    val ivs = its.map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, span.end - span.start - covered) / 1000.0
  }

  /** The `spark.*` layer metrics over every job recorded, for a pass of
    * `wallSeconds` on `cores` cores. */
  def sparkMetrics(wallSeconds: Double, cores: Int): Seq[(String, Double)] = {
    val js = allJobs
    def total(f: JobRec => Long): Long = js.map(f).sum
    val bySpan = jobsBySpan
    val gaps = leaves.map(s => gapSeconds(s, bySpan.getOrElse(s.id, Nil))).sum
    val runS = total(_.runMs) / 1000.0
    Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> total(_.tasks).toDouble,
      "spark.sched_delay_s" -> total(_.schedMs) / 1000.0,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> total(_.cpuNs) / 1e9,
      "spark.core_util" -> runS / (wallSeconds * cores),
      "spark.gc_s" -> total(_.gcMs) / 1000.0,
      "spark.shuffle_bytes" -> total(_.shuffleBytes).toDouble,
      "spark.input_bytes" -> total(_.inputBytes).toDouble,
      "spark.spill_bytes" -> total(_.spillBytes).toDouble,
      "spark.job_gap_s" -> gaps)
  }

  /** Spans, and jobs with the span each is attached to, as JSON. */
  def json: String = {
    val spanOf = jobsBySpan.toSeq.flatMap { case (s, js) => js.map(_.id -> s) }.toMap
    val ss = allSpans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "label" -> s.label, "parent" -> s.parent,
        "run" -> s.runId, "start_ms" -> s.start, "end_ms" -> s.end)
    }
    val js = allJobs.map { j =>
      Json.obj("job" -> j.id, "span" -> spanOf.get(j.id), "name" -> j.name,
        "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks, "task_run_ms" -> j.runMs)
    }
    s"""{"spans": [\n${ss.mkString(",\n")}\n],\n"jobs": [\n${js.mkString(",\n")}\n]}\n"""
  }
}
