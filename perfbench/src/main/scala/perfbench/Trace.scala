package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import Props._

/** A timed interval at a layer boundary. Times are epoch nanoseconds so
  * spans measured here line up with the epoch-millisecond times Spark
  * reports in its listener and progress events. `parent` 0 is a root; a
  * span's trace id is the id of its root. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long,
    attrs: Map[String, String] = Map.empty)

/** Spark's job-group local properties (public names, private constants). */
object Props {
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
  val JobInterrupt = "spark.job.interruptOnCancel"
}

/** Spans recorded from the benchmark's own code, around its calls into
  * the engine; kept in memory and written out when the run ends. A
  * disabled tracer runs the same code and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
  def newId(): Long = ids.incrementAndGet()

  /** Runs `body` inside a span; the body gets the span id for children. */
  def span[T](name: String, parent: Long = 0L, attrs: Map[String, String] = Map.empty)
      (body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = newId()
    val t0 = now()
    try body(id)
    finally record(id, name, t0, now(), parent, attrs)
  }

  def record(id: Long, name: String, start: Long, end: Long, parent: Long,
      attrs: Map[String, String] = Map.empty): Unit =
    if (enabled) spans.synchronized { spans += Span(id, name, start, end, parent, attrs) }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Root ancestor of every span (its trace id). */
  private def roots(ss: Seq[Span]): Map[Long, Long] = {
    val parent = ss.map(s => s.id -> s.parent).toMap
    def root(id: Long, hops: Int): Long = parent.get(id) match {
      case Some(p) if p != 0L && parent.contains(p) && hops < 64 => root(p, hops + 1)
      case _ => id
    }
    ss.map(s => s.id -> root(s.id, 0)).toMap
  }

  /** Self time per span name over the trace rooted at `root`: each span's
    * duration minus the part of its interval that its children cover.
    * Returns name -> (count, seconds). */
  def selfTimes(root: Long): Map[String, (Int, Double)] = {
    val everything = all
    val rootOf = roots(everything)
    val ss = everything.filter(s => rootOf(s.id) == root)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> (group.size, group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e9
      }.sum)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  def toJson: String = {
    val ss = all
    val rootOf = roots(ss)
    Json(ss.map { s =>
      Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "trace" -> rootOf(s.id), "attrs" -> s.attrs)
    })
  }

  /** Runs `body` with `spanId` as the thread's Spark job group, so jobs it
    * starts are linked to the span; the previous group is restored. */
  def inJobGroup[T](sc: SparkContext, spanId: Long)(body: => T): T = {
    if (!enabled) return body
    val prevGroup = sc.getLocalProperty(JobGroup)
    val prevDesc = sc.getLocalProperty(JobDescription)
    val prevInterrupt = sc.getLocalProperty(JobInterrupt)
    sc.setJobGroup(s"span-$spanId", s"perfbench span $spanId", interruptOnCancel = true)
    try body
    finally {
      sc.setLocalProperty(JobGroup, prevGroup)
      sc.setLocalProperty(JobDescription, prevDesc)
      sc.setLocalProperty(JobInterrupt, prevInterrupt)
    }
  }
}

/** Scheduler and executor totals from Spark's public listener API, plus
  * job and stage spans linked to their parent span through the job
  * group (recorded whenever tracing is on). Counts accumulate while
  * `armed`. */
final class SparkLayer(tracer: Tracer) extends SparkListener {
  @volatile var armed = false
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
  val spill = new AtomicLong; val runMs = new AtomicLong
  val cpuNs = new AtomicLong; val gcMs = new AtomicLong
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def reset(): Unit = Seq(jobs, stages, tasks, shuffleRead, shuffleWrite, spill, runMs,
    cpuNs, gcMs).foreach(_.set(0))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (armed) jobs.incrementAndGet()
    if (tracer.enabled) linkJob(e)
  }

  private def linkJob(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroup)))
    val parent = group.filter(_.startsWith("span-")).map(_.drop(5).toLong).getOrElse(0L)
    val id = tracer.newId()
    jobInfo.put(e.jobId, (id, parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobInfo.remove(e.jobId)).foreach {
    case (id, parent, start) =>
      tracer.record(id, "spark.job", start * 1000000L, e.time * 1000000L, parent,
        Map("job" -> e.jobId.toString))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (armed) stages.incrementAndGet()
    val si = e.stageInfo
    for (job <- Option(stageJob.remove(si.stageId)); (jid, _, _) <- Option(jobInfo.get(job));
         s <- si.submissionTime; c <- si.completionTime)
      tracer.record(tracer.newId(), "spark.stage", s * 1000000L, c * 1000000L, jid,
        Map("stage" -> si.stageId.toString, "tasks" -> si.numTasks.toString))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (armed) {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def metrics: Map[String, Metric] = Map(
    "spark.jobs" -> Metric(jobs.get.toDouble, "count"),
    "spark.stages" -> Metric(stages.get.toDouble, "count"),
    "spark.tasks" -> Metric(tasks.get.toDouble, "count"),
    "spark.shuffle_read_bytes" -> Metric(shuffleRead.get.toDouble, "bytes"),
    "spark.shuffle_write_bytes" -> Metric(shuffleWrite.get.toDouble, "bytes"),
    "spark.spill_bytes" -> Metric(spill.get.toDouble, "bytes"),
    "spark.executor_run_ms" -> Metric(runMs.get.toDouble, "ms"),
    "spark.executor_cpu_ms" -> Metric(cpuNs.get / 1e6, "ms"),
    "spark.gc_ms" -> Metric(gcMs.get.toDouble, "ms"))
}

/** Cumulative JVM JIT and GC time, read from the management beans. */
object JvmLayer {
  def snapshot(): (Long, Long) = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    (jit, gc)
  }

  def delta(from: (Long, Long)): Map[String, Metric] = {
    val (jit, gc) = snapshot()
    Map("jvm.jit_ms" -> Metric((jit - from._1).toDouble, "ms"),
      "jvm.gc_ms" -> Metric((gc - from._2).toDouble, "ms"))
  }
}
