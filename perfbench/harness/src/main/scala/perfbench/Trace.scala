package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** One call into one library layer. `name` is `layer.function`; spans of
  * one timed job share `trace`; `parent` is 0 for a job's root span. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, thread: String)

/** Span recorder. Disabled, every method passes its argument through, so
  * the untraced run executes exactly the library calls and nothing else.
  *
  * Enabled, each span sets the calling thread's Spark job group to its
  * id, so [[RuntimeListener]] attributes every job to the span that
  * submitted it, and [[out]] materializes a boundary's output inside the
  * span, so a span times its own layer rather than lazy work upstream.
  * Spans stay in memory until [[writeSpans]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long, String, Long)]] {
    override def initialValue(): List[(Long, Long, String, Long)] = Nil
  }
  private val pinned = new ConcurrentLinkedQueue[DataFrame]()
  /** Job groups that Spark sets itself (a streaming query runs its jobs
    * under its run id), each mapped to the span that started them. */
  private val aliases = new ConcurrentHashMap[String, Long]()

  /** A span; one with no open parent starts a new trace (a timed job). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val id = ids.getAndIncrement()
      val trace = parent.map(_._2).getOrElse(id)
      val start = System.nanoTime()
      stack.set((id, trace, name, start) :: stack.get)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      try body
      finally {
        spans.add(Span(id, trace, parent.map(_._1).getOrElse(0L), name,
          start, System.nanoTime(), Thread.currentThread().getName))
        stack.set(stack.get.tail)
        parent match {
          case Some((pid, _, pname, _)) =>
            sc.setJobGroup(pid.toString, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attribute the jobs of job group `group` to the calling thread's
    * open span. */
  def alias(group: String): Unit =
    stack.get.headOption.foreach(s => aliases.put(group, s._1))

  /** Every job group the recorded spans own: the span ids and their
    * aliases. Jobs outside any span (the harness's own bookkeeping)
    * belong to none of them. */
  def groups: Seq[String] =
    spans.asScala.toSeq.map(_.id.toString) ++ aliases.keySet().asScala

  /** Materialize a layer boundary's output (traced run only). */
  def out(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      pinned.add(p)
      p
    }

  /** Drop the materialized boundaries of finished jobs. */
  def release(): Unit = {
    pinned.asScala.foreach(_.unpersist(blocking = true))
    pinned.clear()
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id": ${s.id}, "trace": ${s.trace}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""thread": "${s.thread}"}""")
    } finally w.close()
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. */
  def selfTimes(): Seq[(Span, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (if (b > from) sum + (b - from) else sum, math.max(reach, b))
        }._1
      s -> (s.endNs - s.startNs - covered) / 1e9
    }
  }
}

/** Spark scheduler/executor counters and query planning time, summed
  * per job group (= span id). */
final class RuntimeListener extends SparkListener {
  final class Agg {
    val jobs, stages, tasks, busyNs, cpuNs, schedMs, shuffleWrite,
      shuffleRead, spill, gcMs, failures, inBytes, inRows, outBytes,
      outRows, planningNs = new AtomicLong
    /** End time (epoch ms) of every job of the group. */
    val jobEnds = new ConcurrentLinkedQueue[Long]()
  }
  val byGroup = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private def agg(g: String) = byGroup.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    agg(g).jobs.incrementAndGet()
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    agg(jobGroup.getOrDefault(e.jobId, "")).jobEnds.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    agg(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages
      .incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks.incrementAndGet()
    if (!e.taskInfo.successful) a.failures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.busyNs.addAndGet(m.executorRunTime * 1000000L)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.schedMs.addAndGet(math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime))
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.inBytes.addAndGet(m.inputMetrics.bytesRead)
      a.inRows.addAndGet(m.inputMetrics.recordsRead)
      a.outBytes.addAndGet(m.outputMetrics.bytesWritten)
      a.outRows.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Analysis + optimization + planning time of every executed query,
    * read from its `QueryExecution.tracker` when it ends, under the job
    * group it started in. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case x: SparkListenerSQLExecutionEnd =>
      agg(Option(execGroup.remove(x.executionId)).getOrElse(""))
        .planningNs.addAndGet(org.apache.spark.sql.PerfbenchSql.planningNs(x))
    case _ =>
  }

  def reset(): Unit = {
    byGroup.clear(); stageGroup.clear(); jobGroup.clear(); execGroup.clear()
  }

  /** Sum of one counter over the given groups. */
  def sum(groups: Iterable[String])(f: Agg => AtomicLong): Long =
    groups.iterator.flatMap(g => Option(byGroup.get(g))).map(f(_).get).sum
}

/** Micro-batch progress of the CDC stream. */
final class StreamListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (ms, addBatch ms, rows)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      batches.add((d.getOrDefault("triggerExecution", 0L),
        d.getOrDefault("addBatch", 0L), p.numInputRows))
    }
  }
}

/** Installs the listener on a session and turns its counts into the
  * per-layer metrics of a traced phase. */
final class Counters(spark: SparkSession) {
  val runtime = new RuntimeListener
  spark.sparkContext.addSparkListener(runtime)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def reset(): Unit = { drain(); runtime.reset() }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Per-layer metrics of a traced phase: `<span name>_s` is the median
    * over jobs of the span's self time per job, `<layer>.self_s` the mean
    * self time per job of all spans of that layer. */
  def spanMetrics(t: Tracer, jobs: Int): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val self = t.selfTimes().filterNot(_._1.name.startsWith("job."))
    self.groupBy(_._1.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      out(s"${name}_s") = median(xs.groupBy(_._1.trace).values
        .map(_.map(_._2).sum).toSeq)
    }
    self.groupBy(_._1.name.takeWhile(_ != '.')).toSeq.sortBy(_._1)
      .foreach { case (layer, xs) =>
        out(s"$layer.self_s") = xs.map(_._2).sum / math.max(jobs, 1)
      }
    out
  }

  /** Runtime counters per timed job over the traced phase, summed over
    * the job groups of its spans only. */
  def runtimeMetrics(c: Counters, t: Tracer, jobs: Int, wallS: Double,
      cores: Int): mutable.LinkedHashMap[String, Double] = {
    c.drain()
    val r = c.runtime
    val g = t.groups
    def per(f: r.Agg => AtomicLong, scale: Double = 1.0) =
      r.sum(g)(f) * scale / math.max(jobs, 1)
    val busyS = r.sum(g)(_.busyNs) / 1e9
    mutable.LinkedHashMap(
      "runtime.jobs" -> per(_.jobs),
      "runtime.stages" -> per(_.stages),
      "runtime.tasks" -> per(_.tasks),
      "runtime.task_busy_s" -> per(_.busyNs, 1e-9),
      "runtime.task_cpu_s" -> per(_.cpuNs, 1e-9),
      "runtime.slot_busy_frac" -> busyS / math.max(wallS * cores, 1e-9),
      "runtime.sched_delay_s" -> per(_.schedMs, 1e-3),
      "runtime.shuffle_write_bytes" -> per(_.shuffleWrite),
      "runtime.shuffle_read_bytes" -> per(_.shuffleRead),
      "runtime.spill_bytes" -> per(_.spill),
      "runtime.gc_s" -> per(_.gcMs, 1e-3),
      "runtime.task_failures" -> per(_.failures),
      "plans.planning_s" -> per(_.planningNs, 1e-9))
  }

  /** Job groups (span ids) of the spans with the given name. */
  def groupsOf(t: Tracer, name: String): Seq[String] =
    t.spans.asScala.toSeq.filter(_.name == name).map(_.id.toString)
}
