package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer's public function.
  * @param owner the graft module whose public function the span calls:
  *   jobs the harness itself submits inside the span (the action that
  *   runs a graft-built read plan) are attributed to it
  * @param cycle the sync cycle / delivery it belongs to (-1: set-up) */
final class Span(val name: String, val owner: String, val cycle: Int, val traced: Boolean) {
  var startMs = 0L
  var endMs = 0L
  var seconds = 0.0
  /** False when the call threw or its output failed its check. */
  var ok = true
  /** Per-span readings taken by the harness: FS and GC deltas, cached
    * blocks at the end, stream phase durations. */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = extra(k) = extra.getOrElse(k, 0.0) + v
}

/** Spark job and stage events of traced cycles, keyed for attribution. */
object JobLog {
  final case class Job(id: Int, startMs: Long, site: String, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long)
}

final class JobLog extends SparkListener {
  import JobLog._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  /** Stage → the first job that listed it (later jobs skip a shared stage). */
  val stageJob = new ConcurrentHashMap[Int, Int]()

  /** SQL execution id → its call site's first user frame. */
  val executions = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(x.executionId, Trace.userFrame(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // A SQL job's call site is its execution's (adaptive query stages run
    // from a pool thread with no user frame); other jobs carry their own
    // in the result stage's details.
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val sql = Seq("spark.sql.execution.id", "spark.sql.execution.root.id").flatMap(prop)
      .flatMap(id => Option(executions.get(id.toLong))).headOption
    val site = sql.getOrElse(Trace.userFrame(
      e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")))
    jobs.put(e.jobId, Job(e.jobId, e.time, site, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId,
      if (m == null) Stage(i.numTasks, 0, 0, 0, 0, 0)
      else Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object Trace {
  val Unattributed = "unattributed"

  /** @param attributed jobs counted for a graft module
    * @param ownSite jobs whose own call site is a graft frame (of the
    *   attributed rest, each is a harness action on a graft-built plan,
    *   counted for the span's owner) */
  final case class SpanBreakdown(span: Span, jobs: Int, attributed: Int, ownSite: Int,
                                 byModule: Map[String, Map[String, Double]], gapS: Double,
                                 balanceErr: Double)

  /** The first user frame of a Spark call site's long form, whose first
    * line is the Spark method that was called. */
  def userFrame(longForm: String): String =
    longForm.linesIterator.drop(1).nextOption().getOrElse("").trim

  /** The `*.scala` file stem of a frame ("graft.io.X$.f(X.scala:12)"). */
  def stemOf(frame: String): String = {
    val i = frame.lastIndexOf('(')
    val j = frame.indexOf(".scala", i + 1)
    if (i < 0 || j < 0) "" else frame.substring(i + 1, j)
  }

  /** Module of a call site: the file stem of a graft frame, with every
    * `*Queries.scala` counted as `queries` and the merge, discovery and
    * bucketing helpers counted with the module that drives them. A
    * harness frame → `harness`; anything else (an empty site, Spark's own
    * frames) → [[Unattributed]]. */
  def moduleOf(frame: String): String = {
    val s = stemOf(frame)
    if (frame.startsWith("perfbench.")) "harness"
    else if (!frame.startsWith("graft.") || s.isEmpty) Unattributed
    else if (s.endsWith("Queries")) "queries"
    else Map("Merge" -> "CdcPipeline", "ChangeFeed" -> "CdcPipeline",
      "Discovery" -> "Controller", "Bucketing" -> "SegmentedIndex").getOrElse(s, s)
  }

  private[perfbench] def fsStats(): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file").foreach { s =>
        Seq("bytesRead", "bytesWritten", "readOps", "writeOps").foreach { k =>
          val v = s.getLong(k)
          if (v != null) acc(k) += v
        }
      }
    acc.toMap.withDefaultValue(0L)
  }
  private[perfbench] def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after the last collection, summed over heap pools. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Times spans always; in a traced run also attributes Spark jobs to spans
  * and graft modules. The listener is attached only while a traced cycle
  * runs, so untraced cycles (and the whole untraced run) carry none. */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val log = new JobLog
  private var attached = false
  private var tracing = false

  /** Traced runs trace every other timed cycle; the untraced ones between
    * them measure what tracing costs. */
  def beginCycle(cycle: Int): Boolean = {
    tracing = traceRun && cycle >= 0 && cycle % 2 == 0
    if (tracing && !attached) { spark.sparkContext.addSparkListener(log); attached = true }
    if (!tracing && attached) detach()
    tracing
  }
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(log)
    attached = false
  }

  def span[T](name: String, owner: String, cycle: Int)(f: => T): (Span, scala.util.Try[T]) = {
    val s = new Span(name, owner, cycle, tracing)
    val fs0 = if (tracing) Trace.fsStats() else Map.empty[String, Long]
    val gc0 = if (tracing) Trace.gcMs() else 0L
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = scala.util.Try(f)
    s.seconds = (System.nanoTime() - t0) / 1e9
    s.endMs = System.currentTimeMillis()
    if (tracing) {
      val fs1 = Trace.fsStats()
      s.add("fs.bytes_read_mb", (fs1("bytesRead") - fs0("bytesRead")) / 1048576.0)
      s.add("fs.bytes_written_mb", (fs1("bytesWritten") - fs0("bytesWritten")) / 1048576.0)
      s.add("fs.read_ops", (fs1("readOps") - fs0("readOps")).toDouble)
      s.add("fs.write_ops", (fs1("writeOps") - fs0("writeOps")).toDouble)
      s.add("jvm.gc_s", (Trace.gcMs() - gc0) / 1000.0)
      s.add("spark.cached_blocks_end",
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum)
    }
    spans += s
    (s, r)
  }

  /** Per-span attribution of the traced cycles' jobs.
    *
    * A job belongs to the span whose wall interval holds its submission
    * (the client is one thread, so spans never overlap). Its module is the
    * file stem of its call site; a harness call site inside a span counts
    * for the span's owner, and any other site stays unattributed. Wall
    * time is split by sweeping the span: each instant covered by k
    * running jobs gives 1/k of it to each job's module, and instants
    * covered by none are the driver gap — so the module shares plus the
    * gap equal the span's wall time. */
  def breakdown(): Seq[Trace.SpanBreakdown] = {
    detach()
    val all = log.jobs.values().asScala.toSeq
    spans.filter(_.traced).map { s =>
      val js = all.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
      val wallMs = math.max(1L, s.endMs - s.startMs)
      def mod(j: JobLog.Job) = {
        val m = Trace.moduleOf(j.site)
        if (m == "harness") s.owner else m
      }
      // sweep: +1/-1 events over the span, clipped to it
      val ev = js.flatMap { j =>
        val e = if (j.endMs < 0) s.endMs else math.min(math.max(j.endMs, j.startMs), s.endMs)
        Seq((j.startMs, 1, j), (e, -1, j))
      }.sortBy(x => (x._1, x._2))
      val share = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val active = mutable.LinkedHashSet.empty[JobLog.Job]
      var covered = 0.0
      var prev = s.startMs
      ev.foreach { case (t, d, j) =>
        if (t > prev && active.nonEmpty) {
          val dt = (t - prev).toDouble
          covered += dt
          active.foreach(a => share(mod(a)) += dt / active.size)
        }
        prev = math.max(prev, t)
        if (d > 0) active += j else active -= j
      }
      val gapMs = wallMs - covered
      val byModule = js.groupBy(mod).map { case (m, mj) =>
        val st = mj.flatMap(j => j.stages.filter(sid => log.stageJob.get(sid) == j.id)
          .flatMap(sid => Option(log.stages.get(sid))))
        m -> Map(
          "jobs" -> mj.size.toDouble,
          "job_s" -> share(m) / 1000.0,
          "stages" -> st.size.toDouble,
          "tasks" -> st.map(_.tasks).sum.toDouble,
          "task_s" -> st.map(_.runMs).sum / 1000.0,
          "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
          "shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
          "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
          "spill_mb" -> st.map(_.spill).sum / 1048576.0)
      }
      val sumShares = byModule.values.map(_("job_s")).sum * 1000.0
      val ownSite =
        js.count(j => !Set("harness", Trace.Unattributed).contains(Trace.moduleOf(j.site)))
      Trace.SpanBreakdown(s, js.size, js.count(j => mod(j) != Trace.Unattributed), ownSite,
        byModule, gapMs / 1000.0, math.abs(sumShares + gapMs - wallMs) / wallMs)
    }.toSeq
  }
}
