package layerbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded call: `parent` is the span open when it started (-1 for a
  * root), `op` the workload's unit index. Times are epoch microseconds. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spark work attributed to a set of spans. */
final case class Counters(
    jobs: Int = 0, untagged: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskMs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, input: Long = 0, output: Long = 0,
    spill: Long = 0, exchanges: Int = 0, smj: Int = 0, bhj: Int = 0,
    windows: Int = 0, jobIntervalsUs: Seq[(Long, Long)] = Nil) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs,
    untagged + o.untagged, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, input + o.input, output + o.output,
    spill + o.spill, exchanges + o.exchanges, smj + o.smj, bhj + o.bhj,
    windows + o.windows, jobIntervalsUs ++ o.jobIntervalsUs)
  /** The counts that must repeat exactly for one op sequence. */
  def deterministic: Seq[Int] = Seq(jobs, stages, exchanges, smj, bhj, windows)
}

/** Span recorder. With tracing off `span` only runs its body; with it on,
  * each span gets its own Spark job group, so jobs submitted from the
  * calling thread carry the span's id, and a listener collects job, stage,
  * task and executed-plan events for attribution after the run. Jobs whose
  * group names no span open at their start (pooled driver threads keep the
  * group of whatever thread created them, and the streaming engine sets its
  * own) are attributed to the innermost span open at that instant and
  * counted as untagged. Spans nest through one stack shared by all threads:
  * the workloads run one client, and a streaming query's batch thread only
  * opens spans while the client waits on it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  @volatile var op: Int = -1

  private val rec = new Recorder
  if (enabled) sc.addSparkListener(rec)

  private val GroupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val p = open.headOption.getOrElse(-1)
        open = id :: open
        (id, p)
      }
      val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"lb-$id", name, interruptOnCancel = false)
      val unit = op
      val start = nowUs
      try body
      finally {
        val end = nowUs
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        synchronized {
          open = open.filterNot(_ == id)
          spans += Span(id, name, parent, unit, start, end)
        }
      }
    }

  /** Everything recorded so far, ordered by span id. */
  def recorded: Seq[Span] = synchronized(spans.toSeq.sortBy(_.id))

  /** Forget recorded spans (not the listener's events). */
  def clear(): Unit = synchronized(spans.clear())

  def close(): Unit = if (enabled) sc.removeSparkListener(rec)

  /** Attribute every recorded Spark event to the spans in `within`:
    * returns each span's own counters (not its children's). */
  def attribute(within: Seq[Span]): Map[Int, Counters] = {
    org.apache.spark.sql.layerbench.Bridge.drainListeners(sc)
    val byId = within.map(s => s.id -> s).toMap
    // innermost = latest-starting span containing t (spans nest)
    val sortedByStart = within.sortBy(_.startUs)
    def innermost(tUs: Long): Option[Span] =
      sortedByStart.filter(s => s.startUs <= tUs && tUs <= s.endUs)
        .lastOption
    val SlackUs = 5000L
    def place(group: String, tUs: Long): Option[(Int, Boolean)] = {
      val tagged = Option(group).filter(_.startsWith("lb-"))
        .flatMap(g => g.stripPrefix("lb-").toIntOption).flatMap(byId.get)
        .filter(s => s.startUs - SlackUs <= tUs && tUs <= s.endUs + SlackUs)
      tagged.map(s => (s.id, true))
        .orElse(innermost(tUs).map(s => (s.id, false)))
    }
    val acc = mutable.Map.empty[Int, Counters].withDefaultValue(Counters())
    def add(id: Int, c: Counters): Unit = acc(id) = acc(id) + c
    rec.jobs.values.asScala.foreach { j =>
      place(j.group, j.startMs * 1000L).foreach { case (id, tagged) =>
        add(id, Counters(jobs = 1, untagged = if (tagged) 0 else 1,
          jobIntervalsUs = Seq((j.startMs * 1000L,
            (if (j.endMs > 0) j.endMs else j.startMs) * 1000L))))
      }
    }
    rec.stages.values.asScala.foreach { s =>
      place(s.group, s.submittedMs * 1000L).foreach { case (id, _) =>
        add(id, Counters(stages = s.attempts, tasks = s.tasks,
          taskMs = s.taskMs, gcMs = s.gcMs, shuffleRead = s.shuffleRead,
          shuffleWrite = s.shuffleWrite, input = s.input, output = s.output,
          spill = s.spill))
      }
    }
    rec.execStartMs.asScala.foreach { case (execId, t) =>
      Option(rec.planCounts.get(execId)).foreach { pc =>
        innermost(t * 1000L).foreach(s => add(s.id, pc))
      }
    }
    acc.toMap
  }

  /** Counters of `root` and all its descendants. */
  def inclusive(root: Span, all: Seq[Span], own: Map[Int, Counters]): Counters = {
    val kids = all.groupBy(_.parent)
    def go(s: Span): Counters =
      kids.getOrElse(s.id, Nil).foldLeft(own.getOrElse(s.id, Counters()))(_ + go(_))
    go(root)
  }
}

object Tracer {
  /** Self time of `s`: its duration minus the part of it its child spans
    * cover. */
  def selfUs(s: Span, all: Seq[Span]): Long =
    (s.endUs - s.startUs) - Stats.coveredWithin(s.startUs, s.endUs,
      all.filter(_.parent == s.id).map(c => (c.startUs, c.endUs)))
}

/** Raw scheduler and plan events, written by the listener thread. */
final class Recorder extends SparkListener {
  final class JobRec(val group: String, val startMs: Long) {
    @volatile var endMs: Long = 0L
  }
  final class StageRec(val group: String, val submittedMs: Long) {
    var attempts = 0; var tasks = 0; var taskMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var input = 0L
    var output = 0L; var spill = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execStartMs = new ConcurrentHashMap[Long, Long]()
  val planCounts = new ConcurrentHashMap[Long, Counters]()

  private def group(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobRec(group(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val s = stages.computeIfAbsent(info.stageId, _ => new StageRec(
      group(e.properties),
      info.submissionTime.getOrElse(System.currentTimeMillis())))
    s.attempts += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStartMs.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.layerbench.Bridge.executedPlan(s).foreach(p =>
        planCounts.put(s.executionId, Recorder.planShape(p)))
    case _ =>
  }
}

object Recorder {
  /** Exchange / sort-merge join / broadcast hash join / window node counts
    * of a final (post-adaptive) physical plan, subqueries included. */
  def planShape(root: SparkPlan): Counters = {
    var ex, smj, bhj, win = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec => bhj += 1
        case _: WindowExec => win += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(root)
    Counters(exchanges = ex, smj = smj, bhj = bhj, windows = win)
  }
}

/** Per-batch progress of every streaming query, kept in both modes: the
  * batch durations are an end-to-end metric. */
final class ProgressLog extends StreamingQueryListener {
  final case class Batch(durationMs: Long, phases: Map[String, Long],
      stateRows: Long, stateMemBytes: Long)
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(Batch(p.batchDuration,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  /** Drain and return every batch reported since the last call. */
  def take(): Seq[Batch] = {
    val out = mutable.ArrayBuffer.empty[Batch]
    var b = batches.poll()
    while (b != null) { out += b; b = batches.poll() }
    out.toSeq
  }
}
