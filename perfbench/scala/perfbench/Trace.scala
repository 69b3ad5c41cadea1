package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into a module. `name` is `<module>.<step>`; counters are filled
  * by the listeners for the jobs that ran while this span was the innermost
  * open one (a job carries the tags of every open span; the newest wins).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String) {
  val module: String = name.takeWhile(_ != '.')
  var startNs, endNs, startMs, endMs = 0L
  var jobs, buildJobs, tasks, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  var inputBytes, persistedBlocks = 0L
  var planNs, filesWritten, filesRead, writeBytes = 0L
  /** Set on spans whose DataFrame is still being constructed: jobs here run
    * before the forcing action. */
  var building = false
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once at the end. While `enabled`
  * is false a span only runs its body: no tags and no listener, so untraced
  * runs measure the engine alone.
  */
final class Tracer(requested: Boolean, val runId: String) {
  /** True while spans are recorded; a traced run switches it off for its
    * untraced comparison passes. */
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var listener: TraceListener = _

  def attach(spark: SparkSession): Unit = if (requested) {
    sc = spark.sparkContext
    listener = new TraceListener(this)
    sc.addSparkListener(listener)
    enabled = true
  }

  def tag(s: Span): String = s"pb-$runId-${s.id}"

  def span[T](name: String, building: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), runId)
      s.building = building
      spans += s
      stack = s :: stack
      sc.addJobTag(tag(s))
      s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        sc.removeJobTag(tag(s))
        stack = stack.tail
      }
    }

  /** Adds to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled && stack.nonEmpty) {
      val s = stack.head
      s.extra(key) = s.extra.getOrElse(key, 0.0) + v
    }

  def byId(id: Int): Option[Span] =
    if (id >= 1 && id <= spans.size) Some(spans(id - 1)) else None

  def finish(): Unit = if (listener != null) {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    listener.resolveQueries()
  }
}

/** Job-tag attribution of jobs, stages, tasks, stored RDD blocks and SQL
  * executions to spans. An execution belongs to the span of its jobs (their
  * `spark.sql.execution.id` property) or of the tags it started under.
  */
final class TraceListener(tr: Tracer) extends SparkListener {
  private val prefix = s"pb-${tr.runId}-"
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val rddSpan = mutable.HashMap.empty[Int, Span]
  private val execSpan = mutable.HashMap.empty[Long, Span]
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val finished = ArrayBuffer.empty[(Long, QueryExecution, Long)]

  private def spanOfTags(tags: Iterable[String]): Option[Span] = {
    val ids = tags.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt)
    if (ids.isEmpty) None else tr.byId(ids.max)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    spanOfTags(tags).foreach { s =>
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.getOrElseUpdate(id.toLong, s))
      s.jobs += 1
      if (s.building) s.buildJobs += 1
      e.stageInfos.foreach { si =>
        stageSpan(si.stageId) = s
        si.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, s))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      val info = e.taskInfo
      if (info != null) s.taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      b.blockId.asRDDId.flatMap(r => rddSpan.get(r.rddId)).foreach(_.persistedBlocks += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart => synchronized {
      execStart(st.executionId) = st.time
      spanOfTags(st.jobTags).foreach(s => execSpan.getOrElseUpdate(st.executionId, s))
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      PerfbenchSqlBridge.queryExecution(end).foreach(qe => finished +=
        ((end.executionId, qe, end.time - execStart.getOrElse(end.executionId, end.time))))
    }
    case _ =>
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Plan-phase time from the planning tracker, files and bytes written by
    * write commands and files read by scans, per SQL execution. */
  def resolveQueries(): Unit = synchronized {
    finished.foreach { case (id, qe, durationMs) =>
      execSpan.get(id).foreach { s =>
        s.planNs += qe.tracker.phases
          .collect { case (ph, sum) if ph != "parsing" => sum.durationMs }.sum * 1000000L
        nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec =>
            s.filesWritten += metric(w, "numFiles")
            s.writeBytes += metric(w, "numOutputBytes")
            s.extra("write_ns") = s.extra.getOrElse("write_ns", 0.0) + durationMs * 1e6
          case f: FileSourceScanExec => s.filesRead += metric(f, "numFiles")
          case _ =>
        }
      }
    }
    finished.clear()
  }
}
