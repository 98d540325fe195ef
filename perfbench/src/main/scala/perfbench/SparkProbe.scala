package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark jobs started under one harness span. */
final class JobAgg {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var overheadMs = 0L; var taskGcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var recordsRead = 0L
  def add(o: JobAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; overheadMs += o.overheadMs; taskGcMs += o.taskGcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    recordsRead += o.recordsRead
  }
}

/** Spark's public listener APIs, registered from the benchmark's own code
  * for traced runs only. The harness tags each phase it times with the
  * local property [[SparkProbe.Tag]]; jobs inherit the submitting thread's
  * local properties, so every job, stage and task is charged to the span
  * that caused it. Listener events arrive asynchronously: read results only
  * after [[settle]]. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe.Tag

  private val byTag = mutable.HashMap.empty[String, JobAgg]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashMap.empty[Int, (String, Long, Long)]
  /** finished jobs: (tag, jobId, startMs, endMs, SQL execution id or -1) */
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long, Long)]
  /** SQL execution ids of checkpoint actions: their jobs are cut jobs */
  private val cutExecs = mutable.Set.empty[Long]
  /** QueryPlanningTracker phases per action: (func, phase, startMs, endMs) */
  val phases = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  /** rows written by each noop write, in completion order */
  val rowsOut = mutable.ArrayBuffer.empty[(Long, Long)]
  /** StreamingQueryProgress.durationMs per micro-batch, with its row count */
  val progress = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Long])]
  @volatile private var lastEventNanos = System.nanoTime()

  private def touch(): Unit = lastEventNanos = System.nanoTime()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      touch()
      // a streaming job carries its micro-batch id; others the harness tag
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map("batch/" + _)
        .orElse(props.flatMap(p => Option(p.getProperty(Tag)))).getOrElse("untagged")
      byTag.getOrElseUpdate(tag, new JobAgg).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      openJobs(e.jobId) = (tag, e.time, exec.getOrElse(-1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkProbe.this.synchronized {
      touch()
      openJobs.remove(e.jobId).foreach { case (t, start, exec) =>
        jobSpans += ((t, e.jobId, start, e.time, exec))
      }
    }
    // a Dataset action's SQL execution carries its call site, e.g.
    // "localCheckpoint at GraphRank.scala:88" for an eager cut
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.description.toLowerCase.contains("checkpoint") =>
        SparkProbe.this.synchronized { touch(); cutExecs += s.executionId }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkProbe.this.synchronized {
      touch()
      stageTag.get(e.stageInfo.stageId).foreach(t => byTag(t).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      touch()
      val m = e.taskMetrics
      for (t <- stageTag.get(e.stageId); agg <- byTag.get(t); if m != null) {
        agg.tasks += 1
        agg.runMs += m.executorRunTime
        // scheduler delay + deserialize + result serialization and fetch:
        // the task's wall minus the time it spent running
        agg.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        agg.taskGcMs += m.jvmGCTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) => (func, n, p.startTimeMs, p.endTimeMs) }
      val rows = if (SparkProbe.isWrite(func)) SparkProbe.rowsWritten(qe.executedPlan) else -1L
      SparkProbe.this.synchronized {
        touch()
        phases ++= ph
        if (rows >= 0) rowsOut += ((ph.map(_._4).maxOption.getOrElse(0L), rows))
      }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkProbe.this.synchronized {
        touch()
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress += ((e.progress.batchId, e.progress.numInputRows, d))
      }
  }

  private var registered = false
  def register(): Unit = if (!registered) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    registered = true
  }
  def unregister(): Unit = if (registered) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    registered = false
  }

  /** Tag jobs submitted from this thread until the next call. */
  def tag(t: String): Unit = spark.sparkContext.setLocalProperty(Tag, t)

  /** Wait until the listener buses have delivered every started job's end
    * and have been quiet for a while. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 20_000_000_000L
    def quiet = System.nanoTime() - lastEventNanos > 300_000_000L
    while (System.nanoTime() < deadline && !(quiet && synchronized(openJobs.isEmpty)))
      Thread.sleep(50)
  }

  def agg(tag: String): JobAgg = synchronized(byTag.getOrElse(tag, new JobAgg))
  /** Jobs run for a checkpoint action (an eager cut) under `tag`. A lazy
    * cut materializes inside the job of the action that first reads it and
    * is not counted. */
  def cutJobs(tag: String): Int = synchronized(jobSpans.count(j => j._1 == tag && cutExecs(j._5)))
  def isCut(exec: Long): Boolean = synchronized(cutExecs(exec))
}

object SparkProbe {
  val Tag = "perfbench.span"

  /** The action name a DataFrameWriter reports for its write. */
  def isWrite(func: String): Boolean = func == "save" || func == "overwrite" || func == "append"

  /** Rows the write consumed: the first node under the write command that
    * reports `numOutputRows`, looking through adaptive wrappers and query
    * stages. */
  def rowsWritten(plan: SparkPlan): Long = {
    def go(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case _ =>
        p.metrics.get("numOutputRows").map(_.value)
          .orElse(p.children.headOption.flatMap(go))
    }
    val root = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    root.children.headOption.flatMap(go).getOrElse(0L)
  }
}
