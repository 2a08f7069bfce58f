package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a request (layer "request"), a library call
  * ("build": the time inside the call) or the action the benchmark runs
  * on its result ("exec"). */
final case class Span(id: Long, parent: Long, request: Long, name: String, layer: String,
                      phase: String, startNs: Long, endNs: Long, rowsOut: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and Spark-side attribution for a traced run, recorded entirely
  * from the benchmark's side of the library boundary: every call into a
  * library layer is wrapped in a span and runs under Spark job tags naming
  * its layer and request, so a `SparkListener` can attribute jobs, stages
  * and tasks back to both. With `enabled = false` every wrapper is a plain
  * call: no tags, no listeners, no spans.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Wall-clock milliseconds (the listener events' clock) of a nanoTime. */
  def wallMs(ns: Long): Double = wallOffsetMs + ns / 1e6
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A request: the root span of everything below it on this thread. */
  def request[T](name: String)(body: => T): T = span(name, "request", "request")(body, (_: T) => 0L)

  /** A call into a library layer. */
  def build[T](layer: String, name: String)(body: => T): T = span(name, layer, "build")(body, (_: T) => 0L)

  /** The action run on a library result; `rows` counts what it returned. */
  def exec[T](layer: String, name: String)(body: => T)(rows: T => Long): T =
    span(name, layer, "exec")(body, rows)

  private def span[T](name: String, layer: String, phase: String)(body: => T, rows: T => Long): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, req) = outer.headOption.getOrElse((0L, 0L))
      val request = if (phase == "request") id else req
      // the innermost span names the request, layer and call of its jobs
      val own = Seq(s"pb-req-$request", s"pb-layer-$layer", s"pb-call-$name")
      val outerTags = sc.getJobTags().filter(t => own.exists(o => t.startsWith(o.take(o.indexOf('-', 3) + 1))))
      outerTags.foreach(sc.removeJobTag)
      own.foreach(sc.addJobTag)
      stack.set((id, request) :: outer)
      val t0 = System.nanoTime()
      try {
        val out = body
        spans.add(Span(id, parent, request, name, layer, phase, t0, System.nanoTime(), rows(out)))
        out
      } finally {
        stack.set(outer)
        own.foreach(sc.removeJobTag)
        outerTags.foreach(sc.addJobTag)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  // ------------------------------------------------------------ listeners

  final case class Job(id: Int, layer: String, call: String, request: Long, start: Long,
                       var end: Long = -1L)
  final class TaskAgg {
    var tasks = 0L; var failed = 0L; var runMs = 0L; var delayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var fetchWaitMs = 0L
    var recordsRead = 0L; var bytesWritten = 0L
  }

  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, Int]
  val byLayer = mutable.Map.empty[String, TaskAgg]
  val byName = mutable.Map.empty[String, TaskAgg]
  val total = new TaskAgg
  var planAnalysisMs = 0L; var planOptimizeMs = 0L; var planPhysicalMs = 0L
  var filesWritten = 0L
  var stateCommitMs = 0L; var stateRows = 0L; var stateMemoryBytes = 0L; var triggers = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags"))).getOrElse("")
        .split(",").filter(_.startsWith("pb-"))
      def tag(prefix: String) = tags.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      val streaming = p.exists(_.getProperty("sql.streaming.queryId") != null)
      val layer = tag("pb-layer-").getOrElse(if (streaming) "streaming" else "untagged")
      jobs(e.jobId) = Job(e.jobId, layer, tag("pb-call-").getOrElse(""),
        tag("pb-req-").map(_.toLong).getOrElse(0L), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      val aggs = Seq(total, byLayer.getOrElseUpdate(job.map(_.layer).getOrElse("untagged"), new TaskAgg),
        byName.getOrElseUpdate(job.map(_.call).getOrElse(""), new TaskAgg))
      val m = Option(e.taskMetrics)
      val delay = stageSubmit.get(e.stageId).map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
      aggs.foreach { a =>
        a.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
        a.delayMs += delay
        m.foreach { t =>
          a.runMs += t.executorRunTime
          a.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += t.shuffleReadMetrics.totalBytesRead
          a.spill += t.diskBytesSpilled + t.memoryBytesSpilled
          a.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
          a.recordsRead += t.inputMetrics.recordsRead
          a.bytesWritten += t.outputMetrics.bytesWritten
        }
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
      planAnalysisMs += ms("analysis"); planOptimizeMs += ms("optimization"); planPhysicalMs += ms("planning")
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p.metrics.get("numFiles").foreach(m => filesWritten += m.value)
        p match { case a: AdaptiveSparkPlanExec => walk(a.executedPlan); case _ => }
        p.children.foreach(walk)
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val ops = e.progress.stateOperators
      if (ops.nonEmpty) {
        triggers += 1
        stateCommitMs += ops.map(_.commitTimeMs).sum
        stateRows = ops.map(_.numRowsTotal).sum
        stateMemoryBytes = ops.map(_.memoryUsedBytes).sum
      }
    }
  }

  /** Register the listeners on `sessions` (every session the workload
    * plans queries on). Only traced runs register anything. */
  def install(sessions: SparkSession*): Unit = if (enabled) {
    sc.addSparkListener(jobListener)
    sessions.foreach { s =>
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(planListener)
      s.streams.addListener(streamListener)
    }
  }

  def uninstall(sessions: SparkSession*): Unit = if (enabled) {
    sc.removeSparkListener(jobListener)
    sessions.foreach { s =>
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(planListener)
      s.streams.removeListener(streamListener)
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchshim.ListenerBus.drain(sc)

  def jobsSnapshot: Seq[Job] = lock.synchronized(jobs.values.toSeq.sortBy(_.id))
  def maxTasksPerStage: Int = lock.synchronized(if (stageTasks.isEmpty) 0 else stageTasks.values.max)
  def stageCount: Int = lock.synchronized(stageTasks.size)
}
