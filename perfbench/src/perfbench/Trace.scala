package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job seen inside a traced operation. `action` is the Spark
  * method (`count`, `parquet`, ...) at the call site of the SQL execution
  * the job belongs to, which also covers the jobs adaptive execution
  * submits from its own threads; jobs outside SQL use their result
  * stage's call site. Times in ms. */
final case class Job(id: Int, action: String, start: Long, var end: Long = -1L)

/** Listener counts of one traced operation. Updated from the listener
  * bus threads, read after the bus is drained. */
final class OpCounts {
  val jobs = mutable.ArrayBuffer.empty[Job]
  val executions = mutable.HashMap.empty[Long, String]
  var actions = 0
  var planS = 0.0
  var stageBusyS = 0.0
  var tasks = 0L
  var failedTasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var streamBatches = 0
  var addBatchS = 0.0
  var queryPlanningS = 0.0
  var walCommitS = 0.0

  /** Idle time between consecutive jobs of the operation: the gaps in
    * the union of the job intervals, not counting before the first job
    * or after the last. */
  def jobGapS: Double = {
    val iv = jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    var gap = 0L
    var reach = Long.MinValue
    iv.foreach { case (s, e) =>
      if (reach != Long.MinValue && s > reach) gap += s - reach
      reach = math.max(reach, e)
    }
    gap / 1e3
  }

  def jobsWith(p: String => Boolean): Seq[Job] = jobs.toSeq.filter(j => p(j.action))
  def jobS(js: Seq[Job]): Double = js.filter(_.end >= 0).map(j => j.end - j.start).sum / 1e3
}

/** Attaches a `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener` to the session for the duration of one
  * operation. Operations run one at a time, and the bus is drained before
  * attaching and after the operation, so every event delivered while the
  * listeners are attached belongs to that operation. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var cur: OpCounts = null

  private def withCur(f: OpCounts => Unit): Unit = {
    val c = cur
    if (c != null) c.synchronized(f(c))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withCur { c =>
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => c.executions.get(id.toLong))
      val site = exec.getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      c.jobs += Job(e.jobId, site.takeWhile(_ != ' '), e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => withCur(_.executions(s.executionId) = s.description)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withCur { c =>
      c.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withCur { c =>
      val i = e.stageInfo
      for (s <- i.submissionTime; t <- i.completionTime) c.stageBusyS += (t - s) / 1e3
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCur { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      withCur { c =>
        c.actions += 1
        c.planS += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      withCur(_.actions += 1)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      withCur { c =>
        val d = e.progress.durationMs
        def s(k: String): Double = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        c.streamBatches += 1
        c.addBatchS += s("addBatch")
        c.queryPlanningS += s("queryPlanning")
        c.walCommitS += s("walCommit")
      }
  }

  /** Run `f` with the listeners attached; returns its value and the counts. */
  def apply[A](f: => A): (A, OpCounts) = {
    val c = new OpCounts
    PerfbenchBus.drain(sc)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    cur = c
    try (f, c)
    finally {
      PerfbenchBus.drain(sc)
      cur = null
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(sparkListener)
    }
  }
}
