package graft.obs

import java.util.concurrent.{ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import graft.Decision

/** What one call cost and decided: the Spark jobs it started, on its
  * own thread or on any thread that runs under its capture
  * ([[Profile.both]]); their completed stages and finished tasks; the
  * shuffle Exchanges in the final plans of the queries those jobs ran;
  * the jobs' task metrics, summed (the execution-memory peak is the
  * largest single task's); and the [[Decision]]s the call recorded.
  * Read with [[Profile.capture]]. */
final case class Profile(jobs: Int, stages: Int, tasks: Int, exchanges: Int,
                         taskCpuNs: Long, taskRunMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         memorySpillBytes: Long, diskSpillBytes: Long,
                         peakExecutionMemory: Long, decisions: Seq[Decision])

object Profile {
  /** The Spark local property that tags a job with the capture it
    * belongs to; Spark copies local properties into every job's
    * properties. */
  private val TagKey = "graft.profile.tag"
  private val tags = new AtomicLong(0L)

  /** Run `body` and return what it cost and decided. Every job started
    * during `body` on this thread, or on a thread [[both]] runs for it,
    * belongs to this capture and to no other: two threads may capture
    * at the same time. The listener bus is drained at each end, so the
    * counts are final when this returns. Captures do not nest. */
  def capture[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val listener = listenerOf(sc)
    val outer = sc.getLocalProperty(TagKey)
    require(!listener.isOpen(outer), "Profile.capture does not nest")
    drain(sc)
    val counts = listener.open(tags.incrementAndGet().toString)
    try {
      sc.setLocalProperty(TagKey, counts.tag)
      val (r, ds) = try Decision.capture(body) finally sc.setLocalProperty(TagKey, outer)
      drain(sc)
      (r, listener.synchronized(counts.profile(ds)))
    } finally listener.close(counts)
  }

  /** Run `a` on another thread and `b` on this one; once both are
    * done, return both results, or rethrow `a`'s failure, else `b`'s.
    * `a` runs under the caller's capture: its thread takes the caller's
    * Spark local properties (job group, capture tag), active session
    * and decision buffer for the call, and gets its own back after. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val inCaller = Decision.bound(a)
    val fa = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], pool)(inCaller())
    val rb = Try(b)
    val ra = try fa.get() catch { case e: ExecutionException => throw e.getCause }
    (ra, rb.get)
  }

  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-profile-both")
    t.setDaemon(true)
    t
  }

  /** Block until every posted listener event has been handled; throws
    * if the bus cannot be reached or does not empty within a minute. */
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** One capture's running totals, guarded by its listener's lock. */
  private final class Counts(val tag: String) {
    var jobs, stages, tasks, exchanges = 0
    var cpuNs, runMs, shuffleRead, shuffleWrite, memSpill, diskSpill, peak = 0L
    def profile(ds: Seq[Decision]): Profile = Profile(jobs, stages, tasks,
      exchanges, cpuNs, runMs, shuffleRead, shuffleWrite, memSpill, diskSpill,
      peak, ds)
  }

  /** The query an execution-end event closes: Spark sets it on the
    * event for its own listeners, outside the public API. The job
    * property's execution id is not `QueryExecution.id`, so this event
    * is what links the two. */
  private val queryOfEnd = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  /** Maps each tagged job to its open capture, and through the job its
    * stages (and so their tasks) and its SQL execution id (and so the
    * Exchanges of that query's final plan, counted when the execution
    * ends). */
  private final class Listener extends SparkListener with AdaptiveSparkPlanHelper {
    private val open = mutable.Map.empty[String, Counts]
    private val stageOwner = mutable.Map.empty[Int, Counts]
    private val execOwner = mutable.Map.empty[Long, Counts]

    def isOpen(tag: String): Boolean = synchronized(open.contains(tag))

    def open(tag: String): Counts = synchronized {
      val c = new Counts(tag); open(tag) = c; c
    }

    def close(c: Counts): Unit = synchronized {
      open.remove(c.tag)
      stageOwner.filterInPlace((_, o) => o ne c)
      execOwner.filterInPlace((_, o) => o ne c)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      for (props <- Option(e.properties); c <- open.get(props.getProperty(TagKey))) {
        c.jobs += 1
        e.stageIds.foreach(stageOwner(_) = c)
        Option(props.getProperty(SQLExecution.EXECUTION_ID_KEY))
          .foreach(id => execOwner(id.toLong) = c)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOwner.get(e.stageId).foreach { c =>
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.memSpill += m.memoryBytesSpilled
          c.diskSpill += m.diskBytesSpilled
          c.peak = math.max(c.peak, m.peakExecutionMemory)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // a query that succeeded ends with no error message or an empty one
      case end: SparkListenerSQLExecutionEnd if end.errorMessage.forall(_.isEmpty) =>
        synchronized(execOwner.get(end.executionId)).foreach { c =>
          val qe = queryOfEnd.invoke(end).asInstanceOf[QueryExecution]
          val n = if (qe == null) 0
            else collectWithSubqueries(qe.executedPlan) { case x: ShuffleExchangeLike => x }.size
          synchronized(c.exchanges += n)
        }
      case _ =>
    }
  }

  private var registered: Option[(SparkContext, Listener)] = None

  /** The one listener of `sc`, registered on first use. */
  private def listenerOf(sc: SparkContext): Listener = synchronized {
    registered.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      registered = Some((sc, l))
      l
    }
  }
}
