package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.util.control.NonFatal

/** Driver-side restart policies for streaming queries — the Spark
  * analog of the reference's
  * `env.setRestartStrategy(RestartStrategies.fixedDelayRestart/
  * failureRateRestart)` (reference CheckpointTest/CheckPointTest.scala:33-36).
  * Flink restarts the job graph from the last checkpoint; in Spark
  * the same contract is: rebuild + restart the query against the SAME
  * checkpointLocation, which resumes offsets and state exactly-once
  * (proved by CheckpointSpec). These helpers run that loop. */
object Restarts {

  /** Fixed-delay restart for the checkpointed queries of one job, run
    * concurrently — as the operators of one Flink job graph run side
    * by side, each query of the job starts at once on the shared
    * session. Each `start` rebuilds+starts one query, which runs its
    * own loop: await termination; on failure retry up to `maxRestarts`
    * times with `delayMs` between attempts. Budgets are per query: one
    * query's restarts never spend a sibling's. Returns the restarts
    * used, summed over the queries.
    *
    * Failure contract: once any query has exhausted its attempts, every
    * sibling is stopped (no further restart is started) and awaited,
    * then that first failure is rethrown. No query of the call is
    * active when it returns or throws, so a rerun on the same
    * checkpoints can start at once and resumes exactly-once. */
  def fixedDelay(maxRestarts: Int, delayMs: Long)(starts: (() => StreamingQuery)*): Int = {
    val group = new Group
    val restarts = new AtomicInteger
    val loops = starts.map { start =>
      val t = new Thread(() =>
        try restarts.addAndGet(fixedDelayLoop(maxRestarts, delayMs, start, group))
        catch { case e: Throwable => group.fail(e) },
        "graft-restart-loop")
      t.setDaemon(true)
      t.start()
      t
    }
    try loops.foreach(_.join())
    catch {
      case e: InterruptedException =>
        group.fail(e)
        loops.foreach(_.join())
        throw e
    }
    group.failure.foreach(e => throw e)
    restarts.get
  }

  private def fixedDelayLoop(maxRestarts: Int, delayMs: Long,
      start: () => StreamingQuery, group: Group): Int = {
    var attempt = 0
    while (!group.aborted) {
      try {
        // start() inside the try: a failure while rebuilding/starting
        // the query (checkpoint dir hiccup, source listing error) is
        // retried too, matching Flink's restart-from-checkpoint loop
        group.watch(start()).awaitTermination()
        return attempt
      } catch {
        case NonFatal(e) =>
          if (attempt >= maxRestarts || group.aborted) throw e
          attempt += 1
          group.pause(delayMs)
      }
    }
    attempt
  }

  /** The queries of one [[fixedDelay]] call: the first failure, and
    * the started queries a failure must stop. */
  private final class Group {
    private val abort = new CountDownLatch(1)
    private val started = mutable.ArrayBuffer.empty[StreamingQuery]
    @volatile private var first: Option[Throwable] = None

    def aborted: Boolean = abort.getCount == 0
    def failure: Option[Throwable] = first

    /** The restart delay, cut short when a sibling fails. */
    def pause(delayMs: Long): Unit = abort.await(delayMs, TimeUnit.MILLISECONDS)

    /** Tracks `q` so a sibling's failure stops it; a query started
      * after that failure is stopped at once. */
    def watch(q: StreamingQuery): StreamingQuery = {
      val late = synchronized { if (!aborted) started += q; aborted }
      if (late) q.stop()
      q
    }

    /** Records `e` (the first one wins) and stops every started query;
      * `stop()` returns once the query has terminated. */
    def fail(e: Throwable): Unit = {
      val live = synchronized {
        if (first.isEmpty) first = Some(e)
        abort.countDown()
        started.toList
      }
      live.filter(_.isActive).foreach { q =>
        try q.stop() catch { case NonFatal(_) => }
      }
    }
  }

  /** Failure-rate restart: give up only if more than `maxFailures`
    * failures land inside a sliding `intervalMs` window (Flink's
    * failureRateRestart). */
  def failureRate(maxFailures: Int, intervalMs: Long, delayMs: Long)(
      start: () => StreamingQuery): Int = {
    var restarts = 0
    var failures = List.empty[Long]
    while (true) {
      try {
        start().awaitTermination()
        return restarts
      } catch {
        case NonFatal(e) =>
          val now = System.nanoTime() / 1000000L
          failures = now :: failures.filter(now - _ <= intervalMs)
          if (failures.length > maxFailures) throw e
          restarts += 1
          Thread.sleep(delayMs)
      }
    }
    restarts
  }
}
