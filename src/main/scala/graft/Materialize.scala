package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException, Executors}

import org.apache.spark.sql.{GraftInterop, SparkSession}

import scala.util.Try

/** The one mechanism for the driver-side work the pipeline operators
  * share: independent builds run in parallel, and derived artifacts
  * memoized per session.
  */
object Materialize {

  // daemon and unbounded: a leg that itself calls par never waits for a
  // pool slot held by its own caller
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  }

  /** Runs independent legs concurrently and returns their results in
    * argument order. Each leg runs with a copy of the caller's local
    * properties (job group, interruptOnCancel, scheduler pool) and with
    * `s` active, so cancelling the caller's job group reaches every job a
    * leg launches. Every leg finishes before par returns; the first
    * failing leg's own exception is rethrown.
    *
    * Not SQLExecution.withThreadLocalCaptured: that also enters the
    * session's job-artifact state, so the legs' tasks run in an isolated
    * executor session that the caller's own jobs do not use. graft.Bench
    * measured ann_recall_trained 10% slower under it (4 cores, sf0.1).
    */
  def par[A](s: SparkSession, legs: Seq[() => A]): Seq[A] =
    legs.toVector
      .map { leg =>
        val props = GraftInterop.localProperties(s)
        CompletableFuture.supplyAsync(() => {
          // pool threads run only legs, and each leg sets these first
          GraftInterop.setLocalProperties(s, props)
          SparkSession.setActiveSession(s)
          try leg() finally SparkSession.clearActiveSession()
        }, pool)
      }
      .map(f => Try(try f.get() catch { case e: ExecutionException => throw e.getCause }))
      .map(_.get)

  def par[A, B](s: SparkSession, a: => A, b: => B): (A, B) = {
    val Seq(x, y) = par[Any](s, Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** A derived artifact built once per (session, key) and held for the
    * JVM's life. The session half of the key is its UUID, which is never
    * reused (an identity hash can be, by a later session). A build that
    * throws stores nothing, so the next call
    * rebuilds. Each memo site owns its instance: a build may read
    * another memo, but not its own.
    */
  final class SessionMemo[K, V] {
    private val entries = new ConcurrentHashMap[(String, K), V]()

    def apply(s: SparkSession, key: K)(build: => V): V =
      entries.computeIfAbsent((GraftInterop.sessionUUID(s), key), _ => build)
  }
}
