package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.Materialize.{SessionMemo, par}
import SparkFixture.spark

/** The shared driver-side mechanism: session memos and parallel legs.
  * No Spark job runs here; the session only supplies memo keys and the
  * properties par hands to its legs.
  */
class MaterializeSpec extends AnyFunSuite {

  test("SessionMemo builds once per session and key") {
    val memo = new SessionMemo[String, Int]
    val builds = new AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession, k: String): Int =
      memo(s, k)(builds.incrementAndGet())
    assert(get(spark, "a") === 1)
    assert(get(spark, "a") === 1)
    assert(get(spark, "b") === 2)
    assert(builds.get() === 2)
  }

  test("SessionMemo gives a new session its own entry") {
    val memo = new SessionMemo[String, String]
    val other = spark.newSession()
    assert(memo(spark, "k")("first") === "first")
    assert(memo(other, "k")("second") === "second")
    assert(memo(spark, "k")("third") === "first")
  }

  test("SessionMemo stores nothing for a build that throws; the next call rebuilds") {
    val memo = new SessionMemo[String, Int]
    intercept[IllegalStateException](
      memo(spark, "k")(throw new IllegalStateException("cancelled")))
    assert(memo(spark, "k")(7) === 7)
    assert(memo(spark, "k")(8) === 7)
  }

  test("SessionMemo build may read another SessionMemo") {
    val inner = new SessionMemo[String, Int]
    val outer = new SessionMemo[String, Int]
    assert(outer(spark, "k")(inner(spark, "k")(20) + 1) === 21)
    assert(inner(spark, "k")(0) === 20)
  }

  test("par returns results in argument order") {
    val out = par(spark, (1 to 6).map(i => () => { Thread.sleep((6 - i) * 20L); i }))
    assert(out === (1 to 6))
    val (a, b) = par(spark, { Thread.sleep(50); "slow" }, 2)
    assert(a === "slow" && b === 2)
  }

  test("par rethrows a failing leg's own exception, after every leg finished") {
    val done = new AtomicInteger(0)
    val e = intercept[IllegalArgumentException](
      par(spark, Seq(
        () => { Thread.sleep(100); done.incrementAndGet() },
        () => throw new IllegalArgumentException("leg failed"),
        () => { Thread.sleep(100); done.incrementAndGet() })))
    assert(e.getMessage === "leg failed")
    assert(done.get() === 2)
    intercept[UnsupportedOperationException](
      par(spark, throw new UnsupportedOperationException("first leg"), 1))
  }

  test("par legs carry the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-par-test", "caller")
    try {
      val groups = par(spark, (1 to 4).map(_ => () =>
        sc.getLocalProperty("spark.jobGroup.id")))
      assert(groups.forall(_ == "graft-par-test"), groups)
    } finally sc.clearJobGroup()
  }

  test("nested par completes when the calls outnumber the cores") {
    // more outer legs than a core-sized pool would hold; fixed, so the
    // thread count (3n) does not grow with the host
    val n = 9
    // every inner leg waits until all 2n are running at once
    val all = new CountDownLatch(2 * n)
    def leg(): Boolean = { all.countDown(); all.await(60, TimeUnit.SECONDS) }
    val out = par(spark, (1 to n).map(_ => () => par(spark, leg(), leg())))
    assert(out.forall { case (x, y) => x && y })
  }
}
