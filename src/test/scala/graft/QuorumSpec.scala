package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListenerExecutorAdded, SparkListenerExecutorRemoved}
import org.apache.spark.scheduler.cluster.ExecutorInfo
import graft.core.Env

/** The executor-quorum guard of Bench and Verify, fed synthetic
  * scheduler events with a short timeout (the sweeps use 60 s). */
class QuorumSpec extends AnyFunSuite {
  private val timeoutMs = 300L
  private def guard(sweep: () => Unit = () => ()) =
    new Env.Quorum(drain = () => (), sweep, timeoutMs, pollMs = 5L)
  private def add(q: Env.Quorum, id: String): Unit =
    q.onExecutorAdded(SparkListenerExecutorAdded(0L, id,
      new ExecutorInfo("localhost", 1, Map.empty)))
  private def remove(q: Env.Quorum, id: String): Unit =
    q.onExecutorRemoved(SparkListenerExecutorRemoved(0L, id, "lost"))
  private def millis(f: => Unit): Long = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1000000L
  }

  test("a duplicate add of a seeded executor is not counted twice") {
    val q = guard()
    add(q, "0") // delivered between the listener's attach and the seed read
    q.seed(Seq("0", "1"))
    add(q, "1") // a seeded executor's add event arriving late
    assert(q.live === 2)
    assert(q.quorum === 2)
    remove(q, "1")
    assert(q.live === 1, "the loss must be visible")
  }

  test("a loss followed by a replacement satisfies await") {
    val q = guard()
    q.seed(Seq("0", "1"))
    remove(q, "1")
    val replacement = new Thread(() => { Thread.sleep(50); add(q, "2") })
    replacement.start()
    val waited = millis(q.await())
    replacement.join()
    assert(waited >= 40 && waited < timeoutMs, s"waited $waited ms")
    assert(q.live === 2)
    assert(q.quorum === 2)
    assert(millis(q.await()) < timeoutMs)
  }

  test("a permanent shrink costs one wait, then the smaller quorum is adopted") {
    val q = guard()
    q.seed(Seq("0", "1", "2"))
    remove(q, "2")
    assert(millis(q.await()) >= timeoutMs)
    assert(q.quorum === 2)
    assert(millis(q.await()) < timeoutMs)
    remove(q, "0") // a removal event delivered twice is one loss
    remove(q, "0")
    assert(millis(q.await()) >= timeoutMs)
    assert(q.quorum === 1)
  }

  test("unseeded (every master but local-cluster) the guard is a no-op") {
    val spark = TestSpark.spark
    val q = Env.quorum(spark)
    try {
      assert(q.quorum === 0)
      assert(millis(q.await()) < timeoutMs)
    } finally spark.sparkContext.removeSparkListener(q)
  }

  test("beforeQuery sweeps every 16th query and awaits before each") {
    var sweeps = 0
    val q = guard(() => sweeps += 1)
    (0 until 40).foreach { i =>
      q.beforeQuery(i)
      assert(sweeps === (i + 1) / 16, s"query $i")
    }
  }
}
