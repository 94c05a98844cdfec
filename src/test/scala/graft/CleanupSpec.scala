package graft

import org.apache.spark.sql.functions._

import graft.operators.Percentiles

/** The no-cleanup conveniences must park their release handles in
  * [[Cleanup]] instead of leaking persists (ADVICE r11), and draining
  * must be safe while the returned frames are still referenced.
  */
class CleanupSpec extends SparkSuite {

  test("convenience operators park release handles; drain is safe while frames live") {
    val s = spark; import s.implicits._
    Cleanup.drainAll() // isolate from other suites
    val df = (1 to 100).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    val before = Cleanup.pendingCount
    val cuts = Percentiles.cuts(df, col("v"), Seq("g"), Seq(0.5))
    assert(Cleanup.pendingCount == before + 1,
      "the no-cleanup convenience must register its release handle")
    val r1 = cuts.collect()
    Cleanup.drain()
    assert(Cleanup.pendingCount == 0)
    // the frame survives the drain: persists recompute, never fail
    assert(cuts.collect().sameElements(r1))
    Cleanup.drain() // idempotent
  }

  test("owner scopes isolate a thread's handles from concurrent drain() (ADVICE r15, r16)") {
    Cleanup.drainAll() // isolate from other suites
    var releasedOwned = 0
    var releasedGlobal = 0
    // the managed-stream shape: a daemon parks caches under its owner
    // scope while the trigger thread drains the global tier per batch
    Cleanup.scoped("ivf-maintain-test") {
      Cleanup.defer(() => releasedOwned += 1)
      // nested scope attributes to the INNER owner and restores
      Cleanup.scoped("inner") { Cleanup.defer(() => releasedOwned += 10) }
      Cleanup.defer(() => releasedOwned += 1)
    }
    Cleanup.defer(() => releasedGlobal += 1) // outside any scope
    assert(Cleanup.pendingCount == 4)
    Cleanup.drain() // another thread's anytime drain
    assert(releasedGlobal == 1 && releasedOwned == 0,
      "drain() must not release owner-scoped handles")
    Cleanup.drainOwner("inner")
    assert(releasedOwned == 10)
    Cleanup.drainOwner("ivf-maintain-test")
    assert(releasedOwned == 12)
    assert(Cleanup.pendingCount == 0)
    Cleanup.drainOwner("ivf-maintain-test") // idempotent
    // drainAll sweeps owner scopes too (end-of-session)
    Cleanup.scoped("leftover") { Cleanup.defer(() => releasedOwned += 100) }
    Cleanup.drainAll()
    assert(releasedOwned == 112 && Cleanup.pendingCount == 0)
  }

  test("concurrently runs each task under the caller's owner scope and drains before rethrowing") {
    Cleanup.drainAll() // isolate from other suites
    val released = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = Cleanup.scoped("o") {
      Cleanup.concurrently(Seq(1, 2, 3)) { i =>
        Cleanup.defer(() => { released.addAndGet(i); () })
        i * 10
      }
    }
    assert(out == Seq(10, 20, 30), "results come back in input order")
    assert(Cleanup.pendingCount == 3)
    Cleanup.drain() // a defer on a pool thread must not escape the scope
    assert(released.get == 0, "drain() must not release a pool task's owner-scoped handles")
    Cleanup.drainOwner("o")
    assert(released.get == 6 && Cleanup.pendingCount == 0)
    // a failure is rethrown only after every task has settled
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val ex = intercept[IllegalStateException] {
      Cleanup.concurrently(Seq(0, 1, 2)) { i =>
        if (i == 0) throw new IllegalStateException("boom")
        Thread.sleep(200)
        finished.incrementAndGet()
      }
    }
    assert(ex.getMessage == "boom")
    assert(finished.get == 2, "every task drains before the first failure is rethrown")
  }

  test("checkpoint-releasing conveniences are fragile-tier: drain() leaves frames usable (ADVICE r12)") {
    val s = spark; import s.implicits._
    Cleanup.drainAll() // isolate from other suites
    // connectedComponents' convenience parks a handle that releases
    // localCheckpoint blocks — running it under a live frame would
    // FAIL later actions (lineage truncated), so the anytime-safe
    // drain() must leave it parked; only drainAll() may run it.
    // Force the distributed (checkpointing) path: localSolveMaxEdges=0.
    val edges = (1 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val cc = graft.pipeline.Dedup.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0)
    assert(Cleanup.fragileCount == 1,
      "connectedComponents must park its checkpoint release in the fragile tier")
    Cleanup.drain() // the documented "safe at any time" drain
    assert(Cleanup.fragileCount == 1, "drain() must not run fragile handles")
    // the frame is STILL fully consumable after the safe drain
    assert(cc.count() == 40)
    assert(cc.collect().forall(_.getLong(1) == 1L))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    Cleanup.drainAll()
    assert(Cleanup.pendingCount == 0 && Cleanup.fragileCount == 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty &&
      spark.sparkContext.getPersistentRDDs.size < persisted.size,
      "drainAll must actually release the parked checkpoint blocks")
  }

  test("localCheckpointTracked releases only its own blocks under concurrent callers") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    CheckpointLatches.reset()
    // A's eager checkpoint job waits until B has checkpointed, so B's
    // persist lands while A's call is in flight — the interleaving
    // that a before/after census of getPersistentRDDs misattributes
    val slowA = udf { (v: Long) =>
      CheckpointLatches.aRunning.countDown()
      CheckpointLatches.bDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
      v
    }
    val Seq((a, releaseA), (b, releaseB)) = Cleanup.concurrently(Seq("a", "b")) {
      case "a" =>
        graft.internal.localCheckpointTracked(
          s.range(0, 100, 1, 1).select(slowA(col("id")).as("v")), eager = true)
      case _ =>
        CheckpointLatches.aRunning.await(60, java.util.concurrent.TimeUnit.SECONDS)
        try graft.internal.localCheckpointTracked(
          s.range(0, 1000, 1, 2).select((col("id") * 2).as("v")), eager = true)
        finally CheckpointLatches.bDone.countDown()
    }
    assert(a.count() == 100)
    releaseA()
    // B's lineage is truncated: a released checkpoint could only fail
    assert(b.agg(sum("v")).head().getLong(0) == 999L * 1000L)
    releaseB()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "each handle must release its own checkpoint")
  }
}

/** Latches the concurrent-checkpoint spec's task code reads from the
  * executor threads of the local session (an object, so the closure
  * references it instead of serializing a copy).
  */
private object CheckpointLatches {
  @volatile var aRunning = new java.util.concurrent.CountDownLatch(1)
  @volatile var bDone = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    aRunning = new java.util.concurrent.CountDownLatch(1)
    bDone = new java.util.concurrent.CountDownLatch(1)
  }
}
