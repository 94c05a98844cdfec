package graft

/** Session-lifetime registry for the cache-release handles the
  * no-cleanup operator conveniences would otherwise discard.
  *
  * Every `xyzWithCleanup` operator returns `(frame, release)` where
  * `release` unpersists the operator's internal MEMORY_AND_DISK
  * state; the convenience forms (`Percentiles.cuts`,
  * `Winsorize.winsorize`, `Dedup.minhashCandidates`, ...) used to
  * drop the handle, so a long-lived session accumulated cached
  * frames indefinitely (ADVICE r11). They now park the handle here.
  *
  * Handles come in two tiers, because their failure modes differ:
  *
  *  - [[defer]] — handles releasing plain persist CACHES. Dropping
  *    one while its frame is still referenced makes later actions
  *    silently RECOMPUTE (cost: time, never correctness).
  *    [[drain]] runs exactly these and is safe at ANY time — after
  *    an action, between pipeline stages, on a scheduler tick.
  *  - [[deferFragile]] — handles releasing `localCheckpoint` blocks
  *    (the iterative operators' conveniences: `connectedComponents`,
  *    `nearDupGroups`, `pageRank`). A local checkpoint TRUNCATES
  *    lineage, so releasing it under a still-unconsumed frame makes
  *    later actions FAIL with missing-block errors instead of
  *    recomputing. [[drain]] deliberately leaves these parked;
  *    [[drainAll]] runs them too and must only be called once every
  *    frame obtained from a convenience operator so far has been
  *    fully consumed (end of a batch/session is the natural point).
  *
  * OWNER SCOPES (r16, ADVICE r15): two threads sharing the global
  * tier can release each other's in-flight caches — the managed IVF
  * stream's trigger thread calling [[drain]] per batch was
  * unpersisting the maintenance daemon's membership cache
  * mid-rebuild (results stay correct; the rebuild silently
  * recomputes the frame per downstream reference). Code that runs
  * concurrently with other cache-parking work wraps itself in
  * [[scoped]]: handles deferred inside the scope are attributed to
  * that owner (thread-local, so only the wrapping thread's defers
  * are captured) and released ONLY by [[drainOwner]] for the same
  * owner — never by another thread's anytime [[drain]].
  *
  * Thread-safe; drain order is registration order within each tier.
  */
object Cleanup {

  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  private val fragilePending = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  private val owned = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[() => Unit]]()
  private val currentOwner = new ThreadLocal[String]()

  /** Park a persist-cache release handle for a later [[drain]] — or,
    * inside a [[scoped]] section, for that owner's [[drainOwner]].
    */
  def defer(release: () => Unit): Unit = {
    val o = currentOwner.get()
    if (o == null) { pending.add(release); () }
    else {
      owned.computeIfAbsent(o,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()).add(release)
      ()
    }
  }

  /** Park a handle that releases `localCheckpoint` blocks — run only
    * by [[drainAll]], never by the anytime-safe [[drain]]. (Fragile
    * handles ignore owner scopes: their release is end-of-session by
    * contract, so per-owner early release would be a correctness
    * hazard, not a convenience.)
    */
  def deferFragile(release: () => Unit): Unit = { fragilePending.add(release); () }

  /** Run `body` with every [[defer]] on THIS thread attributed to
    * `owner` (nested scopes restore the outer owner on exit). The
    * handles are then released only by [[drainOwner]](owner) — a
    * concurrent thread's [[drain]] cannot release this owner's
    * in-flight caches out from under it.
    */
  def scoped[T](owner: String)(body: => T): T = {
    val prev = currentOwner.get()
    currentOwner.set(owner)
    try body
    finally { if (prev == null) currentOwner.remove() else currentOwner.set(prev) }
  }

  /** Run and clear every handle parked under `owner` by a [[scoped]]
    * section. Same anytime-safety as [[drain]] — an early-released
    * persist cache recomputes, never fails.
    */
  def drainOwner(owner: String): Unit = {
    val q = owned.remove(owner)
    if (q != null) {
      var f = q.poll()
      while (f != null) { f(); f = q.poll() }
    }
  }

  /** Run and clear every UNSCOPED parked persist-cache handle (safe
    * at any time — a drained-too-early frame recomputes, never
    * fails). Owner-scoped handles stay parked for their
    * [[drainOwner]]; checkpoint-releasing handles stay parked for
    * [[drainAll]].
    */
  def drain(): Unit = {
    var f = pending.poll()
    while (f != null) { f(); f = pending.poll() }
  }

  /** [[drain]] plus every owner's handles plus the
    * checkpoint-releasing ones — the end-of-session sweep. Only safe
    * once every frame handed out by a convenience operator so far
    * has been fully consumed — a released checkpoint cannot
    * recompute.
    */
  def drainAll(): Unit = {
    drain()
    val owners = owned.keySet().toArray(Array.empty[String])
    owners.foreach(drainOwner)
    var f = fragilePending.poll()
    while (f != null) { f(); f = fragilePending.poll() }
  }

  /** Handles currently parked across all tiers (monitoring / test
    * hook); [[fragileCount]] isolates the checkpoint tier.
    */
  def pendingCount: Int = {
    var n = pending.size() + fragilePending.size()
    owned.forEach((_, q) => n += q.size())
    n
  }

  /** Checkpoint-releasing handles currently parked. */
  def fragileCount: Int = fragilePending.size()

  /** Driver-pool bound of [[concurrently]] — above the widest caller
    * (a PQ store build's five overlapped sidecar writes).
    */
  private val MaxDriverTasks = 8

  /** Map `items` through `f` on a bounded driver thread pool and return
    * the results in input order — the overlap-independent-jobs pattern
    * (each item is its own chain of Spark actions; serialized, every
    * chain's planning gap idles the cluster). Each task runs under the
    * caller's [[scoped]] owner, so a [[defer]] on a pool thread is
    * attributed exactly as it would be on the caller's thread. Every
    * task settles before the first failure is rethrown, so no action
    * is left in flight.
    */
  def concurrently[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val owner = currentOwner.get()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, MaxDriverTasks))
      try {
        val futs = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = if (owner == null) f(a) else scoped(owner)(f(a))
        }))
        val settled = futs.map(fu =>
          try Right(fu.get())
          catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
        settled.collectFirst { case Left(e) => throw e }
        settled.collect { case Right(b) => b }
      } finally { pool.shutdown() }
    }
}
