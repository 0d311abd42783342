package org.apache.spark

/** Test-only recovery hooks for the shared suite session.
  *
  * The poison mechanism this exists for: `SparkSession.builder.getOrCreate`
  * guards against a stopped context on the active/default SESSION handles,
  * but when it has to build a new session it goes through
  * `SparkContext.getOrCreate`, which returns `activeContext` WITHOUT an
  * isStopped check. `SparkContext.stop()` clears `activeContext` only if it
  * runs to completion — a stop() that dies midway (listener-bus teardown,
  * OOM on a daemon thread) leaves a stopped context registered, and every
  * later SparkSession in the JVM wraps the corpse. Spark keeps both the
  * handle and the clear private[spark]; this shim (compiled into the
  * org.apache.spark package, the same trick Spark's own test utilities use)
  * clears the stale handle so the next getOrCreate builds a live context. */
object GraftTestContext {

  /** Drop the JVM-wide activeContext handle iff it points at a STOPPED
    * context. A live context is never touched. */
  def clearStaleActiveContext(): Unit =
    SparkContext.getActive.filter(_.isStopped)
      .foreach(_ => SparkContext.clearActiveContext())

  /** Block until every event posted so far has reached the listeners
    * (the bus is asynchronous), so a test listener's count is final. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Simulate the half-stopped failure mode for the recovery spec: mark the
    * context stopped WITHOUT running any of stop()'s cleanup, exactly the
    * state a mid-teardown crash leaves behind (stopped=true, activeContext
    * still registered, threads still alive). Test-only by construction. */
  def simulateHalfStop(sc: SparkContext): Unit = {
    val f = classOf[SparkContext].getDeclaredField("stopped")
    f.setAccessible(true)
    f.get(sc).asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].set(true)
  }
}
