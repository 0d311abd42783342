package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate dedupes, so suites don't pay startup repeatedly).
  *
  * Each suite instance acquires through [[SparkSuite.acquire]], which
  * REBUILDS the session when a previous suite's failure left the shared
  * context stopped. Without that, one stopped context poisons every suite
  * after it: `SparkSession...getOrCreate` checks isStopped on the session
  * handles, but falls through to `SparkContext.getOrCreate`, which returns
  * the registered activeContext with NO stopped check — a stop() that died
  * mid-teardown leaves that handle set, and the whole rest of the run fails
  * on `assertNotStopped` (the round-13 driver test failure). The recovery
  * sweep drops every stale handle a half-stopped context can leave behind
  * before building; SessionRecoverySpec pins both the clean-stop and the
  * half-stop recovery paths. */
object SparkSuite {
  def acquire(): SparkSession = synchronized {
    SparkSession.getActiveSession.filter(_.sparkContext.isStopped)
      .foreach(_ => SparkSession.clearActiveSession())
    SparkSession.getDefaultSession.filter(_.sparkContext.isStopped)
      .foreach(_ => SparkSession.clearDefaultSession())
    org.apache.spark.GraftTestContext.clearStaleActiveContext()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.acquire()

  val sf0001 = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it starts. Only jobs carrying
    * this call's job tag count — tags are inherited by the threads a
    * query spawns (broadcasts, subqueries) but not by jobs other
    * threads of the JVM happen to run meanwhile. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"count-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try {
      val r = body
      org.apache.spark.GraftTestContext.drainListenerBus(sc)
      (r, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(l)
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
