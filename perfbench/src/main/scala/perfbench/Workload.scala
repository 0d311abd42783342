package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one timed op returns: its kind (the unit of error accounting),
  * the rows it produced, and its latency when that is not its wall time
  * (etl-cycle reports freshness). */
final case class OpResult(kind: String, rows: Long, latencyMs: Option[Double] = None)

/** A failed correctness check, charged to every timed op of `kind`. */
final case class CheckFailure(kind: String, message: String)

/** Counters the workloads bump while tracing; the run reports their
  * totals over the count window: the timed loop's first round, run on the
  * freshly built state, and the traced extras. */
object Counters {
  private val window = collection.mutable.LinkedHashMap.empty[String, Double]
  @volatile var inWindow: Boolean = false

  def add(name: String, v: Double): Unit =
    if (Trace.on && inWindow) window(name) = window.getOrElse(name, 0.0) + v
  def get(name: String): Double = window.getOrElse(name, 0.0)

  /** Counts of the last build (not part of any op). */
  val setUp: collection.mutable.Map[String, Double] =
    collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
}

/** One benchmark workload. The op sequence is a pure function of the
  * seed. */
trait Workload {
  /** The timed loop ends on a multiple of this many ops, so every run
    * times whole rounds of a fixed mix. A round covers every op kind; in
    * a traced run the first round is the count window. */
  def roundLength: Int
  /** Human-readable description of op `i` (for the determinism test). */
  def describe(i: Int): String
  /** Build the workload's state from its inputs in a fresh directory for
    * repetition `rep`; the last build is the state the timed ops use. */
  def build(rep: Int): Unit
  /** One untimed pass of every op kind against the first build's state.
    * Independent kinds may run concurrently: the pass exists to compile
    * each op's code paths before timing starts. */
  def warmUp(): Unit
  def op(i: Int): OpResult
  /** Checks after the timed loop, outside the timed region. */
  def check(): Seq[CheckFailure]
  /** Traced runs only, after the checks: work measured for its layers
    * alone, as ops numbered from `firstOp`. Returns its check failures. */
  def tracedExtras(firstOp: Int): Seq[CheckFailure] = Nil
}

/** Helpers shared by the workloads. */
object Exec {
  /** Runs a query to completion without collecting it (noop sink); with
    * tracing on, also counts the shuffle exchanges of its plan. */
  def sink(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    countExchanges(df)
  }

  def collect(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    countExchanges(df)
    rows
  }

  /** Planning the query to read its plan is tracing work: it runs in a
    * `trace.` span so it is not charged to any layer. */
  private def countExchanges(df: DataFrame): Unit =
    if (Trace.on && Counters.inWindow) Trace.span("trace.exchanges") {
      Counters.add("spark.exchanges", graft.plans.PlanSnapshots
        .shuffleCount(graft.plans.PlanSnapshots.planString(df)).toDouble)
    }

  /** Releases every persisted or checkpointed block and the SQL cache,
    * so no op leaves storage behind for the next one. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  def list(dir: String): Seq[String] =
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir))) { s =>
      s.iterator().asScala.map(_.getFileName.toString).toList
    }

  /** Runs the bodies on up to `threads` threads; rethrows the first failure. */
  def concurrently(threads: Int)(bodies: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try bodies.map(b => pool.submit(new Runnable { def run(): Unit = b() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def rmTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
        w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
  }

  /** A seeded generator for op `i`: independent of how many values
    * earlier ops drew, so op `i` is the same whatever ran before. */
  def rng(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(scala.util.hashing.byteswap64(
      seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ i))

  /** Seeded permutation of `xs`. */
  def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }
}
