package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JSON rendering of the run's files, with the Jackson on Spark's classpath. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload explore --seed 1 --seconds 10 --trace 0 \
  *   --data <generated tables> --work <scratch dir> --out <result.json>
  * }}}
  *
  * Set-up builds the workload's state [[Builds]] times (each into a
  * fresh directory) and runs one untimed warm-up after the first build;
  * set-up time is the warm-up plus the median build. The timed loop runs
  * closed-loop ops on the last build, one client thread, until
  * `--seconds` have passed and the workload's round is complete; a
  * traced run counts engine work over its first round. The result file
  * holds raw per-op latencies and counts; run.py turns them into the
  * reported metrics. */
object Main {
  /** State builds per run; set-up time is the warm-up pass plus their median. */
  val Builds = 3
  val Cpus = 4
  /** Op ids of the traced extras, kept apart from the timed ops' ids. */
  val ExtrasBase = 1000000

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val canary = Jvm.canarySec()

    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionStart) / 1e9

    val engine = new EngineListener
    val planning = new PlanningListener
    if (traced) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(planning)
      Trace.on = true
    }

    val work = a("work")
    val wl: Workload = workload match {
      case "etl-cycle" => new EtlCycle(spark, seed, s"$work/etl")
      case "explore" => new Explore(spark, seed, a("data"), s"$work/explore")
      case other => sys.error(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; Exec.release(spark); (System.nanoTime() - t0) / 1e9
    }
    val buildS = ArrayBuffer(timed(wl.build(0)))
    Trace.on = false // the warm-up runs kinds concurrently; spans need one thread
    val warmS = timed(wl.warmUp())
    Trace.on = traced
    (1 until Builds).foreach(rep => buildS += timed(wl.build(rep)))

    val lat = ArrayBuffer.empty[Double]
    val wall = ArrayBuffer.empty[Double]
    val kinds = ArrayBuffer.empty[String]
    val rows = ArrayBuffer.empty[Long]
    val errors = ArrayBuffer.empty[String]
    val jvm0 = Jvm.snap()
    Jvm.resetHeapPeak()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || i % wl.roundLength != 0) {
      Counters.inWindow = traced && i < wl.roundLength
      val s = System.nanoTime()
      val res = try Trace.op(i)(wl.op(i)) catch {
        case e: Throwable =>
          errors += s"op $i (${wl.describe(i)}): ${e.getClass.getSimpleName}: ${e.getMessage}"
          OpResult(s"failed_$i", 0L)
      }
      val ms = (System.nanoTime() - s) / 1e6
      wall += ms
      lat += res.latencyMs.getOrElse(ms)
      kinds += res.kind
      rows += res.rows
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    Counters.inWindow = false
    val loopEndMs = System.currentTimeMillis()
    val jvm1 = Jvm.snap()
    val heapPeak = Jvm.heapPeakMb

    val checkStart = System.nanoTime()
    val failures = try wl.check() catch {
      case e: Throwable => Seq(CheckFailure("*", s"check crashed: ${e.getMessage}"))
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    // layers the timed loop does not reach, run once in the count window
    val extraFailures = if (!traced) Nil else {
      Counters.inWindow = true
      try wl.tracedExtras(ExtrasBase)
      finally Counters.inWindow = false
    }
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        Layers.metrics(wl, engine, planning, wall.toSeq, loopEndMs,
          jvm1.gcMs - jvm0.gcMs, jvm1.gcCount - jvm0.gcCount,
          jvm1.jitMs - jvm0.jitMs, heapPeak)
      }

    val result = collection.immutable.ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "master" -> s"local[$Cpus]",
      "canary_sec" -> canary, "seconds" -> seconds, "loop_s" -> loopS,
      "setup_s" -> (warmS + median(buildS.toSeq)), "warmup_s" -> warmS,
      "build_s" -> buildS,
      "latencies_ms" -> lat, "wall_ms" -> wall, "kinds" -> kinds, "rows" -> rows,
      "round_length" -> wl.roundLength,
      "plan" -> (0 until wl.roundLength).map(wl.describe),
      "errors" -> errors,
      "check_failures" -> (failures ++ extraFailures)
        .map(f => Map("kind" -> f.kind, "message" -> f.message)),
      "peak_rss_mb" -> Jvm.peakRssMb, "check_s" -> checkS, "session_s" -> sessionS,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "layers" -> layers)
    Files.write(Paths.get(a("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
