package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bus.FileTopic
import graft.core.Tables
import graft.dq.DqChecks
import graft.flow.{TaskDef, TaskGraph}
import graft.gen.{CarCatalog, OrderGenerator, RawOrder}
import graft.ingest.JsonBatchLoader
import graft.pii.Masking
import graft.query.Explorer
import graft.streaming.PipeStream

/** `etl-cycle`: the reference's GENERATE → LOAD → REFINE → DQ task chain.
  * One op is one pipeline cycle driven by a [[TaskGraph]]: generate a
  * seeded order batch, publish it to the bus, let a consumer land it as
  * a JSON file, drain the landing directory exactly once, refine the new
  * epoch into the warehouse, run the DQ metrics and threshold alerts,
  * mask the new rows, and refresh the dashboard tiles over the whole
  * table. Every [[CompactEvery]]-th cycle also compacts the warehouse,
  * after the tiles. The op's latency is freshness: from the batch's
  * creation stamp until the tiles count its rows. */
final class EtlCycle(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {
  import EtlCycle._

  private var dir = ""
  private var topic: FileTopic = _
  private var graph: TaskGraph = _
  private var expectedRows = 0L
  private val seenTxids = mutable.Set.empty[String]
  private val rawPii = mutable.Set.empty[String]
  private val failures = mutable.ArrayBuffer.empty[CheckFailure]
  private val catalog = CarCatalog.df(spark)
  private val hpByModel: Map[String, Long] =
    CarCatalog.specs.map(s => s.name -> s.horsepower).toMap

  /** State of the cycle in flight, shared by the task bodies. */
  private var cycle = 0L
  private var batch: Array[RawOrder] = Array.empty
  private var stamp = 0L
  private var landedFiles = 0
  private var newRows: DataFrame = _
  private var freshnessMs = 0.0

  def roundLength: Int = RoundCycles
  def describe(i: Int): String =
    s"cycle $i: batch seed ${batchSeed(BatchStream, i)}, compact ${i % CompactEvery == CompactEvery - 1}"

  private def batchSeed(stream: Long, i: Long): Long = Exec.rng(seed, stream, i).nextLong()
  private def warehouse = s"$dir/warehouse/orders"
  private def masked = s"$dir/warehouse/orders_masked"

  def build(rep: Int): Unit = {
    dir = s"$workDir/rep$rep"
    Exec.rmTree(dir)
    Seq("landing", "raw", "warehouse").foreach(d => Files.createDirectories(Paths.get(s"$dir/$d")))
    topic = new FileTopic(s"$dir/topic")
    seenTxids.clear(); rawPii.clear(); landedFiles = 0
    // bulk history load
    val history = s"$dir/history"
    OrderGenerator.enrich(OrderGenerator.rawOrders(spark, HistoryRows, batchSeed(HistoryStream, 0)), catalog)
      .write.json(history)
    val n = Trace.span("ingest.bulk")(JsonBatchLoader.load(spark, history, warehouse))
    Counters.setUp("ingest.bulk_rows") = n.toDouble
    expectedRows = n
    graph = buildGraph()
  }

  /** [[WarmCycles]] cycles, compaction included: the cycles keep getting
    * faster over their first few runs while the JIT compiles them. */
  def warmUp(): Unit = (1 to WarmCycles).foreach { k =>
    cycle = -k.toLong
    runCycle(compact = k % CompactEvery == 0)
  }

  private def task(name: String, after: String, when: () => Boolean = () => true)(
      body: => Unit): TaskDef =
    TaskDef(name, after = Option(after).toSeq, when = when,
      body = () => Trace.span("flow.task")(body))

  private var compactNow = false

  private def buildGraph(): TaskGraph = {
    val g = new TaskGraph()
    g.add(task("generate", null)(generate()))
    g.add(task("publish", "generate")(Trace.span("bus.publish") {
      val json = OrderGenerator.enrich(spark.createDataset(batch.toSeq)(
        org.apache.spark.sql.Encoders.product[RawOrder]), catalog).toJSON.collect()
      topic.publish("orders", json.toSeq)
      Counters.add("bus.msgs", json.length.toDouble)
    }))
    g.add(task("load", "publish")(consume()))
    g.add(task("drain", "load")(drain()))
    g.add(task("refine", "drain")(refine()))
    g.add(task("dq", "refine")(dq()))
    g.add(task("mask", "dq")(mask()))
    g.add(task("tiles", "mask")(tiles()))
    g.add(task("compact", "tiles", () => compactNow)(Trace.span("core.compact") {
      Tables.compactTable(spark, warehouse, 1L << 20)
      Counters.add("core.files", Exec.list(warehouse).count(_.endsWith(".parquet")).toDouble)
    }))
    g.resume("generate", dependents = true)
    g
  }

  private def generate(): Unit = Trace.span("gen.batch") {
    batch = OrderGenerator.rawOrders(spark, BatchRows, batchSeed(BatchStream, cycle)).collect()
    stamp = System.nanoTime()
    Counters.add("gen.rows", batch.length.toDouble)
    batch.foreach { o => o.email.foreach(rawPii += _); o.phone.foreach(rawPii += _) }
  }

  private def consume(): Unit = {
    val msgs = Trace.span("bus.poll")(topic.poll("orders", "loader"))
    val ids = msgs.map(m => m.substring(m.indexOf("\"txid\":\"") + 8).takeWhile(_ != '"'))
    Counters.add("bus.redelivered", ids.count(seenTxids.contains).toDouble)
    seenTxids ++= ids
    if (Trace.on) Trace.span("trace.lag") {
      Counters.add("bus.lag_msgs", topic.stats("orders")("queue_depth").toDouble)
    }
    landedFiles += 1
    val f = Paths.get(s"$dir/landing/batch-$landedFiles.json")
    Files.write(f, msgs.asJava, StandardCharsets.UTF_8)
  }

  private def epochs: Set[String] =
    Exec.list(s"$dir/raw").filter(_.startsWith("batch=")).toSet

  private def drain(): Unit = {
    val before = epochs
    Trace.span("streaming.drain") {
      PipeStream.drain(spark, s"$dir/landing", JsonBatchLoader.orderSchema,
        s"$dir/raw", s"$dir/ckpt")
    }
    val fresh = (epochs -- before).toSeq.sorted.map(e => s"$dir/raw/$e")
    newRows = if (fresh.isEmpty) null else spark.read.parquet(fresh: _*)
  }

  private def refine(): Unit = Trace.span("core.append") {
    require(newRows != null, s"cycle $cycle: the drain landed no new epoch")
    val typed = JsonBatchLoader.normalize(newRows)
      .select(JsonBatchLoader.orderSchema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    val obs = org.apache.spark.sql.Observation()
    typed.observe(obs, count(lit(1)).as("n")).write.mode("append").parquet(warehouse)
    val n = obs.get("n").asInstanceOf[Long]
    Counters.add("streaming.rows", n.toDouble)
    if (n == BatchRows) Counters.add("streaming.files_loaded", 1.0)
    else if (n > BatchRows)
      Counters.add("streaming.files_replayed", ((n - BatchRows) / BatchRows).toDouble)
    expectedRows += BatchRows
    newRows = typed
  }

  private def dq(): Unit = Trace.span("dq.checks") {
    val metrics = DqChecks.metricsBatch(newRows, "orders", DqMetrics)
      .withColumn("computed_at", lit(cycle))
    val got = Exec.collect(metrics).map(r =>
      r.getAs[String]("metric_name") -> r.getAs[Double]("metric_value")).toMap
    val alerts = Exec.collect(DqChecks.thresholdAlerts(DqChecks.latestPerMetric(metrics),
      spark.createDataFrame(Thresholds.toSeq).toDF("metric_name", "threshold")))
    Counters.add("dq.alerts", alerts.length.toDouble)
    // the same ratios, recomputed directly from the generated rows
    val n = batch.length.toDouble
    val want = Map(
      "email_present" -> batch.count(_.email.isDefined) / n,
      "phone_present" -> batch.count(_.phone.isDefined) / n,
      "address_present" -> batch.count(_.address.isDefined) / n,
      "hp_known" -> batch.count(o => hpByModel.getOrElse(o.car_model, 0L) > 0) / n)
    want.foreach { case (k, v) =>
      if (got.get(k).forall(g => math.abs(g - v) > 1e-6))
        failures += CheckFailure("cycle", s"cycle $cycle: dq $k = ${got.get(k)}, rows say $v")
    }
  }

  private def mask(): Unit = Trace.span("pii.mask") {
    newRows.select(col("txid"),
        Masking.maskPanAuditor(col("email")).as("email"),
        Masking.maskPanAuditor(col("phone")).as("phone"),
        Masking.maskPanAuditor(col("emergency_contact.phone")).as("emergency_phone"))
      .write.mode("append").parquet(masked)
  }

  private def tiles(): Unit = {
    val flat = Trace.span("core.read")(Explorer.flatten(spark.read.parquet(warehouse)))
    val tile = Trace.span("query.metricTiles")(Exec.collect(Explorer.metricTiles(flat)))
    freshnessMs = (System.nanoTime() - stamp) / 1e6
    val total = tile.head.getAs[Long]("TOTAL_ORDERS")
    if (total != expectedRows)
      failures += CheckFailure("cycle", s"cycle $cycle: tiles count $total rows, expected $expectedRows")
  }

  private def runCycle(compact: Boolean): Unit = {
    compactNow = compact
    val before = graph.history.size
    Trace.span("flow.tick")(graph.executeNow("generate"))
    val failed = graph.history.drop(before).filter(_.status.startsWith("FAILED"))
    Counters.add("flow.tasks_failed", failed.size.toDouble)
    if (failed.nonEmpty) throw new IllegalStateException(
      failed.map(r => s"${r.task_name}: ${r.status}").mkString("; "))
  }

  def op(i: Int): OpResult = {
    cycle = i.toLong
    runCycle(compact = i % CompactEvery == CompactEvery - 1)
    OpResult("cycle", BatchRows, Some(freshnessMs))
  }

  def check(): Seq[CheckFailure] = {
    val wh = spark.read.parquet(warehouse)
      .agg(count(lit(1)), countDistinct(col("txid"))).head()
    if (wh.getLong(0) != expectedRows || wh.getLong(1) != expectedRows)
      failures += CheckFailure("cycle",
        s"warehouse holds ${wh.getLong(0)} rows (${wh.getLong(1)} distinct), expected $expectedRows once each")
    val m = spark.read.parquet(masked)
    val leaked = m.select(explode(array(col("email"), col("phone"), col("emergency_phone"))).as("v"))
      .filter(col("v").isNotNull).distinct().collect().map(_.getString(0)).count(rawPii.contains)
    if (leaked > 0) failures += CheckFailure("cycle", s"$leaked raw email/phone values survived masking")
    failures.toSeq
  }
}

object EtlCycle {
  val BatchRows = 500L
  /** Seed streams of the cycles' batches and of the history load. */
  val BatchStream = 3L
  val HistoryStream = 5L
  val HistoryRows = 5000L
  val CompactEvery = 3
  /** Cycles a round: three compactions' worth, about 13 s, so every run
    * times the same number of cycles (with 10 s runs of 3-cycle rounds,
    * a run timed 6 or 9 cycles depending on host speed). */
  val RoundCycles = 9
  val WarmCycles = 4
  val DqMetrics: Seq[(String, Column)] = Seq(
    "email_present" -> col("email").isNotNull,
    "phone_present" -> col("phone").isNotNull,
    "address_present" -> col("address").isNotNull,
    "hp_known" -> (col("horsepower") > 0))
  val Thresholds: Map[String, Double] = Map(
    "email_present" -> 0.75, "phone_present" -> 0.75,
    "address_present" -> 0.5, "hp_known" -> 0.95)
}
