package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.gen.{CarCatalog, OrderGenerator}
import graft.query.{Explorer, OrderFilters}

/** `explore`: an analyst's closed loop of small requests. Each op is
  * either one Explorer request (random widget state, then one result
  * kind, collected) over an orders table made by the engine's own
  * generator, or one light declared query of the q, g and p tiers, run
  * to a noop sink. A pass holds every one of [[Queries]] once and
  * [[RequestsPerKind]] Explorer requests of each kind, in an order the
  * seed and the pass number draw. Every pass draws new widget values, so
  * no request repeats; the warm-up and each pass of the timed loop are
  * different passes. */
final class Explore(spark: SparkSession, seed: Long, dataDir: String,
    workDir: String) extends Workload {
  import Explore._

  private var ordersDir = ""
  private val passes = collection.mutable.Map.empty[Int, IndexedSeq[Either[String, Req]]]

  /** Pass `p`: registry queries as Left, Explorer requests as Right. */
  private def pass(p: Int): IndexedSeq[Either[String, Req]] = passes.getOrElseUpdate(p,
    Exec.shuffle(Queries.map(Left(_)) ++
      (0 until ExplorerKinds.size * RequestsPerKind).map(j => Right(request(p, j))),
      Exec.rng(seed, 1, p)).toIndexedSeq)

  val passLength: Int = Queries.size + ExplorerKinds.size * RequestsPerKind
  /** The timed loop runs whole rounds of [[PassesPerRound]] passes, so
    * every run times every query equally often. */
  val roundLength: Int = PassesPerRound * passLength

  /** Op `i` of the timed loop. */
  private def at(i: Int): Either[String, Req] =
    pass(TimedPass + i / passLength)(i % passLength)

  def describe(i: Int): String = at(i).fold(q => s"query $q", _.toString)

  /** Request `j`'s shape (which widgets are set, how many values each
    * holds, which column it reads) is fixed by `j`, so every pass costs
    * about the same; the seed and the pass pick the values. */
  private def request(p: Int, j: Int): Req = {
    val shape = Exec.rng(0L, 3, j)
    val r = Exec.rng(seed, 2, p.toLong << 32 | j)
    def some[T](prob: Double)(v: => T): Option[T] =
      if (shape.nextDouble() < prob) Some(v) else None
    def pick(xs: Seq[String], max: Int): Seq[String] =
      Exec.shuffle(xs, r).take(shape.nextInt(max + 1)).sorted
    val f = OrderFilters(
      brands = pick(Brands, 3),
      engines = pick(Engines, 2),
      hpRange = some(0.5) { val lo = 50L * r.nextInt(8); (lo, lo + 150L + 50L * r.nextInt(8)) },
      dateRange = some(0.4) {
        val d0 = java.time.LocalDate.of(2023, 10, 1).plusDays(r.nextInt(600).toLong)
        (d0.toString, d0.plusDays(30L + r.nextInt(120)).toString)
      },
      search = some(0.2)(Needles(r.nextInt(Needles.size))),
      states = pick(States, 4))
    val kind = ExplorerKinds(j % ExplorerKinds.size)
    Req(kind, f,
      arg = kind match {
        case "ordersBySegment" => SegmentCols(shape.nextInt(SegmentCols.size))
        case "distinctValues" => DistinctCols(shape.nextInt(DistinctCols.size))
        case "bounds" => BoundCols(shape.nextInt(BoundCols.size))
        case _ => ""
      },
      k = 5 + r.nextInt(10),
      cols = Exec.shuffle(PreviewCols, shape).take(2 + shape.nextInt(3)).sorted,
      limit = 50 + r.nextInt(200))
  }

  def build(rep: Int): Unit = {
    val dir = s"$workDir/rep$rep"
    Exec.rmTree(dir)
    ordersDir = s"$dir/orders"
    OrderGenerator.enrich(OrderGenerator.rawOrders(spark, OrdersRows, seed),
        CarCatalog.df(spark))
      .write.parquet(ordersDir)
  }

  /** The warm-up pass, four requests at a time. It also writes every
    * declared query's result for the oracle checks. */
  def warmUp(): Unit =
    Exec.concurrently(WarmThreads)(pass(WarmPass).map {
      case Left(q) => () =>
        SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.parquet(s"$checks/$q")
      case Right(r) => () => explorer(r).collect(): Unit
    })

  private def checks = s"$workDir/checks"

  private def explorer(r: Req): DataFrame = {
    val flat = Trace.span("core.read") {
      Explorer.applyFilters(Explorer.flatten(spark.read.parquet(ordersDir)), r.filters)
    }
    r.kind match {
      case "metricTiles" => Explorer.metricTiles(flat)
      case "ordersBySegment" => Explorer.ordersBySegment(flat, r.arg, r.k)
      case "distinctValues" => Explorer.distinctValues(flat, r.arg)
      case "bounds" => Explorer.bounds(flat, r.arg)
      case "preview" => Explorer.preview(flat, r.cols, r.limit)
    }
  }

  def op(i: Int): OpResult = { val r = request(at(i)); Exec.release(spark); r }

  private def request(o: Either[String, Req]): OpResult = o match {
    case Left(q) =>
      val df = Trace.span("queries.build")(SparkEntry.queries(q)(spark, dataDir))
      Trace.span("queries.exec")(Exec.sink(df))
      OpResult(q, 0L)
    case Right(r) =>
      val rows = Trace.span(s"query.${r.kind}")(Exec.collect(explorer(r)).length)
      Counters.add("query.rows", rows.toDouble)
      OpResult(s"explorer_${r.kind}", rows.toLong)
  }

  /** Writes the result of the timed loop's first request of each
    * Explorer kind, and the manifest run.py compares against the DuckDB
    * oracle: those results and the warm-up's query results. */
  def check(): Seq[CheckFailure] = {
    val firsts = ExplorerKinds.map(k => pass(TimedPass).collectFirst {
      case Right(r) if r.kind == k => r }.get)
    firsts.foreach(r => explorer(r).coalesce(1).write.parquet(s"$checks/explorer_${r.kind}"))
    Files.write(Paths.get(s"$workDir/checks.json"), Json(Map(
      "dir" -> checks, "orders" -> ordersDir,
      "explorer" -> firsts.map(r => s"explorer_${r.kind}" -> r.spec).toMap,
      "oracle" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
      .getBytes(StandardCharsets.UTF_8))
    Nil
  }

  /** The search indexes an analyst's similarity lookups read, churned:
    * every family's probe and maintenance calls once, then the churned
    * indexes checked against fresh builds and the native kernels timed. */
  override def tracedExtras(firstOp: Int): Seq[CheckFailure] = {
    val churn = new IndexChurn(spark, seed, dataDir, s"$workDir/index")
    churn.build()
    churn.calls.indices.foreach(j => Trace.op(firstOp + j)(churn.churnOp(j)))
    churn.check()
  }
}

object Explore {
  /** The light declared queries: the q, g and p tier queries whose
    * steady time at sf0.1 (plans/bench_steady.tsv as of commit cbda9af)
    * is at or below their tier's median, 32 of 64 q, 10 of 19 g and 4 of
    * 8 p. All 91 take about 32 s a pass at sf0.01 on a 4-core host, and
    * a run holds a warm-up pass and two timed passes; this half takes
    * about 10 s a pass. */
  val Queries: Seq[String] = Seq(
    "q01_count_global", "q02_group_count", "q04_minmax_avg", "q05_count_distinct",
    "q06_distinct_limit", "q07_conditional_agg", "q08_moments", "q09_having",
    "q10_ratio_to_total", "q11_filter_compare", "q12_between", "q13_in_list",
    "q14_ts_interval", "q15_ilike_search", "q16_null_pred", "q17_regex", "q21_topk",
    "q23_union_counts", "q24_union_all", "q25_values_inline", "q26_distinct_star",
    "q28_substr_group", "q29_mask_concat", "q30_sha2", "q31_case_coalesce",
    "q33_datediff", "q34_mod_bucket", "q36_frac_nullif", "q44_pivot", "q45_stats_agg",
    "q57_moving_avg", "q59_histogram",
    "g02_range_violations", "g03_null_profile", "g04_format_violations",
    "g06_metrics_batch", "g07_latest_metric", "g08_threshold_alerts",
    "g09_hourly_trend", "g13_benford", "g14_k_anonymity", "g15_entropy",
    "p01_pii_registry", "p03_mask_analyst", "p05_retention", "p06_anonymize")
  val ExplorerKinds: Seq[String] =
    Seq("metricTiles", "ordersBySegment", "distinctValues", "bounds", "preview")
  val OrdersRows = 20000L
  val WarmThreads = 4
  /** Explorer requests of each kind in a pass: four samples of each
    * kind a pass, while the declared queries stay 70% of the ops. */
  val RequestsPerKind = 4
  /** Two passes a round: 132 ops, so at least ten lie beyond the p90. */
  val PassesPerRound = 2
  /** Passes of the warm-up and of the timed loop's first round. */
  val WarmPass = 0
  val TimedPass = 1
  val Brands: Seq[String] = (CarCatalog.specs.map(_.brand) :+ "UNKNOWN").distinct.sorted
  val Engines: Seq[String] = (CarCatalog.specs.map(_.engine) :+ "UNKNOWN").distinct.sorted
  val States: Seq[String] = Seq("AL", "AZ", "CA", "CO", "FL", "GA", "IL",
    "MA", "NY", "OH", "OR", "PA", "TX", "UT", "VA", "WA")
  val Needles: Seq[String] = Seq("ada", "knuth", "@example", "+1-2", "grace", "00")
  val SegmentCols: Seq[String] = Seq("BRAND", "ENGINE", "CAR_MODEL", "STATE", "CITY")
  val DistinctCols: Seq[String] = Seq("BRAND", "ENGINE", "CAR_MODEL", "STATE", "CITY")
  val BoundCols: Seq[String] = Seq("HORSEPOWER", "SELL_PRICE", "DAYS", "PURCHASE_TIME")
  val PreviewCols: Seq[String] = Seq("TXID", "BRAND", "ENGINE", "HORSEPOWER",
    "SELL_PRICE", "PURCHASE_TIME", "DAYS", "STATE", "CITY")

  final case class Req(kind: String, filters: OrderFilters, arg: String,
      k: Int, cols: Seq[String], limit: Int) {
    /** The request as oracle.py reads it. */
    def spec: Map[String, Any] = Map("kind" -> kind, "brands" -> filters.brands,
      "engines" -> filters.engines, "hp" -> filters.hpRange.map(h => Seq(h._1, h._2)),
      "dates" -> filters.dateRange.map(d => Seq(d._1, d._2)), "search" -> filters.search,
      "states" -> filters.states, "arg" -> arg, "k" -> k, "cols" -> cols, "limit" -> limit)
  }
}
