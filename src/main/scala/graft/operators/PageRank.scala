package graft.operators

import graft.operators.Caches.EagerOps
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Distributed PageRank by power iteration (Page, Brin, Motwani,
  * Winograd, "The PageRank Citation Ranking", Stanford tech report
  * 1999) — the iterative-graph member of the analytics tier: rank mass
  * flows along edges, damped by a uniform jump.
  *
  * Scale shape: per-node state is a fixed-width (node, deg, rank) row
  * that lives DISTRIBUTED for the whole fit — nothing is collected.
  * Each iteration is one equi-join of the rank state onto the edge list
  * (keyed by src) plus one map-side-combinable sum (keyed by dst): at
  * 1000 executors that is two narrow shuffles per iteration over
  * 16-24-byte rows, with high-in-degree hubs absorbed by partial
  * aggregation and high-out-degree hubs by AQE skew splitting (the rank
  * side of the join is one row per node). The edge list and degree
  * table are materialized once ([[Caches.scoped]]) and reused by every
  * iteration — `iters` iterations cost `iters` state-sized shuffles,
  * not `iters` edge-building scans.
  *
  * Determinism contract (the [[LogReg]]/kmeans recipe): ranks are
  * quantized to 12 dp each iteration; per-edge contributions are
  * IEEE-754 double divisions (bit-identical on every engine) rounded to
  * 13 dp and summed as DECIMAL(38,13) — exact, order-independent — so
  * the oracle replays the identical arithmetic as an unrolled CTE
  * chain.
  *
  * Contract: every node reachable by an edge must also have at least
  * one out-edge (no dangling nodes — symmetrize the edge list for
  * undirected graphs). Violations fail fast with one bounded probe
  * rather than silently leaking rank mass. Parallel edges collapse
  * (simple-graph semantics); self-loops are allowed.
  */
object PageRank {

  /** Ranks after `iters` damped power iterations over the directed
    * edge list. Output: (node, deg, rank), one row per node.
    *
    * `assumeSimple`: the caller GUARANTEES the edge list is already
    * deduplicated — the internal parallel-edge collapse (a full
    * edge-width distinct exchange, the single most expensive setup
    * step at corpus scale) is skipped. Use when simplicity is
    * structural: e.g. a `distinct() ∪ swap(distinct())` symmetrization
    * over a bipartite graph cannot produce duplicates (the two
    * branches have opposite key parity). A false guarantee double-
    * counts the duplicated edges' contributions — same failure mode as
    * lying to any pre-aggregated input contract. */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85,
      assumeSimple: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(damping > 0 && damping < 1, s"damping ($damping) in (0, 1)")
    val base = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val edges = if (assumeSimple) base else base.distinct()
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))

    Caches.scoped(edges, deg) {
      // n is ONE number for the whole fit — collect it once (bounded:
      // a 1-row aggregate) instead of re-broadcasting a 1-row table
      // into every iteration's plan (measured: one broadcast exchange
      // + crossJoin dropped from each of `iters` per-iteration jobs).
      // Long→double is exact below 2^53 nodes; the arithmetic is
      // bit-identical to the previous column division.
      val n = deg.count().toDouble
      // ONE pass over the cached edges computes BOTH loop constants:
      // the edge count (gates the contrib broadcast — the hint only
      // pays when the streamed edge list genuinely dwarfs the n-row
      // rank state, see broadcastIfWorthIt) and the dangling-sink
      // probe (a dst with no out-edges would swallow rank mass the
      // jump never returns — fail fast rather than silently leak).
      // deg — whose row count is already in hand — broadcasts below
      // the cap, so the pass is one co-located scan; the former
      // separate count + early-out anti-join paid two scans on every
      // HEALTHY graph to early-out only on broken ones.
      val statsRow = edges.select(col("dst").as("node"))
        .join(Caches.broadcastIfSmall(
          deg.select(col("node"), lit(1).as("__hit")), n.toLong),
          Seq("node"), "left")
        .agg(count(lit(1)).as("__e"),
          coalesce(F.sum(when(col("__hit").isNull, 1L).otherwise(0L)),
            lit(0L)).as("__miss"))
        .collect()(0) // 1-row aggregate
      val eCnt = statsRow.getLong(0)
      require(statsRow.getLong(1) == 0L,
        "pageRank: dangling node (dst with no out-edges); " +
          "symmetrize the edge list or drop sink nodes first")
      var r = deg.select(col("node"), col("deg"),
        round(lit(1.0 / n), 12).as("r"))
      var prevCkpt: Option[DataFrame] = None
      val cadence = ckptCadence(edges0.sparkSession)
      // the whole fit loop runs under iteration conf (AQE off, shuffle
      // width sized from the known n-row state): every checkpoint
      // materialization becomes ONE pipelined job instead of a stage-
      // job + driver re-plan per exchange per iteration — the values
      // are untouched (same plans, same arithmetic, different
      // scheduling), so the oracle never notices
      Caches.withIterationConf(edges0.sparkSession, n.toLong) {
      for (t <- 1 to iters) {
        // per-edge contribution as EXACT 13-dp fixed point in LONG
        // units (k = c·10¹³): round(·,13) yields the double nearest a
        // 13-dp decimal k·10⁻¹³ with k ≤ 10¹³ < 2⁵³, so ·10¹³ + rint
        // recovers k exactly. The hot per-edge aggregate is then a
        // primitive codegen sum(long) instead of a BigDecimal-backed
        // decimal(38,13) sum — same integers, same order-independence.
        // No overflow at ANY scale: Σ over all dst of all k = 10¹³ ·
        // Σ r ≈ 10¹³ (total rank mass ~1), eleven orders under 2⁶³.
        val contrib = r.select(col("node").as("src"),
          rint(round(col("r") / col("deg"), 13) * lit(1e13))
            .cast("long").as("__c"))
        // rank state is checkpoint-backed (unknown-size sentinel), so
        // without the gated hint Catalyst re-shuffles the FULL edge list
        // on src every iteration just to meet an n-row table; below the
        // cap each iteration is instead one broadcast pass over the
        // co-located edges (n is already in hand — no extra job)
        val inflow = edges
          .join(Caches.broadcastIfWorthIt(contrib, n.toLong, eCnt), "src")
          .groupBy(col("dst").as("node")).agg(F.sum(col("__c")).as("__s"))
        // checkpoint every `cadence` iterations' state (the bfsHops
        // discipline, batched): lineage stays O(1)-bounded — the
        // optimizer sees plans at most two joins deep, still far from
        // the `iters`-deep tree whose analysis/codegen blow-up measured
        // 14.4 s at sf0.1 — while the materialization jobs halve
        // (checkpointing is pure plan management: the quantized values
        // are identical at any cadence, so the oracle never notices)
        // deg⋈inflow is n-rows-vs-n-rows — the near-1-ratio shape where
        // a broadcast's fixed cost loses to the narrow shuffle; the
        // worth-it gate correctly never fires here (deg's persisted
        // stats let AQE pick a broadcast on its own if it is truly tiny)
        // rescale the long-unit sum back EXACTLY like the former
        // decimal(38,13) cast to double: long → decimal(20,0) (exact)
        // × 10⁻¹³ (decimal(13,13) literal → decimal(34,13) product,
        // exact) → double (correctly-rounded BigDecimal.doubleValue,
        // the identical rounding the decimal cast performed) — n rows
        // once per iteration, not per edge
        r = deg.join(Caches.broadcastIfWorthIt(inflow, n.toLong, n.toLong),
            Seq("node"), "left")
          .select(col("node"), col("deg"),
            round(lit((1.0 - damping) / n) +
              lit(damping) * coalesce(
                (col("__s").cast("decimal(20,0)") *
                  lit(new java.math.BigDecimal("1E-13"))).cast("double"),
                lit(0.0)),
              12).as("r"))
        if (t % cadence == 0 || t == iters) {
          r = r.eagerCheckpoint()
          // the previous batch-checkpoint is dead once the new state is
          // materialized — release its blocks instead of stacking
          // iters/2 state snapshots in executor storage
          prevCkpt.foreach(Caches.release)
          prevCkpt = Some(r)
        }
      }
      }
      r.select(col("node"), col("deg"), col("r").as("rank"))
    }
  }

  /** Upper bound on [[ckptCadence]]: a cadence near `iters` brings back
    * the `iters`-deep plan whose analysis blew up. */
  val MaxCkptCadence = 8

  /** Checkpoint cadence: how many iterations ride one lineage before
    * the state is re-materialized. Cadence trades per-round checkpoint
    * jobs against optimizer-visible plan depth (an `iters`-deep join
    * tree measured a 14.4 s analysis blow-up at sf0.1 in round 11); 2
    * re-measured optimal (ABAB at sf0.1 and the ~sf1 leg — see
    * OPTIMIZATION_r14.md) against 3 and 5. Overridable by
    * `SPARK_GRAFT_PAGERANK_CADENCE` or `spark.graft.pagerank.ckptCadence`
    * so the next scale regime can re-measure instead of re-patching;
    * clamped to [1, [[MaxCkptCadence]]]. */
  def ckptCadence(spark: org.apache.spark.sql.SparkSession): Int =
    sys.env.get("SPARK_GRAFT_PAGERANK_CADENCE")
      .orElse(scala.util.Try(spark.conf
        .get("spark.graft.pagerank.ckptCadence")).toOption)
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(2)
      .max(1).min(MaxCkptCadence)

  /** DuckDB twin over an edge CTE named `e` (columns src, dst, already
    * distinct, no danglings): the same damped iterations unrolled
    * r0 → r1 → … → r`iters`. */
  def pageRankOracleSql(edgeCte: String, iters: Int,
      damping: Double = 0.85): String = {
    val steps = (1 to iters).map { t =>
      s"""r$t AS (
         |  SELECT d.node, d.deg,
         |    ROUND(${1.0 - damping}/n.n + $damping*COALESCE(CAST(s.__s AS DOUBLE), 0.0), 12) AS r
         |  FROM deg d
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      SUM(CAST(ROUND(p.r/p.deg, 13) AS DECIMAL(38,13))) AS __s
         |    FROM e JOIN r${t - 1} p ON e.src = p.node GROUP BY e.dst) s
         |  ON d.node = s.node, n)""".stripMargin
    }
    s"""WITH $edgeCte,
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT node, deg, ROUND(1.0/n.n, 12) AS r FROM deg, n),
       |${steps.mkString(",\n")}
       |SELECT node, deg, r AS rank FROM r$iters ORDER BY node""".stripMargin
  }
}
