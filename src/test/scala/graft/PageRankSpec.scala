package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** PageRank: the distributed power iteration must equal a driver-side
  * reference that replays the identical quantized arithmetic (12 dp
  * ranks, 13 dp decimal contributions), and its invariants must hold on
  * randomized graphs. */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  private def ref(edges: Seq[(Long, Long)], iters: Int,
      damping: Double): Map[Long, Double] = {
    def rnd(x: Double, s: Int): Double =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val es = edges.distinct
    val deg = es.groupBy(_._1).map { case (v, g) => v -> g.size }
    val n = deg.size
    var r = deg.keys.map(v => v -> rnd(1.0 / n, 12)).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map[Long, BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      es.foreach { case (s0, d0) =>
        inflow(d0) += BigDecimal.valueOf(r(s0) / deg(s0))
          .setScale(13, BigDecimal.RoundingMode.HALF_UP)
      }
      r = deg.keys.map(v => v ->
        rnd((1 - damping) / n + damping * inflow(v).toDouble, 12)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int = 5,
      damping: Double = 0.85): Map[Long, Double] =
    PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst", iters, damping)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

  test("randomized symmetric graphs: distributed ≡ reference, mass ≈ 1") {
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val n = 20 + trial * 10
      val directed = (0 until n * 3).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val edges = directed ++ directed.map(_.swap) // symmetric → no danglings
      val got = run(edges, iters = 3 + trial)
      val want = ref(edges, iters = 3 + trial, damping = 0.85)
      assert(got === want, s"trial $trial diverged")
      val mass = got.values.sum
      assert(math.abs(mass - 1.0) < 1e-6, s"rank mass $mass drifted")
      assert(got.values.forall(_ > 0), "nonpositive rank")
    }
  }

  test("two-node symmetric graph is uniform; star concentrates on the hub") {
    val two = run(Seq((1L, 2L), (2L, 1L)))
    assert(two(1L) === two(2L))
    val star = run((2L to 9L).flatMap(i => Seq((1L, i), (i, 1L))))
    assert(star(1L) > star(2L) * 3, "hub should dominate leaves")
    assert((2L to 9L).map(star).distinct.size === 1, "leaves should tie")
  }

  test("an oversized checkpoint-cadence override runs at the clamp, ranks unchanged") {
    val rng = new scala.util.Random(29)
    val directed = (0 until 120).map(_ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val edges = directed ++ directed.map(_.swap)
    val key = "spark.graft.pagerank.ckptCadence"
    val default = run(edges, iters = 12)
    spark.conf.set(key, "1000")
    val clamped =
      try {
        assert(PageRank.ckptCadence(spark) === PageRank.MaxCkptCadence)
        run(edges, iters = 12)
      } finally spark.conf.unset(key)
    assert(clamped === default)
    assert(clamped === ref(edges, iters = 12, damping = 0.85))
  }

  test("parallel edges collapse; dangling sinks fail fast") {
    val multi = run(Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 1L)))
    assert(multi === run(Seq((1L, 2L), (2L, 1L))))
    val e = intercept[IllegalArgumentException] {
      run(Seq((1L, 2L))) // 2 has no out-edge
    }
    assert(e.getMessage.contains("dangling"))
  }
}
