package graft

/** Job-count gate: building a declared light-tier query (q, g, p) is
  * pure planning. Opening its tables reads footers on the driver
  * ([[graft.core.Tables.readParquet]]), so constructing the DataFrame
  * starts no Spark job; only executing it does. A host-independent
  * counter, unlike the build time it keeps low. */
class BuildJobsSpec extends SparkSuite {

  /** Queries whose construction legitimately runs jobs, with why. */
  private val exempt = Map(
    "q64_warehouse_prune" ->
      ("writes a date-partitioned scratch copy of events (CTAS) and " +
        "re-reads it, which is the layout the query exists to show"))

  test("building every declared q*, g* and p* query at sf0.001 starts zero Spark jobs") {
    assert(exempt.keySet.subsetOf(SparkEntry.queries.keySet))
    val light = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => "qgp".contains(n.head) && !exempt.contains(n) }
    assert(light.size > 80, s"only ${light.size} q/g/p queries declared")
    graft.core.Tables.table(spark, sf0001, "region") // session conf settles first
    val offenders = light.flatMap { case (name, fn) =>
      val (_, jobs) = countJobs(fn(spark, sf0001))
      spark.catalog.clearCache()
      if (jobs > 0) Some(s"$name: $jobs") else None
    }
    assert(offenders.isEmpty,
      s"queries that start Spark jobs while building:\n${offenders.mkString("\n")}")
  }
}
