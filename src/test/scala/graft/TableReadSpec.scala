package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.core.Tables

/** [[Tables.readParquet]] resolves the schema from one footer on the
  * driver: it must agree with Spark's own inference
  * (`spark.read.parquet(p).schema`) on every layout the warehouse
  * writes, never serve a stale schema, fail the way Spark fails, and
  * start no Spark job. */
class TableReadSpec extends SparkSuite {

  private def sparkSchema(p: String) = spark.read.parquet(p).schema

  private def scratch(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    Tables.deleteRecursivelyOnExit(d.toString)
    d
  }

  test("footer schema ≡ Spark's inferred schema for every test table") {
    // Tables.table sets the session's nanos-as-long mode first; both
    // readers below must convert under the same settings
    Tables.table(spark, sf0001, "region")
    for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      name <- Tables.all
    } {
      val p = s"/root/testdata/$sf/$name.parquet"
      assert(Tables.readParquet(spark, p).schema === sparkSchema(p), s"$sf/$name")
    }
    // a glob names no file of its own: Spark expands and infers it
    val glob = s"$sf0001/{region,nation}.parquet"
    assert(Tables.readParquet(spark, glob).schema === sparkSchema(glob))
  }

  test("multi-part directory: same file, same schema; mergeSchema stays Spark's") {
    val dir = scratch("graft_read_multi")
    val p = s"$dir/orders.parquet"
    Tables.table(spark, sf0001, "orders").repartition(3)
      .write.mode("overwrite").parquet(p)
    assert(Tables.readParquet(spark, p).schema === sparkSchema(p))
    assert(Tables.table(spark, dir.toString, "orders").count() ===
      Tables.table(spark, sf0001, "orders").count())

    // two part files whose schemas differ: with mergeSchema off Spark
    // takes the first file by path, and so must the footer read
    val mixed = s"$dir/mixed.parquet"
    spark.range(5).select(col("id").as("a")).write.parquet(mixed)
    spark.range(5).select(col("id").as("a"), lit("x").as("b"))
      .write.mode("append").parquet(mixed)
    assert(Tables.readParquet(spark, mixed).schema === sparkSchema(mixed))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(Tables.readParquet(spark, mixed).schema === sparkSchema(mixed))
      assert(Tables.readParquet(spark, mixed).columns.toSet === Set("a", "b"))
    } finally spark.conf.unset(key)
  }

  test("p_date-partitioned table: data schema from a footer, p_date from the paths") {
    val dir = s"${scratch("graft_read_part")}/events"
    Tables.ctas(Tables.table(spark, sf0001, "events"), dir,
      partitionDateCol = Some("ts"))
    val got = Tables.readParquet(spark, dir)
    assert(got.schema === sparkSchema(dir))
    assert(got.schema(Tables.DatePartitionCol).dataType ===
      org.apache.spark.sql.types.DateType)
    assert(got.count() === Tables.table(spark, sf0001, "events").count())
  }

  test("a table rewritten in place with a new schema is seen on the next call") {
    val dir = scratch("graft_read_rewrite")
    val d = s"$dir/t.parquet"
    spark.range(3).select(col("id").as("a")).write.mode("overwrite").parquet(d)
    assert(Tables.readParquet(spark, d).columns.toSeq === Seq("a"))
    spark.range(3).select(col("id").cast("string").as("b"), lit(1).as("c"))
      .write.mode("overwrite").parquet(d)
    assert(Tables.readParquet(spark, d).schema === sparkSchema(d))
    assert(Tables.readParquet(spark, d).columns.toSeq === Seq("b", "c"))

    // a plain file replaced in place
    val f = dir.resolve("single.parquet")
    def place(src: String): Unit = {
      val part = Files.list(java.nio.file.Paths.get(src))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, f, StandardCopyOption.REPLACE_EXISTING)
    }
    spark.range(2).select(col("id").as("x")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/src1")
    spark.range(2).select(lit("v").as("y")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/src2")
    place(s"$dir/src1")
    assert(Tables.readParquet(spark, f.toString).columns.toSeq === Seq("x"))
    place(s"$dir/src2")
    val again = Tables.readParquet(spark, f.toString)
    assert(again.columns.toSeq === Seq("y"))
    assert(again.collect().map(_.getString(0)).toSeq === Seq("v", "v"))
  }

  test("empty and missing directories fail exactly as spark.read.parquet does") {
    val empty = scratch("graft_read_empty").toString
    val missing = s"$empty/absent.parquet"
    Seq(empty, missing).foreach { p =>
      val want = intercept[Throwable](spark.read.parquet(p))
      val got = intercept[Throwable](Tables.readParquet(spark, p))
      assert(got.getClass === want.getClass, p)
      assert(got.getMessage === want.getMessage, p)
    }
  }

  test("Tables.table starts zero Spark jobs") {
    Tables.table(spark, sf0001, "region") // session conf settles first
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val (schemas, jobs) = countJobs(
        Tables.all.map(n => Tables.table(spark, s"/root/testdata/$sf", n).schema))
      assert(schemas.size === Tables.all.size)
      assert(jobs === 0, s"$sf: $jobs Spark jobs to open ${Tables.all.size} tables")
    }
  }
}
