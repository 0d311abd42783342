package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{FreqSketchAgg, ZValue}
import graft.operators.{Dedup, Projection, SearchIndex, Similarity}

/** The search indexes under churn: the MinHash (Dedup), BM25
  * (SearchIndex) and IVF (Similarity) indexes, built over the first
  * [[LiveShare]] of the documents and embeddings, then probed and
  * maintained (append, delete, purge, compact). The traced explore run
  * takes every family through every call once ([[churnOp]]), checks the
  * churned indexes against fresh builds, and times the native kernels. */
final class IndexChurn(spark: SparkSession, seed: Long, dataDir: String,
    workDir: String) {
  import IndexChurn._
  import spark.implicits._

  private val docs: Map[Long, String] = graft.core.Tables.table(spark, dataDir, "documents")
    .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private val vecs: Map[Long, Seq[Float]] = graft.core.Tables.table(spark, dataDir, "embeddings")
    .select("vec_id", "embedding").collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  private val docIds = docs.keys.toSeq.sorted
  /** The documents' words, for probe edits and search terms. */
  private val vocab: IndexedSeq[String] =
    docs.values.flatMap(_.split(" ")).toSeq.distinct.sorted.toIndexedSeq
  private val vecIds = vecs.keys.toSeq.sorted

  private val dir = s"$workDir/indexes"
  /** A family's live ids and the next unindexed id to append. */
  private final class Fam(val live: mutable.Set[Long], var next: Int)
  private val state = mutable.Map.empty[String, Fam]

  /** Every family's probe, then its maintenance calls in lifecycle order. */
  val calls: Seq[(String, String)] = for (f <- Families; k <- "probe" +: Maintenance) yield (f, k)

  def churnOp(j: Int): OpResult = {
    val (f, kind) = calls(j)
    val rows = run(f, kind, Exec.rng(seed, 60, j))
    Exec.release(spark)
    OpResult(s"$f.$kind", rows)
  }

  private def idxDir(f: String) = s"$dir/$f"
  private def docFrame(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, docs(id))).toDF("doc_id", "text")
  private def vecFrame(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vecs(id))).toDF("vec_id", "embedding")
  private def ids(f: String) = if (f == "ivf") vecIds else docIds

  private def build(f: String, members: Seq[Long], into: String): Unit = f match {
    case "minhash" => Dedup.buildMinhashIndex(docFrame(members), "doc_id", "text", into,
      parts = Parts)
    case "bm25" => SearchIndex.buildBm25Index(docFrame(members), "doc_id", "text", into,
      parts = Parts)
    case "ivf" => Similarity.buildIvfIndex(vecFrame(members), "vec_id", "embedding", into,
      nCentroids = Centroids)
  }

  def build(): Unit = {
    Exec.rmTree(dir)
    Families.foreach { f =>
      val n = (ids(f).size * LiveShare).toInt
      state(f) = new Fam(mutable.Set(ids(f).take(n): _*), n)
      build(f, ids(f).take(n), idxDir(f))
    }
  }

  /** A probe's inputs, drawn from `r`. */
  private def probe(f: String, r: java.util.SplittableRandom, d: String): DataFrame = f match {
    case "minhash" =>
      // a near copy of a live document, so the probe has a match to find
      val live = state(f).live.toSeq.sorted
      val base = live(r.nextInt(live.size))
      val words = docs(base).split(" ")
      words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.size))
      val probes = Seq((ProbeIdBase + base, words.mkString(" ")))
      Dedup.probeMinhashIndex(spark, d, probes.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5)
    case "bm25" =>
      val terms = Exec.shuffle(vocab, r).take(2 + r.nextInt(2))
      SearchIndex.bm25Serve(spark, d, terms, k = 10)
    case "ivf" =>
      val base = vecs(vecIds(r.nextInt(vecIds.size)))
      val q = base.map(x => x + (r.nextDouble() - 0.5).toFloat * 0.05f)
      Similarity.ivfServeTopK(spark, d, Seq((ProbeIdBase, q)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 10)
  }

  private def run(f: String, kind: String, r: java.util.SplittableRandom): Long =
    Trace.span(s"operators.$f.$kind") {
      val d = idxDir(f)
      kind match {
        case "probe" =>
          val n = Exec.collect(probe(f, r, d)).length.toLong
          Counters.add(s"operators.$f.probe_rows", n.toDouble)
          n
        case "append" =>
          val st = state(f)
          val add = ids(f).slice(st.next, st.next + AppendBatch)
          require(add.nonEmpty, s"$f: no unindexed ids left to append")
          st.next += add.size
          st.live ++= add
          f match {
            case "minhash" => Dedup.appendToMinhashIndex(spark, d, docFrame(add), "doc_id", "text")
            case "bm25" => SearchIndex.appendToBm25Index(spark, d, docFrame(add), "doc_id", "text")
            case "ivf" => Similarity.appendToIvfIndex(spark, d, vecFrame(add), "vec_id", "embedding")
          }
          add.size.toLong
        case "delete" =>
          val live = state(f).live
          val victims = Exec.shuffle(live.toSeq.sorted, r).take(DeleteBatch)
          live --= victims
          val frame = victims.toDF("id")
          f match {
            case "minhash" => Dedup.deleteFromMinhashIndex(spark, d, frame)
            case "bm25" => SearchIndex.deleteFromBm25Index(spark, d, frame.toDF("doc_id"))
            case "ivf" => Similarity.deleteFromIndex(spark, d, frame.toDF("neighbor_id"))
          }
          victims.size.toLong
        case "purge" =>
          f match {
            case "minhash" => Dedup.purgeMinhashTombstones(spark, d)
            case "bm25" => SearchIndex.purgeBm25Tombstones(spark, d)
            case "ivf" => Similarity.purgeIndexTombstones(spark, d)
          }
          0L
        case "compact" =>
          f match {
            case "minhash" => Dedup.compactMinhashIndex(spark, d, CompactBytes)
            case "bm25" => SearchIndex.compactBm25Index(spark, d, CompactBytes)
            case "ivf" => Similarity.compactIndex(spark, d, CompactBytes)
          }
          0L
      }
    }

  /** Every churned index must answer a probe exactly as an index freshly
    * built over the live set does (IVF keeps its frozen centroids, which
    * is the family's contract: the fresh lists are assigned against the
    * same centroid table). */
  def check(): Seq[CheckFailure] = {
    val out = Families.flatMap { f =>
      val fresh = s"$dir/fresh_$f"
      val members = state(f).live.toSeq.sorted
      if (f == "ivf") {
        spark.read.parquet(s"${idxDir(f)}/centroids").write.parquet(s"$fresh/centroids")
        Similarity.appendToIvfIndex(spark, fresh, vecFrame(members), "vec_id", "embedding")
      } else build(f, members, fresh)
      val got = rowsOf(probe(f, Exec.rng(seed, 50, 0), idxDir(f)))
      val want = rowsOf(probe(f, Exec.rng(seed, 50, 0), fresh))
      Exec.release(spark)
      if (got == want) None
      else Some(CheckFailure(s"$f.probe",
        s"$f: churned index returned ${got.size} rows, fresh build ${want.size}; first diff " +
          got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("")))
    }
    kernels()
    out
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** Each native kernel, and its built-in twin where one exists, over
    * the same rows: one untimed run, then one timed run. */
  private def kernels(): Unit = {
    val d = docFrame(docIds).crossJoin(spark.range(KernelReplicas).toDF("rep"))
      .select((col("doc_id") * KernelReplicas + col("rep")).as("doc_id"), col("text"))
    val v = vecFrame(vecIds).crossJoin(spark.range(KernelReplicas).toDF("rep"))
      .select((col("vec_id") * KernelReplicas + col("rep")).as("vec_id"), col("embedding"))
    val hs = d.select(col("doc_id").as("id"), Dedup.hashedShingles(col("text"), 3).as("hs"))
    val cases: Seq[(String, DataFrame)] = Seq(
      "shingle_hashes" -> d.select(Dedup.hashedShingles(col("text"), 3)),
      "shingle_hashes.twin" -> d.select(Dedup.hashedShinglesExpr(col("text"), 3)),
      "minhash_sig" -> Dedup.signaturesFromHashes(hs),
      "minhash_sig.twin" -> Dedup.signaturesFromHashesExpr(hs),
      "simhash_chunks" -> Dedup.withSimhashChunks(d, "doc_id", "text"),
      "simhash_chunks.twin" -> Dedup.withSimhashChunksExpr(d, "doc_id", "text"),
      "freq_sketch" -> d.select(explode(split(col("text"), " ")).as("tok"))
        .agg(FreqSketchAgg.freqSketch(col("tok"), 64)),
      "rand_project" -> Projection.randProject(v, "vec_id", "embedding", 64, 16),
      "z_value" -> v.select(ZValue(col("vec_id"), (col("vec_id") * 7919L) % 65536L)))
    cases.foreach { case (name, df) =>
      Exec.sink(df)
      Trace.span(s"functions.$name")(Exec.sink(df))
    }
  }
}

object IndexChurn {
  val Families: Seq[String] = Seq("minhash", "bm25", "ivf")
  val Maintenance: Seq[String] = Seq("append", "delete", "purge", "compact")
  val LiveShare = 0.7
  val AppendBatch = 20
  val DeleteBatch = 10
  val Parts = 2
  val Centroids = 4
  val CompactBytes: Long = 1L << 20
  val ProbeIdBase = 1000000000L
  val KernelReplicas = 8L
  val Kernels: Seq[String] = Seq("minhash_sig", "shingle_hashes", "freq_sketch",
    "rand_project", "z_value", "simhash_chunks")
  /** Kernels with a built-in twin (`Dedup.*Expr`). */
  val Twins: Seq[String] = Seq("minhash_sig", "shingle_hashes", "simhash_chunks")
}
