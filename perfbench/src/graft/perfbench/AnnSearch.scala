package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Main

/** `ann_search`: read-only serving against a fixed index. Set-up builds
  * the PQ + IVF index once with `Main.runIndex`; each op serves one
  * batch of query vectors through `Main.runSearch` with IVF probes. */
final class AnnSearch(p: Params, seed: Long, work: Path)
    extends Workload(work) {
  import Workload._

  private var vectors: Gen.Vectors = _
  private val indexDir = dir("index").toString
  private var batch = 0
  private var served = 0L
  private val timed = mutable.ArrayBuffer.empty[Int]
  private var indexS = Double.NaN
  private var recall = Double.NaN
  private val topK = p.int("top_k")
  private val perBatch = p.int("queries_per_batch")
  /** Query ids sit above every indexed id: the search never returns a
    * vector as its own neighbour, and queries are not indexed. */
  private val queryBase = 1L << 32

  private def embPath = dir("embeddings").toString
  private def queryDir(b: Int) = dir("queries").resolve(s"batch=$b").toString

  def generate(): Unit = {
    vectors = new Gen.Vectors(seed, p)
    ParquetOut.writeVectors(embPath,
      vectors.index.indices.map(i => (i.toLong, vectors.index(i))))
  }

  /** Set-up builds the index; the warm-up op serves query batch 0. */
  def setUp(spark: SparkSession): Double = {
    val (_, s) = seconds(Main.runIndex(spark, embPath, indexDir))
    indexS = s
    val (_, genS) = seconds(prepare())
    search(spark, Tracer.off, dir("warm-hits").toString)
    genS
  }

  /** Write the next batch of query vectors. */
  override def prepare(): Unit = ParquetOut.writeVectors(queryDir(batch),
    vectors.nextQueries(perBatch).map(i => (queryBase + i, vectors.queries(i))))

  private def search(spark: SparkSession, tr: Tracer, out: String): Unit = {
    served = tr.span("operators.quantize", "runSearch") {
      Main.runSearch(spark, indexDir, queryDir(batch), out, topK,
        Some(p.int("probes")))
    }
    batch += 1
  }

  def op(spark: SparkSession, tr: Tracer): Long = {
    search(spark, tr, dir("hits").resolve(s"batch=$batch").toString)
    timed += batch - 1
    perBatch.toLong
  }

  override def checkOp(spark: SparkSession): Seq[String] =
    if (served == perBatch.toLong * topK) Nil
    else Seq(s"batch ${timed.last} served $served hits, want ${perBatch * topK}")

  /** Every query has exactly ranks 1..topK; recall@k against an exact
    * top-k (squared L2, ties by id) computed here on the driver. */
  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    if (timed.isEmpty) return Nil
    val hits = spark.read.parquet(dir("hits").toString)
      .select("query_id", "neighbor_id", "rank").collect()
      .groupBy(_.getLong(0))
    val short = timed.flatMap { b =>
      (0 until perBatch).map(i => queryBase + b * perBatch + i)
        .filter(q => hits.get(q).forall(_.map(_.getInt(2)).sorted.toSeq != (1 to topK)))
        .map(q => (Some(timed.indexOf(b)), s"query $q does not return ranks 1..$topK"))
    }
    val recalls = hits.toSeq.map { case (q, rs) =>
      val qv = vectors.queries((q - queryBase).toInt)
      val exact = vectors.index.indices.sortBy { i =>
        val v = vectors.index(i)
        var d = 0.0
        var j = 0
        while (j < v.length) { val x = v(j) - qv(j); d += x * x; j += 1 }
        (d, i)
      }.take(topK).map(_.toLong).toSet
      rs.count(r => exact.contains(r.getLong(1))).toDouble / topK
    }
    recall = mean(recalls)
    short.toSeq.take(5)
  }

  def storedBytes: Long = bytesUnder(java.nio.file.Paths.get(indexDir))
  def inputBytes: Long = bytesUnder(dir("embeddings"))

  override def layerExtras(s: Map[String, Map[String, Double]])
      : Map[String, Double] = Map(
    "operators.quantize.index_s" -> indexS,
    "operators.quantize.recall_at_k" -> recall)

  override def detail: Map[String, Any] = Map("search_batches" -> timed.size, "index_s" -> indexS,
    "ann_recall_at_k" -> recall, "top_k" -> topK)
}
