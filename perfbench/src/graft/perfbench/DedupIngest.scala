package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Main
import graft.etl.LshIndex
import graft.operators.Dedup

/** `dedup_ingest`: incremental near-duplicate detection. Each op is one
  * id-ordered batch through `Main.runDedupIngest` with the exact-Jaccard
  * confirm rung on, against the corpus ingested so far; every
  * `compact_every_batches` batches `LshIndex.compact` rewrites the
  * growing signature store. */
final class DedupIngest(p: Params, seed: Long, work: Path)
    extends Workload(work) {
  import Workload._

  private var gen: Gen.DocBatches = _
  private val store = dir("store").toString
  private val corpusDir = dir("corpus")
  private var batch = 0
  private var ingested = 0L
  private val timed = mutable.ArrayBuffer.empty[Int]
  private val compactS = mutable.ArrayBuffer.empty[Double]
  private var confirmed = 0L
  private var candidates = 0L
  private var storeRows = 0L
  private var plantedFound = 0
  private val threshold = p.double("confirm_threshold")

  private def batchDir(b: Int) = dir("batches").resolve(s"batch=$b")

  def generate(): Unit = gen = new Gen.DocBatches(seed, p)

  /** Batch 0 is the warm-up op: it starts the store. */
  def setUp(spark: SparkSession): Double = {
    Files.createDirectories(corpusDir)
    val (_, genS) = seconds(prepare())
    ingest(spark, Tracer.off, dir("warm-pairs").toString)
    genS
  }

  private def batchFiles(b: Int): Seq[Path] = {
    val s = Files.list(batchDir(b))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** Write the next batch and add it to the corpus-so-far, which the
    * confirm rung reads to verify candidates against earlier batches. */
  override def prepare(): Unit = {
    ParquetOut.writeDocs(batchDir(batch).toString, gen.next(batch))
    batchFiles(batch).foreach { f =>
      ingested += Files.size(f)
      Files.copy(f, corpusDir.resolve(f"b$batch%05d-${f.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def ingest(spark: SparkSession, tr: Tracer, out: String): Unit = {
    tr.span("etl.lsh_index", "runDedupIngest") {
      Main.runDedupIngest(spark, batchDir(batch).toString, store, out,
        Some((corpusDir.toString, threshold)))
    }
    if (batch > 0 && batch % p.int("compact_every_batches") == 0) {
      val (_, s) = seconds(tr.span("etl.lsh_index", "compact") {
        new LshIndex(spark, store).compact()
      })
      compactS += s
    }
    batch += 1
  }

  def op(spark: SparkSession, tr: Tracer): Long = {
    timed += batch
    ingest(spark, tr, dir("pairs").resolve(s"batch=$batch").toString)
    p.int("batch_docs").toLong
  }

  /** The split-invariance contract, checked on everything ingested:
    * the store holds exactly the one-shot band signatures; the union
    * of the per-batch verified pairs equals the verify rung over a
    * one-shot probe into a fresh store, and lies inside its candidates. */
  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val corpus = spark.read.parquet(corpusDir.toString)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "band", "sig")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val stored = rows(new LshIndex(spark, store).storedSignatures)
    val want = rows(Dedup.bandSignatures(corpus, "doc_id", "text"))
    storeRows = stored.length.toLong
    val storeOk = stored.sorted.sameElements(want.sorted)
    val oneShot = new LshIndex(spark, dir("fresh-store").toString)
      .probeAndRecord(corpus, "doc_id", "text")
    val cands = oneShot.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.verifyCandidates(oneShot, corpus, "doc_id", "text", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val warm = spark.read.parquet(dir("warm-pairs").toString)
    val got = (if (timed.isEmpty) warm
      else warm.unionByName(spark.read.parquet(dir("pairs").toString)
        .select("doc_a", "doc_b", "jaccard")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    candidates = cands.size.toLong
    confirmed = got.size.toLong
    plantedFound = gen.planted.count(got.contains)
    Seq(
      storeOk -> "the LSH store differs from the one-shot band signatures",
      got.subsetOf(cands) -> s"${(got -- cands).size} verified pairs are not candidates",
      (got == verified) -> (s"per-batch verified pairs differ from the one-shot " +
        s"probe: ${(got -- verified).size} extra, ${(verified -- got).size} missing"))
      .collect { case (false, msg) => (None, msg) }
  }

  def storedBytes: Long = bytesUnder(java.nio.file.Paths.get(store))
  def inputBytes: Long = ingested

  override def layerExtras(s: Map[String, Map[String, Double]])
      : Map[String, Double] = {
    val storePath = java.nio.file.Paths.get(store)
    Map(
      "etl.lsh_index.store_rows" -> storeRows.toDouble,
      "etl.lsh_index.store_files" -> filesUnder(storePath, ".parquet").toDouble,
      "etl.lsh_index.compact_s" -> mean(compactS.toSeq),
      "operators.dedup.confirmed_per_candidate" ->
        (if (candidates == 0) 0.0 else confirmed.toDouble / candidates))
  }

  override def detail: Map[String, Any] = Map("ingest_batches" -> timed.size,
    "store_compactions" -> compactS.size, "candidates" -> candidates,
    "confirmed" -> confirmed, "planted_found" -> plantedFound,
    "planted_ingested" -> gen.planted.count(_._2 < batch * p.int("batch_docs")))
}
