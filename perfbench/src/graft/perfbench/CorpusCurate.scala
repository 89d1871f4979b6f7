package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.CacheScope
import graft.etl.CorpusPipeline
import graft.operators.{Dedup, Packing, Scrub, TextAnalysis}

/** `corpus_curate`: the one-shot LLM-data funnel. Each op is one
  * `CorpusPipeline.curate` run with eval-set decontamination over the
  * same seeded corpus.
  *
  * The traced run replaces curate with [[stagedCurate]]: curate's own
  * stage operators called one by one in its order, each in a span that
  * ends at the stage's materialization, so the per-layer split shows
  * which operator the time went to. Its `Stats` must equal curate's. */
final class CorpusCurate(p: Params, seed: Long, work: Path, staged: Boolean)
    extends Workload(work) {
  import Workload._

  private var corpus: Gen.Corpus = _
  private def docsPath = dir("docs").toString
  private def evalPath = dir("eval").toString
  private def outDir = dir("out").toString
  private val stats = mutable.ArrayBuffer.empty[CorpusPipeline.Stats]
  private var reference: CorpusPipeline.Stats = _

  def generate(): Unit = {
    corpus = Gen.corpus(seed, p)
    ParquetOut.writeDocs(docsPath, corpus.docs)
    ParquetOut.writeDocs(evalPath, corpus.eval)
    ParquetOut.writeDocs(dir("warm").toString, corpus.docs.take(p.int("warmup_docs")))
  }

  /** The warm-up op curates a prefix of the corpus; a staged run
    * curates the whole corpus instead, which gives the Stats its
    * staged ops must reproduce. */
  def setUp(spark: SparkSession): Double = {
    val eval = Some(spark.read.parquet(evalPath))
    if (staged)
      reference = CorpusPipeline.curate(spark, docsPath, dir("reference").toString,
        eval = eval)
    else
      CorpusPipeline.curate(spark, dir("warm").toString, dir("warm-out").toString,
        eval = eval)
    0.0
  }

  def op(spark: SparkSession, tr: Tracer): Long = {
    val eval = spark.read.parquet(evalPath)
    stats += (if (staged) stagedCurate(spark, eval, tr)
      else CorpusPipeline.curate(spark, docsPath, outDir, eval = Some(eval)))
    corpus.docs.size.toLong
  }

  override def checkOp(spark: SparkSession): Seq[String] = {
    val s = stats.last
    Seq(
      (s.raw == corpus.docs.size) -> s"raw=${s.raw}, generated ${corpus.docs.size}",
      (s.afterExact == corpus.distinctTexts) ->
        s"afterExact=${s.afterExact}, generated ${corpus.distinctTexts} distinct texts",
      (s == stats.head) -> s"stats $s differ from the first op's ${stats.head}")
      .collect { case (false, msg) => msg }
  }

  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val clean = spark.read.parquet(s"$outDir/clean")
      .select(col("doc_id"), col("text")).collect()
    val leaked = corpus.planted.filter(t => clean.exists(_.getString(1).contains(t)))
    val contaminated = clean.map(_.getLong(0)).filter(corpus.evalCopied.contains)
    val piiChecks = Seq(
      leaked.isEmpty -> s"planted PII/URL strings survive in clean/: ${leaked.take(5)}",
      contaminated.isEmpty -> s"eval copies survive decontamination: ${contaminated.take(5).toSeq}",
      (corpus.evalCopied.isEmpty || stats.forall(_.droppedEval > 0)) ->
        "decontamination dropped nothing although the eval set copies documents")
      .collect { case (false, msg) => (None, msg) }
    // the staged decomposition must do curate's work: same Stats
    val sameWork = if (!staged) Nil else
      stats.zipWithIndex.collect { case (s, i) if s != reference =>
        (Some(i), s"staged stats $s differ from curate's $reference")
      }.toSeq
    piiChecks ++ sameWork
  }

  def storedBytes: Long =
    bytesUnder(dir("out").resolve("clean")) + bytesUnder(dir("out").resolve("packs"))
  def inputBytes: Long = bytesUnder(dir("docs"))

  override def detail: Map[String, Any] = stats.lastOption.fold(Map.empty[String, Any]) { s =>
    Map("stats" -> Map("raw" -> s.raw, "after_exact" -> s.afterExact,
      "after_near_dup" -> s.afterNearDup, "after_paragraph" -> s.afterParagraph,
      "after_quality" -> s.afterQuality, "dropped_eval" -> s.droppedEval,
      "packs" -> s.packs))
  }

  /** `CorpusPipeline.curate` (no epoch, eval on) spelled out stage by
    * stage with the same operators, parameters and caching; each span
    * closes on the stage's materialization. The scrub stage adds one
    * count over its cached output so its cost is not folded into the
    * decontamination write. */
  private def stagedCurate(spark: SparkSession, ev: DataFrame, tr: Tracer)
      : CorpusPipeline.Stats =
    CacheScope.withScope { scope =>
      val docs = spark.read.parquet(docsPath)
      val (raw, exact, afterExact) = tr.span("operators.dedup", "exact") {
        val raw = docs.count()
        val keepExact = Dedup.exact(docs, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        val exact = scope.persist(docs.join(keepExact, Seq("doc_id")))
        (raw, exact, exact.count())
      }
      val (deduped, afterNearDup) = tr.span("operators.dedup", "near_dup") {
        val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text", scope = scope)
        val canonical = Dedup.nearDupClusters(exact, "doc_id", pairs)
          .where(col("is_canonical")).select(col("doc_id"))
        val deduped = scope.persist(exact.join(canonical, Seq("doc_id")))
        (deduped, deduped.count())
      }
      val (stripped, afterParagraph) = tr.span("operators.dedup", "boilerplate") {
        val stripped = scope.persist(
          Dedup.cleanBoilerplateParagraphs(deduped, "doc_id", "text", maxDf = 10)
            .where(col("n_kept") > 0)
            .select(col("doc_id"), col("cleaned").as("text"))
            .join(deduped.drop("text"), Seq("doc_id")))
        (stripped, stripped.count())
      }
      val (kept, afterQuality) = tr.span("operators.text", "quality") {
        val quality = TextAnalysis.qualityScores(stripped, "doc_id", "text")
          .where(col("quality_band") =!= "low").select(col("doc_id"))
        val lowRep = TextAnalysis.repetitionSignals(stripped, "doc_id", "text")
          .where(col("dup_gram_ratio").isNull || col("dup_gram_ratio") <= 0.5)
          .select(col("doc_id"))
        val kept = scope.persist(
          stripped.join(quality, Seq("doc_id")).join(lowRep, Seq("doc_id")))
        (kept, kept.count())
      }
      val c = tr.span("operators.scrub", "redact") {
        val pii = Scrub.redactPii(kept, "doc_id", "text")
          .select(col("doc_id"), col("redacted").as("text"))
        val clean = Scrub.redactNetwork(pii, "doc_id", "text")
          .select(col("doc_id"), col("redacted").as("text"))
          .join(kept.drop("text"), Seq("doc_id"))
        val c = scope.persist(clean)
        c.count()
        c
      }
      tr.span("operators.dedup", "decontaminate") {
        c.join(Dedup.evalOverlapRate(c, ev, "doc_id", "text", contaminatedAt = 0.2)
            .where(col("contaminated") === 1).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/clean")
      }
      tr.span("operators.packing", "pack") {
        val cleanDocs = spark.read.parquet(s"$outDir/clean")
        val droppedEval = afterQuality - cleanDocs.count()
        Packing.contiguousOffsets(cleanDocs, "doc_id", "text", scope = scope)
          .write.mode("overwrite").parquet(s"$outDir/packs")
        val packs = spark.read.parquet(s"$outDir/packs")
          .agg(max(col("pack_id"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0) + 1
          }
        CorpusPipeline.Stats(raw, afterExact, afterNearDup, afterParagraph,
          afterQuality, droppedEval, packs)
      }
    }
}
