package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.CacheScope
import graft.operators.{Dedup, Packing, Scrub, TextAnalysis}

/** The LLM-corpus curation funnel (SURVEY.md §2.11 composed end to
  * end): the individual operators are each oracle-checked in the
  * registry; this is the product shape a corpus team actually runs —
  * one pass from raw documents to a training-ready, packed corpus.
  *
  *   raw → exact dedup (content hash, keep-first)
  *       → near-dup clusters (MinHash-LSH pairs → components, keep the
  *         canonical doc per cluster)
  *       → paragraph-level boilerplate removal (corpus-wide df ≥ 10
  *         paragraphs cut from every doc, C4-style; docs left empty
  *         are dropped) — BEFORE the quality gates, which must score
  *         the text that will actually train
  *       → quality + repetition gates (length/stopword bands, dup-gram
  *         ratio — the boilerplate rules)
  *       → PII + network redaction (emails, digit runs, URLs, IPs)
  *       → EVAL-SET DECONTAMINATION (optional — `eval = Some(df)`):
  *         q49's one-sided overlap gate over the FINAL redacted text
  *         (the text that will actually train is what must not leak a
  *         benchmark), any doc with ≥ `contaminatedAt` of its 3-gram
  *         shingles in the eval union set is dropped and counted —
  *         a corpus team decontaminates BEFORE export, not as a
  *         hand-wired afterthought between `clean/` and the loader
  *       → sequence packing offsets (2048-token windows)
  *
  * Every stage is shuffle-on-key or row-local — the funnel inherits
  * each operator's 100 TB shape. The gates and the redaction are
  * row-local expressions over one frame, not operator outputs joined
  * back on doc_id. Stage survivor counts come back as
  * [[CorpusPipeline.Stats]]; the driver never holds document data.
  *
  * Filter thresholds mirror the registry defaults (q16/q18/q31's
  * parameters, q23's bands, q35's ratio) so a funnel run is consistent
  * with what the oracles verified.
  */
object CorpusPipeline {

  final case class Stats(raw: Long, afterExact: Long, afterNearDup: Long,
      afterParagraph: Long, afterQuality: Long, droppedEval: Long,
      packs: Long)

  /** Run the funnel over `docsParquet` (the documents schema: doc_id,
    * text, ...), writing `clean/` (curated, redacted docs) and `packs/`
    * (packing offsets) under `outDir`. Intermediates live in one
    * managed [[CacheScope]], released before return.
    *
    * `epoch = Some(seed)` makes the packing stage epoch-sharded
    * ([[Packing.epochShardedOffsets]]): docs are dealt into `shards`
    * training shards in seed-shuffled order and packed per shard — the
    * form a data loader consumes, re-runnable per epoch with a new
    * seed over the SAME `clean/` output. `None` keeps the global
    * doc-id-order packing (q37's shape). */
  def curate(spark: SparkSession, docsParquet: String, outDir: String,
      maxRepetition: Double = 0.5, epoch: Option[Long] = None,
      shards: Int = 8,
      // test seam: observe the managed scope right before it closes, so
      // specs can assert per-frame release without racing other suites
      // on global block-manager counts
      onScope: CacheScope => Unit = _ => (),
      // eval-set decontamination (q49's gate over the final text);
      // None skips the stage, matching the pre-r18 funnel exactly
      eval: Option[DataFrame] = None,
      contaminatedAt: Double = 0.2): Stats =
    CacheScope.withScope { scope =>
      val docs = spark.read.parquet(docsParquet)
      val raw = docs.count()

      // exact dedup: one survivor per byte-identical content
      val keepExact = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val exact = scope.persist(docs.join(keepExact, Seq("doc_id")))
      val afterExact = exact.count()

      // near-dup: LSH pairs over the survivors, closed into clusters;
      // keep each cluster's canonical (min-id) doc
      val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text",
        scope = scope)
      val canonical = Dedup.nearDupClusters(exact, "doc_id", pairs)
        .where(col("is_canonical")).select(col("doc_id"))
      val deduped = scope.persist(exact.join(canonical, Seq("doc_id")))
      val afterNearDup = deduped.count()

      // paragraph-level boilerplate removal (the q60 operator): edits
      // the text, so it runs BEFORE the gates that score it; documents
      // that were ALL boilerplate drop out here
      val stripped = scope.persist(
        Dedup.cleanBoilerplateParagraphs(deduped, "doc_id", "text",
          maxDf = 10)
          .where(col("n_kept") > 0)
          .select(col("doc_id"), col("cleaned").as("text"))
          .join(deduped.drop("text"), Seq("doc_id")))
      val afterParagraph = stripped.count()

      // quality + repetition gates (the q23/q35 signals)
      val ratio = TextAnalysis.dupGramRatio(col("text"))
      val kept = scope.persist(stripped.where(
        TextAnalysis.qualityBand(col("text")) =!= "low" &&
          (ratio.isNull || ratio <= maxRepetition)))
      val afterQuality = kept.count()

      // redaction: PII then network identifiers over the final text
      val clean = kept.withColumn("text", Scrub.redact(col("text")))

      // eval-set decontamination over the FINAL text (between dedup
      // and export): q49's one-sided shingle-overlap gate — the eval
      // union set broadcasts (benchmarks-small), the train side is
      // one pass, contaminated docs leave by anti-join. Equivalent by
      // construction to running the standalone gate over the no-eval
      // funnel's `clean/` output (CorpusPipelineSpec pins the
      // identity).
      val gated = eval match {
        case Some(ev) =>
          val c = scope.persist(clean)
          c.join(Dedup.evalOverlapRate(c, ev, "doc_id", "text",
              contaminatedAt = contaminatedAt)
              .where(col("contaminated") === 1).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
        case None => clean
      }

      gated.write.mode("overwrite").parquet(s"$outDir/clean")

      // packing offsets over the curated corpus (re-read: the packing
      // scan should see the redacted text that will actually train)
      val cleanDocs = spark.read.parquet(s"$outDir/clean")
      // drops are a count delta, not an extra flagged-side job: the
      // redaction stage is row-preserving, so clean rows = afterQuality
      // unless the gate removed some
      val droppedEval =
        if (eval.isDefined) afterQuality - cleanDocs.count() else 0L
      val packed = epoch match {
        case Some(seed) =>
          Packing.epochShardedOffsets(cleanDocs, "doc_id", "text",
            shards = shards, seed = seed)
        case None =>
          Packing.contiguousOffsets(cleanDocs, "doc_id", "text",
            scope = scope)
      }
      packed.write.mode("overwrite").parquet(s"$outDir/packs")
      val packFrame = spark.read.parquet(s"$outDir/packs")
      val packs =
        if (epoch.isDefined)
          packFrame.select(col("shard"), col("pack_id")).distinct().count()
        else packFrame.agg(max(col("pack_id"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) + 1
        }

      val stats = Stats(raw, afterExact, afterNearDup, afterParagraph,
        afterQuality, droppedEval, packs)
      onScope(scope)
      stats
    }
}
