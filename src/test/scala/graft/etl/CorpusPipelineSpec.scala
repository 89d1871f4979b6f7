package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.CacheScope
import graft.operators.{Dedup, Packing, Scrub, TextAnalysis}

/** The curation funnel end-to-end over the sf0.001 documents fixture:
  * stage counts form a monotone funnel, outputs are readable, and the
  * curated text is actually redacted and packed consistently. Scope
  * release is asserted PER-FRAME via the `onScope` seam — a global
  * persistent-RDD count would race whatever a concurrently-running
  * suite persists. */
class CorpusPipelineSpec extends SparkSpec {

  private val fixture = "/root/testdata/sf0.001/documents.parquet"

  // eval = every 7th doc's RAW text
  private def evalSet: DataFrame = spark.read.parquet(fixture)
    .where(col("doc_id") % 7 === 0)
    .select(col("doc_id"), col("text"))

  /** The funnel with its quality gates and redaction in their earlier
    * join shape: each signal comes from its frame operator
    * (qualityScores, repetitionSignals, redactPii, redactNetwork) and
    * is joined back on doc_id. The other stages are curate's own. */
  private def joinShapedCurate(out: String, eval: Option[DataFrame])
      : CorpusPipeline.Stats = CacheScope.withScope { scope =>
    val docs = spark.read.parquet(fixture)
    val keepExact = Dedup.exact(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val exact = scope.persist(docs.join(keepExact, Seq("doc_id")))
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text", scope = scope)
    val canonical = Dedup.nearDupClusters(exact, "doc_id", pairs)
      .where(col("is_canonical")).select(col("doc_id"))
    val deduped = scope.persist(exact.join(canonical, Seq("doc_id")))
    val stripped = scope.persist(
      Dedup.cleanBoilerplateParagraphs(deduped, "doc_id", "text", maxDf = 10)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("cleaned").as("text"))
        .join(deduped.drop("text"), Seq("doc_id")))
    val quality = TextAnalysis.qualityScores(stripped, "doc_id", "text")
      .where(col("quality_band") =!= "low").select(col("doc_id"))
    val lowRep = TextAnalysis.repetitionSignals(stripped, "doc_id", "text")
      .where(col("dup_gram_ratio").isNull || col("dup_gram_ratio") <= 0.5)
      .select(col("doc_id"))
    val kept = scope.persist(
      stripped.join(quality, Seq("doc_id")).join(lowRep, Seq("doc_id")))
    val pii = Scrub.redactPii(kept, "doc_id", "text")
      .select(col("doc_id"), col("redacted").as("text"))
    val clean = Scrub.redactNetwork(pii, "doc_id", "text")
      .select(col("doc_id"), col("redacted").as("text"))
      .join(kept.drop("text"), Seq("doc_id"))
    val gated = eval.fold(clean) { ev =>
      val c = scope.persist(clean)
      c.join(Dedup.evalOverlapRate(c, ev, "doc_id", "text")
          .where(col("contaminated") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    }
    gated.write.parquet(s"$out/clean")
    val cleanDocs = spark.read.parquet(s"$out/clean")
    Packing.contiguousOffsets(cleanDocs, "doc_id", "text", scope = scope)
      .write.parquet(s"$out/packs")
    val packs = spark.read.parquet(s"$out/packs")
      .agg(max(col("pack_id"))).head().getLong(0) + 1
    CorpusPipeline.Stats(docs.count(), exact.count(), deduped.count(),
      stripped.count(), kept.count(), kept.count() - cleanDocs.count(),
      packs)
  }

  /** Spark jobs `body` runs, counted once the listener bus drains. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def sameOutputs(out: String, ref: String): Unit =
    Seq("clean", "packs").foreach { o =>
      val (got, want) = (spark.read.parquet(s"$out/$o"),
        spark.read.parquet(s"$ref/$o"))
      assert(got.schema == want.schema, o)
      def rows(f: DataFrame): Seq[String] =
        f.collect().toSeq.map((_: Row).toString).sorted
      assert(rows(got) == rows(want), o)
    }

  private def isCached(f: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  test("curate: monotone funnel, consistent outputs, scope fully released") {
    val out = Files.createTempDirectory("graft_corpus").toString
    var tracked: Seq[DataFrame] = Nil
    val s = CorpusPipeline.curate(spark,
      "/root/testdata/sf0.001/documents.parquet", out,
      onScope = scope => tracked = scope.trackedFrames)
    assert(tracked.nonEmpty, "the funnel should persist intermediates")
    assert(!tracked.exists(isCached), "curate leaked persisted intermediates")

    assert(s.raw > 0)
    assert(s.raw >= s.afterExact && s.afterExact >= s.afterNearDup &&
      s.afterNearDup >= s.afterParagraph &&
      s.afterParagraph >= s.afterQuality)
    assert(s.afterNearDup < s.raw, "fixture contains known near-dups")
    assert(s.packs > 0)

    val clean = spark.read.parquet(s"$out/clean")
    assert(clean.count() == s.afterQuality)
    // redaction ran: no raw emails survive in curated text
    assert(clean.where(col("text").rlike(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}")).isEmpty)

    val packs = spark.read.parquet(s"$out/packs")
    assert(packs.count() == s.afterQuality) // one offset row per doc
    // offsets are the prefix sum of token counts in doc_id order
    val rows = packs.orderBy("doc_id")
      .select("n_tokens", "global_offset").collect()
    val expected = rows.map(_.getInt(0).toLong)
      .scanLeft(0L)(_ + _).init
    assert(rows.map(_.getLong(1)).toSeq == expected.toSeq)
  }

  test("curate with an eval set: the decontamination stage equals the " +
    "standalone q49 gate applied to the no-eval funnel's clean output") {
    val out0 = Files.createTempDirectory("graft_corpus_noeval").toString
    val out1 = Files.createTempDirectory("graft_corpus_eval").toString
    val docs = fixture
    // the funnel must flag the surviving copies of exactly the eval
    // texts in their FINAL (stripped, redacted) form, which is what the
    // standalone composition below replays
    val eval = evalSet
    val s0 = CorpusPipeline.curate(spark, docs, out0)
    assert(s0.droppedEval == 0L)
    val clean0 = spark.read.parquet(s"$out0/clean")
    val flagged = graft.operators.Dedup.evalOverlapRate(clean0, eval,
        "doc_id", "text", contaminatedAt = 0.2)
      .where(col("contaminated") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "eval subset must actually contaminate")
    val s1 = CorpusPipeline.curate(spark, docs, out1,
      eval = Some(eval))
    val ids0 = clean0.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val ids1 = spark.read.parquet(s"$out1/clean").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == ids0 -- flagged)
    assert(s1.droppedEval == flagged.size.toLong)
    // the pack plan is computed AFTER the gate (export sees only the
    // decontaminated corpus)
    assert(spark.read.parquet(s"$out1/packs").select("doc_id")
      .distinct().count() == ids1.size.toLong)
  }

  test("curate with an epoch seed: packs become per-shard streams over the same clean set") {
    val out = Files.createTempDirectory("graft_corpus_epoch").toString
    val s = CorpusPipeline.curate(spark,
      "/root/testdata/sf0.001/documents.parquet", out,
      epoch = Some(3L), shards = 4)
    val clean = spark.read.parquet(s"$out/clean")
    assert(clean.count() == s.afterQuality) // curation unchanged by epoch
    val packs = spark.read.parquet(s"$out/packs")
    assert(packs.count() == s.afterQuality)
    // every curated doc appears once, dealt across the 4 shards
    assert(packs.select("doc_id").distinct().count() == s.afterQuality)
    assert(packs.select("shard").distinct().count() == 4)
    // per-shard offsets are that shard's prefix sum in pos order
    packs.select("shard", "pos", "n_tokens", "shard_offset").collect()
      .groupBy(_.getInt(0)).foreach { case (_, rs) =>
        var acc = 0L
        rs.sortBy(_.getInt(1)).foreach { r =>
          assert(r.getLong(3) == acc)
          acc += r.getInt(2)
        }
      }
    // stats count (shard, pack) windows, consistent with the data
    val windows = packs.select("shard", "pack_id").distinct().count()
    assert(s.packs == windows)
  }

  test("curate equals the join-shaped reference funnel: stats, clean/ " +
    "rows and schema, packs/") {
    val out = Files.createTempDirectory("graft_corpus_rowlocal").toString
    val ref = Files.createTempDirectory("graft_corpus_joined").toString
    val s = CorpusPipeline.curate(spark, fixture, out)
    assert(s == joinShapedCurate(ref, None))
    sameOutputs(out, ref)
  }

  test("curate with an eval set equals the join-shaped reference and " +
    "stays within its Spark job budget") {
    val out = Files.createTempDirectory("graft_corpus_rowlocal_eval").toString
    val ref = Files.createTempDirectory("graft_corpus_joined_eval").toString
    var s: CorpusPipeline.Stats = null
    val jobs = jobsOf("curate with eval") {
      s = CorpusPipeline.curate(spark, fixture, out, eval = Some(evalSet))
    }
    val r = joinShapedCurate(ref, Some(evalSet))
    assert(r.droppedEval > 0, "eval subset must actually contaminate")
    assert(s == r)
    sameOutputs(out, ref)
    // the gates and redaction filter one frame: 57 jobs here, where
    // joining their derived frames back on doc_id ran 60
    assert(jobs <= 57, s"$jobs jobs")
  }
}
