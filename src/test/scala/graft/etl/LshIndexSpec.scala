package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables
import graft.operators.Dedup

/** Batch-split invariance of the LSH signature index: id-ordered
  * incremental ingest must surface EXACTLY the candidate pairs of
  * one-shot banding over the whole corpus, and the store must obey
  * the shared durability discipline. */
class LshIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def oneShotPairs = {
    val sigs = Dedup.bandSignatures(
      Tables.documents(spark, sf), "doc_id", "text")
    sigs.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("band"),
        col("sig")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("id-ordered batches reproduce the one-shot candidate set exactly") {
    val dir = Files.createTempDirectory("graft_lsh_idx").toString + "/store"
    val idx = new LshIndex(spark, dir)
    val docs = Tables.documents(spark, sf)
    val cut = 250L
    val p1 = idx.probeAndRecord(docs.where(col("doc_id") < cut),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = idx.probeAndRecord(docs.where(col("doc_id") >= cut),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = oneShotPairs
    assert(expected.nonEmpty, "fixture lost its near-dup candidates")
    assert((p1 ++ p2) == expected,
      s"incremental=${(p1 ++ p2).size} oneShot=${expected.size}")
    // batch-1 pairs live entirely under the cut; batch-2 pairs reach back
    assert(p1.forall { case (a, b) => a < cut && b < cut })
    assert(p2.exists { case (a, _) => a < cut },
      "no cross-batch candidate — the probe-vs-store path went untested")
  }

  test("compact preserves signatures; probe after compact still reaches back") {
    val dir = Files.createTempDirectory("graft_lsh_idx2").toString + "/store"
    val idx = new LshIndex(spark, dir)
    val docs = Tables.documents(spark, sf)
    idx.probeAndRecord(docs.where(col("doc_id") < 100), "doc_id", "text")
    val before = idx.storedSignatures.count()
    idx.compact()
    assert(idx.storedSignatures.count() == before)
    // post-compact probe still sees the store
    val p = idx.probeAndRecord(
      docs.where(col("doc_id") >= 100 && col("doc_id") < 200),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(idx.storedSignatures.count() > before)
    // pairs, if any, are ordered and never self-referential
    assert(p.forall { case (a, b) => a < b })
  }

  test("confirm rung: incremental verified pairs == one-shot minhashLshPairs") {
    // the dedup-ingest CLI with the confirm flag: per batch, band
    // candidates from the index pay the exact-Jaccard verify against
    // the caller's corpus-so-far — the union of the verified outputs
    // must be EXACTLY one-shot minhashLshPairs over the whole corpus
    val base = Files.createTempDirectory("graft_lsh_confirm").toString
    val docs = Tables.documents(spark, sf)
    val cut = 250L
    docs.where(col("doc_id") < cut).write.parquet(s"$base/b1")
    docs.where(col("doc_id") >= cut).write.parquet(s"$base/b2")
    docs.write.parquet(s"$base/all")
    def verified(out: String) = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard"))).toSet
    graft.Main.runDedupIngest(spark, s"$base/b1", s"$base/store",
      s"$base/out1", confirm = Some((s"$base/b1", 0.5)))
    graft.Main.runDedupIngest(spark, s"$base/b2", s"$base/store",
      s"$base/out2", confirm = Some((s"$base/all", 0.5)))
    val oneShot = Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard"))).toSet
    assert(oneShot.nonEmpty, "fixture lost its near-dup pairs")
    assert((verified(s"$base/out1") ++ verified(s"$base/out2")) == oneShot)
  }

  test("string ids probe cleanly from the first (empty-store) batch") {
    // the empty-store fallback frame must mirror the BATCH id type —
    // a hardcoded long doc_id would type-mismatch this join
    val dir = Files.createTempDirectory("graft_lsh_idx3").toString + "/store"
    val idx = new LshIndex(spark, dir)
    // zero-padded so string order == numeric order and the pair set
    // maps 1:1 onto the long-id run over the same docs
    val sdocs = Tables.documents(spark, sf).where(col("doc_id") < 250)
      .select(format_string("d%06d", col("doc_id")).as("doc_id"),
        col("text"))
    val p1 = idx.probeAndRecord(
        sdocs.where(col("doc_id") < "d000100"), "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val p2 = idx.probeAndRecord(
        sdocs.where(col("doc_id") >= "d000100"), "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val longIdx = new LshIndex(spark,
      Files.createTempDirectory("graft_lsh_idx4").toString + "/store")
    val expected = longIdx.probeAndRecord(
        Tables.documents(spark, sf).where(col("doc_id") < 250),
        "doc_id", "text")
      .collect().map(r => ("d%06d".format(r.getLong(0)),
        "d%06d".format(r.getLong(1)))).toSet
    assert((p1 ++ p2) == expected)
  }

  test("building the stored-signature frame runs no Spark job") {
    // the schema comes from a data file's footer, read on the driver;
    // spark.read.parquet's schema inference would run a job here
    val dir = Files.createTempDirectory("graft_lsh_idx5").toString + "/store"
    val idx = new LshIndex(spark, dir)
    idx.probeAndRecord(Tables.documents(spark, sf).where(col("doc_id") < 50),
      "doc_id", "text").collect()
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
    sc.setJobGroup("lsh store read", "lsh store read")
    val stored = try idx.storedSignatures finally sc.clearJobGroup()
    org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
    assert(sc.statusTracker.getJobIdsForGroup("lsh store read").isEmpty)
    assert(stored.columns.toSeq == Seq("doc_id", "band", "sig"))
    assert(stored.count() > 0)
  }
}
