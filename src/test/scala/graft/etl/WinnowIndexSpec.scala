package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables
import graft.operators.Dedup

/** Batch-split invariance of the winnowing index: id-ordered
  * incremental ingest must surface EXACTLY the (pair, n_shared) set
  * of one-shot winnowingPairs over the whole corpus (df-cap
  * disabled — the corpus-dependent cap is documented as not replayed
  * incrementally), and compact must preserve the store. */
class WinnowIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def oneShot = Dedup.winnowingPairs(
    Tables.documents(spark, sf), "doc_id", "text",
    span = 3, window = 4, maxDf = Int.MaxValue, minShared = 2)
    .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    .toMap

  test("id-ordered batches reproduce the one-shot pair set with " +
    "complete shared counts; compact preserves the store") {
    val dir = Files.createTempDirectory("graft_winnow_idx")
      .toString + "/store"
    val idx = new WinnowIndex(spark, dir)
    val docs = Tables.documents(spark, sf)
    val cut = 250L
    val p1 = idx.probeAndRecord(docs.where(col("doc_id") < cut),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val p2 = idx.probeAndRecord(docs.where(col("doc_id") >= cut),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // batches partition the pair set: a pair surfaces exactly when its
    // LATER doc's batch arrives, with the full shared count
    assert(p1.keySet.intersect(p2.keySet).isEmpty)
    val ref = oneShot
    assert(ref.nonEmpty, "fixture must contain winnowing pairs")
    assert(p1 ++ p2 == ref)
    // every cross-batch pair (earlier doc in batch 1) appears in p2
    assert(p2.keys.exists { case (a, b) => a < cut && b >= cut })
    val (before, after) = idx.compact()
    assert(before > after, s"compact $before -> $after files")
    // a fresh doc probing after compact still sees the whole store
    val probe = idx.storedFingerprints.count()
    assert(probe > 0L)
  }

  test("CLI core: winnow-ingest writes pairs and grows the store") {
    val base = Files.createTempDirectory("graft_winnow_cli").toString
    val docs = Tables.documents(spark, sf)
    docs.where(col("doc_id") < 100L).write.parquet(s"$base/b1")
    docs.where(col("doc_id") >= 100L && col("doc_id") < 200L)
      .write.parquet(s"$base/b2")
    val n1 = graft.Main.runWinnowIngest(spark, s"$base/b1",
      s"$base/store", s"$base/out1")
    val n2 = graft.Main.runWinnowIngest(spark, s"$base/b2",
      s"$base/store", s"$base/out2")
    assert(n1 >= 0L && n2 >= 0L)
    val total = new WinnowIndex(spark, s"$base/store")
      .storedFingerprints.select("doc_id").distinct().count()
    assert(total == Dedup.winnowFingerprints(
      docs.where(col("doc_id") < 200L), "doc_id", "text")
      .select("doc_id").distinct().count())
  }
}
