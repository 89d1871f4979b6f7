package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Incremental novelty scoring — the PRODUCTION form of
  * [[graft.operators.TextAnalysis.noveltyDecay]] (q67): a live ingest
  * doesn't re-scan yesterday's corpus to ask "how much of this batch is
  * text we've already seen", it scores each arriving batch against a
  * persisted store of every shingle hash seen by all prior batches,
  * then records the batch's new shingles — the same
  * score-then-append-only-new discipline as
  * [[IncrementalSink.appendOnlyNew]] (SURVEY §2.9), applied to corpus
  * curation instead of a star schema.
  *
  * Semantics pin (NoveltyStoreSpec): processing a corpus in id-ordered
  * batches yields EXACTLY the per-doc scores of the one-shot
  * [[graft.operators.TextAnalysis.noveltyDecay]] over the whole corpus
  * — a shingle counts as seen if it is in the store (an earlier batch)
  * OR first appeared on a smaller doc_id within this batch. Split
  * points therefore never change scores, and re-scoring an
  * already-recorded batch reports everything seen (the run-twice
  * detector for accidental re-ingest).
  *
  * Scale shape: the batch side is the compiled row-local shingle pass;
  * the store is a single column of distinct 8-byte hashes, so the seen
  * lookup is one hash equi-join and the record step one left_anti
  * append — both partitioned on the hash, no driver state, no window.
  * The store only ever grows by DISTINCT new hashes (within-batch
  * dedup via the first-sighting aggregate), so its size is the corpus
  * vocabulary of shingles, not the corpus. The store is a
  * [[ParquetStore]] handle: gated reads and appends, and a `compact()`
  * that rewrites the accumulated appends into few files.
  *
  * The scored result is eagerly materialized (localCheckpoint) BEFORE
  * the append: scoring reads the store lazily, and parquet listings
  * resolve at action time — without the cut, a consumer collecting
  * after `scoreAndRecord` returned would see the batch's own shingles
  * as "stored" and score everything seen.
  */
final class NoveltyStore(spark: SparkSession, storeDir: String) {

  private val store = new ParquetStore(spark, storeDir, "novelty store")

  /** The stored shingle hashes (empty frame before the first record). */
  def seenShingles: DataFrame =
    store.read(spark.range(0).select(col("id").as("hs")))

  /** Score `docs` against everything seen so far, then record this
    * batch's shingles. Output per doc (docs under 3 tokens have no
    * shingle unit and are absent, like q67):
    * (doc_id, n_shingles, n_seen, seen_fp) — seen_fp on the 2^-20
    * integer grid. */
  def scoreAndRecord(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextHash.shingleHashesOf(col(textCol))).as("hs"))
    val firstInBatch = sh.groupBy(col("hs"))
      .agg(min(col("doc_id")).as("first_id"))
    val stored = seenShingles.select(col("hs"), lit(true).as("__stored"))
    val scored = sh
      .join(firstInBatch, Seq("hs"))
      .join(stored, Seq("hs"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(coalesce(col("__stored"), lit(false)) ||
          col("first_id") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        expr("(n_seen * 1048576) div n_shingles").as("seen_fp"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true) // materialize BEFORE the store grows
    val newHs = firstInBatch.select(col("hs"))
      .join(seenShingles, Seq("hs"), "left_anti")
    store.append(newHs)
    scored
  }

  /** Rewrite the accumulated per-batch appends into few sized files
    * ([[ParquetStore.compact]]). Returns (files before, files after). */
  def compact(): (Long, Long) = store.compact(seenShingles)
}
