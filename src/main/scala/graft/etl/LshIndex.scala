package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental near-dup detection — the PRODUCTION form of
  * [[Dedup.minhashLshPairs]]'s candidate generation, the
  * [[NoveltyStore]] discipline applied to LSH: a live ingest doesn't
  * re-band yesterday's corpus to ask "is this batch near-duplicating
  * anything we already hold", it probes each arriving batch against a
  * persisted store of every prior doc's band signatures, then appends
  * the batch's own signatures.
  *
  * Semantics pin (LshIndexSpec): processing a corpus in id-ordered
  * batches yields EXACTLY the candidate-pair set of one-shot banding
  * over the whole corpus — a pair surfaces when the earlier doc is in
  * the store (a prior batch) or has the smaller id within this batch.
  * Split points never change the pair set.
  *
  * The output is the LSH CANDIDATE set (the standard band guarantee:
  * probability of sharing a band rises steeply with Jaccard), not the
  * verified pairs — verification needs both docs' shingle sets, and a
  * caller holding the corpus composes
  * [[Dedup.crossNgramJaccardPairs]]-style confirm joins on the
  * candidates; at decontamination-gate scale the band decision itself
  * is the documented operating point.
  *
  * Scale shape: the batch side is the compiled row-local
  * shingle→minhash→band pass; the store is (band, sig, doc_id) rows —
  * |bands| per doc, 8-byte-hash-sized sigs — so the probe is one
  * (band, sig) hash equi-join and the record step one append, both
  * free of driver state. The store grows by |bands| rows per doc:
  * compact() periodically rewrites the appends into sized files. The
  * store is a [[ParquetStore]] handle (gated reads and appends,
  * verified-swap compaction).
  *
  * LIVE ingest needs no wrapper module: `readStream → foreachBatch {
  * idx.probeAndRecord }` under `Trigger.AvailableNow` IS the
  * streaming form — batch-split invariance makes any micro-batch
  * slicing emit exactly the one-shot candidate set
  * (LshIndexStreamSpec pins the composition).
  *
  * The probe result is eagerly materialized (localCheckpoint) BEFORE
  * the append — same lazy-parquet-listing hazard as the novelty
  * store: without the cut, a consumer collecting after
  * `probeAndRecord` returned would see the batch's own signatures in
  * the store and report every doc as a candidate of itself.
  */
final class LshIndex(spark: SparkSession, storeDir: String,
    k: Int = 16, bands: Int = 4) {

  private val store = new ParquetStore(spark, storeDir, "LSH index")

  /** The stored band signatures (empty before the first record).
    * Before any record the id type is unknowable from disk, so the
    * empty frame defaults doc_id to long — [[probeAndRecord]] never
    * uses this default (it derives the empty frame from the batch's
    * actual signature schema, so non-long ids join cleanly). */
  def storedSignatures: DataFrame =
    store.read(spark.range(0).select(col("id").as("doc_id"),
      lit(0).as("band"), lit("").as("sig")))

  /** Probe `batch` against everything recorded so far, then record
    * this batch's signatures. Returns candidate pairs
    * (doc_a, doc_b) with doc_a < doc_b — doc_a from a prior batch or
    * an earlier id in this one; distinct, ordered. Ingest id-ordered
    * batches (the [[NoveltyStore]] contract) so "earlier" is
    * well-defined across batches. */
  def probeAndRecord(batch: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sigs = Dedup.bandSignatures(batch, idCol, textCol, k, bands)
      .localCheckpoint(true) // one banding pass feeds probe + append
    // empty-store fallback mirrors the BATCH's signature schema (not a
    // hardcoded long doc_id) so a non-long id column probes cleanly on
    // the first batch instead of hitting a join type mismatch
    val stored = store.read(sigs.limit(0))
    val vsStore = sigs.select(col("doc_id").as("doc_b"), col("band"),
        col("sig"))
      .join(stored.select(col("doc_id").as("doc_a"), col("band"),
        col("sig")), Seq("band", "sig"))
    val within = sigs.select(col("doc_id").as("doc_a"), col("band"),
        col("sig"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("band"),
        col("sig")), Seq("band", "sig"))
    val cands = vsStore.select(col("doc_a"), col("doc_b"))
      .unionByName(within.select(col("doc_a"), col("doc_b")))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // materialize BEFORE the store grows
    store.append(sigs)
    cands
  }

  /** Rewrite accumulated appends into sized files
    * ([[ParquetStore.compact]]). Returns (files before, after). */
  def compact(): (Long, Long) = store.compact(storedSignatures)
}
