package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental winnowing index — the [[LshIndex]] discipline applied
  * to [[Dedup.winnowingPairs]]' MOSS fingerprints: a live ingest
  * probes each arriving batch's selected fingerprints against the
  * persisted store of every prior document's selections, emits the
  * shared-fingerprint pairs, then appends the batch's own rows. Where
  * the LSH index surfaces PROBABILISTIC band candidates, this carries
  * winnowing's deterministic local guarantee across batches: any
  * shared token run of ≥ window+span−1 tokens between a new doc and
  * ANY prior doc is caught with certainty, at the ~2/(window+1)
  * selection density.
  *
  * Semantics pin (WinnowIndexSpec): processing a corpus in id-ordered
  * batches yields EXACTLY the (pair, n_shared) set of the one-shot
  * [[Dedup.winnowingPairs]] over the whole corpus with the df-cap
  * disabled — when doc `b` arrives, the earlier doc's fingerprints
  * are all in the store (or earlier in this batch), so the pair's
  * count is complete at emission and split points cannot change it.
  * The one-shot's `maxDf` hot-fingerprint cap is corpus-dependent and
  * therefore NOT replayed incrementally (a fingerprint's document
  * frequency is unknowable mid-stream); callers needing the cap
  * compact and re-pair offline, or bound probe fan-out upstream.
  *
  * Scale shape: fingerprint selection is per-document local work on
  * the batch; the store holds (doc_id, fp) rows — the sampled
  * selection, never the full shingle stream — so the probe is one
  * `fp` hash equi-join; `compact()` rewrites appends into sized files
  * through the store's [[ParquetStore]] handle. The probe result is eagerly
  * materialized (localCheckpoint) BEFORE the append — the LshIndex
  * lazy-listing rule: without the cut a late consumer would see the
  * batch's own rows in the store and pair every doc with itself. */
final class WinnowIndex(spark: SparkSession, storeDir: String,
    span: Int = 3, window: Int = 4, minShared: Int = 2) {
  require(minShared >= 1, s"need minShared >= 1, got $minShared")

  private val store = new ParquetStore(spark, storeDir, "winnow index")

  /** The stored fingerprints (empty before the first record). */
  def storedFingerprints: DataFrame =
    store.read(spark.range(0).select(col("id").as("doc_id"),
      col("id").as("fp")))

  /** Probe `batch` against everything recorded so far, then record
    * this batch's fingerprints. Returns (doc_a, doc_b, n_shared)
    * with doc_a < doc_b and n_shared ≥ `minShared`; doc_a is from a
    * prior batch or an earlier id within this one. Ingest id-ordered
    * batches (the [[NoveltyStore]] contract). */
  def probeAndRecord(batch: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val picks = Dedup
      .winnowFingerprints(batch, idCol, textCol, span, window)
      .localCheckpoint(true) // one selection pass feeds probe + append
    val stored = store.read(picks.limit(0))
    val vsStore = picks.select(col("doc_id").as("doc_b"), col("fp"))
      .join(stored.select(col("doc_id").as("doc_a"), col("fp")),
        Seq("fp"))
    val within = picks.select(col("doc_id").as("doc_a"), col("fp"))
      .join(picks.select(col("doc_id").as("doc_b"), col("fp")),
        Seq("fp"))
    val pairs = vsStore.select(col("doc_a"), col("doc_b"))
      .unionByName(within.select(col("doc_a"), col("doc_b")))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // materialize BEFORE the store grows
    store.append(picks)
    pairs
  }

  /** Rewrite accumulated appends into sized files
    * ([[ParquetStore.compact]]). Returns (files before, after). */
  def compact(): (Long, Long) = store.compact(storedFingerprints)
}
