package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** Shared machinery of the incremental MEDIA-fingerprint stores (the
  * [[DhashStore]]/[[AudioFpStore]] family): a live pipeline decodes
  * each arriving batch ONCE, appends the 8-byte content fingerprints,
  * and answers every dedup question (pairs, clusters, canonical
  * picks) from the stored |docs|-row frame — payload bytes are never
  * re-read, which at 100 TB of media is the entire point (the decode
  * is ~10⁶× the byte mass of the hash).
  *
  * Merge law, shared by every binding: the fingerprint is a PURE
  * function of the payload, so re-delivered batches append duplicate
  * (doc_id, fp) rows that the read-side distinct folds away —
  * at-least-once safe (the counter stores double-count; this cannot
  * move). Docs are immutable by contract (content-addressed ids);
  * corrupt payloads are never stored (they carry no fingerprint —
  * the decoders' totality contract).
  *
  * Scale shape: each ingest is one decode pass over the batch
  * (payloads stay where the scan runs; 16 bytes per row cross into
  * the store), reads are distinct-then-cluster via
  * [[Dedup.fingerprintClusters]]'s duplicate-mass-bounded component
  * propagation (untouched fingerprints never broadcast),
  * [[compact]] folds the per-ingest appends. The store is a
  * [[ParquetStore]] handle (gated reads and appends, verified-swap
  * compaction). */
abstract class FingerprintStore(spark: SparkSession, storeDir: String,
    what: String) {

  /** One decode pass over the batch: the (doc_id, fp) rows of the
    * DECODABLE payloads only — the binding's single seam. */
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame

  private val store = new ParquetStore(spark, storeDir, what)

  /** Decode one media batch and append its fingerprints. Returns the
    * number of DECODABLE rows appended (corrupt rows drop, never
    * fail). The fingerprint frame is persisted so the batch is
    * decoded exactly once: count materializes the cache, the append
    * reads it back. */
  def ingest(media: Dataset[Multimodal.MediaRecord]): Long =
    ingestFrame(fingerprintFrame(media))

  /** Append a PRECOMPUTED (doc_id, fp) frame — the decode-once
    * composition seam (r19): `audiofp-ingest` derives the envelope
    * store AND the energy-window store from ONE PCM pass, so the
    * envelope side must accept the already-derived frame instead of
    * re-decoding the batch. Same persist/count/append discipline as
    * [[ingest]]; the caller owns the contract that the frame came
    * from the binding's own decoder. */
  private[graft] def ingestFrame(frame: DataFrame): Long = {
    val fps = frame.select(col("doc_id"), col("fp"))
    fps.persist()
    try {
      val n = fps.count()
      store.append(fps)
      n
    } finally fps.unpersist()
  }

  /** The stored fingerprint frame, re-delivery folded: one
    * (doc_id, fp) row per doc. */
  def fingerprints: DataFrame =
    store.read(spark.range(0).select(col("id").as("doc_id"),
      col("id").as("fp"))).distinct()

  /** Hamming-≤ near-dup pairs over the STORE — zero payload access. */
  def pairs(maxHamming: Int = 3, bits: Int = 64): DataFrame =
    Dedup.fingerprintPairs(fingerprints, "doc_id", "fp", maxHamming,
      bits)

  /** Near-dup components + canonical picks (the KEEP/DROP list) over
    * the STORE — zero payload access. */
  def clusters(maxHamming: Int = 3, bits: Int = 64): DataFrame =
    Dedup.fingerprintClusters(fingerprints, "doc_id", "fp",
      maxHamming, bits)

  /** STORE-SIDE decontamination (r19 — the verdict's readout gap #4):
    * screen the FULL stored history against a NEW eval set's
    * fingerprints ([[Dedup.fingerprintDecontam]] over stored state) —
    * the quarterly "does any of our 100 TB of history leak this
    * benchmark" question, answered with zero train-side payload
    * re-decode. `evalFps` is the eval set's (doc_id, fp) frame,
    * decoded by the binding's own decoder (benchmarks-small — AQE
    * broadcasts it on its own, never a forced hint). Output
    * (doc_id, hamming, eval_id), contaminated stored docs only. */
  def decontam(evalFps: DataFrame, maxHamming: Int = 3,
      bits: Int = 64): DataFrame =
    Dedup.fingerprintDecontam(fingerprints, evalFps, "doc_id", "fp",
      maxHamming, bits)

  /** Fold the per-ingest appends into the distinct frame. Returns
    * (files before, files after). */
  def compact(): (Long, Long) = store.compact(fingerprints)
}

/** Incremental AUDIO-fingerprint store — the [[DhashStore]] family's
  * audio binding (q262/q266's envelope-hash state): gain-robust
  * 64-bit energy-envelope hashes ([[Multimodal.audioFingerprints]])
  * with the shared decode-once / distinct-merge discipline. PCM
  * WAV/AIFF only (the documented JDK limit — q262's contract). */
final class AudioFpStore(spark: SparkSession, storeDir: String)
    extends FingerprintStore(spark, storeDir, "audio fp store") {
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.audioFingerprints(media).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("fp"))
}

/** Incremental SEQUENCE-fingerprint store — the family's multi-frame
  * shape (per-frame dHash state): rows are (doc_id, frame_idx, fp)
  * rather than one fp per doc, so the dedup readouts go through the
  * aligned sequence machinery
  * ([[graft.operators.Dedup.alignedFingerprintPairs]] /
  * [[graft.operators.Dedup.alignedFingerprintClusters]]) instead of
  * [[graft.operators.Dedup.fingerprintPairs]] — everything else is
  * the family contract verbatim: each arriving batch is walked and
  * frame-decoded ONCE (the dominant cost — container walk + one
  * ImageIO decode per frame), 16 bytes per FRAME cross into the
  * store, re-delivered batches fold away in the read-side distinct
  * (fingerprints are pure functions of the payload), corrupt frames
  * are never stored, and [[compact]] folds the appends.
  * The decode pass is the binding's single seam — [[VideoFpStore]]
  * (MJPEG/AVI) and [[GifFpStore]] (static + animated GIF) differ in
  * nothing else. */
abstract class SequenceFpStore(spark: SparkSession, storeDir: String,
    what: String) {

  /** One decode pass over the batch: the (doc_id, frame_idx, fp)
    * rows of the DECODABLE frames only — the binding's single seam. */
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame

  private val store = new ParquetStore(spark, storeDir, what)

  /** Walk + frame-decode one media batch and append its per-frame
    * fingerprints. Returns the number of DECODABLE payloads appended
    * (corrupt containers and frames drop, never fail). The frame
    * frame is persisted so the batch is decoded exactly once: the
    * count materializes the cache, the append reads it back. */
  def ingest(media: Dataset[Multimodal.MediaRecord]): Long =
    ingestFrame(fingerprintFrame(media))

  /** Append a PRECOMPUTED (doc_id, frame_idx, fp) frame — the
    * decode-once composition seam (r19), the [[FingerprintStore
    * .ingestFrame]] contract on sequences: `audiofp-ingest` feeds the
    * energy-window store and the envelope store from ONE PCM pass. */
  private[graft] def ingestFrame(frame: DataFrame): Long = {
    val fps = frame.select(col("doc_id"), col("frame_idx"), col("fp"))
    fps.persist()
    try {
      val n = fps.select(col("doc_id")).distinct().count()
      store.append(fps)
      n
    } finally fps.unpersist()
  }

  /** The stored frame-fingerprint frame, re-delivery folded: one
    * (doc_id, frame_idx, fp) row per decoded frame. */
  def fingerprints: DataFrame =
    store.read(spark.range(0).select(col("id").as("doc_id"),
      col("id").as("frame_idx"), col("id").as("fp"))).distinct()

  /** Aligned sequence near-dup pairs over the STORE — zero payload
    * access (q278's decision on the full history). */
  def pairs(maxHamming: Int = 3, bits: Int = 64): DataFrame =
    graft.operators.Dedup.alignedFingerprintPairs(fingerprints,
      "doc_id", "frame_idx", "fp", maxHamming, bits)

  /** Sequence near-dup components + canonical picks over the STORE —
    * zero payload access (q279's KEEP/DROP list). */
  def clusters(maxHamming: Int = 3, bits: Int = 64): DataFrame =
    graft.operators.Dedup.alignedFingerprintClusters(fingerprints,
      "doc_id", "frame_idx", "fp", maxHamming, bits)

  /** OFFSET-TOLERANT clip containment pairs over the STORE (q305's
    * decision on the full history — r18): the same stored frame rows
    * answer the trimmed-re-upload question the aligned readouts
    * cannot (a cut intro shifts every index), zero payload access —
    * one store, both dedup geometries. */
  def clipPairs(k: Int = 3, minSharedNum: Int = 1,
      minSharedDen: Int = 2, maxDf: Long = 100L): DataFrame =
    graft.operators.Dedup.sequenceShingleContainment(fingerprints,
      "doc_id", "frame_idx", "fp", k, minSharedNum, minSharedDen,
      maxDf)

  /** Clip FAMILIES + canonical picks over the STORE (q308's decision
    * on the full history): components over [[clipPairs]]' relation
    * via the representative pair graph
    * ([[graft.operators.Dedup.sequenceShingleClusters]] — r19: the
    * member-pair expansion never materializes), universe = the
    * store's shingle-able sequences (≥ k frames). */
  def clipClusters(k: Int = 3, minSharedNum: Int = 1,
      minSharedDen: Int = 2, maxDf: Long = 100L): DataFrame =
    graft.operators.Dedup.sequenceShingleClusters(fingerprints,
      "doc_id", "frame_idx", "fp", k, minSharedNum, minSharedDen,
      maxDf)

  /** STORE-SIDE sequence decontamination (r19 — the readout gap #4,
    * aligned geometry): screen the FULL stored history against a NEW
    * eval set's frame sequences ([[graft.operators.Dedup
    * .alignedFingerprintDecontam]] — the rung that sees a re-encoded/
    * remuxed eval clip), zero train-side payload re-decode. `evalFps`
    * = (doc_id, frame_idx, fp), decoded by the binding's own
    * decoder. */
  def decontam(evalFps: DataFrame, maxHamming: Int = 3,
      bits: Int = 64): DataFrame =
    graft.operators.Dedup.alignedFingerprintDecontam(fingerprints,
      evalFps, "doc_id", "frame_idx", "fp", maxHamming, bits)

  /** STORE-SIDE clip decontamination (r19 — the OFFSET-TOLERANT
    * gate, [[graft.operators.Dedup.sequenceShingleDecontam]] over
    * stored state): a TRIMMED/embedded eval clip shifts every frame
    * index and escapes [[decontam]]'s aligned matching; this rung
    * flags stored docs carrying ≥ `num/den` of some eval clip's
    * k-gram shingles — both gates from the same stored frame rows,
    * zero payload re-access. */
  def clipDecontam(evalFps: DataFrame, k: Int = 3,
      minSharedNum: Int = 1, minSharedDen: Int = 2,
      maxDf: Long = 100L): DataFrame =
    graft.operators.Dedup.sequenceShingleDecontam(fingerprints,
      evalFps, "doc_id", "frame_idx", "fp", k, minSharedNum,
      minSharedDen, maxDf)

  /** Fold the per-ingest appends into the distinct frame. Returns
    * (files before, files after). */
  def compact(): (Long, Long) = store.compact(fingerprints)
}

/** The MJPEG/AVI binding (q277/q278/q279's state). Non-MJPEG videos
  * contribute no rows (their honest tier is exact byte identity,
  * which [[ChecksumStore]] already serves). */
final class VideoFpStore(spark: SparkSession, storeDir: String)
    extends SequenceFpStore(spark, storeDir, "video fp store") {
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.videoFrameFingerprints(media).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("frame_idx"), col("fp"))
}

/** The GIF binding (q284/q285's state): static GIFs store one frame
  * (their aligned signature degenerates to single-image dHash
  * identity), animated ones a row per stored frame. Non-GIF payloads
  * contribute no rows. */
final class GifFpStore(spark: SparkSession, storeDir: String)
    extends SequenceFpStore(spark, storeDir, "gif fp store") {
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.gifFrameFingerprints(media).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("frame_idx"), col("fp"))
}

/** The AUDIO ENERGY-WINDOW binding (r19 — the verdict's store gap
  * #3): a recording's window-energy stream IS a fingerprint sequence
  * (rows `(doc_id, w, amp)` stored as `(doc_id, frame_idx, fp)`), so
  * persisting it lets the OFFSET-TOLERANT clip readouts — q307/q309's
  * decisions via [[clipPairs]]/[[clipClusters]]/[[clipDecontam]] —
  * answer over FULL HISTORY with zero payload re-decode, the
  * decode-once discipline the video/GIF sequence stores already
  * honor (before this store, a trimmed-re-upload question over
  * history meant re-decoding every payload's PCM). The aligned
  * readouts stay meaningful at `maxHamming = 0` (exact window-energy
  * alignment); envelope-hash proximity remains [[AudioFpStore]]'s
  * readout — `audiofp-ingest` feeds BOTH stores from ONE PCM pass
  * ([[graft.operators.Multimodal.envelopeFromEnergies]] derives the
  * envelope from this store's batch frame). Rows are 24 B each; a
  * policy-capped per-recording window count bounds the store's rows
  * per doc exactly as frame sampling bounds the video stores. */
final class AudioEnergyStore(spark: SparkSession, storeDir: String)
    extends SequenceFpStore(spark, storeDir, "audio energy store") {
  protected def fingerprintFrame(
      media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.audioWindowEnergies(media).toDF()
      .select(col("doc_id"), col("w").as("frame_idx"),
        col("amp").as("fp"))
}
