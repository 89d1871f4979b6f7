package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.operators.Sketch

/** Incremental KMV sketch store — the PRODUCTION form of
  * [[graft.operators.Sketch.kmvSketch]] (q249/q251): a live pipeline
  * doesn't re-scan the accumulated corpus to re-sketch each source
  * after every ingest; it appends each arriving batch's per-group
  * k-minima and reads the corpus sketch as a merge. Every pairwise
  * composition question ([[pairMatrix]] — q251's readout) is then
  * answered from |groups|·k stored rows, corpus-size-independent.
  *
  * Merge law: the k smallest distinct hashes of a union are contained
  * in the union of the per-part k-minima, so merged state is
  * distinct-then-rank over the appended rows — and the fold is
  * IDEMPOTENT: `min` over a set union ignores duplicates, so a
  * RE-DELIVERED batch cannot move the sketch. This is the deliberate
  * contrast inside the store family: [[CmsStore]]/[[DfStore]] counters
  * double-count on re-delivery (exactly-once is the scheduler's
  * contract there); KMV joins [[Sketch.hllRegisters]]'s register-max
  * law on the at-least-once-safe side. The spec pins
  * both batch-split ≡ one-shot and the re-ingest no-op.
  *
  * The sketch size `k` is part of the store's identity (a k=64 row
  * set merged into a k=256 store would silently report a biased θ);
  * it rides as column metadata on `h` (the [[DfStore]] span
  * discipline) and a mismatched reopen fails fast.
  *
  * Scale shape: each ingest folds its batch with the q249 shape (one
  * scan-fused shingle pass, rank-limited BEFORE the exchange) and
  * appends ≤ |groups|·k rows; the store holds |groups|·k·|ingests|
  * rows until [[compact]] rewrites them into |groups|·k.
  */
final class KmvStore(spark: SparkSession, storeDir: String,
    k: Int = 256) {
  require(k > 1 && (1 << 20) % k == 0,
    s"need k > 1 dividing 2^20, got $k")

  private val store = new ParquetStore(spark, storeDir, "kmv store",
    stamp = Some("h" -> new MetadataBuilder().putLong("kmv_k", k.toLong)
      .build()))

  /** Fold one batch's per-group k-minima into the store. Re-delivery
    * is SAFE (the idempotent-merge law above) — batches need only
    * jointly COVER the corpus, not partition it. */
  def ingest(batch: DataFrame, groupCol: String, textCol: String): Unit =
    store.append(Sketch.kmvSketch(batch, groupCol, textCol, k)
      .select(col(groupCol).as("grp"), col("h")))

  /** The merged per-group sketch over everything ingested: one
    * (grp, h) row per surviving minimum, ≤ k per group — identical to
    * a one-shot [[Sketch.kmvSketch]] over the union of all batches
    * (spec-pinned). */
  def sketches: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    store.read(spark.range(0).select(col("id").cast("string").as("grp"),
        col("id").as("h")))
      .select(col("grp"), col("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"))))
      .where(col("rn") <= k)
      .select(col("grp"), col("h"))
  }

  /** q251's readout over the STORED sketches: the all-pairs overlap
    * matrix, no corpus access at all. */
  def pairMatrix: DataFrame = Sketch.kmvPairMatrix(sketches, "grp", k)

  /** Merge-on-compact: rewrite the per-ingest appends into the merged
    * ≤ |groups|·k frame. Returns (files before, files after). */
  def compact(): (Long, Long) = store.compact(sketches)
}
