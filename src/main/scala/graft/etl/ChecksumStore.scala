package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Diff

/** Incremental corpus-integrity store — the PRODUCTION form of
  * [[graft.operators.Diff.contentChecksum]] (q243): a live pipeline
  * doesn't re-scan 100 TB to re-fingerprint the corpus after every
  * ingest; it folds each arriving batch's per-group checksum row into
  * a persisted frame and reads the corpus fingerprint as a merge.
  * Transfer verification becomes: run the SAME ingests on both sides
  * (any partitioning, any order), compare two |groups|-row tables.
  *
  * Merge laws, per component: row/NULL counts merge by SUM (exact
  * integers); the 31-fold content sum merges by ADDITION MOD 2⁶²
  * (modular addition is associative and commutative, so per-batch
  * residues merge exactly); the 131-fold XOR merges by XOR. All three
  * are order- and partitioning-insensitive — the property the whole
  * design buys — under the store family's one delivery contract:
  * batches PARTITION the corpus (the [[DfStore]] exactly-once-per-row
  * reading; a re-delivered batch double-counts the sum and CANCELS in
  * the XOR, which is precisely the disagreement pattern the two
  * checksums surface on read).
  *
  * Scale shape: one partial-aggregated counter fold per batch (the
  * q243 shape — codegen'd char folds, |groups|-row appends); the
  * store holds |groups|·|ingests| counter rows until [[compact]]
  * rewrites them into |groups|.
  */
final class ChecksumStore(spark: SparkSession, storeDir: String) {

  private val Mod = 4611686018427387904L // 2^62

  private val store = new ParquetStore(spark, storeDir, "checksum store")

  /** Fold one batch's per-group checksums into the store. The batch
    * must be NEW rows (the partition-by-row contract above). */
  def ingest(batch: DataFrame, groupCol: String, textCol: String): Unit =
    store.append(Diff.contentChecksum(batch, groupCol, textCol))

  /** The corpus fingerprint over everything ingested: one row per
    * group, identical to a one-shot [[Diff.contentChecksum]] over the
    * union of all batches (spec-pinned). */
  def fingerprint: DataFrame =
    store.read(spark.range(0).select(col("id").cast("string").as("grp"),
        col("id").as("n_rows"), col("id").as("n_nulls"),
        col("id").as("sum_hash"), col("id").as("xor_hash")))
      .groupBy(col("grp"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        expr(s"CAST(sum(CAST(sum_hash AS DECIMAL(38,0))) % ${Mod}L" +
          " AS BIGINT)").as("sum_hash"),
        expr("bit_xor(xor_hash)").as("xor_hash"))
      .orderBy(col("grp").asc_nulls_first)

  /** Merge-on-compact: rewrite the per-ingest appends into the merged
    * |groups| frame. Returns (files before, files after). */
  def compact(): (Long, Long) = store.compact(fingerprint)
}
