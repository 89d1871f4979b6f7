package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.operators.Sketch

/** Durable, mergeable sketch stores — the [[NoveltyStore]]/[[LshIndex]]
  * append-and-compact discipline applied to the two sketches built for
  * it ([[Sketch]]): a live ingest appends each batch's PARTIAL sketch
  * (a CMS counter grid, an HLL register table) and every read folds the
  * appends with the sketch's own merge — SUM for CMS counters, MAX for
  * HLL registers. Both merges are associative and commutative, so
  * batch boundaries can never change the result (spec-pinned
  * batch-split ≡ one-shot, the LshIndexSpec pattern); HLL's max is
  * additionally IDEMPOTENT, so re-delivered batches cannot move a
  * register, while CMS counts occurrences — exactly-once delivery is
  * the ingest pipeline's contract there, as for any counter.
  *
  * Scale shape: what lands on disk per batch is the SKETCH, never the
  * data — ≤ depth·width rows for CMS regardless of corpus size, ≤
  * m rows per group for HLL regardless of cardinality — and the
  * merge-fold reads only those rows back. `compact()` rewrites the
  * accumulated appends into the single merged grid, after which the
  * store holds one row per counter/register again. Every store here
  * holds a [[ParquetStore]] handle, which owns the gate, the reads,
  * the appends and the crash-safe compaction.
  *
  * Shape parameters ride as column metadata (the [[Sketch.cmBuild]]
  * fail-fast pattern) so reopening a store at a mismatched
  * width/m/wBits throws instead of silently mis-bucketing.
  */
final class CmsStore(spark: SparkSession, storeDir: String,
    width: Int = 1024) {
  require(width > 0 && (width & (width - 1)) == 0,
    s"width must be a power of two, got $width")

  private val widthMeta = new MetadataBuilder()
    .putLong("cm_width", width.toLong)
    .putLong("cm_depth", Sketch.depth.toLong).build()

  // parquet round-trips Spark column metadata, so the width the grid
  // was BUILT at survives on `cnt`
  private val store = new ParquetStore(spark, storeDir, "CMS store",
    stamp = Some("cnt" -> widthMeta))

  /** Append one batch's partial counter grid (≤ depth·width rows —
    * the batch is folded to its sketch BEFORE anything is written). */
  def ingest(hashes: DataFrame, hashCol: String): Unit =
    store.append(Sketch.cmBuild(hashes, hashCol, width))

  /** The merged sketch over everything ingested: counters SUM across
    * appended partial grids, ≤ depth·width rows, width metadata
    * re-stamped so [[Sketch.cmEstimate]]'s probe-width check holds. */
  def sketch: DataFrame =
    store.read(spark.range(0).select(col("id").cast("int").as("r"),
        col("id").as("b"), col("id").as("cnt")))
      .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))
      .select(col("r"), col("b"), col("cnt").as("cnt", widthMeta))

  /** Point estimates against the merged store ([[Sketch.cmEstimate]]:
    * broadcast grid, probes keep columns and multiplicity). */
  def estimate(probes: DataFrame, hashCol: String): DataFrame =
    Sketch.cmEstimate(probes, hashCol, sketch, width)

  /** Merge-on-compact: rewrite the appends into the single merged
    * grid. Returns (files before, after). */
  def compact(): (Long, Long) = store.compact(sketch)
}

/** HLL register store — see [[CmsStore]]'s scaladoc for the shared
  * discipline. Registers merge by keyed MAX (idempotent: re-ingesting
  * a batch is a no-op), estimates fold from the merged registers at
  * read time with [[Sketch.hllEstimateFromRegisters]]. */
final class HllStore(spark: SparkSession, storeDir: String,
    groupCol: String, m: Int = 256, wBits: Int = 52) {
  require(m >= 16 && (m & (m - 1)) == 0,
    s"m must be a power of two >= 16, got $m")
  require(wBits > 0 && wBits <= 56, s"need 0 < wBits <= 56, got $wBits")

  private val store = new ParquetStore(spark, storeDir, "HLL store",
    stamp = Some("mj" -> new MetadataBuilder().putLong("hll_m", m.toLong)
      .putLong("hll_wbits", wBits.toLong).build()))

  /** Append one batch's register table (≤ m rows per group in the
    * batch; `hashCol` must satisfy [[Sketch.hllRegisters]]'s
    * non-negative `hash < m·2^wBits` contract). */
  def ingest(rows: DataFrame, hashCol: String): Unit =
    store.append(Sketch.hllRegisters(rows, groupCol, hashCol, m, wBits))

  /** The merged register table: keyed max across appended batches —
    * exactly [[Sketch.hllRegisters]] over the union of everything
    * ingested. Before the first ingest the empty frame types the
    * group column as string; the first ingest fixes the schema from
    * the data, and the empty frame is never joined against (the
    * LshIndex empty-store rule). */
  def registers: DataFrame =
    store.read(spark.range(0).select(col("id").cast("string").as(groupCol),
        col("id").as("b"), col("id").cast("int").as("mj")))
      .groupBy(col(groupCol), col("b")).agg(max(col("mj")).as("mj"))

  /** Per-group cardinality estimates from the merged registers —
    * ≡ [[Sketch.hllDistinct]] over the union of everything ingested. */
  def estimates: DataFrame =
    Sketch.hllEstimateFromRegisters(registers, groupCol, m, wBits)

  /** Merge-on-compact ([[CmsStore.compact]]). */
  def compact(): (Long, Long) = store.compact(registers)
}

/** Grid-percentile bin store — the third mergeable sketch under the
  * shared discipline: [[graft.operators.Profiling.gridPercentile]]'s
  * state is one counter per non-empty dyadic bin, counters SUM across
  * batches (the CMS merge), and the store answers any percentile from
  * the merged counters via the IDENTICAL answer stage the one-shot
  * operator uses ([[graft.operators.Profiling.gridPercentileFromBins]]
  * — store ≡ one-shot by shared plan, not by reimplementation). This
  * is the percentile a 100 TB ingest pipeline can actually afford to
  * keep warm: the exact `percentile` aggregate would re-scan the
  * corpus per question; the bin store folds each arriving batch once
  * and answers every later p from ≤ range/width counter rows.
  * Counters count occurrences, so exactly-once delivery is the ingest
  * contract (the [[CmsStore]] caveat, not the idempotent [[HllStore]]
  * one). The dyadic width rides as column metadata — reopening at a
  * different width fails fast instead of silently mis-binning. */
final class GridStore(spark: SparkSession, storeDir: String,
    width: Double) {
  require(graft.operators.Profiling.isDyadic(width),
    s"GridStore width must be a power of two, got $width")

  private val store = new ParquetStore(spark, storeDir, "grid store",
    stamp = Some("n" -> new MetadataBuilder()
      .putDouble("grid_width", width).build()))

  /** Append one batch's bin counters (≤ batch-range/width rows — the
    * batch folds to its sketch BEFORE anything is written). */
  def ingest(rows: DataFrame, valueCol: String): Unit =
    store.append(graft.operators.Profiling.gridBins(rows, valueCol, width))

  /** The merged counter frame: bin counts SUM across appends. */
  def bins: DataFrame =
    store.read(spark.range(0).select(col("id").as("bin"), col("id").as("n")))
      .groupBy(col("bin")).agg(sum(col("n")).as("n"))

  /** Percentile answers over everything ingested — the one-shot
    * operator's answer stage on the merged counters. */
  def percentiles(ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentile points must be in (0, 1], got $ps")
    graft.operators.Profiling.gridPercentileFromBins(bins, width, ps)
  }

  /** Merge-on-compact ([[CmsStore.compact]]). */
  def compact(): (Long, Long) = store.compact(bins)
}

/** Durable Bloom-filter store — the decontamination gate's membership
  * set under the same append-and-compact discipline. Each `ingest`
  * folds one batch of BIGINT keys into its own Bloom filter (one
  * `stat.bloomFilter` pass — the bit array is the OR of per-key bit
  * positions, deterministic given (expectedItems, fpp) and the key
  * SET) and appends ONE row holding the filter bytes. Reads merge by
  * bitwise OR (`BloomFilter.mergeInPlace`) — associative, commutative
  * and IDEMPOTENT, so batch boundaries and re-delivery can never
  * change the merged bits (spec-pinned batch-split ≡ one-shot at the
  * BYTES level).
  *
  * Scale shape: what lands on disk per batch is the FILTER (~1.2
  * bytes/key at 1% fpp), never the keys; the driver-side merge folds
  * ≤ #appends blobs (bounded by `compact()`, which rewrites them into
  * one row) and the merged bytes ride a
  * broadcast VARIABLE into [[graft.functions.BloomMightContain]]'s
  * codegen'd row-local probe — the q76 rung, now with a persistent
  * between-runs set. False positives are the fpp trickle (callers
  * confirm exactly, the [[graft.operators.Dedup.evalOverlapRate]]
  * contract); false negatives are impossible, so a miss is PROOF the
  * key was never ingested.
  *
  * Shape params (expectedItems, fpp) fix the bit width and hash count
  * — `mergeInPlace` requires both to match, so they ride as column
  * metadata and a reopen at a different shape fails fast instead of
  * producing an incompatible append. */
final class BloomStore(spark: SparkSession, storeDir: String,
    expectedItems: Long = 4L << 20, fpp: Double = 0.01) {
  require(expectedItems > 0, s"need expectedItems > 0, got $expectedItems")
  require(fpp > 0.0 && fpp < 1.0, s"need 0 < fpp < 1, got $fpp")

  private val store = new ParquetStore(spark, storeDir, "Bloom store",
    stamp = Some("bf" -> new MetadataBuilder()
      .putLong("bloom_expected", expectedItems)
      .putString("bloom_fpp", fpp.toString).build()))

  private def row(bytes: Array[Byte]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(bytes)).toDF("bf")
  }

  /** Append one batch's filter (ONE row of bytes, one corpus pass). */
  def ingest(keys: DataFrame, hashCol: String): Unit = {
    val bf = keys.stat.bloomFilter(hashCol, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    store.append(row(bos.toByteArray))
  }

  /** The merged filter bytes over everything ingested (OR-fold of the
    * ≤ #appends blobs; empty store → an empty filter of the store's
    * shape, which reports every probe as a miss). */
  def filterBytes(): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val blobs = store.read(row(Array.emptyByteArray).limit(0))
      .select(col("bf")).collect().map(_.getAs[Array[Byte]](0))
    val merged = blobs.foldLeft(
      BloomFilter.create(expectedItems, fpp)) { (acc, b) =>
      acc.mergeInPlace(BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b)))
      acc
    }
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    bos.toByteArray
  }

  /** Row-local membership probe against the merged store: appends a
    * BOOLEAN `mightCol` via the broadcast-handle codegen probe. */
  def probe(df: DataFrame, hashCol: String, mightCol: String)
      : DataFrame = {
    val bc = spark.sparkContext.broadcast(filterBytes())
    df.withColumn(mightCol, org.apache.spark.sql.GraftColumns.of(
      graft.functions.BloomMightContain(bc,
        org.apache.spark.sql.GraftColumns.expr(col(hashCol)))))
  }

  /** Merge-on-compact: rewrite the appends into ONE merged row.
    * Returns (files before, after). */
  def compact(): (Long, Long) = store.compact(row(filterBytes()))
}

/** Mergeable trend store — the [[GridStore]] discipline applied to
  * [[graft.operators.Trend.olsTrend]]: each `ingest` folds one batch
  * of events into its per-(key, day) COUNT rows and appends; reads
  * merge by SUM and run the one-shot fit stage on the merged frame.
  * Per-(key, day) counts are the split-additive granularity — the
  * five OLS sums themselves are NOT mergeable across batches sharing
  * a day (Σd and Σd² would double-count the shared day), so the store
  * holds the daily frame and the fit stays a read-time fold. Unlike
  * the sketch stores this merge is EXACT: batch-split ≡ one-shot to
  * the last bit (spec-pinned), because counts are integers and
  * addition is the whole merge. Store size is |keys|·|days| — bounded
  * by the calendar, never the corpus. Exactly-once delivery is the
  * scheduler's contract (counters, the CMS caveat). */
final class TrendStore(spark: SparkSession, storeDir: String) {

  private val store = new ParquetStore(spark, storeDir, "trend store")

  /** Append one batch's per-(key, day) counts (one corpus pass,
    * ≤ |keys|·|batch days| rows land). `dayCol` must be DATE-typed or
    * castable. */
  def ingest(df: DataFrame, keyCol: String, dayCol: String): Unit =
    store.append(df.select(col(keyCol).cast("string").as("key"),
        datediff(col(dayCol).cast("date"),
          to_date(lit("1970-01-01"))).as("d"))
      .groupBy(col("key"), col("d")).agg(count(lit(1)).as("c")))

  /** The merged daily frame over everything ingested. */
  def dailyCounts: DataFrame =
    store.read(spark.range(0).select(col("id").cast("string").as("key"),
        col("id").cast("int").as("d"), col("id").as("c")))
      .groupBy(col("key"), col("d")).agg(sum(col("c")).as("c"))

  /** Per-key OLS slopes over the merged store — the one-shot fit
    * stage ([[graft.operators.Trend]]) on [[dailyCounts]]. */
  def slopes: DataFrame =
    graft.operators.Trend.olsFromDaily(dailyCounts)

  /** Per-key half-life decayed mass over the merged store — q215's
    * decay-at-read fold ([[graft.operators.Trend.halfLifeFromDaily]])
    * on [[dailyCounts]]. Decay is NOT stored (the anchor moves with
    * every ingest; yesterday's decayed sums are stale the moment a
    * new day lands) — the store ships exact integer counts and the
    * dyadic fixed-point fold runs at read, so batch-split ≡ one-shot
    * to the bit, however drains slice the days. */
  def decayed(horizonDays: Int = 40): DataFrame =
    graft.operators.Trend.halfLifeFromDaily(
      dailyCounts.select(col("key").as("k"), col("d"),
        col("c").as("n")),
      horizonDays)

  /** Merge-on-compact ([[CmsStore.compact]]). */
  def compact(): (Long, Long) = store.compact(dailyCounts)
}

