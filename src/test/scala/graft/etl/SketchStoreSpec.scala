package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Sketch

/** The sketch-store invariants, the LshIndexSpec pattern: batch-split
  * ingest must merge to EXACTLY the one-shot sketch (sum for CMS
  * counters, max for HLL registers), compact() must preserve it, HLL
  * re-delivery must be a no-op, and a shape-mismatched reopen must
  * fail fast instead of silently mis-bucketing. */
class SketchStoreSpec extends SparkSpec {
  import SketchStoreSpec.AppendPath

  // an occurrence stream with deliberate duplicates: 600 rows over
  // 200 distinct hashes, every hash small enough for the HLL contract
  private def hashes = spark.range(600)
    .select((col("id") % 200L).as("h"),
      concat(lit("g"), col("id") % 3L).as("grp"))

  test("CMS: batch-split ingest merges to the one-shot grid; compact keeps it") {
    val dir = Files.createTempDirectory("graft_cms_store").toString + "/store"
    val store = new CmsStore(spark, dir, width = 64)
    store.ingest(hashes.where(col("h") < 100L), "h")
    store.ingest(hashes.where(col("h") >= 100L), "h")
    def grid(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = grid(Sketch.cmBuild(hashes, "h", width = 64))
    assert(grid(store.sketch) == oneShot)
    val (before, after) = store.compact()
    assert(before > after, s"compact $before -> $after files")
    assert(grid(store.sketch) == oneShot) // merge-on-compact loses nothing
    // estimates against the store keep the never-undercount guarantee
    val probes = hashes.select(col("h")).distinct()
      .withColumn("cf", lit(3L)) // every hash occurs exactly 3x
    val est = store.estimate(probes, "h").collect()
    assert(est.length == 200)
    assert(est.forall(r => r.getAs[Long]("est_cf") >= r.getAs[Long]("cf")))
  }

  test("CMS: reopening at a different width fails fast") {
    val dir = Files.createTempDirectory("graft_cms_store2").toString + "/store"
    new CmsStore(spark, dir, width = 64).ingest(hashes, "h")
    val wrong = new CmsStore(spark, dir, width = 128)
    val e = intercept[IllegalArgumentException] { wrong.ingest(hashes, "h") }
    assert(e.getMessage.contains("width"))
    intercept[IllegalArgumentException] { wrong.sketch.collect() }
  }

  test("HLL: batch-split ingest == one-shot registers; re-delivery is a no-op") {
    val dir = Files.createTempDirectory("graft_hll_store").toString + "/store"
    val store = new HllStore(spark, dir, "grp", m = 16, wBits = 20)
    val b1 = hashes.where(col("h") < 100L)
    store.ingest(b1, "h")
    store.ingest(hashes.where(col("h") >= 100L), "h")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val oneShot = regs(Sketch.hllRegisters(hashes, "grp", "h", 16, 20))
    assert(regs(store.registers) == oneShot)
    // idempotence: re-delivering batch 1 moves nothing
    store.ingest(b1, "h")
    assert(regs(store.registers) == oneShot)
    // estimates fold ≡ the one-shot operator, row for row
    val direct = Sketch.hllDistinct(hashes, "grp", "h", 16, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val stored = store.estimates.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stored == direct)
    // compact merges to one row per (group, bucket) and keeps results
    store.compact()
    assert(regs(store.registers) == oneShot)
  }

  test("HLL: reopening at a different shape fails fast") {
    val dir = Files.createTempDirectory("graft_hll_store2").toString + "/store"
    new HllStore(spark, dir, "grp", m = 16, wBits = 20).ingest(hashes, "h")
    val wrong = new HllStore(spark, dir, "grp", m = 32, wBits = 20)
    val e = intercept[IllegalArgumentException] { wrong.registers.collect() }
    assert(e.getMessage.contains("m="))
  }

  test("CLI cores: cms-ingest and hll-ingest append to their stores") {
    val base = Files.createTempDirectory("graft_sketch_cli").toString
    val src = base + "/batch.parquet"
    hashes.write.parquet(src)
    val n1 = graft.Main.runCmsIngest(spark, src, "h", base + "/cms")
    assert(n1 > 0L && n1 <= 4L * 1024L) // ≤ depth·width counters
    val n2 = graft.Main.runHllIngest(spark, src, "grp", "h", base + "/hll")
    assert(n2 == 3L) // one estimate row per group
    val n3 = graft.Main.runBloomIngest(spark, src, "h", base + "/bloom")
    assert(n3 == 1L) // one filter blob per append
  }

  // a value stream for the grid store: 400 doubles over [0, 50)
  private def values = spark.range(400)
    .select((col("id") % 200L).cast("double") / 4.0).toDF("v")

  test("Grid: batch-split ingest answers EXACTLY the one-shot " +
    "percentiles; compact keeps them") {
    val dir = Files.createTempDirectory("graft_grid_store").toString + "/store"
    val store = new GridStore(spark, dir, width = 0.5)
    store.ingest(values.where(col("v") < 25.0), "v")
    store.ingest(values.where(col("v") >= 25.0), "v")
    val ps = Seq(0.25, 0.5, 0.99)
    def ans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val oneShot = ans(graft.operators.Profiling.gridPercentile(
      values, "v", width = 0.5, ps = ps))
    assert(ans(store.percentiles(ps)) == oneShot)
    val (before, after) = store.compact()
    assert(before > after, s"compact $before -> $after files")
    assert(ans(store.percentiles(ps)) == oneShot)
  }

  test("Grid: reopening at a different width fails fast; non-dyadic " +
    "width rejected") {
    val dir = Files.createTempDirectory("graft_grid_store2").toString + "/store"
    new GridStore(spark, dir, width = 0.5).ingest(values, "v")
    val wrong = new GridStore(spark, dir, width = 0.25)
    val e = intercept[IllegalArgumentException] { wrong.ingest(values, "v") }
    assert(e.getMessage.contains("width"))
    intercept[IllegalArgumentException] { wrong.bins.collect() }
    intercept[IllegalArgumentException] {
      new GridStore(spark, dir, width = 0.3)
    }
  }

  test("CLI core: grid-ingest appends and reports the merged bin count") {
    val base = Files.createTempDirectory("graft_grid_cli").toString
    val src = base + "/batch.parquet"
    values.write.parquet(src)
    val n = graft.Main.runGridIngest(spark, src, "v", 0.5, base + "/grid")
    assert(n == 100L) // 200 distinct values / (0.5 width · 4 scale)
  }

  test("Bloom: batch-split ingest ORs to the one-shot filter bytes; " +
    "re-delivery is a no-op; compact keeps the bits") {
    val dir = Files.createTempDirectory("graft_bloom_store").toString +
      "/store"
    val store = new BloomStore(spark, dir, expectedItems = 1000L,
      fpp = 0.01)
    val b1 = hashes.where(col("h") < 100L)
    store.ingest(b1, "h")
    store.ingest(hashes.where(col("h") >= 100L), "h")
    // one-shot reference: a single filter over the whole stream
    val oneDir = Files.createTempDirectory("graft_bloom_one").toString +
      "/store"
    val one = new BloomStore(spark, oneDir, expectedItems = 1000L,
      fpp = 0.01)
    one.ingest(hashes, "h")
    assert(java.util.Arrays.equals(store.filterBytes(), one.filterBytes()))
    // idempotence: re-delivering batch 1 cannot move a bit
    store.ingest(b1, "h")
    assert(java.util.Arrays.equals(store.filterBytes(), one.filterBytes()))
    // compact: 3 appended blobs -> 1, bits identical
    val bytesBefore = store.filterBytes()
    val (before, after) = store.compact()
    assert(before > after, s"compact $before -> $after files")
    assert(java.util.Arrays.equals(store.filterBytes(), bytesBefore))
    // no false negatives: every ingested key probes true; a disjoint
    // range mostly probes false (fpp trickle allowed)
    val pos = store.probe(hashes.select(col("h")).distinct(), "h", "m")
    assert(pos.where(!col("m")).count() == 0)
    val neg = store.probe(
      spark.range(10000, 11000).select(col("id").as("h")), "h", "m")
    assert(neg.where(col("m")).count() < 100) // ~1% of 1000
  }

  test("Bloom: reopening at a different shape fails fast; empty store " +
    "probes all-miss") {
    val dir = Files.createTempDirectory("graft_bloom_store2").toString +
      "/store"
    new BloomStore(spark, dir, expectedItems = 1000L).ingest(hashes, "h")
    val wrong = new BloomStore(spark, dir, expectedItems = 2000L)
    val e = intercept[IllegalArgumentException] { wrong.ingest(hashes, "h") }
    assert(e.getMessage.contains("shape") ||
      e.getMessage.contains("expectedItems"))
    val emptyDir = Files.createTempDirectory("graft_bloom_empty")
      .toString + "/store"
    val empty = new BloomStore(spark, emptyDir, expectedItems = 1000L)
    val out = empty.probe(hashes.select(col("h")), "h", "m")
    assert(out.where(col("m")).count() == 0)
  }

  test("Trend: batch-split ingest fits EXACTLY the one-shot slopes — " +
    "a shared day across batches merges by SUM; compact keeps it") {
    val s2 = spark; import s2.implicits._
    import graft.operators.Trend
    // key A ramps 1,2,3,4,5 over 5 days; the day-3 mass SPLITS across
    // the two batches — the case where merged five-sums would
    // double-count the day and the (key, day) grain does not
    def rows(counts: Seq[(String, Int, Int)]) = counts.flatMap {
      case (k, d, c) => Seq.fill(c)((k, f"2024-01-$d%02d")) }
    val all = rows(Seq(("A", 1, 1), ("A", 2, 2), ("A", 3, 3),
      ("A", 4, 4), ("A", 5, 5), ("B", 1, 7)))
    val b1 = rows(Seq(("A", 1, 1), ("A", 2, 2), ("A", 3, 1)))
    val b2 = rows(Seq(("A", 3, 2), ("A", 4, 4), ("A", 5, 5),
      ("B", 1, 7)))
    def frame(r: Seq[(String, String)]) = r.toDF("k", "day")
      .select(col("k"), to_date(col("day")).as("day"))
    val dir = Files.createTempDirectory("graft_trend_store")
      .toString + "/store"
    val store = new TrendStore(spark, dir)
    store.ingest(frame(b1), "k", "day")
    store.ingest(frame(b2), "k", "day")
    def fit(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val oneShot = fit(Trend.olsTrend(frame(all), col("k"), col("day")))
    assert(fit(store.slopes) == oneShot)
    assert(oneShot("A") == ((5L, Some(1.0)))) // the clean ramp, exactly
    val (before, after) = store.compact()
    assert(before > after)
    assert(fit(store.slopes) == oneShot)
    // CLI core
    val base = Files.createTempDirectory("graft_trend_cli").toString
    frame(b1).write.parquet(s"$base/b1")
    val n = graft.Main.runTrendIngest(spark, s"$base/b1", "k", "day",
      s"$base/store")
    assert(n == 1L) // one key in batch 1
  }

  // -- every store handle's append path in a compact() crash window

  private def docs = {
    val s = spark; import s.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "a quick brown fox jumps over the lazy dog once more"))
      .toDF("doc_id", "text")
  }

  /** Fingerprint rows of the media stores' shape. */
  private def fps(cols: String*) =
    spark.range(4).select(cols.map(c => col("id").as(c)): _*)

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  private val appendPaths: Seq[(String, String => AppendPath)] = Seq(
    "CMS" -> { d => val s = new CmsStore(spark, d, width = 64)
      AppendPath(() => s.ingest(hashes, "h"), () => sorted(s.sketch),
        () => s.compact()) },
    "HLL" -> { d => val s = new HllStore(spark, d, "grp", m = 16, wBits = 20)
      AppendPath(() => s.ingest(hashes, "h"), () => sorted(s.registers),
        () => s.compact()) },
    "Grid" -> { d => val s = new GridStore(spark, d, width = 0.5)
      AppendPath(() => s.ingest(values, "v"), () => sorted(s.bins),
        () => s.compact()) },
    "Bloom" -> { d => val s = new BloomStore(spark, d, expectedItems = 1000L)
      AppendPath(() => s.ingest(hashes, "h"),
        () => Seq(s.filterBytes().mkString(",")), () => s.compact()) },
    "Trend" -> { d => val s = new TrendStore(spark, d)
      AppendPath(() => s.ingest(docs.select(col("doc_id"),
          to_date(lit("2024-01-01")).as("day")), "doc_id", "day"),
        () => sorted(s.dailyCounts), () => s.compact()) },
    "KMV" -> { d => val s = new KmvStore(spark, d, 16)
      AppendPath(() => s.ingest(docs, "doc_id", "text"),
        () => sorted(s.sketches), () => s.compact()) },
    "Df" -> { d => val s = new DfStore(spark, d, n = 3)
      AppendPath(() => s.ingest(docs, "doc_id", "text"),
        () => sorted(s.dfCounts), () => s.compact()) },
    "Checksum" -> { d => val s = new ChecksumStore(spark, d)
      AppendPath(() => s.ingest(docs, "doc_id", "text"),
        () => sorted(s.fingerprint), () => s.compact()) },
    "Novelty" -> { d => val s = new NoveltyStore(spark, d)
      AppendPath(() => s.scoreAndRecord(docs, "doc_id", "text").collect(),
        () => sorted(s.seenShingles), () => s.compact()) },
    "LSH" -> { d => val s = new LshIndex(spark, d)
      AppendPath(() => s.probeAndRecord(docs, "doc_id", "text").collect(),
        () => sorted(s.storedSignatures), () => s.compact()) },
    "Winnow" -> { d => val s = new WinnowIndex(spark, d)
      AppendPath(() => s.probeAndRecord(docs, "doc_id", "text").collect(),
        () => sorted(s.storedFingerprints), () => s.compact()) },
    "Dhash" -> { d => val s = new DhashStore(spark, d)
      AppendPath(() => s.ingestFrame(fps("doc_id", "fp")),
        () => sorted(s.fingerprints), () => s.compact()) },
    "AudioFp" -> { d => val s = new AudioFpStore(spark, d)
      AppendPath(() => s.ingestFrame(fps("doc_id", "fp")),
        () => sorted(s.fingerprints), () => s.compact()) },
    "VideoFp" -> { d => val s = new VideoFpStore(spark, d)
      AppendPath(() => s.ingestFrame(fps("doc_id", "frame_idx", "fp")),
        () => sorted(s.fingerprints), () => s.compact()) },
    "GifFp" -> { d => val s = new GifFpStore(spark, d)
      AppendPath(() => s.ingestFrame(fps("doc_id", "frame_idx", "fp")),
        () => sorted(s.fingerprints), () => s.compact()) },
    "AudioEnergy" -> { d => val s = new AudioEnergyStore(spark, d)
      AppendPath(() => s.ingestFrame(fps("doc_id", "frame_idx", "fp")),
        () => sorted(s.fingerprints), () => s.compact()) })

  for ((name, open) <- appendPaths)
    test(s"$name: ingest into a compact crash window THROWS instead of " +
      "creating a fresh store beside the preserved copy") {
      import org.apache.hadoop.fs.{FileSystem, Path}
      val base = Files.createTempDirectory("graft_store_crash").toString
      val store = open(s"$base/store")
      store.append()
      val preCrash = store.rows()
      assert(preCrash.nonEmpty)
      // simulate the mid-swap crash: live dir renamed away to .compact_old
      val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      fs.rename(new Path(s"$base/store"), new Path(s"$base/store.compact_old"))
      val e = intercept[IllegalStateException] { store.append() }
      assert(e.getMessage.contains("compact"))
      // the preserved copy is untouched, and no fresh store appeared
      assert(fs.exists(new Path(s"$base/store.compact_old")))
      assert(!fs.exists(new Path(s"$base/store")))
      // compact() heals: every pre-crash row is readable again
      store.compact()
      assert(store.rows() == preCrash)
      assert(!fs.exists(new Path(s"$base/store.compact_old")))
    }
}

private object SketchStoreSpec {

  /** A store opened on a directory: append one batch, its rows as
    * stored (rendered and sorted, to compare across the crash), and
    * compact. */
  final case class AppendPath(append: () => Unit, rows: () => Seq[String],
      compact: () => Unit)
}
