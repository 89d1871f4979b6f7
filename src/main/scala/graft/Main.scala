package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.types.StructType

import graft.engine.GraftSession
import graft.etl.{EtlJob, IncrementalSink, Report, StarSchema, VariosSplitter}
import graft.sources.{CsvSource, ExcelSource, JsonArraySource, Source, Xlsx}

/** The spark-submit-able entry point (SURVEY.md §3.3): one binary with
  * `etl` and `report` subcommands, mirroring the reference's two
  * scheduled processes (`python src/main.py` then `python
  * src/bot_ventas.py`, etl_pipeline.yml:30-50). Scheduling stays
  * external to the engine, exactly like the reference's cron.
  *
  * Source layout for `etl <srcDir> <warehouseDir>` — either the
  * reference's native modality, one workbook (preferred when present):
  *   workbook.xlsx       sheets Clientes / Transacciones (headered) and
  *                       Varios (headerless sentinel-split) —
  *                       extract.py:143-149's exact shape
  *   recomendados.json   one JSON array of records
  * or the pre-converted CSV layout:
  *   clientes.csv        headered (IDCLIENTE, fechaafiliacion, fechaprimertrx)
  *   transacciones.csv   headered, 7 columns consumed POSITIONALLY
  *   varios.csv          headerless 2-column stacked sheet (sentinel 'ID' rows)
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "etl" :: srcDir :: warehouse :: Nil => etl(srcDir, warehouse)
    case "report" :: warehouse :: cut :: Nil =>
      report(warehouse, LocalDate.parse(cut))
    case "compact" :: warehouse :: Nil => compact(warehouse)
    case "corpus" :: docsParquet :: outDir :: rest0
        if popEval(rest0)._2.size <= 1 =>
      val (evalPath, rest) = popEval(rest0)
      corpus(docsParquet, outDir,
        epoch = rest.headOption.map(_.toLong), evalPath = evalPath)
    case "media-fixture" :: docsParquet :: outDir :: Nil =>
      mediaFixture(docsParquet, outDir)
    case "corpus-media" :: mediaParquet :: outDir :: rest0
        if popEval(popMix(rest0)._2)._2.size <= 1 =>
      val (mix, rest1) = popMix(rest0)
      val (evalPath, rest) = popEval(rest1)
      corpusMedia(mediaParquet, outDir,
        shardBytes = rest.headOption.map(_.toLong).getOrElse(64L << 20),
        evalPath = evalPath, mix = mix)
    case "paired-fixture" :: docsParquet :: outDir :: rest
        if rest.isEmpty || rest == List("--tri") =>
      pairedFixture(docsParquet, outDir, tri = rest.nonEmpty)
    case "corpus-paired" :: pairedParquet :: outDir :: rest0
        if popEval(popMix(rest0,
          Seq("text", "image", "audio"))._2)._2.size <= 1 =>
      val (mix, rest1) = popMix(rest0, Seq("text", "image", "audio"))
      val (evalPath, rest) = popEval(rest1)
      corpusPaired(pairedParquet, outDir,
        shardBytes = rest.headOption.map(_.toLong).getOrElse(64L << 20),
        evalPath = evalPath, mix = mix)
    case "index" :: embParquet :: outDir :: Nil => index(embParquet, outDir)
    case "dedup-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 2 =>
      dedupIngest(docsParquet, storeDir, outDir,
        confirm = rest.headOption.map(corpus =>
          (corpus, rest.drop(1).headOption.map(_.toDouble).getOrElse(0.5))))
    case "search" :: indexDir :: queriesParquet :: outDir :: rest
        if rest.size <= 2 =>
      search(indexDir, queriesParquet, outDir,
        topK = rest.headOption.map(_.toInt).getOrElse(5),
        probes = rest.drop(1).headOption.map(_.toInt))
    case "cms-ingest" :: srcParquet :: hashCol :: storeDir :: Nil =>
      cmsIngest(srcParquet, hashCol, storeDir)
    case "checksum-ingest" :: srcParquet :: groupCol :: textCol ::
        storeDir :: Nil =>
      checksumIngest(srcParquet, groupCol, textCol, storeDir)
    case "kmv-ingest" :: srcParquet :: groupCol :: textCol ::
        storeDir :: rest if rest.size <= 1 =>
      kmvIngest(srcParquet, groupCol, textCol, storeDir,
        k = rest.headOption.map(_.toInt).getOrElse(256))
    case "hll-ingest" :: srcParquet :: groupCol :: hashCol :: storeDir :: Nil =>
      hllIngest(srcParquet, groupCol, hashCol, storeDir)
    case "grid-ingest" :: srcParquet :: valueCol :: width :: storeDir :: Nil =>
      gridIngest(srcParquet, valueCol, width.toDouble, storeDir)
    case "bloom-ingest" :: srcParquet :: hashCol :: storeDir :: Nil =>
      bloomIngest(srcParquet, hashCol, storeDir)
    case "winnow-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 1 =>
      winnowIngest(docsParquet, storeDir, outDir,
        minShared = rest.headOption.map(_.toInt).getOrElse(2))
    case "trend-ingest" :: srcParquet :: keyCol :: dayCol :: storeDir :: Nil =>
      trendIngest(srcParquet, keyCol, dayCol, storeDir)
    case "df-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 1 =>
      dfIngest(docsParquet, storeDir, outDir,
        minDf = rest.headOption.map(_.toInt).getOrElse(2))
    case "export-shards" :: docsParquet :: outDir :: shardBytes :: Nil =>
      exportShards(docsParquet, outDir, shardBytes.toLong)
    case "export-zorder" :: srcParquet :: outDir :: xCol :: yCol :: rest
        if rest.size <= 2 =>
      exportZOrder(srcParquet, outDir, xCol, yCol,
        bits = rest.headOption.map(_.toInt).getOrElse(4),
        files = rest.drop(1).headOption.map(_.toInt).getOrElse(16))
    case "zorder-maintain" :: srcParquet :: outDir :: xCol :: yCol :: Nil =>
      zorderMaintain(srcParquet, outDir, xCol, yCol)
    case "dhash-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      dhashIngest(mediaParquet, storeDir, outDir)
    case "audiofp-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      audioFpIngest(mediaParquet, storeDir, outDir)
    case "videofp-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      videoFpIngest(mediaParquet, storeDir, outDir)
    case "gif-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      gifFpIngest(mediaParquet, storeDir, outDir)
    case "bpe-train" :: docsParquet :: outParquet :: rest
        if rest.size <= 1 =>
      bpeTrain(docsParquet, outParquet,
        nMerges = rest.headOption.map(_.toInt).getOrElse(256))
    case "bpe-apply" :: docsParquet :: mergesParquet :: outDir :: Nil =>
      bpeApply(docsParquet, mergesParquet, outDir)
    case "bucketize" :: srcParquet :: table :: key :: buckets :: Nil =>
      bucketize(srcParquet, table, key, buckets.toInt)
    case "stream-curate" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 =>
      streamCurate(inDir, outDir, ckptDir,
        delay = rest.headOption.getOrElse("10 minutes"))
    case "stream-funnel" :: inDir :: outDir :: ckptDir :: steps
        if steps.nonEmpty =>
      streamFunnel(inDir, outDir, ckptDir, steps)
    case "stream-sessionize" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 =>
      streamSessionize(inDir, outDir, ckptDir,
        gapMinutes = rest.headOption.map(_.toLong).getOrElse(30L))
    case "stream-dedup" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 =>
      streamDedup(inDir, outDir, ckptDir,
        delay = rest.headOption.getOrElse("10 minutes"))
    case "stream-route" :: inDir :: outDir :: ckptDir :: Nil =>
      streamRoute(inDir, outDir, ckptDir)
    case "explain" :: name :: rest if rest.size <= 1 =>
      explain(name, rest.headOption.getOrElse("/root/testdata/sf0.001"))
    case "profile" :: srcParquet :: outDir :: cols =>
      profile(srcParquet, outDir, cols)
    case _ =>
      System.err.println(
        "usage: graft.Main etl <srcDir> <warehouseDir> | report <warehouseDir> <cutDate> | compact <warehouseDir> | corpus <docsParquet> <outDir> [epochSeed] [--eval <docsParquet>] | media-fixture <docsParquet> <outDir> | corpus-media <mediaParquet> <outDir> [shardBytes] [--eval <mediaParquet>] [--mix w_img,w_aud,w_vid budgetBytes] | paired-fixture <docsParquet> <outDir> [--tri] | corpus-paired <pairedParquet> <outDir> [shardBytes] [--eval <pairedParquet>] [--mix w_text,w_img,w_aud budgetBytes] | index <embeddingsParquet> <outDir> | search <indexDir> <queriesParquet> <outDir> [topK] [probes] | dedup-ingest <docsParquet> <lshStoreDir> <outDir> [confirmCorpusParquet [threshold]] | cms-ingest <parquet> <hashCol> <storeDir> | checksum-ingest <parquet> <groupCol> <textCol> <storeDir> | kmv-ingest <parquet> <groupCol> <textCol> <storeDir> [k] | bloom-ingest <parquet> <hashCol> <storeDir> | winnow-ingest <docsParquet> <storeDir> <outDir> [minShared] | trend-ingest <parquet> <keyCol> <dayCol> <storeDir> | hll-ingest <parquet> <groupCol> <hashCol> <storeDir> | grid-ingest <parquet> <valueCol> <width> <storeDir> | bucketize <parquet> <table> <key> <nBuckets> | df-ingest <docsParquet> <storeDir> <outDir> [minDf] | export-shards <docsParquet> <outDir> <shardBytes> | export-zorder <parquet> <outDir> <xCol> <yCol> [bits [files]] | zorder-maintain <parquet> <outDir> <xCol> <yCol> | dhash-ingest <mediaParquet> <storeDir> <outDir> | audiofp-ingest <mediaParquet> <storeDir> <outDir> | videofp-ingest <mediaParquet> <storeDir> <outDir> | gif-ingest <mediaParquet> <storeDir> <outDir> | bpe-train <docsParquet> <outParquet> [nMerges] | bpe-apply <docsParquet> <mergesParquet> <outDir> | stream-curate <docsDir> <outDir> <ckptDir> [watermarkDelay] | stream-funnel <eventsDir> <outDir> <ckptDir> <step1> [step2...] | stream-sessionize <eventsDir> <outDir> <ckptDir> [gapMinutes] | stream-dedup <docsDir> <outDir> <ckptDir> [watermarkDelay] | stream-route <mediaDir> <outDir> <ckptDir> | profile <parquet> <outDir> [cols...] | explain <queryName|all> [sfDir]")
      sys.exit(2)
  }

  /** Incremental boilerplate ingest ([[graft.etl.DfStore]]): fold the
    * batch's per-window document frequencies into the store, then
    * score the batch against the MERGED corpus-wide state (q219's
    * readout with the df side read from disk), writing per-doc
    * boilerplate fractions to `outDir`. */
  private def dfIngest(docsParquet: String, storeDir: String,
      outDir: String, minDf: Int): Unit = {
    val spark = GraftSession.local()
    val n = runDfIngest(spark, docsParquet, storeDir, outDir, minDf)
    println(s"df-ingest: $n docs scored (minDf $minDf) -> $outDir; " +
      s"store $storeDir")
    spark.stop()
  }

  /** Testable core of `df-ingest` (the [[runCompact]] pattern). */
  private[graft] def runDfIngest(spark: org.apache.spark.sql.SparkSession,
      docsParquet: String, storeDir: String, outDir: String,
      minDf: Int = 2): Long = {
    val store = new graft.etl.DfStore(spark, storeDir)
    val batch = spark.read.parquet(docsParquet)
    store.ingest(batch, "doc_id", "text")
    val scored = store.scoreBatch(batch, "doc_id", "text", minDf)
    scored.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Export a document corpus as byte-budget shard files
    * ([[graft.operators.Packing.writeShards]]): deterministic id-order
    * packing, one parquet file per shard, the manifest under
    * `outDir/_manifest`. Expects `doc_id`/`text` columns (the corpus
    * subcommand's contract). */
  private def exportShards(docsParquet: String, outDir: String,
      shardBytes: Long): Unit = {
    val spark = GraftSession.local()
    val (shards, docs) = runExportShards(spark, docsParquet, outDir,
      shardBytes)
    println(s"export-shards: $docs docs -> $shards shards " +
      s"(~$shardBytes B each) under $outDir")
    spark.stop()
  }

  /** Export a table as z-ordered parquet files
    * ([[graft.operators.Layout.writeZOrdered]]): deterministic
    * z-contiguous file spans over two integer dimensions, one parquet
    * file per span, the per-file zone-map manifest under
    * `outDir/_manifest`. */
  private def exportZOrder(srcParquet: String, outDir: String,
      xCol: String, yCol: String, bits: Int, files: Int): Unit = {
    val spark = GraftSession.local()
    val (nFiles, nRows) = runExportZOrder(spark, srcParquet, outDir,
      xCol, yCol, bits, files)
    println(s"export-zorder: $nRows rows -> $nFiles z-span files " +
      s"(${1 << bits}x${1 << bits} grid on $xCol x $yCol) under $outDir")
    spark.stop()
  }

  /** Testable core of `export-zorder` (the [[runCompact]] pattern). */
  private[graft] def runExportZOrder(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      outDir: String, xCol: String, yCol: String, bits: Int,
      files: Int): (Long, Long) =
    graft.operators.Layout.writeZOrdered(spark.read.parquet(srcParquet),
      xCol, yCol, outDir, bits, files)

  /** Append a parquet batch into an existing z-ordered tree
    * ([[graft.operators.Layout.maintainZOrdered]]): per-touched-span
    * rewrite against the tree's own grid — never a full re-sort. */
  private def zorderMaintain(srcParquet: String, outDir: String,
      xCol: String, yCol: String): Unit = {
    val spark = GraftSession.local()
    val (nTouched, nRows) = runZOrderMaintain(spark, srcParquet, outDir,
      xCol, yCol)
    println(s"zorder-maintain: $nRows new rows -> $nTouched touched " +
      s"spans under $outDir")
    spark.stop()
  }

  /** Incremental image-dedup ingest ([[graft.etl.DhashStore]]):
    * decode the batch's payloads ONCE, append the 8-byte dHashes,
    * write the store's current cluster decision (doc_id, cluster_id,
    * is_canonical) to `outDir` — payload bytes are never re-read. */
  private def dhashIngest(mediaParquet: String, storeDir: String,
      outDir: String): Unit = {
    val spark = GraftSession.local()
    val (n, clusters) = runDhashIngest(spark, mediaParquet, storeDir,
      outDir)
    println(s"dhash-ingest: $n decodable payloads fingerprinted -> " +
      s"store $storeDir; $clusters cluster rows -> $outDir")
    spark.stop()
  }

  /** Testable core of `dhash-ingest` (the [[runCompact]] pattern).
    * Expects a parquet of (doc_id, uri, mime, payload) rows. */
  private[graft] def runDhashIngest(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      storeDir: String, outDir: String): (Long, Long) = {
    import graft.operators.Multimodal
    val media = spark.read.parquet(mediaParquet)
      .as[Multimodal.MediaRecord](Multimodal.mediaRecordEnc)
    val store = new graft.etl.DhashStore(spark, storeDir)
    val n = store.ingest(media)
    val clusters = store.clusters()
    clusters.write.mode("overwrite").parquet(outDir)
    (n, spark.read.parquet(outDir).count())
  }

  /** Incremental audio-fingerprint ingest
    * ([[graft.etl.AudioFpStore]]): decode the batch's envelope hashes
    * once into the store, then write the full-history near-dup
    * cluster decision — `dhash-ingest`'s audio sibling. */
  private def audioFpIngest(mediaParquet: String, storeDir: String,
      outDir: String): Unit = {
    val spark = GraftSession.local()
    val (n, clusters) = runAudioFpIngest(spark, mediaParquet, storeDir,
      outDir)
    println(s"audiofp-ingest: $n decodable payloads fingerprinted " +
      s"(one PCM pass -> envelope + energy-window stores) -> " +
      s"store $storeDir; $clusters cluster rows -> $outDir")
    spark.stop()
  }

  /** Testable core of `audiofp-ingest` (the [[runCompact]] pattern).
    * Expects a parquet of (doc_id, uri, mime, payload) rows.
    *
    * Since r19 the ingest feeds TWO stores from ONE PCM pass (the
    * decode-once seam): the batch's window-energy stream lands in an
    * [[graft.etl.AudioEnergyStore]] at `storeDir/energy` — the state
    * that answers q307/q309's trimmed-re-upload clip questions over
    * FULL history with zero payload re-decode — and the envelope
    * hashes DERIVED from those energies
    * ([[graft.operators.Multimodal.envelopeFromEnergies]], pinned ≡
    * the direct fold) land in the [[graft.etl.AudioFpStore]] at
    * `storeDir/envelope`. The cluster output (and the returned
    * counts) stay the envelope store's whole-clip decision — the
    * prior contract unchanged. */
  private[graft] def runAudioFpIngest(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      storeDir: String, outDir: String): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    // r20 (the r19 advice finding): the r19 split re-homed the
    // envelope store from `storeDir` to `storeDir/envelope`; a
    // pre-r19 store's part files sit directly under `storeDir` and
    // would be silently ORPHANED — full-history readouts would lose
    // every previously ingested fingerprint. Detect the legacy
    // layout and refuse with the migration hint instead.
    {
      val p = new org.apache.hadoop.fs.Path(storeDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists(s => s.isFile &&
          (s.getPath.getName.startsWith("part-") ||
            s.getPath.getName.endsWith(".parquet"))))
        sys.error(s"audiofp-ingest: legacy store layout at $storeDir " +
          "(parquet files directly under the store root, the pre-r19 " +
          "envelope store). Move them to " + s"$storeDir/envelope " +
          "(plain file move — the schema is unchanged) and re-run; " +
          "the energy store will rebuild at " + s"$storeDir/energy " +
          "as new batches arrive.")
    }
    val media = spark.read.parquet(mediaParquet)
      .as[Multimodal.MediaRecord](Multimodal.mediaRecordEnc)
    val energies = Multimodal.audioWindowEnergies(media).toDF()
      .select(col("doc_id"), col("w"), col("amp"))
    energies.persist()
    try {
      val energyStore = new graft.etl.AudioEnergyStore(spark,
        s"$storeDir/energy")
      energyStore.ingestFrame(energies
        .select(col("doc_id"), col("w").as("frame_idx"),
          col("amp").as("fp")))
      val store = new graft.etl.AudioFpStore(spark,
        s"$storeDir/envelope")
      val n = store.ingestFrame(
        Multimodal.envelopeFromEnergies(energies))
      val clusters = store.clusters()
      clusters.write.mode("overwrite").parquet(outDir)
      (n, spark.read.parquet(outDir).count())
    } finally energies.unpersist()
  }

  /** Incremental VIDEO near-dup serving: walk + frame-decode arriving
    * MJPEG batches once into the sequence store, then write the
    * full-history aligned cluster decision — `audiofp-ingest`'s video
    * sibling on the q277/q279 machinery. */
  private def videoFpIngest(mediaParquet: String, storeDir: String,
      outDir: String): Unit = {
    val spark = GraftSession.local()
    val (n, clusters) = runVideoFpIngest(spark, mediaParquet, storeDir,
      outDir)
    println(s"videofp-ingest: $n decodable videos fingerprinted -> " +
      s"store $storeDir; $clusters cluster rows -> $outDir")
    spark.stop()
  }

  /** Testable core of `videofp-ingest` (the [[runCompact]] pattern).
    * Expects a parquet of (doc_id, uri, mime, payload) rows. */
  private[graft] def runVideoFpIngest(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      storeDir: String, outDir: String): (Long, Long) = {
    import graft.operators.Multimodal
    val media = spark.read.parquet(mediaParquet)
      .as[Multimodal.MediaRecord](Multimodal.mediaRecordEnc)
    val store = new graft.etl.VideoFpStore(spark, storeDir)
    val n = store.ingest(media)
    val clusters = store.clusters()
    clusters.write.mode("overwrite").parquet(outDir)
    (n, spark.read.parquet(outDir).count())
  }

  /** Incremental GIF near-dup serving — `videofp-ingest`'s GIF
    * sibling on the q284/q285 machinery (one decode pass into the
    * sequence store, full-history aligned cluster decision out). */
  private def gifFpIngest(mediaParquet: String, storeDir: String,
      outDir: String): Unit = {
    val spark = GraftSession.local()
    val (n, clusters) = runGifFpIngest(spark, mediaParquet, storeDir,
      outDir)
    println(s"gif-ingest: $n decodable gifs fingerprinted -> " +
      s"store $storeDir; $clusters cluster rows -> $outDir")
    spark.stop()
  }

  /** Testable core of `gif-ingest`. */
  private[graft] def runGifFpIngest(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      storeDir: String, outDir: String): (Long, Long) = {
    import graft.operators.Multimodal
    val media = spark.read.parquet(mediaParquet)
      .as[Multimodal.MediaRecord](Multimodal.mediaRecordEnc)
    val store = new graft.etl.GifFpStore(spark, storeDir)
    val n = store.ingest(media)
    store.clusters().write.mode("overwrite").parquet(outDir)
    (n, spark.read.parquet(outDir).count())
  }

  /** Train a BPE merge table from a corpus
    * ([[graft.functions.Bpe.trainMerges]]) and write the (rank, a, b)
    * tokenizer artifact — the shippable dim [[bpeApply]] and the
    * q253/q254/q260 machinery consume. */
  private def bpeTrain(docsParquet: String, outParquet: String,
      nMerges: Int): Unit = {
    val spark = GraftSession.local()
    val n = runBpeTrain(spark, docsParquet, outParquet, nMerges)
    println(s"bpe-train: $n merges learned -> $outParquet")
    spark.stop()
  }

  /** Testable core of `bpe-train` (the [[runCompact]] pattern).
    * Expects a `text` column. */
  private[graft] def runBpeTrain(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      outParquet: String, nMerges: Int): Long = {
    import graft.functions.Bpe
    val merges = Bpe.trainMerges(spark.read.parquet(docsParquet),
      "text", nMerges)
    Bpe.mergesToDf(spark, merges).coalesce(1)
      .write.mode("overwrite").parquet(outParquet)
    merges.size.toLong
  }

  /** Apply a trained merge table: per-doc whitespace and SUBWORD
    * token counts to `outDir` — the honest token accounting for a
    * budget pass. */
  private def bpeApply(docsParquet: String, mergesParquet: String,
      outDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runBpeApply(spark, docsParquet, mergesParquet, outDir)
    println(s"bpe-apply: $n docs counted -> $outDir")
    spark.stop()
  }

  /** Testable core of `bpe-apply` (the [[runCompact]] pattern).
    * Expects `doc_id`/`text` columns. */
  private[graft] def runBpeApply(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      mergesParquet: String, outDir: String): Long = {
    import org.apache.spark.sql.functions.{col, lower, size, trim}
    import graft.functions.{Bpe, TextHash}
    val merges = Bpe.mergesFromDf(spark.read.parquet(mergesParquet))
    spark.read.parquet(docsParquet)
      .select(col("doc_id"),
        size(TextHash.tokens(col("text"))).cast("long").as("n_words"),
        Bpe.subwordCountOf(lower(trim(col("text"))), merges)
          .as("n_subwords"))
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Testable core of `zorder-maintain` (the [[runCompact]] pattern). */
  private[graft] def runZOrderMaintain(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      outDir: String, xCol: String, yCol: String): (Long, Long) =
    graft.operators.Layout.maintainZOrdered(
      spark.read.parquet(srcParquet), xCol, yCol, outDir)

  /** Testable core of `export-shards` (the [[runCompact]] pattern). */
  private[graft] def runExportShards(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      outDir: String, shardBytes: Long): (Long, Long) =
    graft.operators.Packing.writeShards(spark.read.parquet(docsParquet),
      "doc_id", "text", outDir, shardBytes)

  /** Co-locate a parquet table on a join key ([[graft.etl.Bucketed]]):
    * one bucketed+sorted rewrite now, zero shuffles on every future
    * join/aggregate over that key against any same-bucketed table —
    * the storage-layout half of the 100 TB join story. */
  private def bucketize(srcParquet: String, table: String, key: String,
      buckets: Int): Unit = {
    val spark = GraftSession.local()
    val n = runBucketize(spark, srcParquet, table, key, buckets)
    println(s"bucketize: $n rows -> table $table ($buckets buckets on $key)")
    spark.stop()
  }

  /** Testable core of `bucketize` (the [[runCompact]] pattern). */
  private[graft] def runBucketize(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, table: String, key: String,
      buckets: Int): Long = {
    graft.etl.Bucketed.coLocate(spark.read.parquet(srcParquet), table,
      key, buckets)
    graft.etl.Bucketed.table(spark, table).count()
  }

  /** Serve the streaming curation funnel ([[graft.streaming.CurateStream]])
    * from the CLI: drain every file currently in `inDir` (a parquet
    * directory with columns doc_id, ts, text) under
    * `Trigger.AvailableNow`, append the curated rows to `outDir`, and
    * record source progress + dedup state in `ckptDir`. Run again as
    * files arrive: the checkpoint makes each pass pick up ONLY new
    * files, with the watermark-bounded dedup state carried across
    * restarts by the state store — the daily-batch one-binary shape of
    * the reference's cron (etl_pipeline.yml:5-6), applied to the
    * streaming twin. */
  private def streamCurate(inDir: String, outDir: String,
      ckptDir: String, delay: String): Unit = {
    val spark = GraftSession.local()
    val n = runStreamCurate(spark, inDir, outDir, ckptDir, delay)
    println(s"stream-curate: $n curated rows -> $outDir")
    spark.stop()
  }

  /** Testable core of `stream-curate` (the [[runCompact]] pattern).
    * Returns the TOTAL curated rows visible in `outDir` after the
    * drain (prior passes included — the sink is append-only). */
  private[graft] def runStreamCurate(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, ckptDir: String,
      delay: String = "10 minutes"): Long = {
    // file streams need an explicit schema; the batch reader derives it
    // from the same directory the stream will drain
    val schema = spark.read.parquet(inDir).schema
    // externally-written parquet often carries TIMESTAMP_NTZ (e.g.
    // DuckDB's TIMESTAMP), which the watermark rejects — normalize the
    // event-time column to TimestampType before it
    val docs = spark.readStream.schema(schema).parquet(inDir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
    val q = graft.streaming.CurateStream
      .curatedDocs(docs, "doc_id", "text", "ts", delay)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }

  /** Serve the streaming funnel ([[graft.streaming.FunnelStream]]) from
    * the CLI: drain `inDir` (a parquet directory with columns user_id,
    * ts_us, event_id, event_type) under `Trigger.AvailableNow` and
    * append one row per (user, step) completion to `outDir`. The
    * per-user step state lives in the checkpoint's state store, so
    * repeated passes over an arriving event log extend chains exactly
    * where the last pass left them. */
  private def streamFunnel(inDir: String, outDir: String,
      ckptDir: String, steps: Seq[String]): Unit = {
    val spark = GraftSession.local()
    val n = runStreamFunnel(spark, inDir, outDir, ckptDir, steps)
    println(s"stream-funnel: $n completions -> $outDir")
    spark.stop()
  }

  /** Testable core of `stream-funnel` (the [[runCompact]] pattern). */
  private[graft] def runStreamFunnel(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, ckptDir: String,
      steps: Seq[String]): Long = {
    val schema = spark.read.parquet(inDir).schema
    val events = spark.readStream.schema(schema).parquet(inDir)
    val q = graft.streaming.FunnelStream.completions(events, steps)
      .toDF()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }

  /** Serve the streaming sessionizer
    * ([[graft.streaming.SessionizeStream]]) from the CLI: drain
    * `inDir` (parquet with user_id + either ts_us µs-longs or a ts
    * timestamp) under `Trigger.AvailableNow`, appending CLOSED
    * sessions to `outDir`. The one-open-session-per-user state lives
    * in the checkpoint, so repeated passes extend sessions exactly
    * where the last drain left them. */
  private def streamSessionize(inDir: String, outDir: String,
      ckptDir: String, gapMinutes: Long): Unit = {
    val spark = GraftSession.local()
    val n = runStreamSessionize(spark, inDir, outDir, ckptDir,
      gapMinutes)
    println(s"stream-sessionize: $n closed sessions -> $outDir")
    spark.stop()
  }

  /** Testable core of `stream-sessionize` (the [[runCompact]]
    * pattern). */
  private[graft] def runStreamSessionize(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String, gapMinutes: Long = 30L): Long = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val schema = spark.read.parquet(inDir).schema
    var events = spark.readStream.schema(schema).parquet(inDir)
    if (!schema.fieldNames.contains("ts_us"))
      events = events.withColumn("ts_us",
        unix_micros(col("ts").cast("timestamp")))
    val q = graft.streaming.SessionizeStream
      .sessions(events, gapUs = gapMinutes * 60L * 1000000L)
      .toDF()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }

  /** Serve the streaming exact dedup ([[graft.streaming.DedupStream]])
    * from the CLI: drain `inDir` (parquet with a text column and a ts
    * timestamp) under `Trigger.AvailableNow`, appending first-sighted
    * docs to `outDir` — duplicate content arriving within the
    * watermark horizon is dropped; state is bounded to that horizon
    * (full-history dedup stays batch-side by design). */
  private def streamDedup(inDir: String, outDir: String,
      ckptDir: String, delay: String): Unit = {
    val spark = GraftSession.local()
    val n = runStreamDedup(spark, inDir, outDir, ckptDir, delay)
    println(s"stream-dedup: $n unique docs -> $outDir")
    spark.stop()
  }

  /** Testable core of `stream-dedup` (the [[runCompact]] pattern). */
  private[graft] def runStreamDedup(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String,
      delay: String = "10 minutes"): Long = {
    import org.apache.spark.sql.functions.col
    val schema = spark.read.parquet(inDir).schema
    val docs = spark.readStream.schema(schema).parquet(inDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = graft.streaming.DedupStream
      .uniqueDocs(docs, "text", "ts", delay)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).count()
  }

  /** Serve the streaming modality router ([[graft.streaming
    * .RouteStream]]) from the CLI: drain `inDir` (parquet with
    * doc_id, ts_us, mime, payload) under `Trigger.AvailableNow`,
    * landing every payload in `outDir/modality=<sniffed>/` — the
    * stream-side front door of the `corpus-media` routed tree, with
    * the declared-vs-sniffed health columns carried per row. Zero
    * state: the sniff is row-local. Prints per-modality counts. */
  private def streamRoute(inDir: String, outDir: String,
      ckptDir: String): Unit = {
    val spark = GraftSession.local()
    val counts = runStreamRoute(spark, inDir, outDir, ckptDir)
    val byMod = counts.toSeq.sortBy(_._1)
      .map { case (m, n) => s"$m:$n" }.mkString("/")
    println(s"stream-route: $byMod -> $outDir")
    spark.stop()
  }

  /** Testable core of `stream-route` (the [[runCompact]] pattern). */
  private[graft] def runStreamRoute(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val schema = spark.read.parquet(inDir).schema
    val media = spark.readStream.schema(schema).parquet(inDir)
    val q = graft.streaming.RouteStream.routed(media)
      .writeStream.format("parquet")
      .partitionBy("modality")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).groupBy(col("modality"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Pre-flight profile of an arbitrary parquet table — the first
    * thing to run against data nobody trusts yet: the q62 column
    * profile over every column (or the listed subset) and the q141
    * key-candidate audit over its non-float subset, written as two
    * parquet reports under `outDir`. */
  private def profile(srcParquet: String, outDir: String,
      cols: Seq[String]): Unit = {
    val spark = GraftSession.local()
    val (nCols, nKeys) = runProfile(spark, srcParquet, outDir, cols)
    println(s"profile: $nCols columns profiled, $nKeys key-audited " +
      s"-> $outDir")
    spark.stop()
  }

  /** Testable core of `profile` (the [[runCompact]] pattern). */
  private[graft] def runProfile(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, outDir: String,
      cols: Seq[String] = Nil): (Int, Int) = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val df = spark.read.parquet(srcParquet)
    val chosen = if (cols.nonEmpty) cols else df.columns.toSeq
    graft.operators.Profiling.columnProfile(df, chosen)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/column_profile")
    val keyable = chosen.filter { c =>
      val t = df.schema(c).dataType
      t != FloatType && t != DoubleType
    }
    if (keyable.nonEmpty)
      graft.operators.Profiling.keyCandidates(df, keyable)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/key_candidates")
    (chosen.size, keyable.size)
  }

  /** Incremental near-dup ingest (the [[graft.etl.LshIndex]] stack as
    * a CLI pass): probe the batch against the persisted band-signature
    * store, write the candidate pairs to `outDir`, record the batch's
    * signatures. Run per arriving batch with id-ordered corpora — the
    * spec-pinned split-invariance contract. With `confirm`, the band
    * candidates additionally pay the exact-Jaccard verify rung
    * ([[graft.operators.Dedup.verifyCandidates]]) against the caller's
    * corpus-so-far parquet (which must hold BOTH endpoints of every
    * candidate — prior batches included), so `outDir` carries VERIFIED
    * pairs (doc_a, doc_b, jaccard), completing the incremental
    * decontamination gate. */
  private def dedupIngest(docsParquet: String, storeDir: String,
      outDir: String, confirm: Option[(String, Double)]): Unit = {
    val spark = GraftSession.local()
    val n = runDedupIngest(spark, docsParquet, storeDir, outDir, confirm)
    val what = if (confirm.isDefined) "verified" else "candidate"
    println(s"dedup-ingest: $n $what pairs -> $outDir")
    spark.stop()
  }

  /** Testable core of `dedup-ingest` (the [[runCompact]] pattern). */
  private[graft] def runDedupIngest(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      storeDir: String, outDir: String,
      confirm: Option[(String, Double)] = None): Long = {
    val idx = new graft.etl.LshIndex(spark, storeDir)
    val cands = idx.probeAndRecord(
      spark.read.parquet(docsParquet), "doc_id", "text")
    val out = confirm match {
      case Some((corpusParquet, threshold)) =>
        graft.operators.Dedup.verifyCandidates(cands,
          spark.read.parquet(corpusParquet), "doc_id", "text", threshold)
      case None => cands
    }
    out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Incremental CMS ingest: fold one batch (a parquet of rows with a
    * BIGINT `hashCol`) into its partial counter grid and append it to
    * the durable store — run per arriving batch; reads merge by SUM.
    * Exactly-once delivery is the scheduler's contract (counters are
    * not idempotent, scaladoc [[graft.etl.CmsStore]]). */
  /** Incremental integrity ingest ([[graft.etl.ChecksumStore]]): fold
    * one batch's per-group checksums in and report the merged
    * fingerprint size. Verify a transfer by running the same ingests
    * on both sides and diffing the two fingerprint tables. */
  private def checksumIngest(srcParquet: String, groupCol: String,
      textCol: String, storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runChecksumIngest(spark, srcParquet, groupCol, textCol,
      storeDir)
    println(s"checksum-ingest: fingerprint covers $n groups -> $storeDir")
    spark.stop()
  }

  /** Testable core of `checksum-ingest` (the [[runCompact]] pattern). */
  private[graft] def runChecksumIngest(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      groupCol: String, textCol: String, storeDir: String): Long = {
    val store = new graft.etl.ChecksumStore(spark, storeDir)
    store.ingest(spark.read.parquet(srcParquet), groupCol, textCol)
    store.fingerprint.count()
  }

  /** Incremental KMV sketch ingest ([[graft.etl.KmvStore]]): fold one
    * batch's per-group k-minima in and report the merged sketch's
    * group count. Re-delivery safe (idempotent min-merge); read the
    * all-pairs overlap matrix from the store with zero corpus
    * access. */
  private def kmvIngest(srcParquet: String, groupCol: String,
      textCol: String, storeDir: String, k: Int): Unit = {
    val spark = GraftSession.local()
    val n = runKmvIngest(spark, srcParquet, groupCol, textCol,
      storeDir, k)
    println(s"kmv-ingest: k=$k sketches cover $n groups -> $storeDir")
    spark.stop()
  }

  /** Testable core of `kmv-ingest` (the [[runCompact]] pattern). */
  private[graft] def runKmvIngest(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      groupCol: String, textCol: String, storeDir: String,
      k: Int = 256): Long = {
    val store = new graft.etl.KmvStore(spark, storeDir, k)
    store.ingest(spark.read.parquet(srcParquet), groupCol, textCol)
    store.sketches.select("grp").distinct().count()
  }

  private def cmsIngest(srcParquet: String, hashCol: String,
      storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runCmsIngest(spark, srcParquet, hashCol, storeDir)
    println(s"cms-ingest: merged grid holds $n counters -> $storeDir")
    spark.stop()
  }

  /** Testable core of `cms-ingest` (the [[runCompact]] pattern). */
  private[graft] def runCmsIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, hashCol: String, storeDir: String): Long = {
    val store = new graft.etl.CmsStore(spark, storeDir)
    store.ingest(spark.read.parquet(srcParquet), hashCol)
    store.sketch.count()
  }

  /** Incremental HLL ingest: fold one batch into its register table
    * and append — reads merge by idempotent MAX, so re-delivery is
    * harmless ([[graft.etl.HllStore]]). */
  private def hllIngest(srcParquet: String, groupCol: String,
      hashCol: String, storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runHllIngest(spark, srcParquet, groupCol, hashCol, storeDir)
    println(s"hll-ingest: $n groups tracked -> $storeDir")
    spark.stop()
  }

  /** Testable core of `hll-ingest` (the [[runCompact]] pattern). */
  private[graft] def runHllIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, groupCol: String, hashCol: String,
      storeDir: String): Long = {
    val store = new graft.etl.HllStore(spark, storeDir, groupCol)
    store.ingest(spark.read.parquet(srcParquet), hashCol)
    store.estimates.count()
  }

  /** Incremental trend ingest: fold one batch into its per-(key, day)
    * counts and append — reads merge by SUM and fit the one-shot OLS
    * stage; the EXACT mergeable analytic ([[graft.etl.TrendStore]]).
    * Exactly-once delivery is the scheduler's contract (counters). */
  private def trendIngest(srcParquet: String, keyCol: String,
      dayCol: String, storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runTrendIngest(spark, srcParquet, keyCol, dayCol, storeDir)
    println(s"trend-ingest: $n keys fitted -> $storeDir")
    spark.stop()
  }

  /** Testable core of `trend-ingest` (the [[runCompact]] pattern). */
  private[graft] def runTrendIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, keyCol: String, dayCol: String,
      storeDir: String): Long = {
    val store = new graft.etl.TrendStore(spark, storeDir)
    store.ingest(spark.read.parquet(srcParquet), keyCol, dayCol)
    store.slopes.count()
  }

  /** Incremental winnowing ingest: probe the batch's MOSS
    * fingerprints against the persisted index, write the
    * shared-fingerprint pairs to `outDir`, record the batch
    * ([[graft.etl.WinnowIndex]] — winnowing's ≥ window+span−1-token
    * detection guarantee, carried across batches). */
  private def winnowIngest(docsParquet: String, storeDir: String,
      outDir: String, minShared: Int): Unit = {
    val spark = GraftSession.local()
    val n = runWinnowIngest(spark, docsParquet, storeDir, outDir,
      minShared)
    println(s"winnow-ingest: $n fingerprint pairs -> $outDir")
    spark.stop()
  }

  /** Testable core of `winnow-ingest` (the [[runCompact]] pattern). */
  private[graft] def runWinnowIngest(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      storeDir: String, outDir: String, minShared: Int = 2): Long = {
    val idx = new graft.etl.WinnowIndex(spark, storeDir,
      minShared = minShared)
    idx.probeAndRecord(spark.read.parquet(docsParquet), "doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Incremental Bloom ingest: fold one batch of BIGINT keys into its
    * own filter and append ONE row of bytes — reads merge by bitwise
    * OR (idempotent: re-delivery cannot move a bit), probes are the
    * q76 broadcast-handle rung ([[graft.etl.BloomStore]]). */
  private def bloomIngest(srcParquet: String, hashCol: String,
      storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runBloomIngest(spark, srcParquet, hashCol, storeDir)
    println(s"bloom-ingest: store holds $n filter blob(s) -> $storeDir")
    spark.stop()
  }

  /** Testable core of `bloom-ingest` (the [[runCompact]] pattern). */
  private[graft] def runBloomIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, hashCol: String, storeDir: String): Long = {
    val store = new graft.etl.BloomStore(spark, storeDir)
    store.ingest(spark.read.parquet(srcParquet), hashCol)
    spark.read.parquet(storeDir).count()
  }

  /** Incremental grid-percentile ingest: fold one batch's values into
    * dyadic bin counters and append — reads merge by SUM, answers come
    * from the one-shot operator's own stage ([[graft.etl.GridStore]]).
    * Exactly-once delivery is the scheduler's contract (counters, the
    * CMS caveat). */
  private def gridIngest(srcParquet: String, valueCol: String,
      width: Double, storeDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runGridIngest(spark, srcParquet, valueCol, width, storeDir)
    println(s"grid-ingest: merged store holds $n bins -> $storeDir")
    spark.stop()
  }

  /** Testable core of `grid-ingest` (the [[runCompact]] pattern). */
  private[graft] def runGridIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, valueCol: String, width: Double,
      storeDir: String): Long = {
    val store = new graft.etl.GridStore(spark, storeDir, width)
    store.ingest(spark.read.parquet(srcParquet), valueCol)
    store.bins.count()
  }

  /** Dump the formatted physical plan for one registry query (or every
    * query with `all`) — the plan-quality inspection surface: pushdown
    * (`PushedFilters`/`ReadSchema`), broadcast sides, WholeStageCodegen
    * spans, and WindowGroupLimit pushdowns read directly off the output.
    * PlanAuditSpec pins the load-bearing shapes; this makes the rest
    * inspectable without writing a test. */
  private def explain(name: String, sfDir: String): Unit = {
    val spark = GraftSession.local()
    runExplain(spark, name, sfDir)
    spark.stop()
  }

  /** Testable core of `explain` (the [[runCompact]] pattern). */
  private[graft] def runExplain(spark: org.apache.spark.sql.SparkSession,
      name: String, sfDir: String): Unit = {
    val names =
      if (name == "all") SparkEntry.registry.map(_.name)
      else {
        require(SparkEntry.queries.contains(name),
          s"unknown query '$name'; known: ${SparkEntry.registry.map(_.name).mkString(", ")}")
        Seq(name)
      }
    names.foreach { n =>
      println(s"==== $n ($sfDir)")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
  }

  /** PQ index build/maintain (the q56/q57/q61 stack as a CLI pass):
    * first run trains the codebook and encodes the corpus; later runs
    * find `outDir/codebook` and encode ONLY against the frozen
    * codebook — the 100 TB append path, where re-training would
    * silently re-code the whole history. */
  private def index(embParquet: String, outDir: String): Unit = {
    val spark = GraftSession.local()
    val (frozen, n) = runIndex(spark, embParquet, outDir)
    println(s"[index] codebook=${if (frozen) "frozen" else "trained"} " +
      s"vectors=$n")
    spark.stop()
  }

  /** Testable core of `index` (the [[runCompact]] pattern). Stores
    * FOUR artifacts under `outDir`: `codebook` + `codes` (the PQ
    * layer) and `coarse_codebook` + `cells` (the IVF layer), which is
    * everything [[runSearch]] needs to serve both search rungs
    * without retraining. Returns (codebook was frozen, vectors). */
  private[graft] def runIndex(spark: org.apache.spark.sql.SparkSession,
      embParquet: String, outDir: String): (Boolean, Long) = {
    val emb = spark.read.parquet(embParquet)
    // Frozen-ness is decided through the Hadoop FileSystem for the
    // path's scheme (java.nio can't see non-local warehouses) and gated
    // on the parquet _SUCCESS commit marker, so a codebook directory
    // left half-written by a crashed first run is retrained (overwrite)
    // instead of being trusted as frozen.
    def loadOrTrain(dir: String, train: => org.apache.spark.sql.DataFrame)
        : (Boolean, org.apache.spark.sql.DataFrame) = {
      val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(success)) (true, spark.read.parquet(dir))
      else {
        train.write.mode("overwrite").parquet(dir)
        (false, spark.read.parquet(dir))
      }
    }
    val (frozen, book) = loadOrTrain(s"$outDir/codebook",
      graft.operators.Quantize.trainCodebook(emb))
    graft.operators.Quantize.encodeWith(book)(emb)
      .write.mode("overwrite").parquet(s"$outDir/codes")
    val (_, coarse) = loadOrTrain(s"$outDir/coarse_codebook",
      graft.operators.Quantize.trainCoarseCodebook(emb))
    graft.operators.Quantize.assignCells(coarse)(emb)
      .write.mode("overwrite").parquet(s"$outDir/cells")
    val n = spark.read.parquet(s"$outDir/codes")
      .select("vec_id").distinct().count()
    (frozen, n)
  }

  /** Serve ANN queries against a STORED index (`index`'s artifacts)
    * without retraining: plain ADC over all stored codes, or — with
    * `probes` — the IVF-restricted rung that only scores candidates
    * in each query's probed cells. */
  private def search(indexDir: String, queriesParquet: String,
      outDir: String, topK: Int, probes: Option[Int]): Unit = {
    val spark = GraftSession.local()
    val n = runSearch(spark, indexDir, queriesParquet, outDir, topK, probes)
    println(s"[search] ${probes.fold("adc")(p => s"ivf(probes=$p)")} " +
      s"results=$n -> $outDir")
    spark.stop()
  }

  /** Testable core of `search` (the [[runCompact]] pattern). */
  private[graft] def runSearch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queriesParquet: String, outDir: String,
      topK: Int, probes: Option[Int]): Long = {
    val queries = spark.read.parquet(queriesParquet)
    val book = spark.read.parquet(s"$indexDir/codebook")
    val codes = spark.read.parquet(s"$indexDir/codes")
    val hits = probes match {
      case Some(p) => graft.operators.Quantize.ivfPqSearch(queries, book,
        codes, spark.read.parquet(s"$indexDir/coarse_codebook"),
        spark.read.parquet(s"$indexDir/cells"), probes = p, topK = topK)
      case None =>
        graft.operators.Quantize.pqSearch(queries, book, codes, topK = topK)
    }
    hits.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** The LLM-corpus curation funnel (dedup → filters → redaction →
    * packing) as a CLI pass; an `epochSeed` switches the packing stage
    * to epoch-sharded training shards. See [[graft.etl.CorpusPipeline]]. */
  /** Pull an optional `--eval <path>` flag pair out of a trailing
    * argument list (shared by the three funnel CLIs — the flag may
    * sit before or after the positional tail). */
  private[graft] def popEval(rest: List[String])
      : (Option[String], List[String]) =
    rest.indexOf("--eval") match {
      case -1 => (None, rest)
      case i if i + 1 < rest.size =>
        (Some(rest(i + 1)), rest.take(i) ++ rest.drop(i + 2))
      case _ => (None, List("--eval", "--eval")) // malformed: fails the size guard
    }

  /** `--mix w_img,w_aud,w_vid <budgetBytes>` → the per-modality
    * weight map + byte budget for [[graft.etl.MediaPipeline]]'s
    * mixture stage (q304 composed). Weights bind positionally to
    * image/audio/video; a zero weight drops its modality (quota zero
    * is a decision), so zeros are filtered out of the map rather than
    * passed to the operator (which requires positive weights). */
  private[graft] def popMix(rest: List[String],
      strata: Seq[String] = Seq("image", "audio", "video"))
      : (Option[(Map[String, Double], Long)], List[String]) =
    rest.indexOf("--mix") match {
      case -1 => (None, rest)
      case i if rest.size > i + 2 =>
        val ws = rest(i + 1).split(",").map(_.toDouble)
        require(ws.length == strata.length,
          s"--mix needs ${strata.map("w_" + _).mkString(",")}, " +
            s"got ${rest(i + 1)}")
        val m = strata.zip(ws).filter(_._2 > 0).toMap
        (Some((m, rest(i + 2).toLong)),
          rest.take(i) ++ rest.drop(i + 3))
      case _ => (None, List("--mix", "--mix")) // malformed: fails guard
    }

  private def corpus(docsParquet: String, outDir: String,
      epoch: Option[Long], evalPath: Option[String]): Unit = {
    val spark = GraftSession.local()
    val s = graft.etl.CorpusPipeline.curate(spark, docsParquet, outDir,
      epoch = epoch, eval = evalPath.map(spark.read.parquet(_)))
    println(s"[corpus] raw=${s.raw} exact=${s.afterExact} " +
      s"neardup=${s.afterNearDup} paragraph=${s.afterParagraph} " +
      s"quality=${s.afterQuality} decontam_dropped=${s.droppedEval} " +
      s"packs=${s.packs}")
    spark.stop()
  }

  /** The media lake's composed product path ([[graft.etl
    * .MediaPipeline]]): magic-byte routing → per-modality dedup
    * keep-canonical → catalog profile → byte-budgeted shard export. */
  private def corpusMedia(mediaParquet: String, outDir: String,
      shardBytes: Long, evalPath: Option[String],
      mix: Option[(Map[String, Double], Long)] = None): Unit = {
    val spark = GraftSession.local()
    val s = runCorpusMedia(spark, mediaParquet, outDir, shardBytes,
      evalPath, mix)
    println(s"[corpus-media] raw=${s.raw} " +
      s"routed=img:${s.routedImage}/aud:${s.routedAudio}/" +
      s"vid:${s.routedVideo}/unknown:${s.unroutable} " +
      s"decoded=img:${s.decodedImage}/aud:${s.decodedAudio}/" +
      s"vid:${s.decodedVideo} " +
      s"kept=img:${s.keptImage}/aud:${s.keptAudio}/vid:${s.keptVideo} " +
      s"decontam_dropped=img:${s.droppedEvalImage}/" +
      s"aud:${s.droppedEvalAudio}/vid:${s.droppedEvalVideo} " +
      s"quality_dropped=img:${s.droppedQualityImage}/" +
      s"aud:${s.droppedQualityAudio}/vid:${s.droppedQualityVideo} " +
      (if (s.mixKeptBytes.nonEmpty || s.mixDroppedBytes.nonEmpty)
         s"mix_kept_bytes=${s.mixKeptBytes} " +
           s"mix_dropped_bytes=${s.mixDroppedBytes} "
       else "") +
      s"shards=${s.shards} exported=${s.exported}")
    spark.stop()
  }

  /** Testable core of `corpus-media` (the [[runCompact]] pattern). */
  private[graft] def runCorpusMedia(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      outDir: String, shardBytes: Long = 64L << 20,
      evalPath: Option[String] = None,
      mix: Option[(Map[String, Double], Long)] = None)
      : graft.etl.MediaPipeline.Stats =
    graft.etl.MediaPipeline.curate(spark, mediaParquet, outDir,
      shardBytes, eval = evalPath.map(spark.read.parquet(_)),
      mix = mix)

  /** The PAIRED text+media funnel CLI ([[graft.etl.PairedPipeline]]):
    * text clusters × image clusters → q273's compose-OR keep decision
    * → curated pairs + weighted shard export. */
  private def corpusPaired(pairedParquet: String, outDir: String,
      shardBytes: Long, evalPath: Option[String],
      mix: Option[(Map[String, Double], Long)]): Unit = {
    val spark = GraftSession.local()
    val s = runCorpusPaired(spark, pairedParquet, outDir, shardBytes,
      evalPath, mix)
    val mixNote =
      if (mix.isEmpty) ""
      else s" mix_kept_bytes=${s.mixKeptBytes.toSeq.sorted
        .map { case (m, b) => s"$m:$b" }.mkString(",")}" +
        s" mix_dropped_bytes=${s.mixDroppedBytes.toSeq.sorted
          .map { case (m, b) => s"$m:$b" }.mkString(",")}"
    println(s"[corpus-paired] raw=${s.raw} decodable=${s.decodable} " +
      s"dropped_image=${s.droppedImage} " +
      s"dropped_audio=${s.droppedAudio} kept=${s.kept} " +
      s"decontam_dropped=${s.droppedEval} " +
      s"shards=${s.shards} exported=${s.exported}" + mixNote)
    spark.stop()
  }

  /** Testable core of `corpus-paired`. */
  private[graft] def runCorpusPaired(
      spark: org.apache.spark.sql.SparkSession, pairedParquet: String,
      outDir: String, shardBytes: Long = 64L << 20,
      evalPath: Option[String] = None,
      mix: Option[(Map[String, Double], Long)] = None)
      : graft.etl.PairedPipeline.Stats =
    graft.etl.PairedPipeline.curate(spark, pairedParquet, outDir,
      shardBytes, eval = evalPath.map(spark.read.parquet(_)),
      mix = mix)

  /** Write the PAIRED (caption, image) demo lake (`corpus-paired`'s
    * input): each document row paired with its same-id gradient-PNG
    * fixture image — decodable-image rows carry real payload bytes,
    * the fixture's corrupt families stay in (the funnel must drop
    * and count them). `--tri` adds an `audio` column (the same-id
    * waveform fixture's WAV bytes) — the TRI-MODAL training-triple
    * lake that flips `corpus-paired` to q286's k=3 union decision. */
  private def pairedFixture(docsParquet: String, outDir: String,
      tri: Boolean = false): Unit = {
    val spark = GraftSession.local()
    val n = runPairedFixture(spark, docsParquet, outDir, tri)
    println(s"paired-fixture: $n paired rows under $outDir" +
      (if (tri) " (tri-modal)" else ""))
    spark.stop()
  }

  /** Testable core of `paired-fixture`. */
  private[graft] def runPairedFixture(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      outDir: String, tri: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val docs = spark.read.parquet(docsParquet)
    val pairs = docs.select(col("doc_id"), col("text"))
      .join(M.encodeGradientImageFixture(docs, "doc_id").toDF()
        .select(col("doc_id"), col("uri"), col("mime"),
          col("payload")), Seq("doc_id"))
    // the audio encoder runs on SHIFTED ids so its corruption
    // residues ((id+5) % 10 ∈ {3, 6}) land on DIFFERENT rows than
    // the image fixture's — the audio-drop accounting is only
    // observable when a row's image decodes but its audio does not
    val rows =
      if (!tri) pairs
      else pairs.join(M.encodeWaveformFixture(
          docs.select((col("doc_id") + 5).as("doc_id")), "doc_id")
        .toDF()
        .select((col("doc_id") - 5).as("doc_id"),
          col("payload").as("audio")),
        Seq("doc_id"))
    rows.write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Write the MIXED media fixture lake (`corpus-media`'s demo
    * input): ids fan out across the five content encoders on a
    * per-20-block rotating (id/4 + id/20) % 5 split — gradient PNGs
    * (real rasters, the dedup-bearing image family), PCM WAVs,
    * ISO-BMFF MP4s (the exact-identity video tier), MJPEG AVIs (the
    * PERCEPTUAL video tier), and GIFs (the second multi-frame tier)
    * — with each encoder's corrupt families intact, so routing,
    * decode gates and all dedup tiers exercise. */
  private def mediaFixture(docsParquet: String, outDir: String): Unit = {
    val spark = GraftSession.local()
    val n = runMediaFixture(spark, docsParquet, outDir)
    println(s"media-fixture: $n media rows under $outDir")
    spark.stop()
  }

  /** Testable core of `media-fixture`. */
  private[graft] def runMediaFixture(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      outDir: String): Long = {
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    val docs = spark.read.parquet(docsParquet)
    // class = (id/4 + id/20) % 5: plain (id/4) % 5 has period 20,
    // which ALIGNS with the fixtures' id % 10 corruption residues —
    // each class would meet a fixed residue quadruple forever and
    // silently lose some corruption family (the r15 parity-split
    // lesson one level up). The per-20-block rotation (+ id/20)
    // walks every class through every residue across blocks.
    val cls = ((col("doc_id") / 4).cast("long") +
      (col("doc_id") / 20).cast("long")) % 5
    M.encodeGradientImageFixture(
        docs.where(cls === 0), "doc_id").toDF()
      .unionByName(M.encodeWaveformFixture(
        docs.where(cls === 1), "doc_id").toDF())
      .unionByName(M.encodeVideoFixture(
        docs.where(cls === 2), "doc_id").toDF())
      .unionByName(M.encodeMjpegFixture(
        docs.where(cls === 3), "doc_id").toDF())
      .unionByName(M.encodeGifFixture(
        docs.where(cls === 4), "doc_id").toDF())
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** The Varios sheet is KB-scale control data whose ROW ORDER is part
    * of its meaning (sentinel split) — read it on the driver, in file
    * order, like the reference's sheet reader (SURVEY §7.1 M3). Parsed
    * as a character stream (not line-split), so quoting matches what
    * pandas to_csv emits and Spark's CSV reader accepts for the other
    * tables: a quoted field may contain commas, `""` escapes, and
    * EMBEDDED NEWLINES. Empty LINES are skipped (matching the old
    * line-based reader) — but a `,` line (pandas to_csv of a blank
    * sheet row) stays a (null, null) row, exactly as the xlsx ingest
    * path of the same sheet yields it: the two paths must agree row
    * for row, because the sentinel split is order-sensitive. */
  private def readVarios(path: String): Seq[VariosSplitter.RawRow] = {
    val text = new String(Files.readAllBytes(Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    csvRows(text)
      .filter(_ != Seq("")) // empty line ≠ a row; "," IS a 2-cell row
      .map { cells =>
        def cell(ix: Int) = cells.lift(ix).map(_.trim).filter(_.nonEmpty)
        VariosSplitter.RawRow(cell(0), cell(1))
      }
  }

  /** Character-stream CSV parser: rows of fields. Quote state is
    * tracked ACROSS newlines, so a quoted field containing a line break
    * (legal CSV, emitted by pandas to_csv for such values) stays one
    * field instead of shearing into two malformed rows. Row breaks are
    * `\n` / `\r\n` / `\r` outside quotes; `""` inside quotes unescapes
    * to `"`; an unterminated quote at end of input fails loudly rather
    * than silently swallowing the tail. */
  private[graft] def csvRows(text: String): Seq[Seq[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val row = scala.collection.mutable.ArrayBuffer.empty[String]
    val field = new StringBuilder
    var inQuotes = false
    var sawQuote = false // current field began with an opening quote
    def endField(): Unit = { row += field.result(); field.clear(); sawQuote = false }
    def endRow(): Unit = { endField(); rows += row.toSeq; row.clear() }
    var i = 0
    while (i < text.length) {
      val ch = text(i)
      if (inQuotes) {
        if (ch == '"') {
          if (i + 1 < text.length && text(i + 1) == '"') { field += '"'; i += 1 }
          else inQuotes = false
        } else field += ch
      } else ch match {
        case '"' if field.isEmpty && !sawQuote => inQuotes = true; sawQuote = true
        case ',' => endField()
        case '\n' => endRow()
        case '\r' =>
          endRow()
          if (i + 1 < text.length && text(i + 1) == '\n') i += 1
        case c => field += c
      }
      i += 1
    }
    require(!inQuotes, "unterminated CSV quote at end of input")
    if (field.nonEmpty || row.nonEmpty || sawQuote) endRow()
    rows.toSeq
  }

  /** JSON records carry no explicit order column; the keep-first dedup
    * needs one (SURVEY §7.3). A single multiLine JSON array loads as
    * one partition, so monotonically_increasing_id IS the file order
    * here — valid only because of that single-partition property, which
    * matches the reference reading one small JSON doc. */
  private final case class OrderedJson(path: String) extends Source {
    def load(spark: org.apache.spark.sql.SparkSession) =
      JsonArraySource(path, Some(StarSchema.rawRecomendados)).load(spark)
        .withColumn("__ord", monotonically_increasing_id())
  }

  /** The declared raw transacciones schema named after `path`'s own
    * header: the fact build renames by position and header names vary
    * between drops, so the parse stays positional without Spark's
    * header-mismatch warning. */
  private def transaccionesSchema(path: String): StructType = {
    val in = Files.newBufferedReader(Paths.get(path))
    val header = try Option(in.readLine()).toSeq.flatMap(csvRows)
      .headOption.getOrElse(Nil) finally in.close()
    val raw = StarSchema.rawTransacciones
    require(header.size == raw.size,
      s"$path: header has ${header.size} columns, the transacciones " +
        s"layout has ${raw.size}")
    StructType(raw.fields.zip(header).map { case (f, n) => f.copy(name = n) })
  }

  /** Session-independent core of `etl` (tests drive this directly; the
    * CLI wraps it in its own session): resolve the source layout —
    * workbook preferred, pre-converted CSV otherwise — run the
    * pipeline, return per-table accounting. */
  private[graft] def runEtl(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, warehouse: String): Map[String, (Long, Long)] = {
    val workbook = s"$srcDir/workbook.xlsx"
    val (clientesSrc, trxSrc, variosRows) =
      if (Files.exists(Paths.get(workbook)))
        (ExcelSource(workbook, "Clientes"): Source,
          ExcelSource(workbook, "Transacciones"): Source,
          Xlsx.readSheet(workbook, "Varios")
            .map(r => VariosSplitter.RawRow( // sheets may be < 2 cols wide
              r.lift(0).flatten, r.lift(1).flatten)))
      else
        (CsvSource(s"$srcDir/clientes.csv",
          schema = Some(StarSchema.rawClientes)): Source,
          CsvSource(s"$srcDir/transacciones.csv", schema = Some(
            transaccionesSchema(s"$srcDir/transacciones.csv"))): Source,
          readVarios(s"$srcDir/varios.csv"))
    val sources = EtlJob.Sources(
      clientes = clientesSrc,
      transacciones = trxSrc,
      varios = variosRows,
      recomendados = OrderedJson(s"$srcDir/recomendados.json"),
      recomendadosOrderCol = "__ord")
    EtlJob.run(spark, sources, new IncrementalSink(spark, warehouse))
  }

  private def etl(srcDir: String, warehouse: String): Unit = {
    val spark = GraftSession.local()
    val accounting = runEtl(spark, srcDir, warehouse)
    // per-table accounting like the reference's load logs (load.py:53-57)
    accounting.toSeq.sortBy(_._1).foreach { case (t, (ins, ign)) =>
      println(s"[etl] $t: inserted=$ins ignored=$ign")
    }
    spark.stop()
  }

  /** Session-independent core of `compact`: (table, before, after). */
  private[graft] def runCompact(spark: org.apache.spark.sql.SparkSession,
      warehouse: String): Seq[(String, Long, Long)] = {
    val sink = new IncrementalSink(spark, warehouse)
    graft.etl.StarSchema.loadOrder.filter(sink.exists).map { t =>
      val (before, after) = sink.compact(t)
      (t, before, after)
    }
  }

  /** Maintenance pass: collapse each star table's accumulated daily
    * append-files (run periodically, like a VACUUM). */
  private def compact(warehouse: String): Unit = {
    val spark = GraftSession.local()
    runCompact(spark, warehouse).foreach { case (t, before, after) =>
      println(s"[compact] $t: $before -> $after files")
    }
    spark.stop()
  }

  /** Session-independent core of `report`: the formatted message. */
  private[graft] def runReport(spark: org.apache.spark.sql.SparkSession,
      warehouse: String, cut: LocalDate): String = {
    val sink = new IncrementalSink(spark, warehouse)
    val fact = sink.read("fct_transacciones")
    val metricsRow = Report.metrics(fact, cut).collect().head
    val dist = Report.distributorPerformance(
      fact, sink.read("dim_clientes"), sink.read("dim_distribuidores"), cut)
      .collect().toSeq
    // the dashboard link is deployment config, like the report endpoint
    // below — never hardcoded (bot_ventas.py:89 bakes its Looker URL in;
    // copying that would leak a real URL into a library)
    Report.formatMessage(metricsRow, dist, cut,
      dashboardUrl = sys.env.get("SPARK_GRAFT_DASHBOARD_URL"))
  }

  private def report(warehouse: String, cut: LocalDate): Unit = {
    val spark = GraftSession.local()
    val msg = runReport(spark, warehouse, cut)
    println(msg)
    // optional HTTP fan-out (SURVEY §2.1 S7): when a report endpoint is
    // configured, POST the same message there — delivery failure is
    // logged, never fatal (the reference's bot contract; the report
    // already reached stdout above)
    sys.env.get("SPARK_GRAFT_REPORT_URL").foreach { url =>
      graft.etl.HttpJsonTransport.deliverLogged(
        new graft.etl.HttpJsonTransport(java.net.URI.create(url)), msg)
    }
    spark.stop()
  }
}
