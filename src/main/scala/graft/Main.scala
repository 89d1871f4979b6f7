package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeParseException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
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
  *
  * Every verb is a `run*` core over a caller's session (the suites and
  * perfbench drive those directly) plus the one summary line it prints;
  * the process opens one session for the verb and stops it on the way
  * out, failure included.
  */
object Main {

  def main(args: Array[String]): Unit = command(args.toList) match {
    case Some(run) =>
      val spark = GraftSession.local()
      try run(spark) finally spark.stop()
    case None =>
      System.err.println(usage)
      sys.exit(2)
  }

  private[graft] val usage =
    "usage: graft.Main etl <srcDir> <warehouseDir> | report <warehouseDir> <cutDate> | compact <warehouseDir> | corpus <docsParquet> <outDir> [epochSeed] [--eval <docsParquet>] | media-fixture <docsParquet> <outDir> | corpus-media <mediaParquet> <outDir> [shardBytes] [--eval <mediaParquet>] [--mix w_img,w_aud,w_vid budgetBytes] | paired-fixture <docsParquet> <outDir> [--tri] | corpus-paired <pairedParquet> <outDir> [shardBytes] [--eval <pairedParquet>] [--mix w_text,w_img,w_aud budgetBytes] | index <embeddingsParquet> <outDir> | search <indexDir> <queriesParquet> <outDir> [topK] [probes] | dedup-ingest <docsParquet> <lshStoreDir> <outDir> [confirmCorpusParquet [threshold]] | cms-ingest <parquet> <hashCol> <storeDir> | checksum-ingest <parquet> <groupCol> <textCol> <storeDir> | kmv-ingest <parquet> <groupCol> <textCol> <storeDir> [k] | bloom-ingest <parquet> <hashCol> <storeDir> | winnow-ingest <docsParquet> <storeDir> <outDir> [minShared] | trend-ingest <parquet> <keyCol> <dayCol> <storeDir> | hll-ingest <parquet> <groupCol> <hashCol> <storeDir> | grid-ingest <parquet> <valueCol> <width> <storeDir> | bucketize <parquet> <table> <key> <nBuckets> | df-ingest <docsParquet> <storeDir> <outDir> [minDf] | export-shards <docsParquet> <outDir> <shardBytes> | export-zorder <parquet> <outDir> <xCol> <yCol> [bits [files]] | zorder-maintain <parquet> <outDir> <xCol> <yCol> | dhash-ingest <mediaParquet> <storeDir> <outDir> | audiofp-ingest <mediaParquet> <storeDir> <outDir> | videofp-ingest <mediaParquet> <storeDir> <outDir> | gif-ingest <mediaParquet> <storeDir> <outDir> | bpe-train <docsParquet> <outParquet> [nMerges] | bpe-apply <docsParquet> <mergesParquet> <outDir> | stream-curate <docsDir> <outDir> <ckptDir> [watermarkDelay] | stream-funnel <eventsDir> <outDir> <ckptDir> <step1> [step2...] | stream-sessionize <eventsDir> <outDir> <ckptDir> [gapMinutes] | stream-dedup <docsDir> <outDir> <ckptDir> [watermarkDelay] | stream-route <mediaDir> <outDir> <ckptDir> | profile <parquet> <outDir> [cols...] | explain <queryName|all> [sfDir]"

  /** The command `args` ask for: the verb's core plus its summary line,
    * or None (the usage error) for an unknown verb or malformed
    * arguments. Numbers, dates and flags parse here, before any session
    * exists. */
  private[graft] def command(args: List[String])
      : Option[SparkSession => Unit] =
    try Some(parse(args)) catch {
      case _: IllegalArgumentException | _: DateTimeParseException => None
    }

  private def parse(args: List[String]): SparkSession => Unit = args match {
    case "etl" :: srcDir :: warehouse :: Nil => spark =>
      // per-table accounting like the reference's load logs (load.py:53-57)
      runEtl(spark, srcDir, warehouse).toSeq.sortBy(_._1).foreach {
        case (t, (ins, ign)) => println(s"[etl] $t: inserted=$ins ignored=$ign")
      }
    case "report" :: warehouse :: cut :: Nil =>
      val day = LocalDate.parse(cut)
      spark =>
        val msg = runReport(spark, warehouse, day)
        println(msg)
        // optional HTTP fan-out (SURVEY §2.1 S7): when a report endpoint
        // is configured, POST the same message there — delivery failure
        // is logged, never fatal (the reference's bot contract; the
        // report already reached stdout above)
        sys.env.get("SPARK_GRAFT_REPORT_URL").foreach { url =>
          graft.etl.HttpJsonTransport.deliverLogged(
            new graft.etl.HttpJsonTransport(java.net.URI.create(url)), msg)
        }
    case "compact" :: warehouse :: Nil => spark =>
      runCompact(spark, warehouse).foreach { case (t, before, after) =>
        println(s"[compact] $t: $before -> $after files")
      }
    case "corpus" :: docsParquet :: outDir :: rest0 =>
      val (evalPath, rest) = popEval(rest0)
      require(rest.size <= 1, "too many arguments")
      val epoch = rest.headOption.map(_.toLong)
      spark =>
        val s = graft.etl.CorpusPipeline.curate(spark, docsParquet, outDir,
          epoch = epoch, eval = evalPath.map(spark.read.parquet(_)))
        println(s"[corpus] raw=${s.raw} exact=${s.afterExact} " +
          s"neardup=${s.afterNearDup} paragraph=${s.afterParagraph} " +
          s"quality=${s.afterQuality} decontam_dropped=${s.droppedEval} " +
          s"packs=${s.packs}")
    case "media-fixture" :: docsParquet :: outDir :: Nil => spark =>
      val n = runMediaFixture(spark, docsParquet, outDir)
      println(s"media-fixture: $n media rows under $outDir")
    case "corpus-media" :: mediaParquet :: outDir :: rest0 =>
      val (mix, rest1) = popMix(rest0)
      val (evalPath, rest) = popEval(rest1)
      require(rest.size <= 1, "too many arguments")
      val shardBytes = rest.headOption.fold(64L << 20)(_.toLong)
      spark =>
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
    case "paired-fixture" :: docsParquet :: outDir :: rest
        if rest.isEmpty || rest == List("--tri") => spark =>
      val n = runPairedFixture(spark, docsParquet, outDir, rest.nonEmpty)
      println(s"paired-fixture: $n paired rows under $outDir" +
        (if (rest.nonEmpty) " (tri-modal)" else ""))
    case "corpus-paired" :: pairedParquet :: outDir :: rest0 =>
      val (mix, rest1) = popMix(rest0, Seq("text", "image", "audio"))
      val (evalPath, rest) = popEval(rest1)
      require(rest.size <= 1, "too many arguments")
      val shardBytes = rest.headOption.fold(64L << 20)(_.toLong)
      spark =>
        val s = runCorpusPaired(spark, pairedParquet, outDir, shardBytes,
          evalPath, mix)
        def bytes(m: Map[String, Long]) =
          m.toSeq.sorted.map { case (k, b) => s"$k:$b" }.mkString(",")
        println(s"[corpus-paired] raw=${s.raw} decodable=${s.decodable} " +
          s"dropped_image=${s.droppedImage} " +
          s"dropped_audio=${s.droppedAudio} kept=${s.kept} " +
          s"decontam_dropped=${s.droppedEval} " +
          s"shards=${s.shards} exported=${s.exported}" +
          (if (mix.isEmpty) ""
           else s" mix_kept_bytes=${bytes(s.mixKeptBytes)}" +
             s" mix_dropped_bytes=${bytes(s.mixDroppedBytes)}"))
    case "index" :: embParquet :: outDir :: Nil => spark =>
      val (frozen, n) = runIndex(spark, embParquet, outDir)
      println(s"[index] codebook=${if (frozen) "frozen" else "trained"} " +
        s"vectors=$n")
    case "dedup-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 2 =>
      val confirm = rest.headOption.map(corpus =>
        (corpus, rest.drop(1).headOption.fold(0.5)(_.toDouble)))
      spark =>
        val n = runDedupIngest(spark, docsParquet, storeDir, outDir, confirm)
        val what = if (confirm.isDefined) "verified" else "candidate"
        println(s"dedup-ingest: $n $what pairs -> $outDir")
    case "search" :: indexDir :: queriesParquet :: outDir :: rest
        if rest.size <= 2 =>
      val topK = rest.headOption.fold(5)(_.toInt)
      val probes = rest.drop(1).headOption.map(_.toInt)
      spark =>
        val n = runSearch(spark, indexDir, queriesParquet, outDir, topK,
          probes)
        println(s"[search] ${probes.fold("adc")(p => s"ivf(probes=$p)")} " +
          s"results=$n -> $outDir")
    case "cms-ingest" :: srcParquet :: hashCol :: storeDir :: Nil => spark =>
      val n = runCmsIngest(spark, srcParquet, hashCol, storeDir)
      println(s"cms-ingest: merged grid holds $n counters -> $storeDir")
    case "checksum-ingest" :: srcParquet :: groupCol :: textCol ::
        storeDir :: Nil => spark =>
      val n = runChecksumIngest(spark, srcParquet, groupCol, textCol,
        storeDir)
      println(s"checksum-ingest: fingerprint covers $n groups -> $storeDir")
    case "kmv-ingest" :: srcParquet :: groupCol :: textCol ::
        storeDir :: rest if rest.size <= 1 =>
      val k = rest.headOption.fold(256)(_.toInt)
      spark =>
        val n = runKmvIngest(spark, srcParquet, groupCol, textCol,
          storeDir, k)
        println(s"kmv-ingest: k=$k sketches cover $n groups -> $storeDir")
    case "hll-ingest" :: srcParquet :: groupCol :: hashCol :: storeDir ::
        Nil => spark =>
      val n = runHllIngest(spark, srcParquet, groupCol, hashCol, storeDir)
      println(s"hll-ingest: $n groups tracked -> $storeDir")
    case "grid-ingest" :: srcParquet :: valueCol :: width :: storeDir ::
        Nil =>
      val w = width.toDouble
      spark =>
        val n = runGridIngest(spark, srcParquet, valueCol, w, storeDir)
        println(s"grid-ingest: merged store holds $n bins -> $storeDir")
    case "bloom-ingest" :: srcParquet :: hashCol :: storeDir :: Nil =>
      spark =>
        val n = runBloomIngest(spark, srcParquet, hashCol, storeDir)
        println(s"bloom-ingest: store holds $n filter blob(s) -> $storeDir")
    case "winnow-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 1 =>
      val minShared = rest.headOption.fold(2)(_.toInt)
      spark =>
        val n = runWinnowIngest(spark, docsParquet, storeDir, outDir,
          minShared)
        println(s"winnow-ingest: $n fingerprint pairs -> $outDir")
    case "trend-ingest" :: srcParquet :: keyCol :: dayCol :: storeDir ::
        Nil => spark =>
      val n = runTrendIngest(spark, srcParquet, keyCol, dayCol, storeDir)
      println(s"trend-ingest: $n keys fitted -> $storeDir")
    case "df-ingest" :: docsParquet :: storeDir :: outDir :: rest
        if rest.size <= 1 =>
      val minDf = rest.headOption.fold(2)(_.toInt)
      spark =>
        val n = runDfIngest(spark, docsParquet, storeDir, outDir, minDf)
        println(s"df-ingest: $n docs scored (minDf $minDf) -> $outDir; " +
          s"store $storeDir")
    case "export-shards" :: docsParquet :: outDir :: bytes :: Nil =>
      val shardBytes = bytes.toLong
      spark =>
        val (shards, docs) = runExportShards(spark, docsParquet, outDir,
          shardBytes)
        println(s"export-shards: $docs docs -> $shards shards " +
          s"(~$shardBytes B each) under $outDir")
    case "export-zorder" :: srcParquet :: outDir :: xCol :: yCol :: rest
        if rest.size <= 2 =>
      val bits = rest.headOption.fold(4)(_.toInt)
      val files = rest.drop(1).headOption.fold(16)(_.toInt)
      spark =>
        val (nFiles, nRows) = runExportZOrder(spark, srcParquet, outDir,
          xCol, yCol, bits, files)
        println(s"export-zorder: $nRows rows -> $nFiles z-span files " +
          s"(${1 << bits}x${1 << bits} grid on $xCol x $yCol) under $outDir")
    case "zorder-maintain" :: srcParquet :: outDir :: xCol :: yCol :: Nil =>
      spark =>
        val (nTouched, nRows) = runZOrderMaintain(spark, srcParquet, outDir,
          xCol, yCol)
        println(s"zorder-maintain: $nRows new rows -> $nTouched touched " +
          s"spans under $outDir")
    case "dhash-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      spark =>
        val (n, clusters) = runDhashIngest(spark, mediaParquet, storeDir,
          outDir)
        println(s"dhash-ingest: $n decodable payloads fingerprinted -> " +
          s"store $storeDir; $clusters cluster rows -> $outDir")
    case "audiofp-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      spark =>
        val (n, clusters) = runAudioFpIngest(spark, mediaParquet, storeDir,
          outDir)
        println(s"audiofp-ingest: $n decodable payloads fingerprinted " +
          s"(one PCM pass -> envelope + energy-window stores) -> " +
          s"store $storeDir; $clusters cluster rows -> $outDir")
    case "videofp-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      spark =>
        val (n, clusters) = runVideoFpIngest(spark, mediaParquet, storeDir,
          outDir)
        println(s"videofp-ingest: $n decodable videos fingerprinted -> " +
          s"store $storeDir; $clusters cluster rows -> $outDir")
    case "gif-ingest" :: mediaParquet :: storeDir :: outDir :: Nil =>
      spark =>
        val (n, clusters) = runGifFpIngest(spark, mediaParquet, storeDir,
          outDir)
        println(s"gif-ingest: $n decodable gifs fingerprinted -> " +
          s"store $storeDir; $clusters cluster rows -> $outDir")
    case "bpe-train" :: docsParquet :: outParquet :: rest
        if rest.size <= 1 =>
      val nMerges = rest.headOption.fold(256)(_.toInt)
      spark =>
        val n = runBpeTrain(spark, docsParquet, outParquet, nMerges)
        println(s"bpe-train: $n merges learned -> $outParquet")
    case "bpe-apply" :: docsParquet :: mergesParquet :: outDir :: Nil =>
      spark =>
        val n = runBpeApply(spark, docsParquet, mergesParquet, outDir)
        println(s"bpe-apply: $n docs counted -> $outDir")
    case "bucketize" :: srcParquet :: table :: key :: nBuckets :: Nil =>
      val buckets = nBuckets.toInt
      spark =>
        val n = runBucketize(spark, srcParquet, table, key, buckets)
        println(s"bucketize: $n rows -> table $table ($buckets buckets on $key)")
    case "stream-curate" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 => spark =>
      val n = runStreamCurate(spark, inDir, outDir, ckptDir,
        rest.headOption.getOrElse("10 minutes"))
      println(s"stream-curate: $n curated rows -> $outDir")
    case "stream-funnel" :: inDir :: outDir :: ckptDir :: steps
        if steps.nonEmpty => spark =>
      val n = runStreamFunnel(spark, inDir, outDir, ckptDir, steps)
      println(s"stream-funnel: $n completions -> $outDir")
    case "stream-sessionize" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 =>
      val gapMinutes = rest.headOption.fold(30L)(_.toLong)
      spark =>
        val n = runStreamSessionize(spark, inDir, outDir, ckptDir,
          gapMinutes)
        println(s"stream-sessionize: $n closed sessions -> $outDir")
    case "stream-dedup" :: inDir :: outDir :: ckptDir :: rest
        if rest.size <= 1 => spark =>
      val n = runStreamDedup(spark, inDir, outDir, ckptDir,
        rest.headOption.getOrElse("10 minutes"))
      println(s"stream-dedup: $n unique docs -> $outDir")
    case "stream-route" :: inDir :: outDir :: ckptDir :: Nil => spark =>
      val byMod = runStreamRoute(spark, inDir, outDir, ckptDir).toSeq
        .sortBy(_._1).map { case (m, n) => s"$m:$n" }.mkString("/")
      println(s"stream-route: $byMod -> $outDir")
    case "explain" :: name :: rest if rest.size <= 1 =>
      explain(name, rest.headOption.getOrElse("/root/testdata/sf0.001"))
    case "profile" :: srcParquet :: outDir :: cols => spark =>
      val (nCols, nKeys) = runProfile(spark, srcParquet, outDir, cols)
      println(s"profile: $nCols columns profiled, $nKeys key-audited " +
        s"-> $outDir")
    case _ => throw new IllegalArgumentException(s"unknown command $args")
  }

  /** Pull an optional `--eval <path>` flag pair out of a trailing
    * argument list (shared by the three funnel CLIs — the flag may
    * sit before or after the positional tail). */
  private[graft] def popEval(rest: List[String])
      : (Option[String], List[String]) =
    rest.indexOf("--eval") match {
      case -1 => (None, rest)
      case i =>
        require(i + 1 < rest.size, "--eval needs a path")
        (Some(rest(i + 1)), rest.take(i) ++ rest.drop(i + 2))
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
      case i =>
        require(rest.size > i + 2, "--mix needs weights and a budget")
        val ws = rest(i + 1).split(",").map(_.toDouble)
        require(ws.length == strata.length,
          s"--mix needs ${strata.map("w_" + _).mkString(",")}, " +
            s"got ${rest(i + 1)}")
        val m = strata.zip(ws).filter(_._2 > 0).toMap
        (Some((m, rest(i + 2).toLong)),
          rest.take(i) ++ rest.drop(i + 3))
    }

  /** Drain every file now in the parquet directory `inDir` through
    * `query` under `Trigger.AvailableNow`, appending its rows to the
    * parquet tree at `outDir` with source progress and operator state
    * in `ckptDir`. Run again as files arrive: the checkpoint makes each
    * pass pick up ONLY new files and carries the state across restarts
    * — the daily-batch one-binary shape of the reference's cron
    * (etl_pipeline.yml:5-6), applied to the streaming twins. File
    * streams need an explicit schema; the batch reader derives it from
    * the same directory. Returns `outDir`'s rows, prior passes included
    * (the sink is append-only). */
  private def drainToParquet(spark: SparkSession, inDir: String,
      outDir: String, ckptDir: String, partitionBy: String*)(
      query: DataFrame => DataFrame): DataFrame = {
    val in = spark.readStream.schema(spark.read.parquet(inDir).schema)
      .parquet(inDir)
    query(in).writeStream.format("parquet")
      .partitionBy(partitionBy: _*)
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Incremental boilerplate ingest ([[graft.etl.DfStore]]): fold the
    * batch's per-window document frequencies into the store, then
    * score the batch against the MERGED corpus-wide state (q219's
    * readout with the df side read from disk), writing per-doc
    * boilerplate fractions to `outDir`. */
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

  /** Export a table as z-ordered parquet files
    * ([[graft.operators.Layout.writeZOrdered]]): deterministic
    * z-contiguous file spans over two integer dimensions, one parquet
    * file per span, the per-file zone-map manifest under
    * `outDir/_manifest`. */
  private[graft] def runExportZOrder(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      outDir: String, xCol: String, yCol: String, bits: Int,
      files: Int): (Long, Long) =
    graft.operators.Layout.writeZOrdered(spark.read.parquet(srcParquet),
      xCol, yCol, outDir, bits, files)

  /** Incremental image-dedup ingest ([[graft.etl.DhashStore]]):
    * decode the batch's payloads ONCE, append the 8-byte dHashes,
    * write the store's current cluster decision (doc_id, cluster_id,
    * is_canonical) to `outDir` — payload bytes are never re-read.
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
    * ([[graft.etl.AudioFpStore]]), `dhash-ingest`'s audio sibling.
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
    * sibling on the q277/q279 machinery. Expects a parquet of (doc_id,
    * uri, mime, payload) rows. */
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

  /** Train a BPE merge table from a corpus' `text` column
    * ([[graft.functions.Bpe.trainMerges]]) and write the (rank, a, b)
    * tokenizer artifact — the shippable dim [[runBpeApply]] and the
    * q253/q254/q260 machinery consume. */
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
    * budget pass. Expects `doc_id`/`text` columns. */
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

  /** Append a parquet batch into an existing z-ordered tree
    * ([[graft.operators.Layout.maintainZOrdered]]): per-touched-span
    * rewrite against the tree's own grid — never a full re-sort. */
  private[graft] def runZOrderMaintain(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      outDir: String, xCol: String, yCol: String): (Long, Long) =
    graft.operators.Layout.maintainZOrdered(
      spark.read.parquet(srcParquet), xCol, yCol, outDir)

  /** Export a document corpus as byte-budget shard files
    * ([[graft.operators.Packing.writeShards]]): deterministic id-order
    * packing, one parquet file per shard, the manifest under
    * `outDir/_manifest`. Expects `doc_id`/`text` columns (the corpus
    * subcommand's contract). */
  private[graft] def runExportShards(
      spark: org.apache.spark.sql.SparkSession, docsParquet: String,
      outDir: String, shardBytes: Long): (Long, Long) =
    graft.operators.Packing.writeShards(spark.read.parquet(docsParquet),
      "doc_id", "text", outDir, shardBytes)

  /** Co-locate a parquet table on a join key ([[graft.etl.Bucketed]]):
    * one bucketed+sorted rewrite now, zero shuffles on every future
    * join/aggregate over that key against any same-bucketed table —
    * the storage-layout half of the 100 TB join story. */
  private[graft] def runBucketize(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, table: String, key: String,
      buckets: Int): Long = {
    graft.etl.Bucketed.coLocate(spark.read.parquet(srcParquet), table,
      key, buckets)
    graft.etl.Bucketed.table(spark, table).count()
  }

  /** The streaming curation funnel ([[graft.streaming.CurateStream]])
    * over `inDir` (parquet with doc_id, ts, text), with its
    * watermark-bounded dedup state in the checkpoint
    * ([[drainToParquet]]). Returns the TOTAL curated rows in `outDir`. */
  private[graft] def runStreamCurate(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, ckptDir: String,
      delay: String = "10 minutes"): Long =
    drainToParquet(spark, inDir, outDir, ckptDir) { docs =>
      // externally-written parquet often carries TIMESTAMP_NTZ (e.g.
      // DuckDB's TIMESTAMP), which the watermark rejects — normalize the
      // event-time column to TimestampType before it
      graft.streaming.CurateStream.curatedDocs(
        docs.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast("timestamp")), "doc_id", "text", "ts", delay)
    }.count()

  /** The streaming funnel ([[graft.streaming.FunnelStream]]) over
    * `inDir` (parquet with user_id, ts_us, event_id, event_type): one
    * row per (user, step) completion. The per-user step state lives in
    * the checkpoint, so repeated passes over an arriving event log
    * extend chains exactly where the last pass left them. */
  private[graft] def runStreamFunnel(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, ckptDir: String,
      steps: Seq[String]): Long =
    drainToParquet(spark, inDir, outDir, ckptDir)(
      graft.streaming.FunnelStream.completions(_, steps).toDF()).count()

  /** The streaming sessionizer ([[graft.streaming.SessionizeStream]])
    * over `inDir` (parquet with user_id + either ts_us µs-longs or a
    * ts timestamp), appending CLOSED sessions. The
    * one-open-session-per-user state lives in the checkpoint, so
    * repeated passes extend sessions exactly where the last drain left
    * them. */
  private[graft] def runStreamSessionize(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String, gapMinutes: Long = 30L): Long = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    drainToParquet(spark, inDir, outDir, ckptDir) { events =>
      val timed =
        if (events.columns.contains("ts_us")) events
        else events.withColumn("ts_us",
          unix_micros(col("ts").cast("timestamp")))
      graft.streaming.SessionizeStream
        .sessions(timed, gapUs = gapMinutes * 60L * 1000000L).toDF()
    }.count()
  }

  /** The streaming exact dedup ([[graft.streaming.DedupStream]]) over
    * `inDir` (parquet with a text column and a ts timestamp), appending
    * first-sighted docs — duplicate content arriving within the
    * watermark horizon is dropped; state is bounded to that horizon
    * (full-history dedup stays batch-side by design). */
  private[graft] def runStreamDedup(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String,
      delay: String = "10 minutes"): Long = {
    import org.apache.spark.sql.functions.col
    drainToParquet(spark, inDir, outDir, ckptDir)(docs =>
      graft.streaming.DedupStream.uniqueDocs(
        docs.withColumn("ts", col("ts").cast("timestamp")), "text", "ts",
        delay)).count()
  }

  /** The streaming modality router ([[graft.streaming.RouteStream]])
    * over `inDir` (parquet with doc_id, ts_us, mime, payload), landing
    * every payload in `outDir/modality=<sniffed>/` — the stream-side
    * front door of the `corpus-media` routed tree, with the
    * declared-vs-sniffed health columns carried per row. Zero state:
    * the sniff is row-local. Returns rows per modality. */
  private[graft] def runStreamRoute(
      spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, ckptDir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    drainToParquet(spark, inDir, outDir, ckptDir, "modality")(
        graft.streaming.RouteStream.routed)
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Pre-flight profile of an arbitrary parquet table — the first
    * thing to run against data nobody trusts yet: the q62 column
    * profile over every column (or the listed subset) and the q141
    * key-candidate audit over its non-float subset, written as two
    * parquet reports under `outDir`. */
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

  /** Incremental integrity ingest ([[graft.etl.ChecksumStore]]): fold
    * one batch's per-group checksums in and report the merged
    * fingerprint size. Verify a transfer by running the same ingests
    * on both sides and diffing the two fingerprint tables. */
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
  private[graft] def runKmvIngest(
      spark: org.apache.spark.sql.SparkSession, srcParquet: String,
      groupCol: String, textCol: String, storeDir: String,
      k: Int = 256): Long = {
    val store = new graft.etl.KmvStore(spark, storeDir, k)
    store.ingest(spark.read.parquet(srcParquet), groupCol, textCol)
    store.sketches.select("grp").distinct().count()
  }

  /** Incremental CMS ingest: fold one batch (a parquet of rows with a
    * BIGINT `hashCol`) into its partial counter grid and append it to
    * the durable store — run per arriving batch; reads merge by SUM.
    * Exactly-once delivery is the scheduler's contract (counters are
    * not idempotent, scaladoc [[graft.etl.CmsStore]]). */
  private[graft] def runCmsIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, hashCol: String, storeDir: String): Long = {
    val store = new graft.etl.CmsStore(spark, storeDir)
    store.ingest(spark.read.parquet(srcParquet), hashCol)
    store.sketch.count()
  }

  /** Incremental HLL ingest: fold one batch into its register table
    * and append — reads merge by idempotent MAX, so re-delivery is
    * harmless ([[graft.etl.HllStore]]). */
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
  private[graft] def runGridIngest(spark: org.apache.spark.sql.SparkSession,
      srcParquet: String, valueCol: String, width: Double,
      storeDir: String): Long = {
    val store = new graft.etl.GridStore(spark, storeDir, width)
    store.ingest(spark.read.parquet(srcParquet), valueCol)
    store.bins.count()
  }

  /** `explain`'s command: [[runExplain]] prints the plans itself. */
  private def explain(name: String, sfDir: String): SparkSession => Unit =
    runExplain(_, name, sfDir)

  /** Dump the formatted physical plan for one registry query (or every
    * query with `all`) — the plan-quality inspection surface: pushdown
    * (`PushedFilters`/`ReadSchema`), broadcast sides, WholeStageCodegen
    * spans, and WindowGroupLimit pushdowns read directly off the output.
    * PlanAuditSpec pins the load-bearing shapes; this makes the rest
    * inspectable without writing a test. */
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
    * silently re-code the whole history. Stores FOUR artifacts under
    * `outDir`: `codebook` + `codes` (the PQ layer) and
    * `coarse_codebook` + `cells` (the IVF layer), which is everything
    * [[runSearch]] needs to serve both search rungs without
    * retraining. Returns (codebook was frozen, vectors). */
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

  /** Serve ANN queries against a STORED index ([[runIndex]]'s artifacts)
    * without retraining: plain ADC over all stored codes, or — with
    * `probes` — the IVF-restricted rung that only scores candidates
    * in each query's probed cells. */
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

  /** The media lake's composed product path ([[graft.etl
    * .MediaPipeline]]): magic-byte routing → per-modality dedup
    * keep-canonical → catalog profile → byte-budgeted shard export. */
  private[graft] def runCorpusMedia(
      spark: org.apache.spark.sql.SparkSession, mediaParquet: String,
      outDir: String, shardBytes: Long = 64L << 20,
      evalPath: Option[String] = None,
      mix: Option[(Map[String, Double], Long)] = None)
      : graft.etl.MediaPipeline.Stats =
    graft.etl.MediaPipeline.curate(spark, mediaParquet, outDir,
      shardBytes, eval = evalPath.map(spark.read.parquet(_)),
      mix = mix)

  /** The PAIRED text+media funnel ([[graft.etl.PairedPipeline]]):
    * text clusters × image clusters → q273's compose-OR keep decision
    * → curated pairs + weighted shard export. */
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

  /** Maintenance pass: collapse each star table's accumulated daily
    * append-files (run periodically, like a VACUUM). A table a crashed
    * compact left mid-swap is compacted too, which heals it. Returns
    * (table, files before, files after). */
  private[graft] def runCompact(spark: org.apache.spark.sql.SparkSession,
      warehouse: String): Seq[(String, Long, Long)] = {
    val sink = new IncrementalSink(spark, warehouse)
    graft.etl.StarSchema.loadOrder.filter(sink.store(_).present).map { t =>
      val (before, after) = sink.compact(t)
      (t, before, after)
    }
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
    // the dashboard link is deployment config, like the `report` verb's
    // endpoint — never hardcoded (bot_ventas.py:89 bakes its Looker URL in;
    // copying that would leak a real URL into a library)
    Report.formatMessage(metricsRow, dist, cut,
      dashboardUrl = sys.env.get("SPARK_GRAFT_DASHBOARD_URL"))
  }
}
