package graft

import java.nio.file.{Files, Path}

import graft.etl.{IncrementalSink, StarSchema}

/** The CLI cores end-to-end over the PRE-CONVERTED CSV source layout
  * (`Main etl|report|compact`'s non-workbook path), including a quoted
  * field with an EMBEDDED NEWLINE in the order-sensitive Varios sheet —
  * the case the character-stream CSV parser exists for — and a `,`
  * blank row that must survive as a (null, null) row for xlsx-path
  * parity.
  */
class MainSpec extends SparkSpec {

  private def write(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  /** The funnel's TWO-STAGE sequence dedup replay (family clusters →
    * clip containment over family representatives → members through
    * their rep → keep-best): the pinned composition every sequence
    * tier of [[graft.etl.MediaPipeline]] runs since r19. */
  private def twoStageReplay(fam: org.apache.spark.sql.DataFrame,
      seq: org.apache.spark.sql.DataFrame, alignCol: String,
      fpCol: String, quality: org.apache.spark.sql.DataFrame,
      qCols: Seq[String]): Set[Long] = {
    import org.apache.spark.sql.functions._
    val D = graft.operators.Dedup
    val famC = fam.cache()
    try {
      val repIds = famC.where(col("is_canonical")).select(col("doc_id"))
      val repSeq = seq.join(repIds, Seq("doc_id"))
      val repComps = D.nearDupClusters(repIds, "doc_id",
          D.sequenceShingleContainment(repSeq, "doc_id", alignCol,
            fpCol).select(col("doc_a"), col("doc_b")))
        .select(col("doc_id").as("__rep"), col("cluster_id"))
      graft.operators.Multimodal.keepBest(
          famC.select(col("doc_id"), col("cluster_id").as("__rep"))
            .join(repComps, Seq("__rep"))
            .select(col("doc_id"), col("cluster_id")),
          quality, qCols)
        .where(col("is_best"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    } finally famC.unpersist()
  }

  /** The pre-converted CSV source layout of one day's drop. */
  private def writeCsvLayout(src: Path): Unit = {
    write(src, "clientes.csv",
      """IDCLIENTE,fechaafiliacion,fechaprimertrx
        |1,2024-01-10,2024-02-01
        |2,2024-02-15,not-a-date
        |3,,2024-03-05
        |4,junk,2024-04-01
        |5,2024-05-20,2024-05-25
        |""".stripMargin)
    write(src, "transacciones.csv",
      """c0,c1,c2,c3,c4,c5,c6
        |1,2025-06-10,100,1001,1500.50,15.00,1
        |2,2025-06-14,101,1002,2000.00,20.00,2
        |2,junk-date,101,1003,300.25,3.00,1
        |5,2025-06-14,99,1004,750.00,7.50,1
        |x,2025-06-16,100,1005,100.00,1.00,2
        |""".stripMargin)
    // sede 1's name carries an embedded newline inside quotes (legal
    // CSV, what pandas to_csv emits); the ',' line is a blank sheet row
    write(src, "varios.csv",
      "ID,NOMBRE\n1,\"Sede\nCentro\"\n2,Sede Norte\n,\n" +
        "ID,DESCRIPCION\n100,Prestamo\n101,Pago\n")
    write(src, "recomendados.json",
      """[
        |{"IDCLIENTE": 1, "IDDISTRIBUIDOR": 10, "NOMBRE DISTRIBUIDOR": "Distribuidora Norte", "TELEFONO": 5551001, "categoría": "A", "recomendados": 3},
        |{"IDCLIENTE": 2, "IDDISTRIBUIDOR": 20, "NOMBRE DISTRIBUIDOR": "Distribuidora Sur", "TELEFONO": 5551002, "categoría": "B", "recomendados": 1},
        |{"IDCLIENTE": 2, "IDDISTRIBUIDOR": 20, "NOMBRE DISTRIBUIDOR": "Distribuidora Sur BIS", "TELEFONO": 5551003, "categoría": "B", "recomendados": 2},
        |{"IDCLIENTE": 9, "IDDISTRIBUIDOR": 30, "NOMBRE DISTRIBUIDOR": "Distribuidora Este", "TELEFONO": 5551004, "categoría": "C", "recomendados": 0}
        |]""".stripMargin)
  }

  test("etl over the CSV layout → star; report; compact — end to end") {
    val src = Files.createTempDirectory("graft_cli_src")
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    writeCsvLayout(src)

    val acct = Main.runEtl(spark, src.toString, wh)
    assert(acct == Map(
      "dim_sedes" -> (2L, 0L),
      "dim_tipo_transaccion" -> (3L, 0L), // 2 catalog + RI-repair dummy
      "dim_distribuidores" -> (3L, 0L),
      "dim_clientes" -> (5L, 0L),
      "fct_transacciones" -> (5L, 0L)))

    // the newline-bearing name survived the stream parser into the dim;
    // the (null, null) blank row was filtered by the dim key clean
    val sink = new IncrementalSink(spark, wh)
    val sedes = sink.read("dim_sedes").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(sedes == Map(1 -> "Sede\nCentro", 2 -> "Sede Norte"))

    // every table holds its StarSchema declaration's columns and types
    // (compared by name, nullability aside); the fact adds its physical
    // partition column
    val declared = Map(
      "dim_sedes" -> StarSchema.dimSedes,
      "dim_tipo_transaccion" -> StarSchema.dimTipoTransaccion,
      "dim_distribuidores" -> StarSchema.dimDistribuidores,
      "dim_clientes" -> StarSchema.dimClientes,
      "fct_transacciones" -> StarSchema.fctTransacciones)
    assert(declared.keySet == StarSchema.loadOrder.toSet)
    def types(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    declared.foreach { case (t, schema) =>
      assert(types(sink.read(t).schema) - "fecha_trx_date" == types(schema), t)
    }
    assert(sink.read("fct_transacciones").columns.contains("fecha_trx_date"))

    // daily re-run: idempotent (0 inserted everywhere)
    assert(Main.runEtl(spark, src.toString, wh).values.map(_._1).sum == 0L)

    val msg = Main.runReport(spark, wh,
      java.time.LocalDate.parse("2025-06-14"))
    assert(msg.contains("PRÉSTAMOS DEL DÍA: $2,750.00"))
    assert(msg.contains("ACUMULADO MENSUAL: $4,250.50"))
    assert(msg.contains("- Distribuidora Sur: $2,000.00"))
    assert(msg.contains("- Venta Directa: $750.00"))

    val comp = Main.runCompact(spark, wh)
    assert(comp.map(_._1).toSet == StarSchema.loadOrder.toSet)
    assert(sink.read("fct_transacciones").count() == 5) // data intact
  }

  test("an incremental etl day stays within its Spark job budget") {
    // each star table is probed, materialized, tallied and written once
    // (IncrementalSink); a check that re-evaluates a table's lineage
    // shows up here as extra jobs. The second day measured 26 jobs (77
    // when every check was its own action over the lazy tables); the
    // budget is that plus 10 %.
    val src = Files.createTempDirectory("graft_cli_src")
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    writeCsvLayout(src)
    Main.runEtl(spark, src.toString, wh)
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val jobs = jobsOf("second etl day") {
      assert(Main.runEtl(spark, src.toString, wh).values.map(_._1).sum == 0L)
    }
    assert(jobs <= 28, s"$jobs jobs")
    // the report's three table reads take their schema from a footer,
    // so none runs a schema-inference job: the report measured 8 jobs
    // (11 with an inference job per read)
    val reportJobs = jobsOf("that day's report") {
      Main.runReport(spark, wh, java.time.LocalDate.parse("2025-06-14"))
    }
    assert(reportJobs <= 9, s"$reportJobs jobs")
  }

  test("dedup-ingest: two CLI passes reproduce the one-shot candidate set") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_di").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.where(col("doc_id") < 250).write.parquet(s"$base/b1")
    docs.where(col("doc_id") >= 250).write.parquet(s"$base/b2")
    val n1 = Main.runDedupIngest(spark, s"$base/b1", s"$base/store",
      s"$base/out1")
    val n2 = Main.runDedupIngest(spark, s"$base/b2", s"$base/store",
      s"$base/out2")
    val got = spark.read.parquet(s"$base/out1")
      .unionByName(spark.read.parquet(s"$base/out2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == (n1 + n2))
    val sigs = graft.operators.Dedup.bandSignatures(docs, "doc_id", "text")
    val oneShot = sigs.select(col("doc_id").as("doc_a"), col("band"),
        col("sig"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("band"),
        col("sig")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oneShot)
  }

  test("explain: dumps a formatted plan for a known query, rejects unknown") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.runExplain(spark, "q11_distinct", "/root/testdata/sf0.001")
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("==== q11_distinct"), printed.take(200))
    assert(printed.contains("== Physical Plan =="), printed.take(400))
    val e = intercept[IllegalArgumentException] {
      Main.runExplain(spark, "nope", "/root/testdata/sf0.001")
    }
    assert(e.getMessage.contains("unknown query"))
  }

  test("stream-curate: two AvailableNow drains with a checkpoint " +
    "restart ≡ the batch stage pipeline over the full corpus") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_sc").toString
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // the CurateStreamSpec corpus: good doc, exact dup, short,
    // repetitive, PII-laden — split MID-STREAM across two drains
    val good = "the quick brown fox jumps over the lazy dog and " +
      "then runs far away to the old stone bridge where a boat is " +
      "waiting for the last traveler of the evening as night falls " +
      "over the valley"
    val repetitive = Array.fill(30)("spam ham spam").mkString(" ")
    val pii = "write to the address agent007@example.com or visit " +
      "https://10.0.0.7/path now and quote the code 123456789 to " +
      "claim a prize that is of course entirely real and the offer " +
      "is the best one"
    val corpus = Seq((1L, t(0), good), (2L, t(1), good),
      (3L, t(2), "too short"), (4L, t(3), repetitive), (5L, t(4), pii))
    import spark.implicits._
    // the stream reads the DIRECTORY; files land as they arrive
    val in = s"$base/in"
    corpus.take(3).toDF("doc_id", "ts", "text").write.parquet(in)
    val n1 = Main.runStreamCurate(spark, in, s"$base/out", s"$base/ckpt")
    assert(n1 == 1L) // doc 1 kept; dup 2 and short 3 dropped
    // second arrival: append docs 4-5 as NEW files into the same dir
    corpus.drop(3).toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(in)
    val n2 = Main.runStreamCurate(spark, in, s"$base/out", s"$base/ckpt")
    assert(n2 == 2L, s"restart must process ONLY the new files: $n2")
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got.map(_._1) == Seq(1L, 5L))
    val redacted = got.last._2
    assert(!redacted.contains("agent007@example.com") &&
      !redacted.contains("123456789") &&
      !redacted.contains("https://10.0.0.7"), redacted)
  }

  test("stream-funnel: the checkpointed state store extends per-user " +
    "chains across two CLI drains") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_sf").toString
    import spark.implicits._
    val in = s"$base/in"
    // user 10 walks a→b in drain 1 and finishes c in drain 2; user 20
    // sends b FIRST (never opens), then a in drain 2 (opens step 0)
    Seq((10L, 1000L, 1L, "a"), (10L, 2000L, 2L, "b"),
      (20L, 1500L, 3L, "b"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .write.parquet(in)
    val n1 = Main.runStreamFunnel(spark, in, s"$base/out",
      s"$base/ckpt", Seq("a", "b", "c"))
    assert(n1 == 2L) // user 10: a, b
    Seq((10L, 3000L, 4L, "c"), (20L, 2500L, 5L, "a"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .write.mode("append").parquet(in)
    val n2 = Main.runStreamFunnel(spark, in, s"$base/out",
      s"$base/ckpt", Seq("a", "b", "c"))
    assert(n2 == 4L,
      s"state must carry: user 10 completes c, user 20 opens a: $n2")
    val got = spark.read.parquet(s"$base/out")
      .select("user_id", "step_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((10L, 0), (10L, 1), (10L, 2), (20L, 0)))
  }

  test("profile: writes the column profile over all columns and the " +
    "key audit over the non-float subset") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_profile").toString
    val (nCols, nKeys) = Main.runProfile(spark,
      "/root/testdata/sf0.001/orders.parquet", out)
    assert(nCols == 6 && nKeys == 5) // o_totalprice is the float-out
    val prof = spark.read.parquet(s"$out/column_profile")
    assert(prof.count() == 6)
    val keys = spark.read.parquet(s"$out/key_candidates").collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(keys("o_orderkey") && !keys("o_custkey"))
    assert(!keys.contains("o_totalprice"))
  }

  test("export-shards: one file per shard, manifest matches the " +
    "written tree, round-trip preserves every doc") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files
      .createTempDirectory("graft_shards").toString + "/shards"
    val src = "/root/testdata/sf0.001/documents.parquet"
    val (shards, docs) = Main.runExportShards(spark, src, out, 4096L)
    val srcDf = spark.read.parquet(src)
    assert(docs == srcDf.count())
    assert(shards > 1)
    // the partitioned tree reads back whole, ids intact, shard
    // assignment matching the manifest's id ranges
    val tree = spark.read.parquet(out)
    assert(tree.count() == docs)
    assert(tree.select("doc_id").distinct().count() == docs)
    val manifest = spark.read.parquet(s"$out/_manifest")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4),
        r.getLong(5)))).toMap
    assert(manifest.size == shards)
    val byShard = tree.groupBy(col("shard_id"))
      .agg(org.apache.spark.sql.functions.count(col("doc_id")),
        org.apache.spark.sql.functions.min(col("doc_id")),
        org.apache.spark.sql.functions.max(col("doc_id")))
      .collect().map(r => r.getInt(0).toLong ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byShard == manifest)
    // one data file per shard directory (the one-file discipline)
    val shard0 = new java.io.File(s"$out/shard_id=0")
    assert(shard0.isDirectory)
    assert(shard0.listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }

  test("checksum-ingest: batch ingests on a split corpus merge to the " +
    "one-shot fingerprint of the union") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_cki").toString
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    src.where(col("doc_id") % 2 === 0).write.parquet(s"$base/b0")
    src.where(col("doc_id") % 2 =!= 0).write.parquet(s"$base/b1")
    Main.runChecksumIngest(spark, s"$base/b0", "source", "text",
      s"$base/store")
    val n = Main.runChecksumIngest(spark, s"$base/b1", "source", "text",
      s"$base/store")
    val got = new graft.etl.ChecksumStore(spark, s"$base/store")
      .fingerprint.collect().toSeq
    val want = graft.operators.Diff
      .contentChecksum(src, "source", "text").collect().toSeq
    assert(got == want)
    assert(n == want.size.toLong)
  }

  test("kmv-ingest: batch ingests on a split corpus merge to the " +
    "one-shot sketch of the union") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_kmvi").toString
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    src.where(col("doc_id") % 2 === 0).write.parquet(s"$base/b0")
    src.where(col("doc_id") % 2 =!= 0).write.parquet(s"$base/b1")
    Main.runKmvIngest(spark, s"$base/b0", "source", "text",
      s"$base/store", k = 32)
    val n = Main.runKmvIngest(spark, s"$base/b1", "source", "text",
      s"$base/store", k = 32)
    val got = new graft.etl.KmvStore(spark, s"$base/store", 32)
      .sketches.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.Sketch
      .kmvSketch(src, "source", "text", 32)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
    assert(n == want.map(_._1).size.toLong)
  }

  test("export-zorder: z-contiguous one-file spans, manifest zone map " +
    "matches the tree, a 2-D predicate prunes files") {
    import org.apache.spark.sql.functions.{col, count, max, min}
    val out = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString + "/z"
    val src = "/root/testdata/sf0.001/lineitem.parquet"
    val (nFiles, nRows) = Main.runExportZOrder(spark, src, out,
      "l_partkey", "l_suppkey", bits = 4, files = 8)
    val srcDf = spark.read.parquet(src)
    assert(nRows == srcDf.where(col("l_partkey").isNotNull &&
      col("l_suppkey").isNotNull).count())
    assert(nFiles > 1 && nFiles <= 8)
    val tree = spark.read.parquet(out)
    assert(tree.count() == nRows)
    // manifest zone map == recomputed per-file bounds from the tree
    val manifest = spark.read.parquet(s"$out/_manifest")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(manifest.size == nFiles)
    val byFile = tree.groupBy(col("file_id"))
      .agg(count(col("z")), min(col("l_partkey")),
        max(col("l_partkey")), min(col("l_suppkey")),
        max(col("l_suppkey")))
      .collect().map(r => r.getInt(0).toLong -> ((r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(byFile == manifest)
    // one data file per span directory (the one-file discipline)
    val f0 = new java.io.File(s"$out/file_id=0")
    assert(f0.isDirectory)
    assert(f0.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // the skip guarantee: a predicate in the low quarter of BOTH dims
    // is served entirely by files whose zone map intersects it — and
    // at least one file's zone map misses it (a 1-D sort could not
    // prune on the second dimension)
    val xMax = manifest.values.map(_._3).max
    val yMax = manifest.values.map(_._5).max
    val hit = manifest.values.count(m =>
      m._2 <= xMax / 4 && m._4 <= yMax / 4)
    assert(hit < manifest.size,
      s"no file prunable for the low-quarter box: $manifest")
  }

  test("zorder-maintain CLI: appended batch folds into the existing " +
    "z tree; counts reported; tree total grows by the batch") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_zmcli").toString
    val out = s"$base/z"
    val src = "/root/testdata/sf0.001/lineitem.parquet"
    val full = spark.read.parquet(src)
      .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
    full.where(col("l_orderkey") % 3 =!= 0)
      .write.parquet(s"$base/b0")
    full.where(col("l_orderkey") % 3 === 0)
      .write.parquet(s"$base/b1")
    Main.runExportZOrder(spark, s"$base/b0", out,
      "l_partkey", "l_suppkey", bits = 3, files = 8)
    val (t, n) = Main.runZOrderMaintain(spark, s"$base/b1", out,
      "l_partkey", "l_suppkey")
    assert(n == full.where(col("l_orderkey") % 3 === 0).count())
    assert(t >= 1 && t <= 8)
    assert(spark.read.parquet(out).count() == full.count())
    // manifest row total agrees with the tree after maintenance
    val manTotal = spark.read.parquet(s"$out/_manifest")
      .agg(org.apache.spark.sql.functions.sum(col("n_rows")))
      .collect()(0).getLong(0)
    assert(manTotal == full.count())
  }

  test("dhash-ingest CLI: two batch passes build the store; the " +
    "cluster output equals the one-shot decision") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_dhcli").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 30L)
    def mediaDf(sel: Seq[Long]) = graft.operators.Multimodal
      .encodeGradientImageFixture(sel.toDF("doc_id"), "doc_id").toDF()
    mediaDf(ids.filter(_ < 15L)).write.parquet(s"$base/b0")
    mediaDf(ids.filter(_ >= 15L)).write.parquet(s"$base/b1")
    Main.runDhashIngest(spark, s"$base/b0", s"$base/store", s"$base/o0")
    val (n, c) = Main.runDhashIngest(spark, s"$base/b1",
      s"$base/store", s"$base/o1")
    val decodable = ids.filterNot(i => i % 10 == 3 || i % 10 == 6)
    assert(n == ids.count(i => i >= 15L && i % 10 != 3 && i % 10 != 6))
    assert(c == decodable.size.toLong)
    val got = spark.read.parquet(s"$base/o1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.fingerprintClusters(
      graft.operators.Multimodal.imageDhash(
        graft.operators.Multimodal.encodeGradientImageFixture(
          ids.toDF("doc_id"), "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("dhash").as("fp")),
      "doc_id", "fp", 3, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("audiofp-ingest CLI: two batch passes build the store; the " +
    "cluster output equals the one-shot decision") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_afpcli").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 30L)
    def mediaDf(sel: Seq[Long]) = graft.operators.Multimodal
      .encodeWaveformFixture(sel.toDF("doc_id"), "doc_id").toDF()
    mediaDf(ids.filter(_ < 15L)).write.parquet(s"$base/b0")
    mediaDf(ids.filter(_ >= 15L)).write.parquet(s"$base/b1")
    Main.runAudioFpIngest(spark, s"$base/b0", s"$base/store", s"$base/o0")
    val (n, c) = Main.runAudioFpIngest(spark, s"$base/b1",
      s"$base/store", s"$base/o1")
    val decodable = ids.filterNot(i => i % 10 == 3 || i % 10 == 6)
    assert(n == ids.count(i => i >= 15L && i % 10 != 3 && i % 10 != 6))
    assert(c == decodable.size.toLong)
    val got = spark.read.parquet(s"$base/o1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.fingerprintClusters(
      graft.operators.Multimodal.audioFingerprints(
        graft.operators.Multimodal.encodeWaveformFixture(
          ids.toDF("doc_id"), "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("fp")),
      "doc_id", "fp", 3, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("audiofp-ingest refuses a pre-r19 LEGACY store layout (parquet " +
    "part files directly under the store root) with a migration hint " +
    "instead of silently orphaning the ingested history") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_afplegacy").toString
    val s2 = spark; import s2.implicits._
    val media = graft.operators.Multimodal
      .encodeWaveformFixture((0L until 10L).toDF("doc_id"), "doc_id")
      .toDF()
    media.write.parquet(s"$base/batch")
    // fabricate the legacy layout: envelope rows written DIRECTLY at
    // the store root, the pre-r19 AudioFpStore location
    spark.range(3).select(col("id").as("doc_id"), col("id").as("fp"))
      .write.parquet(s"$base/store")
    val e = intercept[RuntimeException] {
      Main.runAudioFpIngest(spark, s"$base/batch", s"$base/store",
        s"$base/out")
    }
    assert(e.getMessage.contains("legacy store layout") &&
      e.getMessage.contains("envelope"), e.getMessage)
    // a fresh (or already-migrated) root ingests fine
    Main.runAudioFpIngest(spark, s"$base/batch", s"$base/store2",
      s"$base/out2")
    assert(spark.read.parquet(s"$base/out2").count() > 0)
  }

  test("videofp-ingest CLI: two batch passes build the sequence " +
    "store; the cluster output equals the one-shot aligned decision") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_vfpcli").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 40L)
    def mediaDf(sel: Seq[Long]) = graft.operators.Multimodal
      .encodeMjpegFixture(sel.toDF("doc_id"), "doc_id").toDF()
    mediaDf(ids.filter(_ < 20L)).write.parquet(s"$base/b0")
    mediaDf(ids.filter(_ >= 20L)).write.parquet(s"$base/b1")
    Main.runVideoFpIngest(spark, s"$base/b0", s"$base/store", s"$base/o0")
    val (n, c) = Main.runVideoFpIngest(spark, s"$base/b1",
      s"$base/store", s"$base/o1")
    val decodable = ids.filterNot(i => i % 10 == 3 || i % 10 == 6)
    assert(n == ids.count(i => i >= 20L && i % 10 != 3 && i % 10 != 6))
    assert(c == decodable.size.toLong)
    val got = spark.read.parquet(s"$base/o1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.alignedFingerprintClusters(
      graft.operators.Multimodal.videoFrameFingerprints(
        graft.operators.Multimodal.encodeMjpegFixture(
          ids.toDF("doc_id"), "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp")),
      "doc_id", "frame_idx", "fp", 3, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("gif-ingest CLI: two batch passes build the GIF sequence " +
    "store; the cluster output equals the one-shot aligned decision") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_gifcli").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 48L)
    def mediaDf(sel: Seq[Long]) = graft.operators.Multimodal
      .encodeGifFixture(sel.toDF("doc_id"), "doc_id").toDF()
    mediaDf(ids.filter(_ < 24L)).write.parquet(s"$base/b0")
    mediaDf(ids.filter(_ >= 24L)).write.parquet(s"$base/b1")
    Main.runGifFpIngest(spark, s"$base/b0", s"$base/store", s"$base/o0")
    val (n, c) = Main.runGifFpIngest(spark, s"$base/b1",
      s"$base/store", s"$base/o1")
    val decodable = ids.filterNot(i =>
      i % 10 == 3 || i % 10 == 4 || i % 10 == 6)
    assert(n == ids.count(i => i >= 24L && i % 10 != 3 &&
      i % 10 != 4 && i % 10 != 6))
    assert(c == decodable.size.toLong)
    val got = spark.read.parquet(s"$base/o1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.alignedFingerprintClusters(
      graft.operators.Multimodal.gifFrameFingerprints(
        graft.operators.Multimodal.encodeGifFixture(
          ids.toDF("doc_id"), "doc_id")).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp")),
      "doc_id", "frame_idx", "fp", 3, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.exists(p => p._1 != p._2),
      "fixture must carry at least one non-singleton GIF cluster")
  }

  test("corpus-media CLI: the composed funnel routes by magic, " +
    "dedups per modality keep-canonical, profiles the kept media, " +
    "and the shard read-back agrees with its manifest") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmcli").toString
    val s2 = spark; import s2.implicits._
    (0L until 60L).toDF("doc_id").write.parquet(s"$base/docs")
    val nLake = Main.runMediaFixture(spark, s"$base/docs", s"$base/lake")
    assert(nLake == 60)
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    assert(st.raw == 60)
    // routing ≡ the q263 sniff applied to the lake, and it partitions
    val sniffed = spark.read.parquet(s"$base/lake")
      .select(M.sniffModality(col("payload")).as("sn"))
    def nSniffed(pred: org.apache.spark.sql.Column) =
      sniffed.where(pred).count()
    assert(st.routedImage == nSniffed(col("sn").startsWith("image")))
    assert(st.routedAudio == nSniffed(col("sn").startsWith("audio")))
    assert(st.routedVideo == nSniffed(col("sn").startsWith("video")))
    assert(st.unroutable == nSniffed(col("sn") === "unknown"))
    assert(st.unroutable > 0, "fixture must exercise the quarantine")
    assert(st.raw == st.routedImage + st.routedAudio + st.routedVideo +
      st.unroutable)
    // keep decision ≡ the ONE-SHOT keep-best picks over the same
    // routed image rows (the composition adds nothing and loses
    // nothing): q261's dHash clusters with the q294 best-resolution
    // pick for stills, q285's aligned sequence clusters with the
    // q302 most-frames pick for the GIF tier — disjoint by magic
    val routedImg = spark.read.parquet(s"$base/out/routed")
      .where(col("modality") === "image")
      .select(col("doc_id"), col("uri"), col("mime"), col("payload"))
    val gifPred = M.sniffModality(col("payload")) === "image/gif"
    val stillDm = M.imageDhashMeta(routedImg.where(!gifPred)
        .as[M.MediaRecord](M.mediaRecordEnc))
      .toDF().where(col("ok") === 1L).cache()
    val gifFpRe = M.gifFrameFingerprints(routedImg.where(gifPred)
        .as[M.MediaRecord](M.mediaRecordEnc))
      .toDF().where(col("ok") === 1L)
      .select(col("doc_id"), col("frame_idx"), col("fp")).cache()
    val oneShot = M.keepBestResolution(
        graft.operators.Dedup.fingerprintClusters(
          stillDm.select(col("doc_id"), col("dhash").as("fp")),
          "doc_id", "fp", 3, 64),
        stillDm.select(col("doc_id"), col("width"), col("height")))
      .where(col("is_best"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet ++
      twoStageReplay(
        graft.operators.Dedup.alignedFingerprintClusters(gifFpRe,
          "doc_id", "frame_idx", "fp", 3, 64),
        gifFpRe, "frame_idx", "fp",
        gifFpRe.groupBy(col("doc_id")).agg(count(lit(1)).as("n_obs")),
        Seq("n_obs"))
    val curatedImg = spark.read.parquet(s"$base/out/curated")
      .where(col("modality") === "image")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(curatedImg == oneShot)
    stillDm.unpersist(); gifFpRe.unpersist()
    assert(st.keptImage == oneShot.size.toLong)
    assert(st.keptImage < st.decodedImage,
      "gradient fixture must actually deduplicate")
    // decode gates drop the truncated-but-routable family
    assert(st.decodedImage < st.routedImage)
    assert(st.decodedAudio < st.routedAudio)
    // the default quality bars are permissive floors: the healthy
    // demo lake loses nothing to them
    assert(st.droppedQualityImage == 0L)
    assert(st.droppedQualityAudio == 0L)
    // shards: read-back ≡ manifest, every shard one file
    val shards = spark.read.parquet(s"$base/out/shards")
    assert(st.exported ==
      st.keptImage + st.keptAudio + st.keptVideo)
    assert(shards.count() == st.exported)
    val gotByShard = shards
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("payload")).cast("long")).as("n_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val manByShard = spark.read.parquet(s"$base/out/shards/_manifest")
      .select(col("shard_id"), col("n_docs"), col("n_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(gotByShard == manByShard)
    assert(manByShard.size.toLong == st.shards)
    // the profile is measured on the KEPT media: health all ok, and
    // the per-modality ok masses equal the kept counts
    val prof = spark.read.parquet(s"$base/out/profile")
    assert(prof.where(col("dimension") === "health" &&
      col("bucket") === "corrupt").count() == 0)
    val okBy = prof.where(col("dimension") === "health")
      .select(col("modality"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(okBy == Map("image" -> st.keptImage,
      "audio" -> st.keptAudio, "video" -> st.keptVideo))
    // curated payloads are byte-identical to their routed originals
    val mismatch = spark.read.parquet(s"$base/out/curated")
      .select(col("doc_id"), sha2(col("payload"), 256).as("ch"))
      .join(spark.read.parquet(s"$base/lake")
        .select(col("doc_id"), sha2(col("payload"), 256).as("lh")),
        Seq("doc_id"))
      .where(col("ch") =!= col("lh")).count()
    assert(mismatch == 0)
    // the funnel is re-runnable: a second pass over the same lake
    // replaces every stage and reproduces the same stats + file plan
    val st2 = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    assert(st2 == st)
    val manAgain = spark.read.parquet(s"$base/out/shards/_manifest")
      .select(col("shard_id"), col("n_docs"), col("n_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(manAgain == manByShard)
  }

  test("corpus-media salted writes: a modality whose bytes exceed " +
    "the per-file budget fans out across >1 written file (never the " +
    "one-task-per-modality funnel), and the salt changes no content") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmsalt").toString
    val s2 = spark; import s2.implicits._
    (0L until 60L).toDF("doc_id").write.parquet(s"$base/docs")
    Main.runMediaFixture(spark, s"$base/docs", s"$base/lake")
    // the demo lake's waveform audio is PERIODIC (a 7-window amp
    // cycle), so the r19 two-stage audio dedup correctly collapses it
    // to ONE canonical — a single row cannot fan out; add genuinely
    // distinct-reel audio (the aperiodic clip fixture) so the curated
    // audio branch has real byte mass to split
    graft.operators.Multimodal.encodeClipWaveformFixture(
        (100L until 292L).toDF("doc_id"), "doc_id", baseWindows = 70)
      .toDF().write.mode("append").parquet(s"$base/lake")
    // per-file budget far below any one modality's byte mass — every
    // modality's routed/curated subtree must split across files
    val st = graft.etl.MediaPipeline.curate(spark, s"$base/lake",
      s"$base/out", shardBytes = 4096, routedFileBytes = 2048)
    def partFiles(dir: String): Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("modality="))
        .map(d => d.getName.stripPrefix("modality=") ->
          d.listFiles().count(f => f.getName.endsWith(".parquet")))
        .toMap
    }
    val routedFiles = partFiles(s"$base/out/routed")
    for (m <- Seq("image", "audio", "video"))
      assert(routedFiles.getOrElse(m, 0) > 1,
        s"routed/$m must fan out: $routedFiles")
    val curatedFiles = partFiles(s"$base/out/curated")
    for (m <- Seq("image", "audio", "video"))
      assert(curatedFiles.getOrElse(m, 0) > 1,
        s"curated/$m must fan out: $curatedFiles")
    // fan-out is a write-plan property only: the routed tree is the
    // sniffed lake, the curated tree is the kept canonicals
    assert(spark.read.parquet(s"$base/out/routed").count() == st.raw)
    assert(spark.read.parquet(s"$base/out/curated").count() ==
      st.keptImage + st.keptAudio + st.keptVideo)
  }

  test("corpus-media video quality gate: junk MJPEG clips (too-short " +
    "/ tiny / all-static) drop counted BEFORE dedup, and the curated " +
    "video set is the gate-then-keep-best replay") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmqual").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 60L)
    M.encodeQualityMjpegFixture(ids.toDF("doc_id"), "doc_id").toDF()
      .write.parquet(s"$base/lake")
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    // fam 4 zeroes the magic (unroutable); fams 1/2/3 decode but fail
    // a gate (all-static / too-short / tiny); only fam 0 survives
    val decodable = ids.filter(_ % 5 < 4)
    assert(st.routedVideo == decodable.size.toLong)
    assert(st.unroutable == ids.count(_ % 5 == 4).toLong)
    assert(st.decodedVideo == decodable.size.toLong)
    assert(st.droppedQualityVideo ==
      decodable.count(_ % 5 != 0).toLong)
    assert(st.droppedQualityVideo > 0, "fixture must trip the gates")
    // curated video ≡ the one-shot gate ∘ cluster ∘ keep-best replay
    val lake = spark.read.parquet(s"$base/lake")
      .select(col("doc_id"), col("uri"), col("mime"), col("payload"))
      .as[M.MediaRecord](M.mediaRecordEnc)
    val fps = M.videoFrameFingerprints(lake).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("frame_idx"), col("fp")).cache()
    val gateKeep = M.videoQualityGates(fps,
        M.decodeMjpegMeta(lake).toDF().where(col("ok") === 1L)
          .select(col("doc_id"), col("width"), col("height")))
      .where(col("keep")).select(col("doc_id"))
    val gated = fps.join(gateKeep, Seq("doc_id")).cache()
    // two-stage replay: aligned families, clip containment over the
    // family representatives, members through their rep, keep-best
    val D = graft.operators.Dedup
    val aligned = D.alignedFingerprintClusters(gated,
      "doc_id", "frame_idx", "fp", 3, 64).cache()
    val repIds = aligned.where(col("is_canonical")).select(col("doc_id"))
    val repFps = gated.join(repIds, Seq("doc_id"))
    val repComps = D.nearDupClusters(repIds, "doc_id",
        D.sequenceShingleContainment(repFps, "doc_id", "frame_idx",
          "fp").select(col("doc_a"), col("doc_b")))
      .select(col("doc_id").as("__rep"), col("cluster_id"))
    val want = M.keepBest(
        aligned.select(col("doc_id"), col("cluster_id").as("__rep"))
          .join(repComps, Seq("__rep"))
          .select(col("doc_id"), col("cluster_id")),
        gated.groupBy(col("doc_id")).agg(count(lit(1)).as("n_obs")),
        Seq("n_obs"))
      .where(col("is_best"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val curatedVid = spark.read.parquet(s"$base/out/curated")
      .where(col("modality") === "video")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(curatedVid == want)
    assert(want.nonEmpty, "fam-0 keepers must survive")
    assert(st.keptVideo == want.size.toLong)
    assert(curatedVid.forall(_ % 5 == 0), "only fam-0 clips survive")
    // the keepers deduplicate (same-g fam-0 clips are byte-identical)
    assert(st.keptVideo < decodable.count(_ % 5 == 0).toLong)
    fps.unpersist(); gated.unpersist(); aligned.unpersist()
  }

  test("corpus-media image/audio quality gates: flat / tiny / " +
    "extreme-aspect stills and under-duration-bar audio drop " +
    "counted BEFORE dedup, replaying the q292/q293 decisions") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmiaq").toString
    val s2 = spark; import s2.implicits._
    // stills from the q292 fixture (ids 0-59: fam0 keeper, fam1 flat,
    // fam2 flat thumbnail, fam3 flat banner, fam4 corrupt), audio
    // from the waveform fixture (ids 60-99: 16896 frames each)
    M.encodeQualityImageFixture((0L until 60L).toDF("doc_id"),
        "doc_id").toDF()
      .unionByName(M.encodeWaveformFixture(
        (60L until 100L).toDF("doc_id"), "doc_id").toDF())
      .write.parquet(s"$base/lake")
    val st = graft.etl.MediaPipeline.curate(spark, s"$base/lake",
      s"$base/out", shardBytes = 4096,
      imageMinPx = 1024L, audioMinFrames = 17000L)
    // stills: only fam0 survives the strict bar (q292's own default);
    // fam4 never decodes, so quality drops = decodable − fam0
    val stills = (0L until 60L)
    val decodableStills = stills.count(_ % 5 < 4).toLong
    val keepers = stills.count(_ % 5 == 0).toLong
    assert(st.decodedImage == decodableStills)
    assert(st.droppedQualityImage == decodableStills - keepers)
    // fam0 stills are byte-identical → one cluster, one canonical
    assert(st.keptImage == 1L)
    // audio: every fingerprintable recording has exactly 16896
    // frames — the 17000 bar drops them all, counted
    val decodableAudio =
      (60L until 100L).count(i => i % 10 != 3 && i % 10 != 6).toLong
    assert(st.decodedAudio == decodableAudio)
    assert(st.droppedQualityAudio == decodableAudio)
    assert(st.keptAudio == 0L)
    // the curated image set replays q292's keep ∘ the cluster pick
    val curatedImg = spark.read.parquet(s"$base/out/curated")
      .where(col("modality") === "image")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val gateKeep = M.imageQualityGates(
        spark.read.parquet(s"$base/lake")
          .where(col("doc_id") < 60)
          .select(col("doc_id"), col("uri"), col("mime"),
            col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc),
        minPx = 1024L, aspectMax = 8)
      .toDF().where(col("keep"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(curatedImg.subsetOf(gateKeep))
    assert(curatedImg.size == 1)
  }

  test("corpus-media audio tier is TWO-STAGE: trimmed re-uploads at " +
    "nonzero window offsets chain into one family via clip " +
    "containment over envelope-family representatives — the funnel " +
    "keep equals the q266 ∘ q307 replay and strictly beats " +
    "envelope-only dedup") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val D = graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmaclip").toString
    val s2 = spark; import s2.implicits._
    // 64 reels × 3 window offsets, ≥ 65 windows each → every
    // recording is envelope-fingerprintable, same-reel recordings
    // overlap at genuinely nonzero offsets (the trimmed re-upload)
    val ids = (0L until 192L)
    M.encodeClipWaveformFixture(ids.toDF("doc_id"), "doc_id",
        baseWindows = 70).toDF()
      .write.parquet(s"$base/lake")
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    val lake = spark.read.parquet(s"$base/lake")
      .select(col("doc_id"), col("uri"), col("mime"), col("payload"))
      .as[M.MediaRecord](M.mediaRecordEnc)
    val energies = M.audioWindowEnergies(lake).toDF()
      .select(col("doc_id"), col("w"), col("amp")).cache()
    val fp = M.envelopeFromEnergies(energies).cache()
    val meta = M.decodeAudioMeta(lake).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("sample_rate"), col("n_frames"))
    // default duration bar (256 frames) passes every decodable row
    val famClusters = D.fingerprintClusters(fp, "doc_id", "fp", 3, 64)
    val want = twoStageReplay(famClusters,
      energies.join(fp.select(col("doc_id")), Seq("doc_id")),
      "w", "amp", meta, Seq("sample_rate", "n_frames"))
    val got = spark.read.parquet(s"$base/out/curated")
      .where(col("modality") === "audio")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(st.keptAudio == want.size.toLong)
    // the clip stage must do real work: envelope-only keep-best
    // keeps MORE canonicals (each trim offset its own family)
    val envOnly = M.keepBest(famClusters, meta,
        Seq("sample_rate", "n_frames"))
      .where(col("is_best"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(want.size < envOnly.size,
      "clip containment must chain trimmed re-uploads across " +
        "envelope families")
    energies.unpersist(); fp.unpersist()
  }

  test("corpus-media GIF tier is TWO-STAGE: trimmed animated-GIF " +
    "re-uploads chain into one family via clip containment over " +
    "aligned-family representatives — the funnel keep equals the " +
    "q285 ∘ q311 replay and strictly beats aligned-only dedup") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val D = graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmgclip").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 192L)
    M.encodeClipGifFixture(ids.toDF("doc_id"), "doc_id").toDF()
      .write.parquet(s"$base/lake")
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    val lake = spark.read.parquet(s"$base/lake")
      .select(col("doc_id"), col("uri"), col("mime"), col("payload"))
      .as[M.MediaRecord](M.mediaRecordEnc)
    val fps = M.gifFrameFingerprints(lake).toDF()
      .where(col("ok") === 1L)
      .select(col("doc_id"), col("frame_idx"), col("fp")).cache()
    val nObs = fps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_obs"))
    val famClusters = D.alignedFingerprintClusters(fps, "doc_id",
      "frame_idx", "fp", 3, 64)
    val want = twoStageReplay(famClusters, fps, "frame_idx", "fp",
      nObs, Seq("n_obs"))
    val got = spark.read.parquet(s"$base/out/curated")
      .where(col("modality") === "image")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(st.keptImage == want.size.toLong)
    val alignedOnly = M.keepBest(famClusters, nObs, Seq("n_obs"))
      .where(col("is_best"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(want.size < alignedOnly.size,
      "clip containment must chain trimmed GIF re-uploads across " +
        "aligned families")
    fps.unpersist()
  }

  test("corpus-media --mix: the mixed curated tree equals the " +
    "standalone mixToByteBudget pick over the without-mix keeps, an " +
    "unweighted modality drops entirely, and stats carry the " +
    "per-modality kept/dropped byte masses") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmmix").toString
    val s2 = spark; import s2.implicits._
    (0L until 60L).toDF("doc_id").write.parquet(s"$base/docs")
    Main.runMediaFixture(spark, s"$base/docs", s"$base/lake")
    val st0 = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out0",
      shardBytes = 4096)
    assert(st0.mixKeptBytes.isEmpty && st0.mixDroppedBytes.isEmpty)
    val kept0 = spark.read.parquet(s"$base/out0/curated")
      .select(col("doc_id"), col("modality"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .cache()
    // no video weight → the kept video canonicals must drop entirely
    val weights = Map("image" -> 0.5, "audio" -> 0.5)
    val budget = 4000L
    val st1 = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out1",
      shardBytes = 4096, mix = Some((weights, budget)))
    val pick = graft.operators.Sampling.mixToByteBudget(kept0,
        "doc_id", "modality", col("n_bytes"), weights, budget)
      .select(col("doc_id"), col("modality"), col("n_bytes")).cache()
    val wantIds = pick.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val gotIds = spark.read.parquet(s"$base/out1/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(gotIds == wantIds)
    assert(gotIds.nonEmpty, "the mixture must keep something")
    assert(st1.keptVideo == 0L && st0.keptVideo > 0L,
      "quota-zero video must drop")
    // stats masses ≡ the standalone pick's masses
    def massOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("modality"))
        .agg(sum(col("n_bytes")).cast("long").as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pre = massOf(kept0)
    val post = massOf(pick)
    assert(st1.mixKeptBytes == post)
    assert(st1.mixDroppedBytes ==
      pre.map { case (m, b) => m -> (b - post.getOrElse(m, 0L)) })
    // exports and profile run over the MIXED keeps
    assert(st1.exported == gotIds.size.toLong)
    kept0.unpersist(); pick.unpersist()
  }

  test("corpus-media with an eval set: kept stills and WAV/AIFF " +
    "canonicals gate against the eval fingerprints, kept GIF/MJPEG " +
    "canonicals against the eval frame SEQUENCES, equal to the " +
    "standalone gates over the no-eval curated tree") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_cmeval").toString
    val s2 = spark; import s2.implicits._
    (0L until 60L).toDF("doc_id").write.parquet(s"$base/docs")
    Main.runMediaFixture(spark, s"$base/docs", s"$base/lake")
    // eval = the first block's media rows (< 20 spans all five fixture
    // classes incl. MJPEG and GIF; the fixture fps repeat across ids,
    // so the eval set perceptually collides with kept canonicals)
    spark.read.parquet(s"$base/lake").where(col("doc_id") < 20)
      .write.parquet(s"$base/eval")
    val st0 = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out0",
      shardBytes = 4096)
    assert(st0.droppedEvalImage == 0L && st0.droppedEvalAudio == 0L &&
      st0.droppedEvalVideo == 0L)
    val curated0 = spark.read.parquet(s"$base/out0/curated")
    def asMedia(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("uri"), col("mime"), col("payload"))
        .as[M.MediaRecord](M.mediaRecordEnc)
    val sniff = M.sniffModality(col("payload"))
    def stillFp(df: org.apache.spark.sql.DataFrame) =
      M.imageDhash(asMedia(df.where(sniff.startsWith("image") &&
          sniff =!= "image/gif" && !sniff.isin("image/heic",
            "image/heif", "image/avif")))).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("dhash").as("fp"))
    def waveFp(df: org.apache.spark.sql.DataFrame) =
      M.audioFingerprints(asMedia(df.where(sniff.isin("audio/wav",
          "audio/aiff")))).toDF()
        .where(col("ok") === 1L).select(col("doc_id"), col("fp"))
    def gifFp(df: org.apache.spark.sql.DataFrame) =
      M.gifFrameFingerprints(asMedia(df.where(
          sniff === "image/gif"))).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp"))
    def aviFp(df: org.apache.spark.sql.DataFrame) =
      M.videoFrameFingerprints(asMedia(df.where(
          sniff === "video/x-msvideo"))).toDF()
        .where(col("ok") === 1L)
        .select(col("doc_id"), col("frame_idx"), col("fp"))
    val evalLake = spark.read.parquet(s"$base/eval")
    def flaggedOf(train: org.apache.spark.sql.DataFrame,
        ev: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Dedup.fingerprintDecontam(train, ev,
        "doc_id", "fp", maxHamming = 3, bits = 64)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def seqFlaggedOf(train: org.apache.spark.sql.DataFrame,
        ev: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Dedup.alignedFingerprintDecontam(train, ev,
        "doc_id", "frame_idx", "fp", maxHamming = 3, bits = 64)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet ++
      graft.operators.Dedup.sequenceShingleDecontam(train, ev,
        "doc_id", "frame_idx", "fp")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def energiesOf(df: org.apache.spark.sql.DataFrame) =
      M.audioWindowEnergies(asMedia(df.where(sniff.isin("audio/wav",
          "audio/aiff")))).toDF()
        .select(col("doc_id"), col("w"), col("amp"))
    val flaggedImg = flaggedOf(stillFp(curated0), stillFp(evalLake))
    val flaggedAud = flaggedOf(waveFp(curated0), waveFp(evalLake)) ++
      graft.operators.Dedup.sequenceShingleDecontam(
        energiesOf(curated0), energiesOf(evalLake), "doc_id", "w",
        "amp")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val flaggedGif = seqFlaggedOf(gifFp(curated0), gifFp(evalLake))
    val flaggedVid = seqFlaggedOf(aviFp(curated0), aviFp(evalLake))
    assert(flaggedImg.nonEmpty, "eval stills must collide")
    assert(flaggedAud.nonEmpty, "eval audio must collide")
    assert(flaggedGif.nonEmpty, "eval GIF sequences must collide")
    assert(flaggedVid.nonEmpty, "eval MJPEG sequences must collide")
    val st1 = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out1",
      shardBytes = 4096, evalPath = Some(s"$base/eval"))
    val ids0 = curated0.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val ids1 = spark.read.parquet(s"$base/out1/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids0 -- flaggedImg -- flaggedAud -- flaggedGif --
      flaggedVid)
    assert(st1.droppedEvalImage ==
      (flaggedImg ++ flaggedGif).size.toLong)
    assert(st1.droppedEvalAudio == flaggedAud.size.toLong)
    assert(st1.droppedEvalVideo == flaggedVid.size.toLong)
    // the export and profile run over the GATED canonicals
    assert(st1.exported ==
      st1.keptImage + st1.keptAudio + st1.keptVideo)
    assert(st1.keptImage ==
      st0.keptImage - (flaggedImg ++ flaggedGif).size)
    assert(st1.keptAudio == st0.keptAudio - flaggedAud.size)
    assert(st1.keptVideo == st0.keptVideo - flaggedVid.size)
  }

  test("corpus-paired with an eval set: kept pairs drop by compose-OR " +
    "(caption overlap OR image proximity), equal to the standalone " +
    "gates over the no-eval curated pairs") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_cpeval").toString
    val s2 = spark; import s2.implicits._
    Main.runPairedFixture(spark,
      "/root/testdata/sf0.001/documents.parquet", s"$base/lake")
    spark.read.parquet(s"$base/lake").where(col("doc_id") < 12)
      .write.parquet(s"$base/eval")
    val st0 = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out0",
      shardBytes = 4096)
    assert(st0.droppedEval == 0L)
    val curated0 = spark.read.parquet(s"$base/out0/curated")
    val evalLake = spark.read.parquet(s"$base/eval")
    def dhOf(df: org.apache.spark.sql.DataFrame) =
      M.imageDhash(df.select(col("doc_id"), col("uri"), col("mime"),
          col("payload")).as[M.MediaRecord](M.mediaRecordEnc))
        .toDF().where(col("ok") === 1L)
        .select(col("doc_id"), col("dhash").as("fp"))
    val textFlagged = graft.operators.Dedup.evalOverlapRate(curated0,
        evalLake, "doc_id", "text", contaminatedAt = 0.2)
      .where(col("contaminated") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val imgFlagged = graft.operators.Dedup.fingerprintDecontam(
        dhOf(curated0), dhOf(evalLake), "doc_id", "fp",
        maxHamming = 3, bits = 64)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(textFlagged.nonEmpty, "eval captions must overlap")
    assert(imgFlagged.nonEmpty, "eval images must collide")
    val st1 = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out1",
      shardBytes = 4096, evalPath = Some(s"$base/eval"))
    val ids0 = curated0.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val ids1 = spark.read.parquet(s"$base/out1/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids0 -- textFlagged -- imgFlagged)
    assert(st1.droppedEval ==
      (textFlagged ++ imgFlagged).size.toLong)
    assert(st1.kept == ids1.size.toLong)
  }

  test("corpus-media exact tiers: brand-routed M4A and HEIF-family " +
    "rows keep by container-gated byte identity, and the profile " +
    "counts them healthy instead of corrupt") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_isocli").toString
    val s2 = spark; import s2.implicits._
    val ids = (0L until 60L).toDF("doc_id")
    M.encodeGradientImageFixture(ids.where(col("doc_id") % 3 === 0),
        "doc_id").toDF()
      .unionByName(M.encodeWaveformFixture(
        ids.where(col("doc_id") % 3 === 1), "doc_id").toDF())
      .unionByName(M.encodeIsoBrandFixture(
        ids.where(col("doc_id") % 3 === 2), "doc_id").toDF())
      .write.parquet(s"$base/lake")
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    // brand routing: M4A rows live on the AUDIO branch, HEIF-family
    // on IMAGE, isom on VIDEO — recomputed from the sniff itself
    val sniffed = spark.read.parquet(s"$base/lake")
      .select(M.sniffModality(col("payload")).as("sn"))
    def nSniffed(pred: org.apache.spark.sql.Column) =
      sniffed.where(pred).count()
    assert(st.routedAudio == nSniffed(col("sn").startsWith("audio")))
    assert(nSniffed(col("sn") === "audio/mp4") > 0, "fixture sanity")
    assert(st.routedImage == nSniffed(col("sn").startsWith("image")))
    assert(nSniffed(col("sn") === "image/heic") > 0, "fixture sanity")
    // the exact tier keeps ONE doc per byte-identical group: the
    // brand fixture's payload is a pure function of the brand, so
    // expected keeps = min doc id per (brand) among intact rows
    def brandKeeps(resid: Long*) = (0L until 60L)
      .filter(i => i % 3 == 2 && i % 10 != 3 && i % 10 != 4 &&
        resid.contains(i % 5))
      .groupBy(_ % 5).values.map(_.min).toSet
    val curated = spark.read.parquet(s"$base/out/curated")
    val curatedIso = curated
      .where(M.sniffModality(col("payload")).isin("audio/mp4",
        "image/heic", "image/heif", "image/avif"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(curatedIso == brandKeeps(0L, 1L, 2L, 3L),
      s"exact-tier keeps: $curatedIso")
    // the profile counts every kept row healthy — the assertion that
    // fails if exact-tier rows run through the pixel/PCM decoders —
    // and carries the ftyp brands as container buckets
    val prof = spark.read.parquet(s"$base/out/profile")
    assert(prof.where(col("dimension") === "health" &&
      col("bucket") === "corrupt").count() == 0)
    val okBy = prof.where(col("dimension") === "health")
      .select(col("modality"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(okBy("image") == st.keptImage &&
      okBy("audio") == st.keptAudio)
    val buckets = prof.where(col("dimension") === "container")
      .select(col("bucket")).collect().map(_.getString(0)).toSet
    assert(Set("M4A ", "heic", "mif1", "avif").subsetOf(buckets),
      s"container buckets: $buckets")
  }

  test("corpus-paired tri-modal: an audio column flips the keep " +
    "decision to the k=3 union closure (q286's cell graph), " +
    "audio-undecodable triples drop counted, and the manifest " +
    "meters all three payloads") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val D = graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_cptri").toString
    val sfDir = "/root/testdata/sf0.001"
    val n = Main.runPairedFixture(spark, s"$sfDir/documents.parquet",
      s"$base/lake", tri = true)
    val lake = spark.read.parquet(s"$base/lake").cache()
    assert(lake.columns.contains("audio"))
    val st = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out",
      shardBytes = 8192)
    assert(st.raw == n)
    assert(st.droppedImage > 0, "corrupt-image rows must drop")
    assert(st.droppedAudio > 0,
      "image-ok but audio-corrupt rows must drop counted")
    assert(st.raw ==
      st.decodable + st.droppedImage + st.droppedAudio)
    // kept ≡ the q286-style k=3 union closure replayed with the
    // same one-shot operators over the same lake
    val textC = D.nearDupClusters(lake, "doc_id",
        D.minhashLshPairs(lake, "doc_id", "text", threshold = 0.5,
          k = 16, bands = 4))
      .select(col("doc_id"), col("cluster_id").as("tcid"))
    val imgC = D.fingerprintClusters(
        M.imageDhash(lake.select(col("doc_id"), col("uri"),
            col("mime"), col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
          .where(col("ok") === 1L)
          .select(col("doc_id"), col("dhash").as("fp")),
        "doc_id", "fp", 3, 64)
      .select(col("doc_id"), col("cluster_id").as("icid"))
    val audC = D.fingerprintClusters(
        M.audioFingerprints(lake.select(col("doc_id"), col("uri"),
            col("mime"), col("audio").as("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
          .where(col("ok") === 1L)
          .select(col("doc_id"), col("fp")),
        "doc_id", "fp", 3, 64)
      .select(col("doc_id"), col("cluster_id").as("acid"))
    val joint = textC.join(imgC, Seq("doc_id"))
      .join(audC, Seq("doc_id")).cache()
    assert(st.decodable == joint.count())
    val cells = joint.select((col("tcid") * 3).as("doc_a"),
        (col("icid") * 3 + 1).as("doc_b")).distinct()
      .unionByName(joint.select((col("icid") * 3 + 1).as("doc_a"),
        (col("acid") * 3 + 2).as("doc_b")).distinct())
    val nodes = cells.select(col("doc_a").as("node"))
      .unionByName(cells.select(col("doc_b").as("node"))).distinct()
    val comps = D.nearDupClusters(nodes, "node", cells)
      .select(col("doc_id").as("__node"), col("cluster_id").as("__c"))
    val want = joint
      .select(col("doc_id"), (col("tcid") * 3).as("__node"))
      .join(comps, Seq("__node"))
      .groupBy(col("__c")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$base/out/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(st.kept == want.size.toLong)
    assert(st.kept < st.decodable, "the k=3 policy must dedup")
    // the manifest meters text + image + audio octets
    val wantBytes = spark.read.parquet(s"$base/out/curated")
      .agg(sum(octet_length(col("text")) +
        octet_length(col("payload")) + octet_length(col("audio")))
        .cast("long"))
      .collect().head.getLong(0)
    val manBytes = spark.read.parquet(s"$base/out/shards/_manifest")
      .agg(sum(col("n_bytes")).cast("long")).collect().head.getLong(0)
    assert(manBytes == wantBytes)
    // eval gate gains the audio rung: kept triples drop by
    // compose-OR over text overlap, image proximity, AND audio
    // envelope proximity — replayed standalone over the no-eval
    // curated triples
    lake.where(col("doc_id") < 12).write.parquet(s"$base/eval")
    val curated0 = spark.read.parquet(s"$base/out/curated")
    val evalLake = spark.read.parquet(s"$base/eval")
    def fpOf(df: org.apache.spark.sql.DataFrame, payloadCol: String,
        dhash: Boolean) = {
      val m = df.select(col("doc_id"), col("uri"), col("mime"),
        col(payloadCol).as("payload")).as[M.MediaRecord](M.mediaRecordEnc)
      (if (dhash) M.imageDhash(m).toDF()
          .withColumnRenamed("dhash", "fp")
        else M.audioFingerprints(m).toDF())
        .where(col("ok") === 1L).select(col("doc_id"), col("fp"))
    }
    def flaggedOf(train: org.apache.spark.sql.DataFrame,
        ev: org.apache.spark.sql.DataFrame): Set[Long] =
      D.fingerprintDecontam(train, ev, "doc_id", "fp", 3, 64)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val textFlagged = D.evalOverlapRate(curated0, evalLake, "doc_id",
        "text", contaminatedAt = 0.2)
      .where(col("contaminated") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val imgFlagged = flaggedOf(fpOf(curated0, "payload", true),
      fpOf(evalLake, "payload", true))
    val audFlagged = flaggedOf(fpOf(curated0, "audio", false),
      fpOf(evalLake, "audio", false))
    assert(audFlagged.nonEmpty, "eval audio must collide")
    val st1 = Main.runCorpusPaired(spark, s"$base/lake",
      s"$base/out1", shardBytes = 8192,
      evalPath = Some(s"$base/eval"))
    val ids1 = spark.read.parquet(s"$base/out1/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == got -- textFlagged -- imgFlagged -- audFlagged)
    assert(st1.droppedEval ==
      (textFlagged ++ imgFlagged ++ audFlagged).size.toLong)
    lake.unpersist(); joint.unpersist()
  }

  test("corpus-paired audio tier is TWO-STAGE on a clip-waveform " +
    "lake: trimmed re-uploads chain via energy-shingle containment " +
    "over envelope-family representatives (keep ≡ the q266 ∘ q307 " +
    "replay, strictly beats envelope-only); the eval gate composes " +
    "the trim-tolerant shingle rung; --mix ≡ the standalone q316 " +
    "pick over the unmixed keeps") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val D = graft.operators.Dedup
    val S = graft.operators.Sampling
    val base = java.nio.file.Files
      .createTempDirectory("graft_cpclip").toString
    val s2 = spark; import s2.implicits._
    // 64 reels × 3 window offsets, ≥ 65 windows each (the corpus-media
    // two-stage test's lake), paired with captions + gradient images:
    // same-reel audio overlaps at genuinely nonzero offsets — the
    // trimmed re-upload the whole-clip envelope cannot see
    val ids = (0L until 192L)
    val docsText = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 192).select(col("doc_id"), col("text"))
    // images are REEL-ALIGNED (encoded on doc_id % 64): the gradient
    // fixture's content repeats mod 25, and a mod-25 image partition
    // crossed with the mod-64 audio reels percolates the whole union
    // graph into ONE component (gcd(25, 64) = 1) — reel-keyed images
    // keep the closure non-degenerate so the audio tier is observable
    val imgs = M.encodeGradientImageFixture(
        (0L until 64L).toDF("doc_id"), "doc_id").toDF()
      .select(col("doc_id").as("__img"), col("uri"), col("mime"),
        col("payload"))
    docsText.withColumn("__img", col("doc_id") % 64)
      .join(imgs, Seq("__img")).drop("__img")
      .join(M.encodeClipWaveformFixture(ids.toDF("doc_id"), "doc_id",
          baseWindows = 70).toDF()
        .select(col("doc_id"), col("payload").as("audio")),
        Seq("doc_id"))
      .write.parquet(s"$base/lake")
    val lake = spark.read.parquet(s"$base/lake").cache()
    val st = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out",
      shardBytes = 8192)
    // audio corruption (id%10=3) is a SUBSET of image corruption
    // ({3,6}) on this unshifted lake, so droppedAudio is 0 here by
    // construction — the audio-drop accounting is pinned by the
    // shifted-ids tri-modal test above; the identity still holds
    assert(st.raw == st.decodable + st.droppedImage + st.droppedAudio)
    assert(st.droppedImage > 0, "corrupt-image rows must drop")

    // ---- keep ≡ the k=3 closure with the TWO-STAGE audio acid ----
    val textC = D.nearDupClusters(lake, "doc_id",
        D.minhashLshPairs(lake, "doc_id", "text", threshold = 0.5,
          k = 16, bands = 4))
      .select(col("doc_id"), col("cluster_id").as("tcid"))
    val imgC = D.fingerprintClusters(
        M.imageDhash(lake.select(col("doc_id"), col("uri"),
            col("mime"), col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
          .where(col("ok") === 1L)
          .select(col("doc_id"), col("dhash").as("fp")),
        "doc_id", "fp", 3, 64)
      .select(col("doc_id"), col("cluster_id").as("icid"))
    val energies = M.audioWindowEnergies(
        lake.select(col("doc_id"), col("uri"), col("mime"),
          col("audio").as("payload"))
        .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
      .select(col("doc_id"), col("w"), col("amp")).cache()
    val fam = D.fingerprintClusters(
      M.envelopeFromEnergies(energies), "doc_id", "fp", 3, 64).cache()
    val repIds = fam.where(col("is_canonical")).select(col("doc_id"))
    val repComps = D.nearDupClusters(repIds, "doc_id",
        D.sequenceShingleContainment(
          energies.join(repIds, Seq("doc_id")), "doc_id", "w", "amp")
          .select(col("doc_a"), col("doc_b")))
      .select(col("doc_id").as("__rep"), col("cluster_id").as("acid"))
    val audC = fam.select(col("doc_id"), col("cluster_id").as("__rep"))
      .join(repComps, Seq("__rep")).select(col("doc_id"), col("acid"))
    // the clip stage must do real work: two-stage audio components
    // are strictly coarser than envelope families on this lake
    assert(audC.select(col("acid")).distinct().count() <
      fam.select(col("cluster_id")).distinct().count(),
      "clip containment must chain trimmed re-uploads across " +
        "envelope families")
    val joint = textC.join(imgC, Seq("doc_id"))
      .join(audC, Seq("doc_id")).cache()
    assert(st.decodable == joint.count())
    val cells = joint.select((col("tcid") * 3).as("doc_a"),
        (col("icid") * 3 + 1).as("doc_b")).distinct()
      .unionByName(joint.select((col("icid") * 3 + 1).as("doc_a"),
        (col("acid") * 3 + 2).as("doc_b")).distinct())
    val nodes = cells.select(col("doc_a").as("node"))
      .unionByName(cells.select(col("doc_b").as("node"))).distinct()
    val comps = D.nearDupClusters(nodes, "node", cells)
      .select(col("doc_id").as("__node"), col("cluster_id").as("__c"))
    val want = joint
      .select(col("doc_id"), (col("tcid") * 3).as("__node"))
      .join(comps, Seq("__node"))
      .groupBy(col("__c")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$base/out/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(st.kept == want.size.toLong)

    // ---- eval gate: compose-OR including the shingle rung ----
    // eval = OFFSET-1 reel members (ids 64..75): the kept canonical
    // of a reel is its min-id OFFSET-0 member, so an offset-0 eval
    // set would flag every same-reel keep by envelope IDENTITY and
    // the shingle rung would prove nothing; an offset-1 eval clip is
    // a TRIM of the kept canonical — high shingle share, envelope
    // bits all shifted — exactly the leak only the shingle rung sees
    lake.where(col("doc_id") >= 64 && col("doc_id") < 76)
      .write.parquet(s"$base/eval")
    val evalLake = spark.read.parquet(s"$base/eval")
    val curated0 = spark.read.parquet(s"$base/out/curated")
    val evEnergies = M.audioWindowEnergies(
        evalLake.select(col("doc_id"), col("uri"), col("mime"),
          col("audio").as("payload"))
        .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
      .select(col("doc_id"), col("w"), col("amp")).cache()
    val keptEnergies = energies
      .join(curated0.select(col("doc_id")), Seq("doc_id"))
    val envFlagged = D.fingerprintDecontam(
        M.envelopeFromEnergies(keptEnergies),
        M.envelopeFromEnergies(evEnergies), "doc_id", "fp", 3, 64)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val shingleFlagged = D.sequenceShingleDecontam(keptEnergies,
        evEnergies, "doc_id", "w", "amp")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert((shingleFlagged -- envFlagged).nonEmpty,
      "the shingle rung must flag trimmed leaks the envelope misses")
    val textFlagged = D.evalOverlapRate(curated0, evalLake, "doc_id",
        "text", contaminatedAt = 0.2)
      .where(col("contaminated") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val imgFlagged = D.fingerprintDecontam(
        M.imageDhash(curated0.select(col("doc_id"), col("uri"),
            col("mime"), col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
          .where(col("ok") === 1L)
          .select(col("doc_id"), col("dhash").as("fp")),
        M.imageDhash(evalLake.select(col("doc_id"), col("uri"),
            col("mime"), col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
          .where(col("ok") === 1L)
          .select(col("doc_id"), col("dhash").as("fp")),
        "doc_id", "fp", 3, 64)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val st1 = Main.runCorpusPaired(spark, s"$base/lake",
      s"$base/out1", shardBytes = 8192,
      evalPath = Some(s"$base/eval"))
    val ids1 = spark.read.parquet(s"$base/out1/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val allFlagged = textFlagged ++ imgFlagged ++ envFlagged ++
      shingleFlagged
    assert(ids1 == got -- allFlagged)
    assert(st1.droppedEval == allFlagged.size.toLong)

    // ---- --mix ≡ the standalone q316 pick over the unmixed keeps —
    // applied BEFORE export, so curated, manifest, and stats see it
    val weights = Map("text" -> 0.25, "image" -> 0.5, "audio" -> 0.25)
    val masses = Seq("text" -> octet_length(col("text")).cast("long"),
      "image" -> octet_length(col("payload")).cast("long"),
      "audio" -> octet_length(col("audio")).cast("long"))
    val totalBytes = curated0.agg(sum(octet_length(col("text")) +
        octet_length(col("payload")) + octet_length(col("audio")))
        .cast("long")).collect().head.getLong(0)
    val budget = totalBytes / 4 // binding fraction strictly inside (0, 1)
    val picked = S.pairedMixToByteBudget(curated0, "doc_id", masses,
      weights, budget).cache()
    val wantMix = picked.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(wantMix.nonEmpty && wantMix.size < got.size,
      "the byte budget must bind without emptying the corpus")
    val st2 = Main.runCorpusPaired(spark, s"$base/lake",
      s"$base/out2", shardBytes = 8192,
      mix = Some((weights, budget)))
    val ids2 = spark.read.parquet(s"$base/out2/curated")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids2 == wantMix)
    assert(st2.kept == wantMix.size.toLong)
    // per-modality caps hold: kept byte masses stay at or under
    // budget·w_m, and the stats readout equals the picked masses
    val pickedMass = picked.agg(sum(col("text_bytes")).cast("long"),
        sum(col("image_bytes")).cast("long"),
        sum(col("audio_bytes")).cast("long"))
      .collect().head
    val wantKeptBytes = Map("text" -> pickedMass.getLong(0),
      "image" -> pickedMass.getLong(1),
      "audio" -> pickedMass.getLong(2))
    assert(st2.mixKeptBytes == wantKeptBytes)
    // the caps are EXPECTATION-level (per-million hash fraction), so
    // realized masses on a ~40-row frame can overshoot — what must
    // hold exactly is the BINDING construction: the keep fraction is
    // min over modalities of target/mass, strictly inside (0, 1)
    val preMass = curated0.agg(
        sum(octet_length(col("text"))).cast("double"),
        sum(octet_length(col("payload"))).cast("double"),
        sum(octet_length(col("audio"))).cast("double"))
      .collect().head
    val fBind = Seq("text" -> preMass.getDouble(0),
      "image" -> preMass.getDouble(1), "audio" -> preMass.getDouble(2))
      .map { case (m, mass) => budget.toDouble * weights(m) / mass }
      .min
    assert(fBind > 0.0 && fBind < 1.0,
      s"fixture must make the budget bind, got fraction $fBind")
    // manifest meters only the mixed keeps
    val manBytes2 = spark.read.parquet(s"$base/out2/shards/_manifest")
      .agg(sum(col("n_bytes")).cast("long")).collect().head.getLong(0)
    val wantBytes2 = spark.read.parquet(s"$base/out2/curated")
      .agg(sum(octet_length(col("text")) + octet_length(col("payload"))
        + octet_length(col("audio"))).cast("long"))
      .collect().head.getLong(0)
    assert(manBytes2 == wantBytes2)
    picked.unpersist(); evEnergies.unpersist(); energies.unpersist()
    fam.unpersist(); lake.unpersist(); joint.unpersist()
  }

  test("corpus-media ISO metadata profile: kept HEIF stills bucket " +
    "into image resolution bands from their ispe dims, kept M4A " +
    "audio into duration bands from mvhd — the q303 readout composed") {
    import org.apache.spark.sql.functions._
    val M = graft.operators.Multimodal
    val base = java.nio.file.Files
      .createTempDirectory("graft_isometa").toString
    val s2 = spark; import s2.implicits._
    M.encodeIsoMetaFixture((0L until 60L).toDF("doc_id"), "doc_id")
      .toDF().write.parquet(s"$base/lake")
    val st = Main.runCorpusMedia(spark, s"$base/lake", s"$base/out",
      shardBytes = 4096)
    assert(st.keptImage > 0 && st.keptAudio > 0)
    val prof = spark.read.parquet(s"$base/out/profile")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2)) -> r.getLong(3)).toMap
    // replay the expected buckets off the kept rows via the same
    // oracle-checked decoder (q303)
    def buckets(modality: String): Map[(String, String, String), Long] = {
      val m = M.decodeIsoMeta(spark.read.parquet(s"$base/out/curated")
          .where(col("modality") === modality)
          .select(col("doc_id"), col("uri"), col("mime"),
            col("payload"))
          .as[M.MediaRecord](M.mediaRecordEnc)).toDF()
        .where(col("ok") === 1L)
      if (modality == "image")
        m.select((col("width") * col("height")).as("px"))
          .collect().map(_.getLong(0))
          .groupBy(px => if (px < 1024L) "tiny"
            else if (px < 2048L) "small" else "medium")
          .map { case (b, xs) =>
            (modality, "resolution", b) -> xs.size.toLong }
      else
        m.select(col("duration_ms")).collect().map(_.getLong(0))
          .groupBy(d => if (d < 10L) "lt_10ms"
            else if (d < 20L) "lt_20ms" else "ge_20ms")
          .map { case (b, xs) =>
            (modality, "duration", b) -> xs.size.toLong }
    }
    val wantImg = buckets("image")
    val wantAud = buckets("audio")
    assert(wantImg.nonEmpty, "HEIF keeps must carry ispe dims")
    assert(wantAud.nonEmpty, "M4A keeps must carry mvhd durations")
    wantImg.foreach { case (k, n) =>
      assert(prof.get(k).contains(n), s"profile $k: ${prof.get(k)}") }
    wantAud.foreach { case (k, n) =>
      assert(prof.get(k).contains(n), s"profile $k: ${prof.get(k)}") }
    // the brand buckets stay (container dimension), health all ok
    assert(prof.keys.exists(k => k._2 == "container" &&
      Set("M4A ", "heic", "mif1", "avif").contains(k._3)))
    assert(!prof.keys.exists(_._3 == "corrupt"))
  }

  test("corpus-paired CLI: the composed paired funnel's kept mass IS " +
    "q273's union_clusters policy row; shard read-back agrees with " +
    "the text+payload-weighted manifest; re-runs reproduce") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cpcli").toString
    val sfDir = "/root/testdata/sf0.001"
    val nPaired = Main.runPairedFixture(spark,
      s"$sfDir/documents.parquet", s"$base/lake")
    assert(nPaired > 0)
    val st = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out",
      shardBytes = 8192)
    assert(st.raw == nPaired)
    assert(st.droppedImage > 0, "corrupt-image pairs must drop")
    assert(st.raw == st.decodable + st.droppedImage)
    // the keep decision IS the oracle-checked q273 policy row over
    // the same documents + gradient images: kept == union_clusters,
    // decodable == the joint n_docs
    val policy = SparkEntry.queries("q273_crossmodal_dedup_policies")(
      spark, sfDir).collect().head
    assert(st.decodable == policy.getLong(0), "joint universe")
    assert(st.kept == policy.getLong(6 - 1), "compose-OR kept mass")
    assert(st.kept < st.decodable, "the policy must actually dedup")
    // kept canonicals are pairwise union-unlinked by construction:
    // one per component — spot-check they are distinct docs with
    // payloads byte-identical to the lake
    val mismatch = spark.read.parquet(s"$base/out/curated")
      .select(col("doc_id"), sha2(col("payload"), 256).as("ch"),
        col("text").as("ct"))
      .join(spark.read.parquet(s"$base/lake")
        .select(col("doc_id"), sha2(col("payload"), 256).as("lh"),
          col("text").as("lt")), Seq("doc_id"))
      .where(col("ch") =!= col("lh") || col("ct") =!= col("lt"))
      .count()
    assert(mismatch == 0)
    // shards: read-back ≡ manifest under the COMBINED weight
    val shards = spark.read.parquet(s"$base/out/shards")
    assert(shards.count() == st.exported && st.exported == st.kept)
    val gotByShard = shards
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum((octet_length(col("text")) +
          octet_length(col("payload"))).cast("long")).as("n_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val manByShard = spark.read.parquet(s"$base/out/shards/_manifest")
      .select(col("shard_id"), col("n_docs"), col("n_bytes"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(gotByShard == manByShard)
    assert(manByShard.size.toLong == st.shards)
    // re-runnable: same lake, same stats, same file plan
    val st2 = Main.runCorpusPaired(spark, s"$base/lake", s"$base/out",
      shardBytes = 8192)
    assert(st2 == st)
  }

  test("bpe-train + bpe-apply CLIs: the trained artifact round-trips " +
    "and the applied counts compress vs characters") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_bpecli").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val n = Main.runBpeTrain(spark, docs, s"$base/merges", nMerges = 24)
    assert(n >= 1 && n <= 24)
    val merges = graft.functions.Bpe.mergesFromDf(
      spark.read.parquet(s"$base/merges"))
    assert(merges.size == n)
    // training is deterministic: re-train equals the artifact
    assert(graft.functions.Bpe.trainMerges(
      spark.read.parquet(docs), "text", 24) == merges)
    val cnt = Main.runBpeApply(spark, docs, s"$base/merges", s"$base/o")
    val out = spark.read.parquet(s"$base/o")
    assert(cnt == spark.read.parquet(docs).count())
    // a trained table must COMPRESS: fewer subwords than characters,
    // at least as many as whitespace words
    val bad = out.where(col("n_subwords") < col("n_words")).count()
    assert(bad == 0)
    assert(out.where(col("n_subwords") > 0).count() > 0)
  }

  test("stream-sessionize: closed sessions land across checkpointed " +
    "drains; the open tail closes when a later event breaks the gap") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_ss").toString
    import spark.implicits._
    val min = 60L * 1000000L
    // modern epoch base: an event AT the initial zero watermark would
    // be filtered as late (the epoch-0 edge), which is not what this
    // test is about
    val t0 = 1700000000L * 1000000L
    // user 7: two events 5 min apart (one session), then a drain-2
    // event 90 min later (> 30-min gap) that CLOSES the first session
    val in = s"$base/in"
    Seq((7L, t0 + 0L * min), (7L, t0 + 5L * min), (8L, t0 + 0L * min))
      .toDF("user_id", "ts_us").write.parquet(in)
    val n1 = Main.runStreamSessionize(spark, in, s"$base/out",
      s"$base/ckpt")
    assert(n1 == 0L) // both sessions still open — nothing closed yet
    Seq((7L, t0 + 95L * min)).toDF("user_id", "ts_us")
      .write.mode("append").parquet(in)
    val n2 = Main.runStreamSessionize(spark, in, s"$base/out",
      s"$base/ckpt")
    // the gap break closes user 7's first session, and the advanced
    // watermark (95 − 10 min lateness) times out user 8's idle one
    assert(n2 == 2L, s"expected both stale sessions closed: $n2")
    val sess = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(sess.toSeq == Seq(
      (7L, t0, t0 + 5L * min, 2L),
      (8L, t0, t0, 1L)))
  }

  test("stream-dedup: within-watermark duplicate content drops " +
    "across drains; novel content passes") {
    import java.sql.Timestamp
    val base = Files.createTempDirectory("graft_sd").toString
    import spark.implicits._
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
    val in = s"$base/in"
    Seq((1L, t(0), "alpha text"), (2L, t(1), "alpha text"),
      (3L, t(2), "beta text"))
      .toDF("doc_id", "ts", "text").write.parquet(in)
    val n1 = Main.runStreamDedup(spark, in, s"$base/out", s"$base/ckpt")
    assert(n1 == 2L) // alpha once, beta once
    // second drain: a re-send of alpha within the horizon + a new doc
    Seq((4L, t(3), "alpha text"), (5L, t(4), "gamma text"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(in)
    val n2 = Main.runStreamDedup(spark, in, s"$base/out", s"$base/ckpt")
    assert(n2 == 3L, s"only gamma may pass the second drain: $n2")
    val ids = spark.read.parquet(s"$base/out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L))
  }

  test("df-ingest: two CLI passes build corpus-wide dfs; the second " +
    "batch's score sees the first batch's boilerplate") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_dfi").toString
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    a.write.parquet(s"$base/a"); b.write.parquet(s"$base/b")
    val nA = Main.runDfIngest(spark, s"$base/a", s"$base/store",
      s"$base/outA")
    val nB = Main.runDfIngest(spark, s"$base/b", s"$base/store",
      s"$base/outB")
    assert(nA > 0 && nB > 0)
    // after both ingests the store's scoring over the FULL corpus
    // equals the one-shot q219 operator
    val store = new graft.etl.DfStore(spark, s"$base/store")
    val stored = store.scoreBatch(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val oneShot = graft.operators.TextAnalysis
      .boilerplateFraction(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(stored == oneShot)
  }
}
