package graft.etl

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Insert-if-absent sink semantics (SURVEY §2.1 S6, §2.9;
  * load.py:20-68): bootstrap, incremental append, idempotence, the
  * never-update rule, and null-PK retention.
  */
class IncrementalSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("pk", IntegerType, nullable = true),
    StructField("v", StringType)))

  private def df(rows: Row*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), schema)

  private def freshSink() = new IncrementalSink(
    spark, Files.createTempDirectory("graft_sink").toString)

  test("first load bootstraps the table; re-run inserts 0 (idempotence)") {
    val sink = freshSink()
    val day1 = df(Row(1, "a"), Row(2, "b"))
    assert(sink.appendOnlyNew(day1, "t", "pk") == (2L, 0L))
    // the reference's run-twice property (load.py:53-57): 0 inserted
    assert(sink.appendOnlyNew(day1, "t", "pk") == (0L, 2L))
    assert(sink.read("t").count() == 2)
  }

  test("incremental append: only new PKs land; re-sent rows are IGNORED, never updated") {
    val sink = freshSink()
    sink.appendOnlyNew(df(Row(1, "original"), Row(2, "b")), "t", "pk")
    val day2 = df(Row(1, "CHANGED"), Row(3, "c"))
    assert(sink.appendOnlyNew(day2, "t", "pk") == (1L, 1L))
    val out = sink.read("t").collect().map(r => r.getInt(0) -> r.getString(1))
      .toMap
    assert(out == Map(1 -> "original", 2 -> "b", 3 -> "c")) // no update path
  }

  test("null-PK rows are kept by the anti-join (pandas ~isin parity)") {
    val sink = freshSink()
    sink.appendOnlyNew(df(Row(1, "a"), Row(null, "n1")), "t", "pk")
    val (ins, _) = sink.appendOnlyNew(df(Row(null, "n2")), "t", "pk")
    assert(ins == 1L) // null never equi-matches → inserted again
  }

  test("loadStar loads FK-ordered and accounts per table") {
    // toy single-column frames: disable the fact's partition contract
    // (EtlJobSpec covers the real partitioned star)
    val sink = new IncrementalSink(spark,
      Files.createTempDirectory("graft_sink").toString,
      partitioning = Map.empty,
      varcharLimits = Map.empty,
      foreignKeys = Map.empty) // toy frames lack the FK/varchar columns
    val tables = StarSchema.loadOrder.map { t =>
      t -> df(Row(1, t)).withColumnRenamed("pk", StarSchema.primaryKeys(t))
    }.toMap
    val acct = sink.loadStar(tables)
    assert(acct.keySet == StarSchema.loadOrder.toSet)
    assert(acct.values.forall(_ == (1L, 0L)))
    assert(sink.loadStar(tables).values.forall(_ == (0L, 1L)))
  }

  test("partitioned table: date directories on disk, day filters prune the scan") {
    import java.nio.file.Paths
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val whDir = Files.createTempDirectory("graft_sink_part").toString
    val sink = new IncrementalSink(spark, whDir,
      partitioning = Map("t" -> Seq("d")))
    val pschema = StructType(Seq(
      StructField("pk", IntegerType), StructField("d", DateType)))
    val day1 = java.sql.Date.valueOf("2025-06-10")
    val day2 = java.sql.Date.valueOf("2025-06-11")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1, day1), Row(2, day1), Row(3, day2)), 2), pschema)
    sink.appendOnlyNew(df, "t", "pk")
    // hive-style date directories exist
    assert(Files.exists(Paths.get(s"$whDir/t/d=2025-06-10")))
    assert(Files.exists(Paths.get(s"$whDir/t/d=2025-06-11")))
    // a day filter must reach the scan as a PartitionFilter (pruning),
    // not a post-scan Filter over all partitions
    val q = sink.read("t").where(col("d") === day1)
    val scan = q.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") &&
      scan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("d#")), scan)
    assert(q.count() == 2)
  }

  test("compact collapses accumulated append-files, data intact") {
    val sink = freshSink()
    // 8 daily appends → at least 8 small files
    (1 to 8).foreach(day => sink.appendOnlyNew(
      df((day * 10 until day * 10 + 5).map(i => Row(i, s"v$i")): _*),
      "t", "pk"))
    val beforeData = sink.read("t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val (nBefore, nAfter) = sink.compact("t")
    assert(nBefore >= 8)
    assert(nAfter < nBefore)
    val afterData = sink.read("t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(afterData == beforeData)
    // the sink keeps working after a compaction
    assert(sink.appendOnlyNew(df(Row(999, "new")), "t", "pk") == (1L, 0L))
  }

  test("compact preserves partition layout for partitioned tables") {
    import java.nio.file.Paths
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val whDir = Files.createTempDirectory("graft_sink_cpart").toString
    val sink = new IncrementalSink(spark, whDir,
      partitioning = Map("t" -> Seq("d")))
    val pschema = StructType(Seq(
      StructField("pk", IntegerType), StructField("d", DateType)))
    val day1 = java.sql.Date.valueOf("2025-06-10")
    val day2 = java.sql.Date.valueOf("2025-06-11")
    (0 until 6).foreach { i =>
      sink.appendOnlyNew(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(i * 2, day1), Row(i * 2 + 1, day2)), 1), pschema), "t", "pk")
    }
    val (nBefore, nAfter) = sink.compact("t")
    assert(nAfter < nBefore)
    // date directories survive and pruning still works
    assert(Files.exists(Paths.get(s"$whDir/t/d=2025-06-10")))
    val q = sink.read("t")
      .where(org.apache.spark.sql.functions.col("d") === day1)
    assert(q.count() == 6)
  }

  test("overwrite is the full-refresh bootstrap (DDL-reset analog)") {
    val sink = freshSink()
    sink.appendOnlyNew(df(Row(1, "a"), Row(2, "b")), "t", "pk")
    sink.overwrite(df(Row(9, "z")), "t")
    assert(sink.read("t").collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("duplicate non-null PKs in one batch are refused before any write") {
    // the Postgres PK constraint analog (ddl_tienda_pago_bi.sql): the
    // reference's DB rejects such loads; silently appending both rows
    // would poison the never-update table forever
    val sink = freshSink()
    val e = intercept[IllegalArgumentException] {
      sink.appendOnlyNew(df(Row(1, "a"), Row(1, "b")), "t", "pk")
    }
    assert(e.getMessage.contains("duplicate"))
    assert(!sink.exists("t")) // bootstrap path: nothing was written
    sink.appendOnlyNew(df(Row(1, "a")), "t", "pk")
    assertThrows[IllegalArgumentException] { // incremental path too
      sink.appendOnlyNew(df(Row(2, "x"), Row(2, "y")), "t", "pk")
    }
    assert(sink.read("t").count() == 1)
  }

  test("multiple null PKs in one batch are NOT duplicates (SQL semantics)") {
    val sink = freshSink()
    assert(sink.appendOnlyNew(
      df(Row(null, "n1"), Row(null, "n2"), Row(1, "a")), "t", "pk")
      == (3L, 0L))
  }

  test("FK orphans are rejected like the warehouse REFERENCES constraint") {
    val sink = new IncrementalSink(spark,
      Files.createTempDirectory("graft_sink_fk").toString,
      partitioning = Map.empty,
      varcharLimits = Map.empty,
      foreignKeys = Map("fct_transacciones" ->
        Seq(("id_sede", "dim_sedes", "id_sede"))))
    def frame(schema: StructType, rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val sedes = frame(
      StructType(Seq(StructField("id_sede", IntegerType))), Row(1))
    val fctSchema = StructType(Seq(
      StructField("id_trx", IntegerType),
      StructField("id_sede", IntegerType, nullable = true)))
    // a real parent and a NULL FK both pass (SQL REFERENCES semantics)
    val ok = sink.loadStar(Map(
      "dim_sedes" -> sedes,
      "fct_transacciones" -> frame(fctSchema, Row(10, 1), Row(11, null))))
    assert(ok("fct_transacciones") == (2L, 0L))
    // orphan FK (sede 9 has no parent row) → the batch is rejected
    val e = intercept[IllegalArgumentException] {
      sink.loadStar(Map("fct_transacciones" -> frame(fctSchema, Row(12, 9))))
    }
    assert(e.getMessage.contains("FK"))
    assert(sink.read("fct_transacciones").count() == 2) // nothing landed
  }

  test("VARCHAR(n) overflow is rejected like the warehouse DDL") {
    val sink = new IncrementalSink(spark,
      Files.createTempDirectory("graft_sink_vc").toString,
      partitioning = Map.empty,
      varcharLimits = Map("t" -> Map("v" -> 5)))
    sink.appendOnlyNew(df(Row(1, "cinco")), "t", "pk") // exactly 5: fits
    val e = intercept[IllegalArgumentException] {
      sink.appendOnlyNew(df(Row(2, "toolong")), "t", "pk")
    }
    assert(e.getMessage.contains("VARCHAR(5)"))
    assert(sink.read("t").count() == 1) // nothing landed
    // a declared limit column MISSING from the frame is drift, not a
    // pass — loud, like the missing-partition-column case
    val sinkBad = new IncrementalSink(spark,
      Files.createTempDirectory("graft_sink_vc2").toString,
      partitioning = Map.empty,
      varcharLimits = Map("t" -> Map("nope" -> 5)))
    val e2 = intercept[IllegalArgumentException] {
      sinkBad.appendOnlyNew(df(Row(1, "a")), "t", "pk")
    }
    assert(e2.getMessage.contains("lacks"))
  }

  test("compact heals every crash window of a previous run") {
    import java.nio.file.Paths
    // unpartitioned, and partitioned with a null key: the rewrite keeps
    // the layout and the null row's __HIVE_DEFAULT_PARTITION__ directory
    // counts as committed data. The unpartitioned table is a star table,
    // so `Main compact` can heal it; no star table is partitioned by `v`.
    for ((t, partCols) <- Seq("dim_sedes" -> Nil, "t" -> Seq("v"))) {
      val whDir = Files.createTempDirectory("graft_sink_crash").toString
      val sink = new IncrementalSink(spark, whDir,
        partitioning = Map(t -> partCols), varcharLimits = Map.empty)
      sink.appendOnlyNew(df(Row(1, "a"), Row(2, null)), t, "pk")
      val dir = Paths.get(s"$whDir/$t")
      val tmp = Paths.get(s"$whDir/$t.compact_tmp")
      val old = Paths.get(s"$whDir/$t.compact_old")
      // window 1: stale tmp from a run that died mid-write
      Files.createDirectories(tmp)
      Files.write(tmp.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
      sink.compact(t)
      assert(!Files.exists(tmp) && !Files.exists(old))
      assert(sink.read(t).count() == 2)
      // window 2: died between the moves — table dir GONE, data only in
      // old. A load there throws: it would create a fresh committed dir
      // that the next heal keeps, discarding old and the rows in it.
      Files.move(dir, old)
      val e = intercept[IllegalStateException] {
        sink.appendOnlyNew(df(Row(3, "c")), t, "pk")
      }
      assert(e.getMessage.contains("compact() to heal"), e.getMessage)
      assert(!Files.exists(dir))
      if (StarSchema.loadOrder.contains(t)) graft.Main.runCompact(spark, whDir)
      else sink.compact(t)
      assert(sink.read(t).count() == 2 && !Files.exists(old))
      // window 3: died after the swap, before cleanup — stale old beside live
      Files.createDirectories(old)
      Files.write(old.resolve("leftover.parquet"), Array[Byte](1))
      sink.compact(t)
      assert(sink.read(t).count() == 2 && !Files.exists(old))
      if (partCols.nonEmpty)
        assert(Files.exists(dir.resolve("v=__HIVE_DEFAULT_PARTITION__")))
    }
  }

  test("a file: URI warehouse keeps earlier days across incremental loads") {
    val whDir = Files.createTempDirectory("graft_sink_uri").toString
    val sink = new IncrementalSink(spark, s"file://$whDir")
    assert(sink.appendOnlyNew(df(Row(1, "a"), Row(2, "b")), "t", "pk")
      == (2L, 0L))
    assert(sink.exists("t"))
    assert(sink.appendOnlyNew(df(Row(2, "b"), Row(3, "c")), "t", "pk")
      == (1L, 1L))
    assert(sink.read("t").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3)) // day 1's rows survive day 2's load
    val (nBefore, _) = sink.compact("t")
    assert(nBefore >= 2) // compaction sees the table, too
    assert(sink.read("t").count() == 3)
  }

  // -- the single pass keeps the per-check semantics of separate checks

  /** A sink whose fact declares one FK (to dim_sedes) and a VARCHAR(5)
    * column `v`. */
  private def checkedSink() = new IncrementalSink(spark,
    Files.createTempDirectory("graft_sink_checks").toString,
    partitioning = Map.empty,
    varcharLimits = Map("fct_transacciones" -> Map("v" -> 5)),
    foreignKeys = Map("fct_transacciones" ->
      Seq(("id_sede", "dim_sedes", "id_sede"))))
  private val fctSchema = StructType(Seq(
    StructField("id_trx", IntegerType), StructField("id_sede", IntegerType),
    StructField("v", StringType)))
  private def fct(rows: Row*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), fctSchema)
  private def sedes(ids: Int*) = spark.createDataFrame(
    spark.sparkContext.parallelize(ids.map(Row(_)), 1),
    StructType(Seq(StructField("id_sede", IntegerType))))

  test("an over-wide VARCHAR on an ignored re-sent row passes; on a fresh row it fails") {
    val sink = new IncrementalSink(spark,
      Files.createTempDirectory("graft_sink_vcig").toString,
      partitioning = Map.empty,
      varcharLimits = Map("t" -> Map("v" -> 5)))
    sink.appendOnlyNew(df(Row(1, "a")), "t", "pk")
    // row 1 is re-sent with a value the DDL would reject: it is never
    // written, so the batch loads
    assert(sink.appendOnlyNew(df(Row(1, "much too long"), Row(2, "b")),
      "t", "pk") == (1L, 1L))
    val e = intercept[IllegalArgumentException] {
      sink.appendOnlyNew(df(Row(1, "much too long"), Row(3, "toolong")),
        "t", "pk")
    }
    assert(e.getMessage.contains("exceeds VARCHAR(5)"))
    assert(sink.read("t").collect().map(r => r.getInt(0) -> r.getString(1))
      .toMap == Map(1 -> "a", 2 -> "b"))
  }

  test("an FK orphan on an ignored re-sent row still fails the batch") {
    val sink = checkedSink()
    sink.loadStar(Map("dim_sedes" -> sedes(1),
      "fct_transacciones" -> fct(Row(10, 1, "a"))))
    // FKs are checked on every incoming row, as the warehouse checks
    // every insert: the re-sent row 10 now points at sede 9
    val e = intercept[IllegalArgumentException] {
      sink.loadStar(Map("fct_transacciones" ->
        fct(Row(10, 9, "a"), Row(11, 1, "b"))))
    }
    assert(e.getMessage.contains("violate FK"))
    assert(sink.read("fct_transacciones").count() == 1)
  }

  test("appendOnlyNew enforces no FK; only loadStar does") {
    val sink = checkedSink()
    // dim_sedes is not even loaded: a direct append checks PK and
    // VARCHAR only (stream micro-batches rely on this)
    assert(sink.appendOnlyNew(fct(Row(10, 9, "a")), "fct_transacciones",
      "id_trx") == (1L, 0L))
    assertThrows[IllegalArgumentException] {
      sink.loadStar(Map("fct_transacciones" -> fct(Row(11, 9, "a"))))
    }
  }

  test("checks fail in order with their messages: missing parent, FK orphans, duplicate PK, VARCHAR") {
    val sink = checkedSink()
    def failure(rows: Row*) = intercept[IllegalArgumentException] {
      sink.loadStar(Map("fct_transacciones" -> fct(rows: _*)))
    }.getMessage
    val allFaults = Seq(Row(10, 9, "toolong"), Row(10, 1, "a"))
    assert(failure(allFaults: _*) == "requirement failed: table " +
      "'fct_transacciones' declares FK id_sede -> dim_sedes(id_sede) but " +
      "'dim_sedes' is not loaded — star load order violated")
    sink.loadStar(Map("dim_sedes" -> sedes(1)))
    assert(failure(allFaults: _*) == "requirement failed: table " +
      "'fct_transacciones': 1 rows violate FK id_sede -> dim_sedes(id_sede) " +
      "— the warehouse REFERENCES constraint rejects this batch")
    assert(failure(Row(10, 1, "toolong"), Row(10, 1, "a")) ==
      "requirement failed: table 'fct_transacciones': incoming batch " +
      "carries 1 duplicate non-null 'id_trx' rows; the never-update sink " +
      "refuses ambiguous batches — dedup upstream " +
      "(Transform.dedupKeepFirst) where row order exists")
    assert(failure(Row(10, 1, "toolong"), Row(11, 1, "a")) ==
      "requirement failed: table 'fct_transacciones' column 'v' exceeds " +
      "VARCHAR(5): longest incoming value is 7 chars — the warehouse DDL " +
      "rejects this")
    assert(!sink.exists("fct_transacciones")) // no failure wrote a row
  }

  test("null PKs insert on every load, beside ignored stored keys") {
    val sink = freshSink()
    assert(sink.appendOnlyNew(df(Row(1, "a"), Row(null, "n")), "t", "pk")
      == (2L, 0L))
    assert(sink.appendOnlyNew(df(Row(1, "a"), Row(null, "n")), "t", "pk")
      == (1L, 1L))
    assert(sink.read("t").where("pk IS NULL").count() == 2)
  }

  test("compact leaves an already compact table alone") {
    for (partCols <- Seq(Nil, Seq("v"))) {
      val whDir = Files.createTempDirectory("graft_sink_recompact").toString
      val sink = new IncrementalSink(spark, whDir,
        partitioning = Map("t" -> partCols))
      sink.appendOnlyNew(df(Row(1, "a"), Row(2, "b"), Row(3, "a")), "t", "pk")
      sink.appendOnlyNew(df(Row(4, "a"), Row(5, "b")), "t", "pk")
      def files() = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$whDir/t"))
        try s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
      val (nBefore, n) = sink.compact("t")
      assert(n < nBefore)
      val compacted = files()
      assert(sink.compact("t") == (n, n))
      assert(files() == compacted)
      assert(sink.read("t").count() == 5)
    }
  }
}
