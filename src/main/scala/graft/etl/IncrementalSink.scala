package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Insert-if-absent incremental sink (SURVEY.md §2.1 S6, §2.9;
  * /root/reference/src/load.py:20-68).
  *
  * Semantics preserved exactly: read the sink's existing PKs, keep only
  * incoming rows whose PK is absent, append those — never update (re-sent
  * changed rows are silently ignored; SURVEY §7.3 warns against
  * "upgrading" this to MERGE). Nulls: pandas `~isin` keeps null-PK rows
  * and so does left_anti — aligned for free.
  *
  * Scale: the reference collects existing PKs into a driver-side set
  * (load.py:15); here the filter is a distributed left_anti join against
  * a key-only scan of the sink, so nothing ever lands on the driver. On a
  * real deployment the sink is a catalog/Delta table or JDBC; locally it
  * is a parquet directory per table, which keeps append atomic-enough for
  * single-writer tests (a production deployment would use a transactional
  * table format for multi-writer).
  */
final class IncrementalSink(spark: SparkSession, warehouseDir: String,
    partitioning: Map[String, Seq[String]] = StarSchema.partitioning,
    varcharLimits: Map[String, Map[String, Int]] = StarSchema.varcharLimits,
    foreignKeys: Map[String, Seq[(String, String, String)]] =
      StarSchema.foreignKeys) {

  private def path(table: String) = s"$warehouseDir/$table"

  /** VARCHAR(n) width enforcement (ddl_tienda_pago_bi.sql:11,18,24,32):
    * Postgres errors on overflow, Spark silently stores — so the sink
    * checks declared string widths before any write lands. One
    * max(length) aggregate over the (dim-scale) frame; tables with no
    * declared limits (the fact) pay nothing. */
  private def checkVarchar(df: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.{length, max}
    val limits = varcharLimits.getOrElse(table, Map.empty).toSeq
    val absent = limits.collect {
      case (c, _) if !df.columns.contains(c) => c
    }
    // loud, like the missing-partition-column case: silently skipping a
    // declared limit is exactly the Spark-vs-Postgres gap being closed
    require(absent.isEmpty,
      s"table '$table' declares VARCHAR limits on $absent but the frame " +
        s"lacks those columns")
    if (limits.nonEmpty) {
      val widest = df.agg(max(length(col(limits.head._1))),
        limits.tail.map { case (c, _) => max(length(col(c))) }: _*).head()
      limits.zipWithIndex.foreach { case ((c, n), i) =>
        val got = if (widest.isNullAt(i)) 0 else widest.getInt(i)
        require(got <= n,
          s"table '$table' column '$c' exceeds VARCHAR($n): longest " +
            s"incoming value is $got chars — the warehouse DDL rejects this")
      }
    }
  }

  /** Partitioned write when the table has a partition spec (SURVEY §4:
    * the fact by date). A declared partition column MISSING from the
    * frame fails loudly: silently writing unpartitioned files into a
    * partitioned directory corrupts the table's layout (mixed
    * root-level and `col=.../` files break partition discovery on the
    * next read). */
  private def write(df: DataFrame, mode: SaveMode, table: String): Unit = {
    val cols = partitioning.getOrElse(table, Nil)
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"table '$table' declares partition columns $cols but the frame lacks $missing")
    checkVarchar(df, table)
    val w = df.write.mode(mode)
    (if (cols.nonEmpty) w.partitionBy(cols: _*) else w).parquet(path(table))
  }

  /** True iff the table directory exists and is non-empty. Goes
    * through the path's Hadoop FileSystem, so `file:`/`hdfs:` URIs and
    * plain paths resolve alike. */
  def exists(table: String): Boolean = {
    val p = new Path(path(table))
    val fs = ParquetStore.hfs(spark, p)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  /** Bootstrap / full-refresh load — the DDL-reset analog
    * (/root/reference/sql/ddl_tienda_pago_bi.sql:1-6). */
  def overwrite(df: DataFrame, table: String): Unit =
    write(df, SaveMode.Overwrite, table)

  /** Incremental append of only-new PKs. Returns (inserted, ignored) —
    * the reference logs the same accounting (load.py:53-57).
    *
    * Within-batch PK uniqueness is ENFORCED (the analog of the
    * reference's Postgres PK constraints, ddl_tienda_pago_bi.sql:10-42 —
    * its DB rejects a load carrying internal duplicates; silently
    * appending both rows would poison the never-update table forever):
    * a batch with duplicate non-null PKs fails loudly before anything
    * is written. Dedup belongs UPSTREAM where an order exists to pick
    * the survivor (Transform.dedupKeepFirst, the A2 operator) — the
    * sink has no row order to make that choice deterministically.
    * Null PKs are exempt (pandas `~isin` parity keeps null-PK rows;
    * SQL PK columns are NOT NULL so the reference never faces them).
    * The check is FREE of extra scans: it rides the same aggregate
    * that produces the incoming count. */
  def appendOnlyNew(df: DataFrame, table: String, pkCol: String)
      : (Long, Long) = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    val acct = df.agg(count(lit(1)), count(col(pkCol)),
      countDistinct(col(pkCol))).head()
    val incomingCount = acct.getLong(0)
    val dupes = acct.getLong(1) - acct.getLong(2)
    require(dupes == 0L,
      s"table '$table': incoming batch carries $dupes duplicate non-null " +
        s"'$pkCol' rows; the never-update sink refuses ambiguous batches — " +
        s"dedup upstream (Transform.dedupKeepFirst) where row order exists")
    if (!exists(table)) {
      write(df, SaveMode.Overwrite, table)
      (incomingCount, 0L)
    } else {
      val existingKeys = read(table).select(col(pkCol))
      // localCheckpoint (eager) CUTS the lineage and materializes the
      // anti-join result before the append touches the target directory.
      // persist() would not be safe here: it is best-effort, and an
      // evicted block would recompute from a plan that reads the very
      // directory being appended to (self-referential append).
      val fresh = df.join(existingKeys, Seq(pkCol), "left_anti")
        .localCheckpoint(true)
      val freshCount = fresh.count() // served from checkpointed blocks
      if (freshCount > 0)
        write(fresh.select(df.columns.map(col).toIndexedSeq: _*),
          SaveMode.Append, table)
      (freshCount, incomingCount - freshCount)
    }
  }

  /** Compact a table's accumulated small append-files into ~128 MiB
    * outputs. Daily incremental appends (load.py's cadence) add a file
    * per run per partition; after months the fact is thousands of tiny
    * files and scan planning/open overhead dominates — the classic
    * small-files problem of append-only sinks. The rewrite is the
    * stores' shared temp-write-then-verified-swap
    * ([[ParquetStore.compact]]), keeping the table's partition layout;
    * every crash window of a previous run heals on the next call, so
    * rerunning `compact` repairs and retries.
    * Returns (files before, files after). */
  def compact(table: String): (Long, Long) =
    ParquetStore.compact(spark, path(table), read(table),
      partitioning.getOrElse(table, Nil))

  /** FK enforcement against the LOADED parents (the REFERENCES analog,
    * ddl_tienda_pago_bi.sql:33,40-42 — Postgres rejects an insert whose
    * non-null FK has no parent row). One left_anti per declared FK; the
    * parent side is a key-only scan of a dim (broadcast-scale), so the
    * fact pays three cheap broadcast anti-joins, mirroring what the
    * database did on every insert. Null FKs pass, as in SQL. A missing
    * parent TABLE fails too — load order should have created it. */
  private def checkForeignKeys(df: DataFrame, table: String): Unit =
    foreignKeys.getOrElse(table, Nil).foreach { case (fk, parent, ppk) =>
      require(exists(parent),
        s"table '$table' declares FK $fk -> $parent($ppk) but '$parent' " +
          s"is not loaded — star load order violated")
      val orphans = df.select(col(fk)).where(col(fk).isNotNull)
        .join(read(parent).select(col(ppk).as(fk)), Seq(fk), "left_anti")
        .count()
      require(orphans == 0L,
        s"table '$table': $orphans rows violate FK $fk -> $parent($ppk) — " +
          s"the warehouse REFERENCES constraint rejects this batch")
    }

  /** FK-ordered load of the whole star (SURVEY §3.1;
    * /root/reference/src/main.py:70-89): parents before children before
    * the fact; empty tables are skipped with a warning, like the
    * reference. FKs are checked against the already-loaded parents
    * before each table lands. Returns per-table (inserted, ignored). */
  def loadStar(tables: Map[String, DataFrame]): Map[String, (Long, Long)] =
    StarSchema.loadOrder.flatMap { t =>
      tables.get(t).map { df =>
        val pk = StarSchema.primaryKeys(t)
        checkForeignKeys(df, t)
        t -> appendOnlyNew(df, t, pk)
      }
    }.toMap
}
