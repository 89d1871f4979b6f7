package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.sources.{InsertIfAbsent, KeyedStore}

/** The warehouse sink: one parquet directory per star table under
  * `warehouseDir` (any Hadoop path), loaded insert-if-absent (SURVEY.md
  * §2.1 S6, §2.9; load.py:20-68) with the warehouse DDL's PK, FK and
  * VARCHAR checks (ddl_tienda_pago_bi.sql:10-42).
  *
  * Each table load is [[InsertIfAbsent]]'s single pass: the incoming
  * rows are probed against broadcast key-only reads of the table's
  * stored PKs and (on the [[loadStar]] path) of each FK parent's PKs,
  * materialized once, checked by one tally and appended once. Table
  * reads take their schema from a data file's footer on the driver, so
  * no job infers it. The broadcast holds one key column: at a scale
  * where the stored keys outgrow a broadcast, this is the hint to drop
  * (Spark then plans a shuffle join; the pass is unchanged). Never
  * update: re-sent changed rows are ignored. Null PKs always insert.
  * Locally the directory append is atomic enough for one writer; a
  * multi-writer deployment needs a transactional table format.
  */
final class IncrementalSink(spark: SparkSession, warehouseDir: String,
    partitioning: Map[String, Seq[String]] = StarSchema.partitioning,
    varcharLimits: Map[String, Map[String, Int]] = StarSchema.varcharLimits,
    foreignKeys: Map[String, Seq[(String, String, String)]] =
      StarSchema.foreignKeys) {

  private def path(table: String) = s"$warehouseDir/$table"

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

  /** The table's rows, read with the schema of a data file's footer,
    * which the driver reads: no job infers it. Partition columns are
    * still discovered from the paths. */
  def read(table: String): DataFrame =
    ParquetStore.footerSchema(spark, path(table))
      .fold(spark.read)(spark.read.schema).parquet(path(table))

  /** Broadcast key-only read of `table`. */
  private def keys(table: String, key: String): DataFrame =
    broadcast(read(table).select(col(key)))

  private def limits(table: String) =
    varcharLimits.getOrElse(table, Map.empty).toSeq

  /** Bootstrap / full-refresh load — the DDL-reset analog
    * (ddl_tienda_pago_bi.sql:1-6). VARCHAR widths are checked over the
    * whole frame; PK uniqueness is the caller's, and later loads rely on
    * it (their key probe is a plain join). */
  def overwrite(df: DataFrame, table: String): Unit = {
    InsertIfAbsent.checkWidths(df, s"table '$table'", limits(table))
    write(df, SaveMode.Overwrite, table)
  }

  /** Incremental append of only-new PKs with the PK and VARCHAR checks;
    * returns (inserted, ignored), the reference's accounting
    * (load.py:53-57). No FK is checked here (stream micro-batches load
    * one table at a time); [[loadStar]] checks them. */
  def appendOnlyNew(df: DataFrame, table: String, pkCol: String)
      : (Long, Long) = load(df, table, pkCol, Nil)

  private def load(df: DataFrame, table: String, pkCol: String,
      fks: Seq[(String, String, String)]): (Long, Long) = {
    val probes = fks.map { case (fk, parent, ppk) =>
      // a missing parent TABLE fails too: load order should have
      // created it
      require(exists(parent),
        s"table '$table' declares FK $fk -> $parent($ppk) but '$parent' " +
          s"is not loaded — star load order violated")
      InsertIfAbsent.ForeignKey(fk, parent, ppk, keys(parent, ppk))
    }
    InsertIfAbsent(df, s"table '$table'", pkCol, new KeyedStore {
      def exists: Boolean = IncrementalSink.this.exists(table)
      def keys(key: String): DataFrame = IncrementalSink.this.keys(table, key)
      def append(rows: DataFrame): Unit =
        write(rows, SaveMode.Append, table)
    }, probes, limits(table))
  }

  /** Compact a table's accumulated small append-files into ~128 MiB
    * outputs. Daily incremental appends (load.py's cadence) add a file
    * per run per partition; after months the fact is thousands of tiny
    * files and scan planning/open overhead dominates — the classic
    * small-files problem of append-only sinks. The rewrite is the
    * stores' shared temp-write-then-verified-swap
    * ([[ParquetStore.compact]]), keeping the table's partition layout
    * and skipping a table that is already compact; every crash window
    * of a previous run heals on the next call, so rerunning `compact`
    * repairs and retries. Returns (files before, files after). */
  def compact(table: String): (Long, Long) =
    ParquetStore.compact(spark, path(table), read(table),
      partitioning.getOrElse(table, Nil), skipIfCompact = true)

  /** FK-ordered load of the whole star (SURVEY §3.1; main.py:70-89):
    * parents before children before the fact. Each table's non-null FKs
    * must find a row in the already-loaded parent (the REFERENCES
    * analog, ddl_tienda_pago_bi.sql:33,40-42); null FKs pass, as in SQL.
    * Returns per-table (inserted, ignored). */
  def loadStar(tables: Map[String, DataFrame]): Map[String, (Long, Long)] =
    StarSchema.loadOrder.flatMap { t =>
      tables.get(t).map { df =>
        t -> load(df, t, StarSchema.primaryKeys(t),
          foreignKeys.getOrElse(t, Nil))
      }
    }.toMap
}
