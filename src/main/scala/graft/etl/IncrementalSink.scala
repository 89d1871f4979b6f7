package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * materialized once, checked by one tally and appended once. Each
  * table is a [[ParquetStore]] handle, which gates its reads and
  * appends and owns its compaction. The broadcast holds one key
  * column: at a scale where the stored keys outgrow a broadcast, this
  * is the hint to drop (Spark then plans a shuffle join; the pass is
  * unchanged). Never update: re-sent changed rows are ignored. Null
  * PKs always insert. Locally the directory append is atomic enough
  * for one writer; a multi-writer deployment needs a transactional
  * table format.
  */
final class IncrementalSink(spark: SparkSession, warehouseDir: String,
    partitioning: Map[String, Seq[String]] = StarSchema.partitioning,
    varcharLimits: Map[String, Map[String, Int]] = StarSchema.varcharLimits,
    foreignKeys: Map[String, Seq[(String, String, String)]] =
      StarSchema.foreignKeys) {

  /** The table's handle: its directory under `warehouseDir`, laid out
    * by its partition spec (SURVEY §4: the fact by date). */
  private[graft] def store(table: String): ParquetStore =
    new ParquetStore(spark, s"$warehouseDir/$table", s"table '$table'",
      partitioning.getOrElse(table, Nil))

  /** True iff the table holds committed data ([[ParquetStore.exists]]). */
  def exists(table: String): Boolean = store(table).exists

  /** The table's rows ([[ParquetStore.read]]: no job infers the
    * schema). */
  def read(table: String): DataFrame = store(table).read(
    throw new IllegalStateException(
      s"table '$table' is not loaded under $warehouseDir"))

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
    store(table).overwrite(df)
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
      def append(rows: DataFrame): Unit = store(table).append(rows)
    }, probes, limits(table))
  }

  /** Compact a table's accumulated small append-files into ~128 MiB
    * outputs. Daily incremental appends (load.py's cadence) add a file
    * per run per partition; after months the fact is thousands of tiny
    * files and scan planning/open overhead dominates — the classic
    * small-files problem of append-only sinks. The rewrite
    * ([[ParquetStore.compact]]) keeps the table's partition layout and
    * skips a table that is already compact. Returns (files before,
    * files after). */
  def compact(table: String): (Long, Long) =
    store(table).compact(read(table), skipIfCompact = true)

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
