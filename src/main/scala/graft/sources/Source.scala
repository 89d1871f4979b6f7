package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-agnostic source abstraction (SURVEY.md §2.1): each format's
  * scan is a [[Source]] returning a DataFrame (the reference ingests
  * Excel sheets and a JSON array, extract.py:46-128).
  */
trait Source {
  def load(spark: SparkSession): DataFrame
}

/** Whole-document JSON array scan (SURVEY §2.1 S2): the reference loads one
  * JSON doc that is an array of records (extract.py:120-123), which in
  * Spark is multiLine=true (NOT newline-delimited JSON). */
final case class JsonArraySource(path: String, schema: Option[StructType] = None)
    extends Source {
  def load(spark: SparkSession): DataFrame = {
    val r = spark.read.option("multiLine", value = true)
    schema.fold(r)(r.schema).json(path)
  }
}

/** ORC directory/file scan — the second columnar format Spark ships
  * natively (vectorized reader, pushdown/pruning like parquet); here so
  * a warehouse standardized on ORC plugs into the same Source seam. */
final case class OrcSource(path: String) extends Source {
  def load(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** Header-bearing CSV scan — the portable stand-in for tabular sheet data
  * when fixtures are pre-converted (SURVEY §2.1 S1 option a). */
final case class CsvSource(path: String, header: Boolean = true,
    schema: Option[StructType] = None) extends Source {
  def load(spark: SparkSession): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }
}

/** Driver-side rows source (SURVEY §2.1 S1 option b): irregular KB-scale
  * catalog sheets (the reference's Excel workbook) are parsed on the driver
  * — by whatever sheet reader is available — into ordered rows, then
  * parallelized. File order is preserved by construction, which the
  * sentinel-split and keep-first-dedup semantics depend on
  * (SURVEY §2.2 P1/P2, §2.4 A2). For big data this is the wrong tool;
  * big inputs arrive as parquet/CSV/JSON and never pass the driver.
  */
final case class InlineRowsSource(rows: Seq[Row], schema: StructType)
    extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000 + 1)),
      schema)
}

/** JDBC table scan (SURVEY §2.1 S4; /root/reference/src/load.py:7-18
  * reads `SELECT {pk} FROM {table}` from Postgres). `keys` is the
  * column-pruned existing-PK read the incremental load joins against —
  * pushdown sends only the key column over the wire.
  *
  * Runtime-exercised against embedded Apache Derby (which ships in the
  * Spark distribution's jars): JdbcSpec drives load/keys/append and the
  * full insert-if-absent flow through the real JDBC read/write
  * machinery. A deployment swaps the URL (+ driver jar) for its
  * warehouse and these options work unchanged.
  */
final case class JdbcSource(url: String, table: String,
    properties: Map[String, String] = Map.empty) extends Source {
  def load(spark: SparkSession): DataFrame =
    properties.foldLeft(
      spark.read.format("jdbc").option("url", url).option("dbtable", table)
    ) { case (r, (k, v)) => r.option(k, v) }.load()

  /** Key-only scan — the S4 shape (`get_existing_ids`, load.py:13-14). */
  def keys(spark: SparkSession, pkCol: String): DataFrame =
    load(spark).select(org.apache.spark.sql.functions.col(pkCol))

  /** Whether the table resolves on the remote database. Spark's JDBC
    * relation fetches the schema eagerly (a `WHERE 1=0` probe) at
    * DataFrame creation, so resolution failure IS the existence test —
    * no dialect-specific catalog query needed. */
  def tableExists(spark: SparkSession): Boolean =
    try { load(spark).schema; true } catch { case _: Exception => false }
}

/** JDBC append writer (SURVEY §2.1 S5; load.py:40,58 —
  * `to_sql(if_exists='append')`). Append-only like the reference: never
  * an UPDATE/MERGE. */
object JdbcSink {
  def append(df: DataFrame, url: String, table: String,
      properties: Map[String, String] = Map.empty): Unit =
    properties.foldLeft(
      df.write.format("jdbc").option("url", url).option("dbtable", table)
    ) { case (w, (k, v)) => w.option(k, v) }
      .mode(org.apache.spark.sql.SaveMode.Append).save()

  /** Insert-if-absent against a live JDBC table — the reference's exact
    * serving flow (load.py:13-14 reads existing PKs, :40,58 appends only
    * absent rows) through the same [[InsertIfAbsent]] pass as the
    * parquet warehouse sink. Within-batch PK uniqueness is enforced
    * before any row lands (the remote PK constraint would reject the
    * load anyway). Existing keys arrive as a column-pruned distributed
    * JDBC scan (partitionColumn / numPartitions in `properties`) and
    * are joined without driver involvement — the reference's
    * driver-side Python `set` is the one thing this must never
    * recreate. Returns (inserted, ignored). */
  def appendOnlyNew(spark: SparkSession, df: DataFrame, url: String,
      table: String, pkCol: String,
      properties: Map[String, String] = Map.empty): (Long, Long) = {
    val src = JdbcSource(url, table, properties)
    InsertIfAbsent(df, s"jdbc table '$table'", pkCol, new KeyedStore {
      def exists: Boolean = src.tableExists(spark)
      def keys(pkCol: String): DataFrame = src.keys(spark, pkCol)
      def append(rows: DataFrame): Unit =
        JdbcSink.append(rows, url, table, properties)
    })
  }
}
