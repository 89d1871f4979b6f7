package graft.etl

import org.apache.spark.sql.types._

/** The target star schema (SURVEY.md §1.2; authoritative DDL at
  * /root/reference/sql/ddl_tienda_pago_bi.sql:9-46) and the raw source
  * shapes (FIXTURES.md §A).
  *
  * Type choices: money is DECIMAL(12,2) end-to-end so SUM is exact like
  * the Postgres serving layer's; surrogate keys are INT for parity with
  * the DDL (at true 100 TB scale they'd be LongType — the transform code
  * is agnostic, only these schemas would change).
  */
object StarSchema {

  val dimSedes: StructType = StructType(Seq(
    StructField("id_sede", IntegerType, nullable = false),
    StructField("nombre_sede", StringType)))

  val dimTipoTransaccion: StructType = StructType(Seq(
    StructField("id_tipo_trx", IntegerType, nullable = false),
    StructField("descripcion_tipo", StringType)))

  val dimDistribuidores: StructType = StructType(Seq(
    StructField("id_distribuidor", IntegerType, nullable = false),
    StructField("nombre_distribuidor", StringType)))

  val dimClientes: StructType = StructType(Seq(
    StructField("id_cliente", IntegerType, nullable = false),
    StructField("fecha_afiliacion", DateType),
    StructField("fecha_primera_trx", DateType),
    StructField("telefono", LongType),
    StructField("categoria", StringType),
    StructField("recomendados", IntegerType),
    StructField("id_distribuidor", IntegerType)))

  val fctTransacciones: StructType = StructType(Seq(
    StructField("id_trx", IntegerType, nullable = false),
    StructField("id_cliente", IntegerType),
    StructField("id_sede", IntegerType),
    StructField("id_tipo_trx", IntegerType, nullable = false),
    StructField("fecha_trx", TimestampType),
    StructField("monto", DecimalType(12, 2)),
    StructField("fee", DecimalType(12, 2))))

  /** Primary keys per table — the reference hardcodes the same registry
    * for its incremental load (/root/reference/src/load.py:30-36). */
  val primaryKeys: Map[String, String] = Map(
    "dim_sedes" -> "id_sede",
    "dim_tipo_transaccion" -> "id_tipo_trx",
    "dim_distribuidores" -> "id_distribuidor",
    "dim_clientes" -> "id_cliente",
    "fct_transacciones" -> "id_trx")

  /** VARCHAR(n) width limits from the DDL
    * (ddl_tienda_pago_bi.sql:11,18,24,32) — Postgres ERRORS on overflow
    * where Spark's StringType silently stores; the sink enforces these
    * at load so an over-wide value fails the batch exactly where the
    * reference's warehouse would (SURVEY §1.2's open note, closed). */
  val varcharLimits: Map[String, Map[String, Int]] = Map(
    "dim_sedes" -> Map("nombre_sede" -> 50),
    "dim_tipo_transaccion" -> Map("descripcion_tipo" -> 50),
    "dim_distribuidores" -> Map("nombre_distribuidor" -> 100),
    "dim_clientes" -> Map("categoria" -> 50))

  /** FK-respecting load order (/root/reference/src/main.py:70-80):
    * independent dims, then dependent dims, then the fact. */
  val loadOrder: Seq[String] = Seq(
    "dim_sedes", "dim_tipo_transaccion", "dim_distribuidores",
    "dim_clientes", "fct_transacciones")

  /** FK registry from the DDL (ddl_tienda_pago_bi.sql:33,40-42):
    * child table → (fk column, parent table, parent pk). Postgres
    * REFERENCES rejects an insert whose non-null FK has no parent row;
    * the sink replays that check against the loaded parents (load
    * order guarantees parents land first). Null FKs pass, as in SQL. */
  val foreignKeys: Map[String, Seq[(String, String, String)]] = Map(
    "dim_clientes" -> Seq(
      ("id_distribuidor", "dim_distribuidores", "id_distribuidor")),
    "fct_transacciones" -> Seq(
      ("id_cliente", "dim_clientes", "id_cliente"),
      ("id_sede", "dim_sedes", "id_sede"),
      ("id_tipo_trx", "dim_tipo_transaccion", "id_tipo_trx")))

  /** Physical partitioning per table (SURVEY §4): the fact partitions
    * by transaction date (the derived `fecha_trx_date` column from
    * Transform.buildFact); dims stay unpartitioned — they are
    * catalog-scale and a partition per value would be pure overhead. */
  val partitioning: Map[String, Seq[String]] = Map(
    "fct_transacciones" -> Seq("fecha_trx_date"))

  // Raw source shapes (FIXTURES.md §A) — all-string where the reference
  // relies on coerce-to-null casting downstream.

  val rawClientes: StructType = StructType(Seq(
    StructField("IDCLIENTE", IntegerType),
    StructField("fechaafiliacion", StringType),
    StructField("fechaprimertrx", StringType)))

  val rawTransacciones: StructType = StructType(Seq(
    StructField("_c0", StringType), StructField("_c1", StringType),
    StructField("_c2", StringType), StructField("_c3", StringType),
    StructField("_c4", StringType), StructField("_c5", StringType),
    StructField("_c6", StringType)))

  val rawRecomendados: StructType = StructType(Seq(
    StructField("IDCLIENTE", IntegerType),
    StructField("IDDISTRIBUIDOR", IntegerType),
    StructField("NOMBRE DISTRIBUIDOR", StringType),
    StructField("TELEFONO", LongType),
    StructField("categoría", StringType),
    StructField("recomendados", IntegerType)))
}
