package graft.engine

import graft.SparkSpec

/** The SQL-text path must reach the native expressions too: q15-style
  * users write SQL strings, not Column chains (SURVEY §3.2).
  */
class SqlFunctionsSpec extends SparkSpec {

  test("graft_dot_product and graft_rp_signature callable from spark.sql") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql("""
      SELECT
        graft_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        graft_rp_signature(array(CAST(0.5 AS FLOAT)), 4) AS sig
    """).collect().head
    assert(r.getDouble(0) == 11.0)
    // one positive dim: bit j set iff hyperplane weight sign(j, 0) = +1
    assert(r.getLong(1) >= 0 && r.getLong(1) < 16)
  }

  test("SQL function result matches the Column API result") {
    import org.apache.spark.sql.functions._
    GraftSession.registerFunctions(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    emb.createOrReplaceTempView("sqlfn_emb")
    val viaSql = spark.sql(
      """SELECT vec_id, graft_dot_product(embedding, embedding) AS d
        |FROM sqlfn_emb ORDER BY vec_id""".stripMargin).collect()
    val viaCol = emb.select(col("vec_id"),
      graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
        .as("d"))
      .orderBy("vec_id").collect()
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("tune registers the graft_* functions once per session") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = new java.util.concurrent.atomic.AtomicInteger()
    val capture = new AbstractAppender("graft-replaced-fn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    capture.start()
    val registry = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    registry.addAppender(capture)
    try {
      GraftSession.tune(spark)
      replaced.set(0)
      GraftSession.tune(spark) // a tuned session: nothing re-registered
      assert(replaced.get == 0, s"${replaced.get} functions re-registered")
      // the capture sees the WARN when a registration does replace
      GraftSession.registerFunctions(spark)
      assert(replaced.get == 11, s"${replaced.get} replacement WARNs")
    } finally {
      registry.removeAppender(capture)
      capture.stop()
    }
    // a fresh session has none of them until tune registers them
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_dot_product"))
    GraftSession.tune(fresh)
    assert(fresh.sql("SELECT graft_dot_product(array(1.0D), array(2.0D))")
      .collect().head.getDouble(0) == 2.0)
  }
}
