package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.engine.Tables
import graft.functions.TextHash
import graft.operators.Sketch

/** The streaming CMS grid must accumulate across checkpointed drains
  * to exactly the batch sketch of the union, and the drained grid
  * must serve batch-side estimates with the never-undercount
  * invariant intact. */
class CmsStreamSpec extends SparkSpec {

  private val width = 64

  test("two checkpointed drains accumulate to the batch sketch of the union") {
    val srcDir = Files.createTempDirectory("graft_cms_src").toString
    val ckpt = Files.createTempDirectory("graft_cms_ckpt").toString

    val occ = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        explode(TextHash.tokenHashesOf(col("text"))).as("h"))
    val first = occ.where(col("doc_id") % 2 === 0).select("h")
    val second = occ.where(col("doc_id") % 2 =!= 0).select("h")

    def drain(): Unit = {
      val in = spark.readStream.schema(first.schema).parquet(srcDir)
      Sketch.cmBuild(in, "h", width)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .format("memory").queryName("cms_grid")
        .start()
        .awaitTermination()
    }

    first.write.mode("append").parquet(srcDir)
    drain()
    second.write.mode("append").parquet(srcDir)
    drain()

    val streamed = spark.table("cms_grid")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketch.cmBuild(occ.select("h"), "h", width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty && streamed == batch)

    // the drained grid serves batch estimates: never undercounts
    val exact = occ.groupBy("h").agg(count(lit(1)).as("cf"))
    val est = Sketch.cmEstimate(exact, "h", spark.table("cms_grid"), width)
      .collect().map(r => (r.getAs[Long]("cf"), r.getAs[Long]("est_cf")))
    assert(est.nonEmpty && est.forall { case (cf, e) => e >= cf })
  }
}
