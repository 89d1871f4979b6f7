package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.engine.Tables
import graft.operators.Profiling

/** The streaming histogram must equal the batch histogram over the
  * same (drained) rows — including ACROSS drains: counters accumulate
  * in the aggregation state between AvailableNow runs that share a
  * checkpoint, which is the live-monitor deployment shape. */
class HistogramStreamSpec extends SparkSpec {

  private val widths = Seq("l_quantity" -> 8.0, "l_discount" -> 0.015625)

  test("two checkpointed drains accumulate to the batch histogram of the union") {
    val srcDir = Files.createTempDirectory("graft_hist_src").toString
    val ckpt = Files.createTempDirectory("graft_hist_ckpt").toString

    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_quantity", "l_discount", "l_orderkey")
    val first = li.where(col("l_orderkey") % 2 === 0)
    val second = li.where(col("l_orderkey") % 2 =!= 0)

    def drain(): Unit = {
      val in = spark.readStream.schema(first.schema).parquet(srcDir)
      Profiling.bucketCounts(in, widths)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .format("memory").queryName("hist")
        .start()
        .awaitTermination()
    }

    first.write.mode("append").parquet(srcDir)
    drain()
    val afterFirst = spark.table("hist").collect().map(_.getLong(3)).sum
    second.write.mode("append").parquet(srcDir)
    drain()

    val streamed = spark.table("hist")
      .orderBy(col("column_name"), col("bucket").asc_nulls_first)
      .collect().toSeq
    val batch = Profiling.histogram(li, widths).collect().toSeq

    assert(streamed.nonEmpty && streamed == batch)
    // the second drain really did ACCUMULATE onto restored state
    assert(afterFirst == first.count() * widths.size)
    assert(streamed.map(_.getLong(3)).sum == li.count() * widths.size)
  }
}
