package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.engine.Tables
import graft.functions.TextHash
import graft.operators.Sketch

/** Streaming HLL registers must fold to EXACTLY the batch estimate
  * over the same (drained) events — including across checkpointed
  * drains (state restores and keeps maxing) and under re-delivery
  * (registers are idempotent max-folds, so a replayed file cannot
  * move them). */
class HllStreamSpec extends SparkSpec {

  private val P = TextHash.P
  private val m = 64

  private def hashed(df: org.apache.spark.sql.DataFrame) = {
    val h1 = (col("user_id") % P * 2654435761L % P + 12345L) % P
    val h2 = (col("user_id") % P * 1779033703L % P + 54321L) % P
    df.select(col("event_type"),
      ((h1 * h1 % P) * P + (h2 * h2 % P)).as("h"))
  }

  test("drained registers fold to the batch estimate; re-delivery is a no-op") {
    val srcDir = Files.createTempDirectory("graft_hll_src").toString
    val ckpt = Files.createTempDirectory("graft_hll_ckpt").toString

    val ev = hashed(Tables.events(spark, "/root/testdata/sf0.001"))
    val first = ev.where(col("h") % 2 === 0)
    val second = ev.where(col("h") % 2 =!= 0)

    def drain(): Unit = {
      val in = spark.readStream.schema(ev.schema).parquet(srcDir)
      Sketch.hllRegisters(in, "event_type", "h", m = m)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .format("memory").queryName("hll_regs")
        .start()
        .awaitTermination()
    }

    first.write.mode("append").parquet(srcDir)
    drain()
    second.write.mode("append").parquet(srcDir)
    drain()
    val afterBoth = Sketch.hllEstimateFromRegisters(
      spark.table("hll_regs"), "event_type", m = m)
      .orderBy("event_type").collect().toSeq

    val batch = Sketch.hllDistinct(ev, "event_type", "h", m = m)
      .orderBy("event_type").collect().toSeq
    assert(afterBoth.nonEmpty && afterBoth == batch)

    // re-deliver the FIRST half again: max registers cannot move
    first.write.mode("append").parquet(srcDir)
    drain()
    val afterReplay = Sketch.hllEstimateFromRegisters(
      spark.table("hll_regs"), "event_type", m = m)
      .orderBy("event_type").collect().toSeq
    assert(afterReplay == batch)
  }
}
