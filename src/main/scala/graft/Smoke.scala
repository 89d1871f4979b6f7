package graft

import graft.engine.GraftSession

/** Local smoke: replicates the driver's t1 gate — SparkEntry.entry on
  * sf0.001 must return rows > 0. Run via scripts/run_verify.sh with
  * MAIN=graft.Smoke.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus(8))
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
