package graft
import java.nio.file.{Files, Paths}
import graft.engine.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCpus(4))
    GraftSession.quietKnownBenignWarnings()
    new java.io.File(outDir).mkdirs()
    // dev-loop filter (Bench's SPARK_GRAFT_BENCH_ONLY precedent): a
    // filtered dump writes only matching query dirs, so a later full
    // check.py run over the SAME outDir still covers everything — the
    // filter can't silently narrow the driver's gate because the driver
    // sets no env and always dumps the full registry.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(f => name.contains(f)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // several operators persist() shared intermediates whose lifetime
      // is the consumer's to end (their results are lazy frames); this
      // query's result is fully materialized above, so its caches are
      // dead weight for the remaining queries — drop them
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
