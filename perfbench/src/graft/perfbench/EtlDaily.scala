package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Main
import graft.etl.IncrementalSink

/** `etl_daily`: the reference's own product. Each op is one day: the
  * day's source drop through `Main.runEtl` into a warehouse that keeps
  * growing, then `Main.runReport` for that day's cut, and every
  * `compact_every_days` days `Main.runCompact`. */
final class EtlDaily(p: Params, seed: Long, work: Path)
    extends Workload(work) {
  import Workload._

  private var gen: Gen.EtlDays = _
  private val warehouse = dir("warehouse").toString
  private var day = 0
  private var next: Gen.Drop = _
  private var last: (Gen.Drop, Map[String, (Long, Long)], String) = _
  private var sentBytes = 0L
  private val timed = mutable.ArrayBuffer.empty[(Gen.Drop, Map[String, (Long, Long)])]
  private val compactions = mutable.ArrayBuffer.empty[(Double, Long)]

  def generate(): Unit = gen = new Gen.EtlDays(seed, p)

  /** Day 0 is the warm-up op: it creates the warehouse. */
  def setUp(spark: SparkSession): Double = {
    val genS = prepareTimed()
    runDay(spark, Tracer.off)
    checkOp(spark) match {
      case Nil => genS
      case errs => throw new IllegalStateException(
        s"warm-up day failed its check: ${errs.mkString("; ")}")
    }
  }

  private def prepareTimed(): Double = {
    val (d, s) = seconds(gen.next(day, dir(s"drops/day-$day")))
    next = d
    sentBytes += d.bytes
    s
  }

  override def prepare(): Unit = prepareTimed()

  private def runDay(spark: SparkSession, tr: Tracer): Long = {
    val d = next
    val acct = tr.span("etl.sink", "runEtl") {
      Main.runEtl(spark, d.dir.toString, warehouse)
    }
    val msg = tr.span("etl.report", "runReport") {
      Main.runReport(spark, warehouse, d.cut)
    }
    if (d.day > 0 && d.day % p.int("compact_every_days") == 0) {
      val (_, s) = seconds(tr.span("etl.sink", "runCompact") {
        Main.runCompact(spark, warehouse)
      })
      compactions += ((s, bytesUnder(java.nio.file.Paths.get(warehouse))))
    }
    last = (d, acct, msg)
    day += 1
    d.factRows.toLong
  }

  def op(spark: SparkSession, tr: Tracer): Long = {
    val rows = runDay(spark, tr)
    timed += ((last._1, last._2))
    rows
  }

  override def checkOp(spark: SparkSession): Seq[String] = {
    val (d, acct, msg) = last
    val counts = if (acct == d.expected) Nil
      else Seq(s"day ${d.day}: sink accounting $acct, planted ${d.expected}")
    val report = if (msg == d.report) Nil
      else Seq(s"day ${d.day}: report differs from the sum over generated " +
        s"rows:\n$msg\nexpected:\n${d.report}")
    counts ++ report
  }

  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val ids = new IncrementalSink(spark, warehouse).read("fct_transacciones")
      .select("id_trx").collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    val stored = ids.flatten
    val (keys, nullRows) = gen.factKeys
    Seq(
      (stored.length == stored.distinct.length) ->
        s"fact holds ${stored.length - stored.distinct.length} duplicated id_trx values",
      (stored.toSet == keys) -> s"fact holds ${stored.distinct.length} keys, generator loaded ${keys.size}",
      (ids.count(_.isEmpty) == nullRows) ->
        s"fact holds ${ids.count(_.isEmpty)} NULL-key rows, generator sent $nullRows")
      .collect { case (false, msg) => (None, msg) }
  }

  def storedBytes: Long = bytesUnder(java.nio.file.Paths.get(warehouse))
  def inputBytes: Long = sentBytes

  override def layerExtras(s: Map[String, Map[String, Double]])
      : Map[String, Double] = {
    val fact = timed.map(_._2("fct_transacciones"))
    val ignored = fact.map(_._2).sum.toDouble
    Map(
      "sources.input_bytes" -> mean(timed.map(_._1.bytes.toDouble).toSeq),
      "sources.scan_task_s" -> s("sources")("run_s"),
      "etl.sink.ignored_frac" -> ignored / math.max(1.0, fact.map(_._1).sum + ignored),
      "etl.sink.fact_files" -> filesUnder(
        java.nio.file.Paths.get(warehouse, "fct_transacciones"), ".parquet").toDouble,
      "etl.sink.compact_s" -> mean(compactions.map(_._1).toSeq),
      "etl.sink.bytes_rewritten" -> mean(compactions.map(_._2.toDouble).toSeq),
      "etl.report.input_bytes" -> s("etl.report")("input_bytes"))
  }

  override def detail: Map[String, Any] = Map(
    "days" -> timed.size, "compactions" -> compactions.size)
}
