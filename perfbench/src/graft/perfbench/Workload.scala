package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Generator parameters of one workload, as `name=value` strings. */
final class Params(values: Map[String, String]) {
  private def get(k: String) =
    values.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = get(k).toInt
  def double(k: String): Double = get(k).toDouble
}

/** One benchmark workload: a closed loop with one client, whose next op
  * starts when the previous one returns.
  *
  * The harness calls [[generate]] (input generation, excluded from
  * set-up time), [[setUp]] (initial state plus one untimed warm-up op),
  * then [[prepare]] and [[op]] until the time is up, then [[check]]. */
abstract class Workload(work: Path) {

  /** Write the inputs. */
  def generate(): Unit

  /** Build the initial state and run one warm-up op. Returns the
    * seconds of it spent generating inputs, which set-up time excludes. */
  def setUp(spark: SparkSession): Double

  /** Whether another op has inputs. */
  def hasNext: Boolean = true

  /** Untimed preparation of the next op's inputs. */
  def prepare(): Unit = ()

  /** One timed op; returns the input rows it offered. */
  def op(spark: SparkSession, tr: Tracer): Long

  /** Output check of the op just run (untimed); empty when it passed. */
  def checkOp(spark: SparkSession): Seq[String] = Nil

  /** Output checks over the whole run: (index of the failed op, if one
    * op is to blame, message). */
  def check(spark: SparkSession): Seq[(Option[Int], String)]

  /** Bytes the workload's outputs hold on disk at the end. */
  def storedBytes: Long

  /** Bytes of the inputs the workload consumed. */
  def inputBytes: Long

  /** Bytes on disk at the end over input bytes. */
  def storedBytesRatio: Double = storedBytes.toDouble / inputBytes

  /** Layer-specific metrics (beyond the common set), by full name. */
  def layerExtras(summary: Map[String, Map[String, Double]])
      : Map[String, Double] = Map.empty

  /** Anything else worth keeping in the result file. */
  def detail: Map[String, Any] = Map.empty

  protected def dir(name: String): Path = work.resolve(name)
}

/** Workloads run back to back as one op: each op runs every part's op
  * in order, and the checks and metrics are the union of the parts'.
  * The stored bytes and input bytes are those of the part `stored`
  * alone; every part's ratio goes to the detail record. */
final class Composite(parts: Seq[Workload], stored: Workload, work: Path)
    extends Workload(work) {
  def generate(): Unit = parts.foreach(_.generate())
  private val setUpS = mutable.ArrayBuffer.empty[Double]
  def setUp(spark: SparkSession): Double = parts.map { w =>
    val (g, s) = Workload.seconds(w.setUp(spark))
    setUpS += s
    g
  }.sum
  override def hasNext: Boolean = parts.forall(_.hasNext)
  override def prepare(): Unit = parts.foreach(_.prepare())
  private val opS = mutable.ArrayBuffer.empty[Seq[Double]]
  def op(spark: SparkSession, tr: Tracer): Long = {
    val done = parts.map(w => Workload.seconds(w.op(spark, tr)))
    opS += done.map(_._2)
    done.map(_._1).sum
  }
  override def checkOp(spark: SparkSession): Seq[String] =
    parts.flatMap(_.checkOp(spark))
  def check(spark: SparkSession): Seq[(Option[Int], String)] =
    parts.flatMap(_.check(spark))
  def storedBytes: Long = stored.storedBytes
  def inputBytes: Long = stored.inputBytes
  override def layerExtras(s: Map[String, Map[String, Double]])
      : Map[String, Double] = parts.flatMap(_.layerExtras(s)).toMap
  override def detail: Map[String, Any] =
    parts.flatMap(_.detail).toMap + ("part_setup_s" -> setUpS.toSeq) +
      ("part_op_s" -> opS.toSeq) +
      ("part_stored_bytes_ratio" -> parts.map(_.storedBytesRatio))
}

object Workload {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith(".")) // CRCs
        .map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(suffix)).toLong
      finally s.close()
    }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
