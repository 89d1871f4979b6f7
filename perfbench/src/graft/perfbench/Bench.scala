package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** The product-path benchmark: one workload, one seed, one JVM.
  *
  * {{{
  * graft.perfbench.Bench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --results <file> [--commit <id>]
  *   [--setup-only 1] [--param name=value ...]
  * }}}
  *
  * Set-up (session, function registration, the workload's initial
  * state and one untimed warm-up op) is timed from JVM start. Then ops
  * run in a closed loop for `--seconds`, the outputs are checked, and
  * the last stdout line is the result object. With `--setup-only 1`
  * the run stops after set-up and prints nothing, which is how
  * `perfbench/run.py` records the class-data sharing archive; it also
  * builds the classes and launches this. */
object Bench {
  val NoLayer = "bench"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, results: Path, commit: String,
      setupOnly: Boolean, params: Map[String, String])

  def parse(args: Array[String]): Opts = {
    val flags = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", kv) if kv.contains('=') =>
        val (k, v) = kv.splitAt(kv.indexOf('='))
        params(k) = v.drop(1)
      case Array(k, v) if k.startsWith("--") => flags(k.drop(2)) = v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }
    def need(k: String) = flags.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("results")),
      flags.getOrElse("commit", "unknown"),
      flags.get("setup-only").contains("1"), params.toMap)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim

  /** Aggregate (steal, total) jiffies of all CPUs, from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** CPU time of this process so far, in seconds. */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .linesIterator.collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(Double.NaN)

  /** Heap in use after a full collection plus non-heap in use, in
    * MiB: what the program holds at this point, whenever the collector
    * last ran. */
  private def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def newSession(cores: Int): SparkSession = {
    val s = GraftSession.local(cores = cores, appName = "perfbench")
    GraftSession.quietKnownBenignWarnings()
    s
  }

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val params = new Params(o.params)
    val wl: Workload = o.workload match {
      case "etl_daily" => new EtlDaily(params, o.seed, o.work)
      case "llm_data" =>
        val ingest = new DedupIngest(params, o.seed, o.work.resolve("ingest"))
        new Composite(Seq(
          new CorpusCurate(params, o.seed, o.work.resolve("curate"), staged = o.trace),
          ingest,
          new AnnSearch(params, o.seed, o.work.resolve("search"))),
          stored = ingest, o.work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(o.work)

    // set-up counts from JVM start and leaves out input generation
    val spark = newSession(cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (_, generateS) = Workload.seconds(wl.generate())
    val (genInSetUp, warmS) = Workload.seconds(wl.setUp(spark))
    val setupS = sessionS + warmS - genInSetUp
    if (o.setupOnly) {
      spark.stop()
      return 0
    }
    val live = mutable.ArrayBuffer(liveMb())

    // timed phase: closed loop, one client
    val tr = if (o.trace) Tracer.on(spark.sparkContext) else Tracer.off
    val lat = mutable.ArrayBuffer.empty[Double]
    val cached = mutable.ArrayBuffer.empty[Double]
    val opErrors = mutable.ArrayBuffer.empty[(Int, String)]
    var rows = 0L
    var attempted = 0
    var timedNs = 0L
    var cpuS = 0.0
    val phaseStartMs = tr.nowMs
    val (steal0, ticks0) = cpuTicks()
    // the input preparation, memory measurement and output check between
    // ops stay out of the timed phase and its deadline
    while (timedNs < o.seconds * 1000000000L && wl.hasNext && opErrors.isEmpty) {
      wl.prepare()
      attempted += 1
      try {
        val cpu0 = processCpuS()
        val a = System.nanoTime()
        rows += tr.span(NoLayer, s"op-$attempted")(wl.op(spark, tr))
        val ns = System.nanoTime() - a
        timedNs += ns
        cpuS += processCpuS() - cpu0
        lat += ns / 1e9
        live += liveMb()
        wl.checkOp(spark).foreach(e => opErrors += ((attempted - 1, e)))
      } catch {
        case e: Exception =>
          e.printStackTrace()
          opErrors += ((attempted - 1, s"op failed: $e"))
      }
      if (tr.enabled)
        cached += spark.sparkContext.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize).toDouble).sum
    }
    val wallS = timedNs / 1e9
    val (steal1, ticks1) = cpuTicks()
    val phaseEndMs = tr.nowMs

    val runErrors = if (opErrors.nonEmpty) Nil else wl.check(spark)
    val failedOps = (opErrors.map(_._1) ++ runErrors.flatMap(_._1)).distinct
    val errors = opErrors.map { case (i, e) => s"op $i: $e" } ++
      runErrors.map { case (i, e) => i.fold(e)(j => s"op $j: $e") }
    val correct = errors.isEmpty && attempted > 0

    tr.drain()
    val summary = tr.summary(phaseStartMs, phaseEndMs, lat.size)
    val extras = wl.layerExtras(summary)
    val storedRatio = wl.storedBytesRatio
    val rss = peakRssMb()
    spark.stop()
    val loadAfter = loadavg()

    val sortedLat = lat.sorted
    val tail = if (sortedLat.size < 20) None else {
      // the highest percentile with at least ten samples beyond it
      val n = sortedLat.size
      Some(Map("value" -> sortedLat(n - 11),
        "percentile" -> 100.0 * (n - 10) / n, "samples" -> n))
    }
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val endToEnd = Map(
      "setup_s" -> m(setupS, "s"),
      "wall_s" -> m(wallS, "s"),
      "op_p50_s" -> m(Workload.median(lat.toSeq), "s"),
      "rows_per_s" -> m(rows / wallS, "rows/s"),
      "live_mb" -> m(live.max, "MiB"),
      "stored_bytes_ratio" -> m(storedRatio, "ratio"))
    val perLayer: Map[String, Map[String, Any]] =
      summary.toSeq.flatMap { case (layer, ms) =>
        Seq("self_s" -> "s/op", "jobs" -> "count/op", "stages" -> "count/op",
          "tasks" -> "count/op", "cpu_s" -> "s/op", "gc_s" -> "s/op",
          "shuffle_bytes" -> "B/op", "spill_bytes" -> "B/op",
          "driver_gap_s" -> "s/op").map { case (k, unit) =>
          s"$layer.$k" -> m(ms(k), unit)
        }
      }.toMap ++ LayerExtras.units.map { case (k, unit) =>
        k -> m(extras.getOrElse(k, 0.0), unit)
      } ++ Map(
        "engine.session_s" -> m(sessionS, "s"),
        "engine.cached_bytes_after_op" ->
          m(if (cached.isEmpty) 0.0 else cached.max, "B"))

    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "host" -> Map("nproc" -> cores, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "spark_version" -> spark.version,
        "jvm_xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.toSeq.filter(_.toString.startsWith("-X")),
        "commit" -> o.commit,
        // share of the host's CPU time the hypervisor withheld from this
        // machine during the timed phase: the usual cause of a slow run
        "steal_frac_timed" ->
          (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)),
      "params" -> o.params,
      "generate_s" -> (generateS + genInSetUp), "session_s" -> sessionS,
      "warmup_s" -> (warmS - genInSetUp),
      "op_latencies_s" -> lat.toSeq, "op_tail_s" -> tail,
      "timed_cpu_s" -> cpuS, "peak_rss_mb" -> rss,
      "failed_frac" -> (if (attempted == 0) 0.0 else failedOps.size.toDouble / attempted),
      "errors" -> errors.toSeq, "end_to_end" -> endToEnd,
      "per_layer" -> perLayer, "workload_detail" -> wl.detail)
    Files.createDirectories(o.results.toAbsolutePath.getParent)
    Files.write(o.results, json.writeValueAsString(detail ++
      (if (o.trace) Map("trace" -> tr.dump) else Map.empty)).getBytes(UTF_8))
    errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    println("# detail " + json.writeValueAsString(detail - "per_layer" - "end_to_end"))
    println(json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> attempted,
      "failed" -> failedOps.size,
      "metrics" -> (if (o.trace) perLayer else endToEnd))))
    if (correct) 0 else 1
  }
}

/** The layer-specific per-layer metrics and their units; a workload
  * that does not touch a layer reports 0. */
object LayerExtras {
  val units: Seq[(String, String)] = Seq(
    "sources.input_bytes" -> "B/op",
    "sources.scan_task_s" -> "s/op",
    "etl.sink.ignored_frac" -> "ratio",
    "etl.sink.fact_files" -> "count",
    "etl.sink.compact_s" -> "s",
    "etl.sink.bytes_rewritten" -> "B",
    "etl.report.input_bytes" -> "B/op",
    "etl.lsh_index.store_rows" -> "count",
    "etl.lsh_index.store_files" -> "count",
    "etl.lsh_index.compact_s" -> "s",
    "operators.dedup.confirmed_per_candidate" -> "ratio",
    "operators.quantize.index_s" -> "s",
    "operators.quantize.recall_at_k" -> "ratio")
}
