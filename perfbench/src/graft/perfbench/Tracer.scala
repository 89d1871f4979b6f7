package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer spans around the benchmark's calls into the program, plus a
  * SparkListener that charges every job, stage and task to a layer.
  *
  * A job's layer is the program file of its call site (the innermost
  * `graft.*` frame of the stage's long call-site form, looked up in
  * [[Tracer.layerOfFile]]); jobs called from `Main.scala` or from the
  * benchmark itself fall back to the layer of the span that was open
  * when they were submitted (carried as a job local property, so jobs
  * from helper threads land in the right span too).
  *
  * Everything stays in memory until [[summary]] and [[dump]] run after
  * the timed phase. The disabled tracer (`Tracer.off`) adds no listener
  * and its spans only run their body. */
final class Tracer private (sc: Option[SparkContext]) {
  import Tracer._

  val enabled: Boolean = sc.isDefined

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the listener's event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  /** Run `body` inside a span charged to `layer`. */
  def span[T](layer: String, name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        layer, name, nowMs)
      spans += s
      stack = s :: stack
      ctx.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        ctx.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
  }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val spanId = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).details
      e.stageInfos.foreach(si => stageJob.putIfAbsent(si.stageId, e.jobId))
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, spanId,
        programFile(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val st = stages.computeIfAbsent(i.stageId, id => Stage(id))
      st.synchronized {
        st.submitMs = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
        st.completeMs = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stages.computeIfAbsent(e.stageId, id => Stage(id))
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.runMs += m.executorRunTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
          st.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }
  sc.foreach(_.addSparkListener(listener))

  /** Flush the listener queue so every finished job, stage and task of
    * the timed phase has been seen. */
  def drain(): Unit = sc.foreach { ctx =>
    org.apache.spark.GraftListenerBus.waitUntilEmpty(ctx)
    ctx.removeSparkListener(listener)
  }

  private def spanLayer(id: Int): String =
    if (id >= 0 && id < spans.size) spans(id).layer else Bench.NoLayer

  private def jobLayer(j: Job): String =
    layerOfFile.getOrElse(j.file, spanLayer(j.spanId))

  /** Per-layer totals over the window [fromMs, toMs], divided by `ops`:
    * for every layer in [[Layers]], `self_s`, `jobs`, `stages`, `tasks`,
    * `cpu_s`, `gc_s`, `shuffle_bytes`, `spill_bytes`, `driver_gap_s`,
    * plus the raw task run time and input bytes (`run_s`,
    * `input_bytes`) the layer-specific metrics derive from.
    *
    * Self time splits the window among layers: at every instant the
    * owner is the most recently started running job's layer, else the
    * innermost open span's layer, else the benchmark glue. Driver gap
    * is owned time during which no stage is running. */
  def summary(fromMs: Double, toMs: Double, ops: Int)
      : Map[String, Map[String, Double]] = {
    val js = jobs.values.asScala.toSeq
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    val ss = stages.values.asScala.toSeq.filter(s => !s.submitMs.isNaN)
    val layerSpans = spans.toSeq.filter(s => Layers.contains(s.layer))
    val points = (Seq(fromMs, toMs) ++
      js.flatMap(j => Seq(j.startMs, j.endMs)) ++
      ss.flatMap(s => Seq(s.submitMs, s.completeMs)) ++
      layerSpans.flatMap(s => Seq(s.startMs, s.endMs)))
      .filter(t => !t.isNaN && t >= fromMs && t <= toMs).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val gap = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    points.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val m = (a + b) / 2
        def covers(s: Double, e: Double) = s <= m && (e.isNaN || m < e)
        val running = js.filter(j => covers(j.startMs, j.endMs))
        val owner =
          if (running.nonEmpty) jobLayer(running.maxBy(_.startMs))
          else layerSpans.filter(s => covers(s.startMs, s.endMs))
            .sortBy(_.startMs).lastOption.map(_.layer)
            .getOrElse(Bench.NoLayer)
        val dt = (b - a) / 1e3
        self(owner) += dt
        if (!ss.exists(s => covers(s.submitMs, s.completeMs))) gap(owner) += dt
      case _ =>
    }
    val byLayer = js.groupBy(jobLayer)
    val jobIds = js.map(_.id).toSet
    val stagesOf = ss.groupBy(s => Option(stageJob.get(s.id))
      .filter(id => jobIds.contains(id)).flatMap(id => Option(jobs.get(id)))
      .map(jobLayer).getOrElse(""))
    val n = math.max(ops, 1).toDouble
    Layers.map { layer =>
      val st = stagesOf.getOrElse(layer, Nil)
      layer -> Map(
        "self_s" -> self(layer) / n,
        "jobs" -> byLayer.getOrElse(layer, Nil).size / n,
        "stages" -> st.size / n,
        "tasks" -> st.map(_.tasks).sum / n,
        "cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
        "gc_s" -> st.map(_.gcMs).sum / 1e3 / n,
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum / n,
        "spill_bytes" -> st.map(_.spillBytes).sum / n,
        "driver_gap_s" -> gap(layer) / n,
        "run_s" -> st.map(_.runMs).sum / 1e3 / n,
        "input_bytes" -> st.map(_.inputBytes).sum / n)
    }.toMap
  }

  /** Spans and jobs as JSON-ready values, for the trace file. */
  def dump: Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "span" -> j.spanId, "file" -> j.file, "layer" -> jobLayer(j))))
}

object Tracer {
  val off: Tracer = new Tracer(None)
  def on(sc: SparkContext): Tracer = new Tracer(Some(sc))

  private val SpanProperty = "graft.perfbench.span"

  /** The layers the per-layer metrics report, in output order. */
  val Layers: Seq[String] = Seq("engine", "sources", "etl.sink",
    "etl.report", "etl.lsh_index", "operators.dedup", "operators.text",
    "operators.scrub", "operators.packing", "operators.quantize")

  /** Program source file → layer, for call-site attribution. Files
    * absent here (Main.scala, the benchmark's own files) defer to the
    * enclosing span. */
  val layerOfFile: Map[String, String] = Map(
    "GraftSession.scala" -> "engine", "CacheScope.scala" -> "engine",
    "Par.scala" -> "engine",
    "Source.scala" -> "sources", "Xlsx.scala" -> "sources",
    "IncrementalSink.scala" -> "etl.sink", "EtlJob.scala" -> "etl.sink",
    "Transform.scala" -> "etl.sink",
    "Report.scala" -> "etl.report",
    "LshIndex.scala" -> "etl.lsh_index",
    "Dedup.scala" -> "operators.dedup",
    "TextAnalysis.scala" -> "operators.text",
    "Scrub.scala" -> "operators.scrub",
    "Packing.scala" -> "operators.packing",
    "Quantize.scala" -> "operators.quantize")

  private val Frame =
    """^\s*(?:\S*/)?graft\.([\w.$]+)\(([^:()]+\.scala)(?::\d+)?\)\s*$""".r

  /** The source file of the innermost program frame (`graft.*`, not the
    * benchmark's `graft.perfbench.*`) in a long call-site form. */
  private[perfbench] def programFile(longForm: String): String =
    longForm.split('\n').iterator.collectFirst {
      case Frame(cls, file) => (cls, file)
    } match {
      case Some((cls, file)) if !cls.startsWith("perfbench.") => file
      case _ => ""
    }

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Double) {
    var endMs: Double = Double.NaN
  }
  final case class Job(id: Int, startMs: Double, spanId: Int, file: String) {
    @volatile var endMs: Double = Double.NaN
  }
  final case class Stage(id: Int) {
    var submitMs = Double.NaN
    var completeMs = Double.NaN
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }
}
