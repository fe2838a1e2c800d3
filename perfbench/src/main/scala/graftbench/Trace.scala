package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The engine's modules, named after their directories under
  * `src/main/scala/graft/`. `bench` is the benchmark's own work (result
  * collection and output checks made outside any layer call). */
object Layers {
  val All: Seq[String] = Seq("tables", "timeseries", "ops", "streaming", "ml",
    "dedup", "text", "similarity", "curation", "bench")
  val Unattributed = "unattributed"

  /** The local property a span sets on the benchmark's own client thread.
    * It is read only for jobs whose call site shows that the benchmark
    * itself submitted them (see [[JobCensus.layerOf]]), never for work the
    * engine forks onto its own threads. */
  val SpanProperty = "graftbench.layer"

  /** Class name of one stack line ("app//graft.dedup.X.m(X.scala:1)"). */
  private def frameClass(line: String): String = {
    val call = line.trim.stripPrefix("at ").takeWhile(_ != '(')
    val method = call.substring(call.lastIndexOf('/') + 1)
    method.substring(0, math.max(method.lastIndexOf('.'), 0))
  }

  /** Classifies one call-site stack (innermost frame first): the module of
    * the first `graft.<module>` frame, `bench` when a benchmark frame comes
    * first, None when no frame of either is on it. */
  def ofStack(longCallSite: String): Option[String] =
    longCallSite.linesIterator.map(frameClass).collectFirst {
      case c if c.startsWith("graftbench.") => "bench"
      case c if c.startsWith("graft.") =>
        val rest = c.stripPrefix("graft.")
        if (rest.contains('.')) rest.takeWhile(_ != '.') else "graft"
    }
}

/** One span: a call the benchmark made into `layer`, in wall-clock ms. */
final case class Span(layer: String, client: Int, op: Long, startMs: Long,
                      endMs: Long)

/** In-memory span recorder. Spans are kept in memory and summarised when
  * the run ends; a disabled tracer runs the body and records nothing. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](layer: String, client: Int, op: Long)(body: => A): A =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Layers.SpanProperty)
      sc.setLocalProperty(Layers.SpanProperty, layer)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        sc.setLocalProperty(Layers.SpanProperty, prev)
        spans.synchronized { spans += Span(layer, client, op, t0, t1) }
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)
}

/** Per-layer counters accumulated by the census. */
final class LayerTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobWallMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleBytes = 0L; var outputBytes = 0L
  val sqlExecs = mutable.Set.empty[Long]
}

/** A SparkListener that attributes every Spark job to the engine module
  * whose code submitted it, and totals stages, tasks, task CPU, GC and IO
  * bytes per module.
  *
  * Attribution, in order:
  *  1. the long call site of the job's result stage — the first
  *     `graft.<module>` frame on the submitting thread's stack. Work the
  *     engine forks (`ops/Exec`'s reused pool, MLlib fits on futures)
  *     carries its own engine frames, so no thread-local is consulted;
  *  2. the long call site of the job's SQL execution, for jobs Spark
  *     submits from its own threads (broadcasts, AQE stages);
  *  3. when the first graft frame on either stack is the benchmark's own,
  *     the layer of the span open on the benchmark's client thread (a
  *     lazy plan built by a layer call and materialised by the
  *     benchmark), or `bench` outside any span.
  * Anything else is counted as unattributed. */
final class JobCensus extends SparkListener {
  private val totals = mutable.Map.empty[String, LayerTotals]
  def layer(l: String): LayerTotals =
    synchronized(totals.getOrElseUpdate(l, new LayerTotals))
  /** (layer, start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val unattributedSites = mutable.ArrayBuffer.empty[String]

  private val execSite = mutable.Map.empty[Long, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageLayer = mutable.Map.empty[Int, String]

  private def execId(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)

  private def layerOf(e: SparkListenerJobStart): String = {
    val props = e.properties
    val jobSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
      .getOrElse("")
    val fromJob = Layers.ofStack(jobSite)
    val fromExec = execId(props).flatMap(execSite.get).flatMap(Layers.ofStack)
    def spanLayer = Option(props).flatMap(p =>
      Option(p.getProperty(Layers.SpanProperty))).getOrElse("bench")
    (fromJob, fromExec) match {
      case (Some(l), _) if l != "bench" => l
      case (_, Some(l)) if l != "bench" => l
      case (Some(_), _) | (_, Some(_)) => spanLayer
      case _ =>
        unattributedSites += e.stageInfos.lastOption.map(_.name).getOrElse("?")
        Layers.Unattributed
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = layerOf(e)
    jobStart(e.jobId) = (l, e.time)
    e.stageInfos.foreach(s => stageLayer(s.stageId) = l)
    val t = layer(l)
    t.jobs += 1
    execId(e.properties).foreach(t.sqlExecs += _)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (l, t0) =>
      layer(l).jobWallMs += e.time - t0
      jobIntervals += ((l, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageLayer.get(e.stageInfo.stageId).foreach(layer(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageLayer.get(e.stageId).foreach { l =>
      val t = layer(l)
      t.tasks += 1
      if (m != null) {
        t.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def allLayers: Seq[LayerTotals] = synchronized(totals.values.toList)

  /** Modules outside [[Layers.All]] that submitted jobs. */
  def otherLayers: Seq[String] = synchronized(totals.keys.toList
    .filterNot(k => Layers.All.contains(k) || k == Layers.Unattributed).sorted)
}
