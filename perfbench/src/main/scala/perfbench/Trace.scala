package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans recorded from the benchmark's own calls into the program's
  * layers. Kept in memory and reported once, when the run ends. With
  * tracing off, `span` only runs its body.
  */
object Trace {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        trace: String, startNs: Long, endNs: Long)

  @volatile var on = false
  @volatile var sc: SparkContext = _
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](layer: String, name: String, trace: String = "")(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val prevLayer = sc.getLocalProperty(LayerKey)
      val prevSpan = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(LayerKey, layer)
      sc.setLocalProperty(SpanKey, name)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer, trace,
          t0, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(LayerKey, prevLayer)
        sc.setLocalProperty(SpanKey, prevSpan)
      }
    }

  def clear(): Unit = spans.clear()

  /** Per-layer total and self time in seconds: a span's self time is its
    * duration minus the part its child spans cover.
    */
  def layerTimes(): Map[String, (Double, Double)] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    val acc = mutable.Map.empty[String, (Double, Double)]
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs.max(s.startNs), k.endNs.min(s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = a.max(end)
        if (b > from) covered += b - from
        end = end.max(b)
      }
      val total = (s.endNs - s.startNs) / 1e9
      val self = (s.endNs - s.startNs - covered) / 1e9
      val (t0, s0) = acc.getOrElse(s.layer, (0.0, 0.0))
      acc(s.layer) = (t0 + total, s0 + self)
    }
    acc.toMap
  }

  /** Every span, as written into a traced run's detail line. */
  def dump(): Seq[Map[String, Any]] = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "trace" -> s.trace, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
  }

  def sum(layer: String, name: String = null): Double =
    spans.asScala.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(s => (s.endNs - s.startNs) / 1e9).sum
}

/** Work counters of the Spark jobs attributed to one key. */
final class JobStats {
  var jobs = 0L; var tasks = 0L; var wallNs = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L
  var spillBytes = 0L; var outBytes = 0L; var outRecords = 0L
}

/** Attributes every job to the program module of the file that ran its
  * action (its call site), else to the layer of the span open when it
  * started (the `perfbench.layer` job property), and folds task metrics
  * into that layer's counters. Only registered on traced runs.
  */
final class EngineListener extends SparkListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stats = new ConcurrentHashMap[String, JobStats]()
  /** jobs per (call site, layer), for checking the attribution */
  val sites = new ConcurrentHashMap[String, Long]()

  private def st(k: String): JobStats = stats.computeIfAbsent(k, _ => new JobStats)

  @volatile var recording = true

  def reset(): Unit = synchronized { stats.clear(); sites.clear() }
  def get(k: String): JobStats = synchronized {
    val s = stats.get(k); if (s == null) new JobStats else s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val p = Option(e.properties)
    // a job's result stage is named after its call site: "<action> at <File>.scala:<line>"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val layer = EngineListener.layerOfCallSite(site)
      .orElse(p.flatMap(x => Option(x.getProperty(Trace.LayerKey))))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(EngineListener.queryLayer.get(g))))
      .getOrElse("other")
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanKey)))
    val ks = Seq("engine", layer) ++ span.map(s => s"span:$s")
    sites.merge(s"$layer <- $site", 1L, (a: Long, b: Long) => a + b)
    jobKeys.put(e.jobId, ks)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    ks.foreach(k => st(k).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val ks = jobKeys.get(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (ks != null && t0 != null) ks.foreach(k => st(k).wallNs += (e.time - t0) * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.get(e.stageId)
    val ks = jobKeys.get(job)
    val m = e.taskMetrics
    if (ks != null && m != null) {
      // the map side of a commit or push job computes the rows it commits:
      // the join and aggregation work of the transform layer
      val mapSide = m.shuffleWriteMetrics.bytesWritten > 0 && ks.exists(EngineListener.Committing)
      val keys = if (mapSide) ks.map(k => if (EngineListener.Committing(k)) "transform" else k) else ks
      val info = e.taskInfo
      val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      keys.foreach { k =>
        val s = st(k)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedDelayMs += delay.max(0L)
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

object EngineListener {
  /** Streaming query run id → the layer of its own work. A streaming job
    * names the query's `start` as its call site and runs in the query's
    * job group, so jobs no span claims go to the query's layer: the KPI
    * query's trigger is its state update and manifest commit.
    */
  val queryLayer = new ConcurrentHashMap[String, String]()
  val QueryLayers: Map[String, String] = Map(
    "validate" -> "validate", "completeness" -> "streaming", "kpi" -> "state")

  /** Layers whose jobs commit or push rows computed upstream in the same job. */
  val Committing: Set[String] = Set("state", "sinks", "pipeline")

  /** Program file that ran a job's action → its layer (module). Jobs run
    * from elsewhere (the benchmark, operator modules) take the layer of
    * the span open when they started.
    */
  private val fileLayer: Map[String, String] = Map(
    "Tables.scala" -> "sources",
    "Rules.scala" -> "validate",
    "Completeness.scala" -> "streaming",
    "JointKpis.scala" -> "streaming",
    "StreamingPipeline.scala" -> "state",
    "ManifestStore.scala" -> "state",
    "SnapshotStore.scala" -> "state",
    "Kpis.scala" -> "transform",
    "KvSink.scala" -> "sinks",
    "Pipeline.scala" -> "pipeline")

  def layerOfCallSite(site: String): Option[String] =
    fileLayer.get(site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse(""))
}

/** Per-trigger progress of every streaming query, kept by query name;
  * optionally forwards each progress of one query to a callback (the KV
  * pusher listens to the KPI query's commits this way).
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit =
    EngineListener.QueryLayers.get(String.valueOf(event.name))
      .foreach(l => EngineListener.queryLayer.put(event.runId.toString, l))
  override def onQueryIdle(event: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    progress.computeIfAbsent(String.valueOf(p.name), _ => new ConcurrentLinkedQueue()).add(p)
    onProgress(p)
  }

  def of(name: String): Seq[StreamingQueryProgress] =
    Option(progress.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
}

/** Heap occupancy right after a full collection forced at the end of
  * the measured window (`peak_heap_mb`): only live data remains, so the
  * figure repeats from run to run where a peak sampled after whichever
  * young collection happened to run does not. Forcing it inside the
  * window would disturb the timed work.
  */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}

  def liveMb(): Double = {
    // the first collection lets Spark's context cleaner drop the broadcast
    // and shuffle blocks of collected frames; the second one frees them
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
