package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Per-layer numbers of one traced op. Times are milliseconds. */
final class LayerStats {
  var wallMs, selfMs, gapMs, cpuMs, schedMs, gcMs = 0.0
  var jobs, tasks, shuffleBytes, spillBytes, blocksCreated, blocksLeaked = 0L
}

/** What one traced op did: per-layer stats plus op-wide totals. */
final case class OpTrace(
    wallMs: Double, gapMs: Double, jobs: Long, stages: Long, tasks: Long,
    blocksCreated: Long, blocksLeaked: Long, retainedMb: Double,
    layers: Map[String, LayerStats])

/** Spans around the benchmark's calls into each engine layer, and a
  * SparkListener that attributes Spark jobs, tasks and cached or
  * checkpointed blocks to them.
  *
  * A span sets the driver thread's job group, so every job it submits
  * (including broadcast jobs run on Spark's own threads, which inherit the
  * group) is attributed to it. A job that an engine function runs eagerly
  * while a span of another layer is open (the connected-components
  * supersteps inside admission, for instance) is attributed to the
  * innermost engine layer on its call site instead.
  *
  * Spans and job records stay in memory; [[endOp]] turns them into an
  * [[OpTrace]]. Span methods are called from the driver thread only. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext

  private final class Span(val id: Int, val layer: String, val parent: Int, val start: Long) {
    var end: Long = -1L
  }
  private final class Job(val span: Int, val layer: String, val start: Long) {
    var end: Long = -1L
    var stages, tasks, shuffleBytes, spillBytes = 0L
    var cpuMs, schedMs, gcMs = 0.0
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var opStart = 0L

  // written by the listener thread, read after drainListeners
  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  // engine layer on the call site of each SQL execution (a DataFrame
  // action); its jobs may be submitted from Spark's own threads, whose
  // stacks no longer show the caller
  private val execLayer = mutable.HashMap[Long, Option[String]]()
  private var createdThisOp = mutable.HashMap[RDDBlockId, String]()
  private var recording = false
  // the benchmark's own checkpoints, which hand one layer's output to the next
  private val own = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()

  sc.addSparkListener(this)

  /** Computes `df` inside the open span and hands back an equal,
    * checkpointed frame with the same partitioning, so the next layer reads
    * a finished result. These blocks are the benchmark's, not the engine's:
    * they are freed when the op ends and never counted. */
  def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => own += r.rdd
      case _ =>
    }
    cp
  }

  def beginOp(): Unit = {
    drain()
    synchronized {
      jobs.clear(); stageJob.clear(); execLayer.clear(); createdThisOp = mutable.HashMap()
      recording = true
    }
    synchronized(spans.clear())
    opStart = System.currentTimeMillis()
  }

  /** Runs `body` as a span of `layer`, nested in the open span. */
  def span[A](layer: String)(body: => A): A = {
    val s = new Span(spans.size, layer, open.headOption.fold(-1)(_.id), System.currentTimeMillis())
    synchronized(spans += s)
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, layer, interruptOnCancel = false)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.layer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Ends the op: waits for the listener, then aggregates. */
  def endOp(): OpTrace = {
    val opEnd = System.currentTimeMillis()
    val ownIds = own.map(_.id).toSet
    own.foreach(_.unpersist(blocking = true))
    own.clear()
    drain()
    // unpersisting does not report block removals to listeners, so what is
    // still held is read from the block manager's own storage report
    val live = sc.getRDDStorageInfo.filter(r => !ownIds(r.id))
    val liveIds = live.map(_.id).toSet
    synchronized {
      recording = false
      val js = jobs.values.toSeq
      val layers = mutable.HashMap[String, LayerStats]()
      def of(l: String) = layers.getOrElseUpdate(l, new LayerStats)
      val jobIv = js.map(j => (j.start, if (j.end < 0) opEnd else j.end))

      for (s <- spans.toSeq) {
        val st = of(s.layer)
        val wall = (s.end - s.start).toDouble
        // children: nested spans and jobs attributed to another layer
        val childIv = spans.toSeq.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
          js.filter(j => j.span == s.id && j.layer != s.layer).map(j => (j.start, j.end))
        st.wallMs += wall
        st.selfMs += wall - covered(childIv, s.start, s.end)
        st.gapMs += wall - covered(jobIv, s.start, s.end)
      }
      val spanLayers = spans.map(_.layer).toSet
      for ((layer, lj) <- js.groupBy(_.layer) if !spanLayers(layer)) {
        // a layer reached only through call sites: its busy time is the
        // time its jobs ran
        val busy = covered(lj.map(j => (j.start, j.end)), opStart, opEnd)
        of(layer).wallMs += busy
        of(layer).selfMs += busy
      }
      for (j <- js) {
        val st = of(j.layer)
        st.jobs += 1; st.tasks += j.tasks; st.cpuMs += j.cpuMs; st.schedMs += j.schedMs
        st.gcMs += j.gcMs; st.shuffleBytes += j.shuffleBytes; st.spillBytes += j.spillBytes
      }
      val created = createdThisOp.filter { case (id, _) => !ownIds(id.rddId) }
      for ((id, layer) <- created) {
        of(layer).blocksCreated += 1
        if (liveIds(id.rddId)) of(layer).blocksLeaked += 1
      }
      OpTrace(
        wallMs = (opEnd - opStart).toDouble,
        gapMs = (opEnd - opStart) - covered(jobIv, opStart, opEnd),
        jobs = js.size, stages = js.map(_.stages).sum, tasks = js.map(_.tasks).sum,
        blocksCreated = created.size,
        blocksLeaked = created.keys.count(id => liveIds(id.rddId)),
        retainedMb = live.map(r => r.memSize + r.diskSize).sum / 1e6,
        layers = layers.toMap)
    }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  private def spanLayer(id: Int): String =
    if (id >= 0 && id < spans.size) spans(id).layer else "other"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val spanId = group.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(-1)
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
        .flatMap(id => execLayer.get(id.toLong))
      val site = exec.getOrElse(callSiteLayer(e.stageInfos.headOption.map(_.details).getOrElse("")))
      val layer = site.getOrElse(spanLayer(spanId))
      val j = new Job(spanId, layer, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      // a nested execution keeps the layer of the root's caller
      if (recording) execLayer.getOrElseUpdate(s.rootExecutionId.getOrElse(s.executionId),
        callSiteLayer(s.details))
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val i = e.taskInfo
      j.tasks += 1
      j.cpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime.toDouble
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler delay: task lifetime not spent running,
      // deserialising, serialising the result or fetching it
      val fetching = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      j.schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetching)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId if recording && e.blockUpdatedInfo.storageLevel.isValid &&
          !createdThisOp.contains(id) =>
        // a new block belongs to the most recently started running job
        val running = jobs.values.filter(_.end < 0)
        createdThisOp(id) = if (running.isEmpty) "other" else running.maxBy(_.start).layer
      case _ =>
    }
  }
}

object Tracer {
  private val GroupPrefix = "perfbench-span-"

  /** Engine modules, by the layer name the benchmark reports them under. */
  val EngineLayers: Seq[(String, String)] = Seq(
    "graft.operators.GraphAlgos" -> "graphAlgos",
    "graft.operators.Dedup" -> "dedup",
    "graft.operators.Ann" -> "ann",
    "graft.operators.Knn" -> "retrieval",
    "graft.operators.Retrieval" -> "retrieval",
    "graft.operators.GraphExpand" -> "graphExpand",
    "graft.operators.GraphBuild" -> "graphBuild",
    "graft.operators.Ingest" -> "ingest",
    "graft.operators.Embed" -> "ingest",
    "graft.streaming.StreamingIngest" -> "streaming",
    "graft.sources.Sinks" -> "store",
    "graft.operators.Pipelines" -> "pipelines")

  /** The engine layer a job's call site puts it in, when an engine module
    * ran it from inside another module (connected components inside
    * admission, say): the innermost module on the stack. A job of the
    * function the benchmark called directly gets None and goes to the open
    * span's layer. */
  def callSiteLayer(longForm: String): Option[String] = {
    val layers = longForm.linesIterator.map(_.trim)
      .takeWhile(f => !f.startsWith("perfbench."))
      .flatMap(f => EngineLayers.collectFirst {
        case (cls, layer) if f.startsWith(cls + "$") || f.startsWith(cls + ".") => layer
      }).toSeq
    layers.headOption.filter(_ != layers.last)
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- clipped) {
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total.toDouble
  }
}
