package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer tracing for one benchmark run, kept in memory and written out
  * at exit.
  *
  * Spans form a tree: the benchmark opens a root span around each public
  * call it makes (`call.sync`, `call.verify`, `call.curate`); every Spark job started
  * while a root is open becomes its child, and every stage of a job a
  * child of the job. A stage is attributed to a layer (a graft module) by
  * the program's job description when it sets one, else by the deepest
  * `graft.` frame of the call site that started the SQL execution (or the
  * stage itself), refined by the operators the stage runs; see [[layerOf]].
  * Recording is off until [[recording]] is set, so one listener serves a
  * run that times some calls untraced. */
final class Trace extends SparkListener {
  import Trace._

  @volatile var recording = false
  @volatile private var openRoot = -1
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val execSite = new ConcurrentHashMap[Long, String]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobLabel = new ConcurrentHashMap[Int, String]()
  private val jobSite = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[(Long, Long)]]()

  /** Totals per layer, filled on the listener thread. */
  val layers = mutable.Map.empty[String, Acc]
  val jobsByLayer = mutable.Map.empty[String, Int]
  private val compactionExecs = mutable.Set.empty[String]
  def compactions: Int = compactionExecs.size
  var jobs = 0
  var tasks = 0

  private def newSpan(parent: Int, name: String, start: Long): Int = spans.synchronized {
    spans += Span(spans.size, parent, name, start, -1L); spans.size - 1
  }
  private def endSpan(id: Int, end: Long): Unit = spans.synchronized {
    spans(id) = spans(id).copy(end = end)
  }

  /** Run `body` under a root span `name` when recording. */
  def root[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = newSpan(-1, name, System.currentTimeMillis())
      openRoot = id
      try body finally { endSpan(id, System.currentTimeMillis()); openRoot = -1 }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording && openRoot >= 0) {
    val root = openRoot
    val props = Option(e.properties)
    val id = newSpan(root, "job", e.time)
    jobSpan.put(e.jobId, id)
    props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith("curate: "))
      .orElse(if (spans(root).name == "call.curate") Some("curate: rest") else None)
      .foreach(jobLabel.put(e.jobId, _))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(x => Option(execSite.get(x.toLong)))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    jobSite.put(e.jobId, site)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs += 1
    val layer = layerOf(Option(jobLabel.get(e.jobId)), site, "", Set.empty, 0L)
    jobsByLayer(layer) = jobsByLayer.getOrElse(layer, 0) + 1
    if (site.contains("ParquetTableStore.compact(") && site.contains("ParquetTableStore.publish("))
      exec.foreach(compactionExecs += _)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(endSpan(_, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskInfo != null)
      stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
        .synchronized { stageTasks.get(e.stageId) += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).foreach { job =>
      val m = si.taskMetrics
      val scopes = si.rddInfos.flatMap(r => r.scope.map(_.name).toSeq :+ r.name).toSet
      val layer = layerOf(Option(jobLabel.get(job)), jobSite.getOrDefault(job, ""),
        si.details, scopes, m.shuffleReadMetrics.totalBytesRead)
      val a = layers.getOrElseUpdate(layer, new Acc)
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      tasks += si.numTasks
      Option(stageTasks.remove(si.stageId)).foreach(a.busy ++= _)
      for (s <- si.submissionTime; c <- si.completionTime)
        Option(jobSpan.get(job)).foreach { parent =>
          val id = newSpan(parent, layer, s); endSpan(id, c)
        }
    }
  }

  /** Self time per span name: duration minus the part of its interval its
    * children cover, summed over spans of that name. Stage spans are
    * named after their layer; job spans are `job`. */
  def selfTimes: Map[String, Double] = spans.synchronized {
    val kids = spans.filter(_.end >= 0).groupBy(_.parent)
    spans.filter(_.end >= 0).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cover = union(kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(x => x._2 > x._1).toSeq)
        (s.end - s.start - cover) / 1000.0
      }.sum
    }
  }

  def spanJson: String = spans.synchronized {
    spans.map(s => s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}""")
      .mkString("[\n", ",\n", "\n]")
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  final class Acc {
    var taskMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var inputBytes, inputRecords = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    def wallS: Double = union(busy.toSeq) / 1000.0
  }

  /** Length of the union of [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** The curate job labels the program sets, as metric-name segments;
    * other jobs inside a `curate` call are labelled `curate: rest`. */
  val CurateLabels: Seq[(String, String)] = Seq(
    "curate: lang+quality+scrub+decon" -> "lang_quality_scrub_decon",
    "curate: dedup candidates+verify" -> "dedup_candidates_verify",
    "curate: components" -> "components")

  private val Modules = Seq(
    "graft.sources.PagedNdjsonSource" -> "PagedNdjsonSource",
    "graft.sources.http." -> "HttpPagedProvider",
    "graft.sources.v2." -> "ParquetTableStore",
    "graft.operators.ParquetTableStore" -> "ParquetTableStore",
    "graft.operators.Upsert" -> "ParquetTableStore",
    "graft.operators.SyncControl" -> "SyncControl",
    "graft.operators.Dedup" -> "Dedup",
    "graft.operators.Flatten" -> "Flatten",
    "graft.CorpusPipeline" -> "curate",
    "graft.Pipeline" -> "Pipeline")

  /** Layer of a stage. Order: the program's curate job label; the
    * `verify` call anywhere on the call site; the deepest graft frame of
    * the SQL execution's call site (AQE runs query stages on pool threads,
    * whose own call sites carry no graft frame), else of the stage. Stages
    * of the sync lifecycle are then refined by what they run: a JSON file
    * scan is the source, a `graft-http` batch scan is the connector, a
    * stage over the cached deduplicated batch that reads no shuffle is the
    * flatten projection, and a window stage reading a shuffle is dedup. */
  def layerOf(label: Option[String], jobSite: String, stageSite: String,
              scopes: Set[String], shuffleRead: Long): String = {
    label.map(l => "curate." + CurateLabels.find(_._1 == l).map(_._2).getOrElse("rest"))
      .getOrElse {
        val site = if (jobSite.contains("graft.")) jobSite else stageSite
        if (site.contains("graft.Pipeline.verify") || site.contains("$anonfun$verify"))
          "verify"
        else {
          val deepest = site.linesIterator.map(_.trim)
            .find(l => l.startsWith("graft.")).getOrElse("")
          val base = Modules.find(m => deepest.startsWith(m._1)).map(_._2)
            .getOrElse(if (deepest.startsWith("graft.operators."))
              deepest.stripPrefix("graft.operators.").takeWhile(_ != '.') else "other")
          def has(p: String) = scopes.exists(_.startsWith(p))
          if (base == "Pipeline" || base == "ParquetTableStore") {
            if (has("Scan json")) "PagedNdjsonSource"
            else if (has("BatchScan") || has("DataSourceRDD")) "HttpPagedProvider"
            else if (base == "Pipeline") { if (shuffleRead > 0) "Dedup" else "Pipeline" }
            else if (has("WriteFiles") || has("ReplaceData") || has("WriteDelta")) base
            else if (has("InMemoryTableScan") && shuffleRead == 0) "Flatten"
            else if (has("Window")) "Dedup"
            else base
          } else if (base == "curate") "curate.rest"
          else base
        }
      }
  }
}
