package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around the benchmark's calls into each module, plus the Spark
  * jobs that ran under them, reduced to per-layer metrics.
  *
  * A span sets the calling thread's job group to its id, so every job
  * the call submits (and every job of a thread it starts) carries the
  * span. Each job goes to the module of the first graft frame in
  * Spark's recorded call site, else to its span's module, so one CLI
  * call splits into the modules it went through and a memo build
  * inside a query shows as `operators`. Everything stays in memory
  * until the run ends.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[(Int, StageInfo)]

  sc.addSparkListener(this)

  def span[A](name: String, layer: String)(body: => A): A = {
    val parent = open.headOption
    val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1), System.nanoTime())
    spans.synchronized(spans += s)
    open.push(s)
    sc.setJobGroup(s"$GroupPrefix${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      open.pop()
      parent match {
        case Some(p) => sc.setJobGroup(s"$GroupPrefix${p.id}", p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val spanId = group.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, spanId, layerOfCallSite(site), System.nanoTime())
    e.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = System.nanoTime())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j => stages += (j -> e.stageInfo))
  }

  /** Stops listening and reduces spans and jobs to per-layer metrics.
    * Waits briefly for the listener bus to deliver the last events. */
  def finish(): Map[String, Double] = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobs.values.exists(_.end == 0L)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(this)
    synchronized(reduce())
  }

  private def reduce(): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    // a job without a span (a thread that did not inherit the group)
    // goes to the innermost span open when it started
    def spanOf(j: Job): Option[Span] = j.span.flatMap(byId.get).orElse(
      spans.filter(s => s.start <= j.start && j.start <= s.end).sortBy(s => s.start).lastOption)
    val jobSpan = jobs.values.flatMap(j => spanOf(j).map(j -> _)).toMap
    def jobLayer(j: Job, s: Span): String = j.callSiteLayer.getOrElse(s.layer)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    Layers.foreach(l => PerLayer.foreach(m => out(s"$l.$m") = 0.0))
    // self time: each instant of a span not covered by a child span
    // goes to the layer of the earliest-started job of the span then
    // running, or to the span's own layer as driver time
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val own = jobSpan.collect { case (j, sp) if sp.id == s.id =>
        (math.max(j.start, s.start), math.min(if (j.end == 0L) s.end else j.end, s.end), j) }
        .filter(t => t._1 < t._2).toSeq.sortBy(_._1)
      val cuts = (Seq(s.start, s.end) ++ kids.flatMap(k => Seq(k._1, k._2)) ++
        own.flatMap(t => Seq(t._1, t._2))).filter(t => t >= s.start && t <= s.end).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val mid = a + (b - a) / 2
        if (!kids.exists(k => k._1 <= mid && mid < k._2)) {
          val secs = (b - a) / 1e9
          own.find(t => t._1 <= mid && mid < t._2) match {
            case Some((_, _, j)) => out(s"${jobLayer(j, s)}.busy_s") += secs
            case None =>
              out(s"${s.layer}.busy_s") += secs
              out(s"${s.layer}.driver_s") += secs
          }
        }
      }
    }
    val layerOfJob = jobSpan.map { case (j, s) => j.id -> jobLayer(j, s) }
    layerOfJob.values.foreach(l => out(s"$l.jobs") += 1)
    stages.foreach { case (jobId, st) =>
      layerOfJob.get(jobId).foreach { l =>
        val m = st.taskMetrics
        out(s"$l.tasks") += st.numTasks
        if (m != null) {
          out(s"$l.exec_cpu_s") += m.executorCpuTime / 1e9
          out(s"$l.gc_s") += m.jvmGCTime / 1e3
          out(s"$l.shuffle_mb") += m.shuffleWriteMetrics.bytesWritten / Mb
          out(s"$l.spill_mb") += m.diskBytesSpilled / Mb
          out("sources.read_mb") += m.inputMetrics.bytesRead / Mb
          out("sources.write_mb") += m.outputMetrics.bytesWritten / Mb
        }
      }
    }
    out.toMap
  }

  /** Spans and jobs as JSON, for the run record. */
  def toJson: String = synchronized {
    def ms(t: Long) = f"${t / 1e6}%.3f"
    val ss = spans.map(s => s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"start_ms":${ms(s.start)},"end_ms":${ms(s.end)}}""")
    val js = jobs.values.map(j => s"""{"job":${j.id},"span":${j.span.getOrElse(-1)},""" +
      s""""site_layer":"${j.callSiteLayer.getOrElse("")}","start_ms":${ms(j.start)},"end_ms":${ms(j.end)}}""")
    s"""{"spans":[${ss.mkString(",")}],"jobs":[${js.mkString(",")}]}"""
  }
}

object Trace {
  private val GroupPrefix = "perfbench-span-"
  private val Mb = 1024.0 * 1024.0

  /** The repo's modules, as named in the benchmark's metrics. */
  val Layers: Seq[String] = Seq("sources", "merge", "operators", "dedup", "similarity", "text",
    "graph", "multimodal", "queries")
  val PerLayer: Seq[String] = Seq("busy_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
    "shuffle_mb", "spill_mb")

  final case class Span(id: Int, name: String, layer: String, parent: Int, start: Long) {
    @volatile var end: Long = 0L
  }
  final case class Job(id: Int, span: Option[Int], callSiteLayer: Option[String], start: Long) {
    @volatile var end: Long = 0L
  }

  private val Frame = """graft\.([a-z]+)\.([A-Za-z]+)""".r

  /** The module of the first graft frame in a call site, skipping the
    * benchmark itself and the modules without a call boundary of their
    * own (`functions`, `plans`). */
  def layerOfCallSite(site: String): Option[String] =
    site.linesIterator.flatMap(l => Frame.findFirstMatchIn(l.trim)).map(m => (m.group(1), m.group(2)))
      .collectFirst {
        case ("queries", "GraphQueries") => "graph"
        case ("operators", "Graph")      => "graph"
        case ("streaming", _)            => "queries"
        case (pkg, _) if Layers.contains(pkg) => pkg
      }

  /** The layer of a registry query, by its name's family prefix. */
  def layerOfQuery(name: String): String = name.takeWhile(_.isLetter) match {
    case "d"      => "dedup"
    case "s"      => "similarity"
    case "t" | "c" => "text"
    case "g"      => "graph"
    case "mm"     => "multimodal"
    case "m"      => "merge"
    case _        => "queries"
  }
}
