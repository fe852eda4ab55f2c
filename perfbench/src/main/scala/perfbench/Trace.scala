package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: a named interval with a parent. All spans of one run share
  * the run id the trace file is written under. Times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** Traced-run instrumentation. Listens with a SparkListener, a
  * StreamingQueryListener and a QueryExecutionListener while a traced
  * unit runs, and attributes every Spark job to a `graft.<module>.<Object>`
  * layer: the frame of the thread sampled waiting for it (see
  * [[Sampler]]), else the innermost graft frame of its call site, else
  * that of its SQL execution's call site, else the `bench` layer of the
  * enclosing benchmark span. How each job was attributed is kept
  * ([[Tracer.How]]); jobs left to the span, or to the `start()` call site
  * Structured Streaming pins on every job of a micro-batch, count as
  * unattributed.
  * Everything stays in memory until the run writes its trace file. */
final class Tracer(spark: SparkSession, val slots: Int) {
  import Tracer._

  final class Job(val id: Int, val start: Long, var layer: String,
      var method: String, var how: String, val unit: Int, val site: String,
      val execId: Option[Long]) {
    var end: Long = start
    var stages, tasks = 0L
    var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var inputBytes, outputBytes = 0L
  }
  final class Exec(val unit: Int) {
    var layer: String = SpanLayer
    var start, end = 0L
    var scanFiles, listingMs, outputFiles = 0L
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execTimes = mutable.Map.empty[Long, (Long, Long)]
  private val execs = ArrayBuffer.empty[Exec]
  // A QueryExecutionListener callback sees the QueryExecution but not
  // its execution id; the execution-end event carries both. Whichever
  // arrives second links the two.
  private val pendingQe = new java.util.IdentityHashMap[QueryExecution, Exec]()
  private val endedQe = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private def link(x: Exec, execId: Long): Unit = {
    execSite.get(execId).flatMap(graftFrame).foreach(f => x.layer = f._1)
    execTimes.get(execId).foreach { case (a, b) => x.start = a; x.end = b }
  }
  private val progress = ArrayBuffer.empty[(Int, StreamingQueryProgress)]
  val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 1
  @volatile private var unit = -1

  def newSpanId(): Int = lock.synchronized(newSpanIdUnlocked())
  def addSpan(s: Span): Unit = lock.synchronized { spans += s; () }

  private def resolve(site: String, execId: Option[Long]): (String, String, String) =
    graftFrame(site).map { case (l, m) => (l, m, "call_site") }
      .orElse(execId.flatMap(e => lock.synchronized(execSite.get(e)))
        .flatMap(graftFrame).map { case (l, m) => (l, m, "sql_call_site") })
      .map { case (l, m, how) =>
        if (l == "streaming.StreamingPipeline" && m.startsWith("start"))
          (l, m, "pinned_start") else (l, m, how) }
      .getOrElse((SpanLayer, "", "span"))

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized {
          execSite(s.executionId) = s.details
          execTimes(s.executionId) = (s.time, s.time)
        }
      case s: SparkListenerSQLExecutionEnd =>
        lock.synchronized {
          execTimes.get(s.executionId).foreach { case (a, _) =>
            execTimes(s.executionId) = (a, s.time) }
        }
        org.apache.spark.sql.BenchSql.qeOf(s).foreach { qe =>
          lock.synchronized {
            Option(pendingQe.remove(qe)) match {
              case Some(x) => link(x, s.executionId)
              case None => endedQe.put(qe, s.executionId)
            }
          }
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
        .getOrElse("")
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val (layer, method, how) = resolve(site, execId)
      lock.synchronized {
        jobs(e.jobId) = new Job(e.jobId, e.time, layer, method, how, unit,
          site.linesIterator.find(l => graftFrame(l).isDefined)
            .getOrElse(site.linesIterator.take(2).mkString(" | ")), execId)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      lock.synchronized {
        for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
             m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private val queryListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) {
        val x = new Exec(unit)
        def metric(p: SparkPlan, k: String): Long =
          p.metrics.get(k).map(_.value).getOrElse(0L)
        collectWithSubqueries(qe.executedPlan) { case p => p }.foreach {
          case w: DataWritingCommandExec =>
            x.outputFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case p if p.metrics.contains("metadataTime") =>
            x.scanFiles += metric(p, "numFiles")
            x.listingMs += metric(p, "metadataTime")
          case _ =>
        }
        lock.synchronized {
          execs += x
          Option(endedQe.remove(qe)) match {
            case Some(id) => link(x, id)
            case None => pendingQe.put(qe, x)
          }
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      lock.synchronized { progress += ((unit, e.progress)); () }
  }

  @volatile private var active = false
  // Streams run their micro-batches in a clone of the session, which
  // copies the session's QueryExecutionListeners when the stream starts:
  // this one is registered for the whole run and gated by `active`.
  spark.listenerManager.register(queryListener)

  private var sampler: Sampler = null
  private val episodes = ArrayBuffer.empty[(Int, Sampler#Episode)]

  /** Start tracing unit `u`. */
  def attach(u: Int): Unit = {
    unit = u
    sampler = new Sampler(2)
    sampler.start()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  /** Drain the listener bus so every event of the unit is in, then stop
    * listening until the next traced unit. */
  def detach(): Unit = if (active) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    sampler.finish()
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    lock.synchronized {
      episodes ++= sampler.episodes.map(e => (unit, e))
      // a job's SQL execution is the action that launched it; a job run
      // straight from a micro-batch carries the whole batch's execution,
      // so its own interval is tried next
      jobs.values.filter(_.unit == unit).foreach { j =>
        val exec = j.execId.flatMap(execTimes.get)
        exec.flatMap { case (a, b) => sampler.coinciding(a, b) }
          .map(f => (f, "sampled_sql_execution"))
          .orElse(sampler.containing(j.start, j.end).map(f => (f, "sampled_job")))
          .orElse(sampler.nearest(j.start, j.end).map(f => (f, "sampled_nearest")))
          .foreach { case ((l, m), how) => j.layer = l; j.method = m; j.how = how }
      }
      execs.filter(x => x.unit == unit && x.end > 0).foreach { x =>
        sampler.coinciding(x.start, x.end).orElse(sampler.nearest(x.start, x.end))
          .foreach(f => x.layer = f._1)
      }
    }
    active = false
    unit = -1
  }

  /** Job spans and sampled thread episodes, children of their unit spans. */
  def jobSpans(unitSpan: Int => Int): Seq[Span] = lock.synchronized {
    episodes.toSeq.map { case (u, e) =>
      Span(newSpanIdUnlocked(), unitSpan(u), s"thread ${e.tid}", e.frame._1,
        e.from, e.to, Map("method" -> e.frame._2))
    } ++ jobs.values.toSeq.map { j =>
      Span(newSpanIdUnlocked(), unitSpan(j.unit), s"job ${j.id}", j.layer,
        j.start, j.end, Map("method" -> j.method, "attributed_by" -> j.how, "call_site" -> j.site,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
          "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
          "shuffle_read_bytes" -> j.shuffleRead,
          "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
          "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes))
    }
  }
  private def newSpanIdUnlocked(): Int = { nextSpan += 1; nextSpan - 1 }

  /** Per-unit, per-layer Spark job metrics for one unit of `durMs`. */
  def unitLayers(u: Int, durMs: Double): Map[String, Double] = lock.synchronized {
    val js = jobs.values.filter(_.unit == u).toSeq
    val out = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    js.groupBy(_.layer).foreach { case (l, g) =>
      val busy = unionMs(g.map(j => (j.start, j.end)))
      add(s"$l.jobs", g.size)
      add(s"$l.stages", g.map(_.stages).sum)
      add(s"$l.tasks", g.map(_.tasks).sum)
      add(s"$l.busy_ms", busy)
      add(s"$l.task_ms", g.map(_.taskMs).sum)
      add(s"$l.cpu_ms", g.map(_.cpuNs).sum / 1e6)
      add(s"$l.gc_ms", g.map(_.gcMs).sum)
      add(s"$l.slot_use",
        if (busy <= 0) 0.0 else g.map(_.taskMs).sum / (busy * slots))
      add(s"$l.shuffle_read_bytes", g.map(_.shuffleRead).sum)
      add(s"$l.shuffle_write_bytes", g.map(_.shuffleWrite).sum)
      add(s"$l.spill_bytes", g.map(_.spill).sum)
      add(s"$l.input_bytes", g.map(_.inputBytes).sum)
      add(s"$l.output_bytes", g.map(_.outputBytes).sum)
    }
    execs.filter(_.unit == u).groupBy(_.layer).foreach { case (l, g) =>
      add(s"$l.scan_files", g.map(_.scanFiles).sum)
      add(s"$l.listing_ms", g.map(_.listingMs).sum)
      add(s"$l.output_files", g.map(_.outputFiles).sum)
    }
    val busy = unionMs(js.map(j => (j.start, j.end)))
    add("unit.busy_ms", busy)
    add("unit.driver_ms", math.max(0.0, durMs - busy))
    add("unit.jobs", js.size)
    js.groupBy(_.how).foreach { case (h, g) =>
      add(s"unit.busy_ms.$h", unionMs(g.map(j => (j.start, j.end)))) }
    add("unit.unattributed_busy_ms", unionMs(js
      .filter(j => Unattributed(j.how)).map(j => (j.start, j.end))))
    val ps = progress.filter(_._1 == u).map(_._2)
    if (ps.nonEmpty) {
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", ps.size)
      add("streaming.add_batch_ms", ps.map(d(_, "addBatch")).sum)
      add("streaming.engine_ms",
        ps.map(p => d(p, "triggerExecution") - d(p, "addBatch")).sum)
      add("streaming.wal_commit_ms", ps.map(d(_, "walCommit")).sum)
      add("streaming.commit_offsets_ms", ps.map(d(_, "commitOffsets")).sum)
      add("streaming.query_planning_ms", ps.map(d(_, "queryPlanning")).sum)
      val last = ps.last
      add("streaming.state_rows",
        last.stateOperators.map(_.numRowsTotal).sum.toDouble)
      add("streaming.state_bytes",
        last.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      add("streaming.late_rows_dropped",
        ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
          .toDouble)
    }
    out.toMap
  }
}

object Tracer {
  /** The layer of the benchmark's own spans. */
  val SpanLayer = "bench"

  /** How a job was attributed, most to least specific: the sampled thread
    * waiting for its SQL execution, for the job itself, or nearest to
    * it; its call site; its SQL execution's call site; the stream's
    * pinned `start()` call site; the enclosing span. */
  val How: Seq[String] = Seq("sampled_sql_execution", "sampled_job",
    "sampled_nearest", "call_site", "sql_call_site", "pinned_start", "span")
  val Unattributed: Set[String] = Set("pinned_start", "span")

  // a stack frame prints as [loader/][module@version/]class.method(file)
  private val Frame = """^(?:\S*/)?graft\.([a-z]\w*)\.([A-Z]\w*?)\$*\.([\w$]+)\(.*""".r

  /** The innermost `graft.<module>.<Object>` frame of a call site, as
    * ("module.Object", method). Call sites list frames innermost first. */
  def graftFrame(site: String): Option[(String, String)] =
    site.linesIterator.map(_.trim).collectFirst {
      case Frame(module, obj, method) =>
        val m = method.split('$').filter(_.nonEmpty)
          .filterNot(s => s == "anonfun" || s.forall(_.isDigit))
          .headOption.getOrElse(method)
        (s"$module.${obj.takeWhile(_ != '$')}", m)
    }

  /** Length in ms of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }
}
