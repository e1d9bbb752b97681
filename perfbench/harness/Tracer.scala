package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode: Spark's public listener APIs, registered from outside the
  * engine. The harness names the span it is in (`pass/entry/phase`) as a
  * local property, so every job's start event carries the span that caused
  * it. Each job is attributed to the engine module of the first `graft.*`
  * frame of its call site: through its SQL execution's `details` when it has
  * one (AQE broadcast jobs run on a pool thread whose own call site names no
  * engine frame), else through its result stage's `details` (schema
  * inference, `localCheckpoint`). A job with no `graft.*` frame was started
  * by the harness itself, i.e. the final `count()`.
  *
  * Events arrive asynchronously; [[report]] is called after `spark.stop()`,
  * which drains the listener bus.
  */
final class Tracer private (spark: SparkSession) {
  import Tracer._

  private final case class Job(id: Int, span: String, module: String, start: Long,
                               var end: Long = -1L, var stages: Int = 0)
  private final class Counters {
    var tasks = 0L
    var runMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill, input, records, result = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobCounters = mutable.Map.empty[Int, Counters]
  private val sqlDetails = mutable.Map.empty[Long, String]
  private val sqlStarts = mutable.ArrayBuffer.empty[Long] // root executions' start ms
  private val plans = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var open: Option[(String, Long)] = None

  /** Enter span `name` (null: leave the current one). Driver thread only. */
  def span(name: String): Unit = {
    val now = System.currentTimeMillis()
    open.foreach { case (n, s) => spans += ((n, s, now)) }
    open = Option(name).map(_ -> now)
    spark.sparkContext.setLocalProperty(SpanKey, name)
  }

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlDetails(s.executionId) = s.details
        if (s.rootExecutionId.forall(_ == s.executionId)) sqlStarts += s.time
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlDetails.get(id.toLong))
        .getOrElse(e.stageInfos.maxBy(_.stageId).details)
      jobs(e.jobId) = Job(e.jobId, props.flatMap(p => Option(p.getProperty(SpanKey))).orNull,
        module(site), e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobCounters(e.jobId) = new Counters
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); c <- jobCounters.get(j); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.records += m.inputMetrics.recordsRead
        c.result += m.resultSize
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val start = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      plans += ((start, phases.map { case (k, v) => k -> v.durationMs }))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        progress += ((Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
  }

  /** Per-pass layer metrics and the span tree, for the passes the harness
    * recorded (`pass`, `start_ms`, `end_ms`, `wall_s`, `entries`). */
  def report(passes: Seq[Map[String, Any]]): Map[String, Any] = synchronized {
    val spanIv = spans.map { case (n, s, e) => n -> (s, e) }.toMap
    val byPass = jobs.values.filter(_.span != null).groupBy(_.span.takeWhile(_ != '/'))
    val rows = passes.map { p =>
      val pid = p("pass").toString
      val (ps, pe) = (p("start_ms").asInstanceOf[Long], p("end_ms").asInstanceOf[Long])
      def within(t: Long) = t >= ps && t <= pe
      val pj = byPass.getOrElse(pid, Nil).toSeq
      val cs = pj.flatMap(j => jobCounters.get(j.id))
      def tot(f: Counters => Long) = cs.map(f).sum
      val entries = p("entries").asInstanceOf[Seq[Map[String, Any]]]
      val entrySpans = entries.map { en =>
        val name = en("entry").toString
        val (es, ee) = (en("start_ms").asInstanceOf[Long], en("end_ms").asInstanceOf[Long])
        val phases = Seq("build", "action").map { ph =>
          val key = s"$pid/$name/$ph"
          val (s, e) = spanIv.getOrElse(key, (es, es))
          val js = pj.filter(_.span == key).sortBy(_.id)
          val busy = unionMs(js.map(j => (j.start max s, (if (j.end < 0) e else j.end) min e)))
          Map("span" -> ph, "wall_s" -> (e - s) / 1e3, "self_s" -> (e - s - busy) / 1e3,
            "job_union_s" -> busy / 1e3,
            "jobs" -> js.map(j => Map("job" -> j.id, "module" -> j.module,
              "wall_s" -> (j.end - j.start) / 1e3, "self_s" -> (j.end - j.start) / 1e3,
              "stages" -> j.stages, "tasks" -> jobCounters.get(j.id).map(_.tasks).getOrElse(0L))))
        }
        val inner = phases.map(_("wall_s").asInstanceOf[Double]).sum
        Map("span" -> name, "wall_s" -> (ee - es) / 1e3, "self_s" -> ((ee - es) / 1e3 - inner),
          "children" -> phases)
      }
      val entryWall = entrySpans.map(_("wall_s").asInstanceOf[Double]).sum
      val jobUnion = entrySpans.flatMap(_("children").asInstanceOf[Seq[Map[String, Any]]])
        .map(_("job_union_s").asInstanceOf[Double]).sum
      val pl = plans.filter(x => within(x._1)).map(_._2)
      val pr = progress.filter(x => within(x._1)).map(_._2)
      def phase(k: String) = pl.map(_.getOrElse(k, 0L)).sum / 1e3
      def dur(k: String) = pr.map(_.getOrElse(k, 0L)).sum / 1e3
      val metrics = Map[String, Any](
        "jobs" -> pj.size, "stages" -> pj.map(_.stages).sum, "tasks" -> tot(_.tasks),
        "sql_actions" -> sqlStarts.count(within),
        "job_wall_s" -> jobUnion, "driver_outside_jobs_s" -> (entryWall - jobUnion),
        "plan.analysis_s" -> phase("analysis"), "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "executor_run_s" -> tot(_.runMs) / 1e3, "executor_cpu_s" -> tot(_.cpuNs) / 1e9,
        "gc_s" -> tot(_.gcMs) / 1e3,
        "shuffle_read_mb" -> tot(_.shuffleRead) / Mb, "shuffle_write_mb" -> tot(_.shuffleWrite) / Mb,
        "spill_mb" -> tot(_.spill) / Mb, "input_mb" -> tot(_.input) / Mb,
        "result_mb" -> tot(_.result) / Mb, "input_records" -> tot(_.records),
        "stream.batches" -> pr.size, "stream.add_batch_s" -> dur("addBatch"),
        "stream.get_batch_s" -> dur("getBatch"), "stream.wal_commit_s" -> dur("walCommit"),
      ) ++ Modules.flatMap { m =>
        val mj = pj.filter(_.module == m)
        Seq(s"jobs.$m" -> mj.size, s"job_s.$m" -> mj.map(j => j.end - j.start).sum / 1e3)
      }
      val wall = p("wall_s").asInstanceOf[Double]
      Map("pass" -> p("pass"), "metrics" -> metrics,
        "span" -> Map("span" -> s"pass/$pid", "wall_s" -> wall, "self_s" -> (wall - entryWall),
          "children" -> entrySpans))
    }
    val unknown = jobs.values.map(_.module).filterNot(Modules.contains).toSeq.distinct
    Map("passes" -> rows, "other_modules" -> unknown)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val Mb = 1024.0 * 1024.0

  /** The engine's modules, plus `harness` for jobs the harness starts. */
  val Modules: Seq[String] = Seq("model", "core", "store", "state", "analytics",
    "functions", "streaming", "queries", "harness")

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t.jobListener)
    spark.listenerManager.register(t.planListener)
    spark.streams.addListener(t.streamListener)
    t
  }

  /** Module of the first `graft.*` frame of a long-form call site: its
    * subpackage, or `queries` for the root registry (`graft.SparkEntry`);
    * `harness` when no engine frame is on the stack. */
  def module(site: String): String =
    Option(site).toSeq.flatMap(_.linesIterator).map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft.")).map(_.split('.')) match {
        case Some(parts) if parts.length > 2 && parts(1).head.isLower => parts(1)
        case Some(_) => "queries"
        case None => "harness"
      }

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else curE = curE max e
    }
    if (first) 0L else total + curE - curS
  }
}
