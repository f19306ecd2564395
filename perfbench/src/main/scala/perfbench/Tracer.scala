package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local properties the harness sets around each traced call; Spark
    * copies them onto every job the call submits, AQE's asynchronous
    * stage jobs included. */
  val QueryKey = "perfbench.query"
  val LayerKey = "perfbench.layer"

  /** Files whose construction jobs get a bucket of their own. */
  val Buckets: Seq[String] = Seq(
    "Clusters", "Spanning", "Iterates", "Similarity", "Dedup", "Events", "Text", "Corpus")
  /** Construction jobs called from these files are the sources layer. */
  val SourceFiles: Set[String] = Set("Tables", "Sources")

  private val CallSite = """ at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  /** Harness-side span of one query: call, plan and write boundaries. */
  final case class QuerySpan(id: String, t0: Long, t1: Long, t2: Long, t3: Long)

  def file(site: String): String =
    CallSite.findFirstMatchIn(site).map(_.group(1)).getOrElse("unknown")
}

/** Spans and counters recorded from outside the engine: the harness
  * times the calls into each layer, and a SparkListener plus a
  * QueryExecutionListener attribute Spark's jobs and actions to them.
  * Everything stays in memory until [[report]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochOffsetNs = Main.epochNs() - System.nanoTime()

  final class Job(val id: Int, val query: String, val layer: String, val execId: Long,
      val stageName: String, val startMs: Long) {
    var endMs: Long = -1
    var stages, tasks, failedTasks = 0
    var taskMs, shuffleWrite, shuffleRead, spill = 0L
    var site = ""
    def seconds: Double = (endMs - startMs).max(0L) / 1e3
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val executions = mutable.Map[Long, (String, Option[Long])]()
  private val executionOwner = mutable.Map[Long, (String, String)]()
  private var actionsOk, actionsFailed = 0
  private val passActions = mutable.Map[Int, (Int, Int)]()
  private val querySpans = mutable.ArrayBuffer[QuerySpan]()
  private var markerDone = false
  private var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      val owner = (prop(QueryKey), prop(LayerKey)) match {
        case (Some(q), Some(l)) =>
          if (execId >= 0) executionOwner.getOrElseUpdate(execId, (q, l))
          (q, l)
        case (None, Some(l)) => ("", l)
        case _ => executionOwner.getOrElse(execId, ("", ""))
      }
      val stageName = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      val j = new Job(e.jobId, owner._1, owner._2, execId, stageName, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.layer == "marker") { markerDone = true; Tracer.this.notifyAll() }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.failed) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executions(s.executionId) = (s.description, s.rootExecutionId)
      }
      case _ =>
    }
  }

  private val actionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { actionsOk += 1 }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Tracer.this.synchronized { actionsFailed += 1 }
  }

  def on(): Unit = if (!active) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(actionListener)
    active = true
  }

  /** Wait until the listener bus has delivered every event so far: a
    * marker job is submitted last, and its end event arrives last. */
  private def drain(): Unit = {
    synchronized { markerDone = false }
    sc.setLocalProperty(LayerKey, "marker")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(LayerKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!markerDone && System.currentTimeMillis() < deadline) wait(50)
    }
  }

  /** Close a traced pass: its Dataset actions, succeeded and failed. */
  def passDone(index: Int): Unit = {
    drain()
    synchronized {
      passActions(index) = (actionsOk, actionsFailed)
      actionsOk = 0
      actionsFailed = 0
    }
  }

  def off(): Unit = if (active) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(actionListener)
    active = false
  }

  def span(id: String, t0: Long, t1: Long, t2: Long, t3: Long): Unit =
    synchronized { querySpans += QuerySpan(id, t0, t1, t2, t3) }

  private def ms(nano: Long): Double = (nano + epochOffsetNs) / 1e6

  /** The call site of the SQL execution a job belongs to, or, for a job
    * outside any SQL execution, of its final stage. A SQL execution's
    * description is the call site of the Dataset action that started it;
    * AQE submits that execution's stage jobs from a thread pool, so
    * their own stage names point at `CompletableFuture.java`. */
  private def site(j: Job): String =
    if (j.execId < 0) j.stageName
    else {
      def desc(id: Long, hops: Int): String = executions.get(id) match {
        case Some((d, root)) if d.contains(" at ") || hops > 4 || root.forall(_ == id) => d
        case Some((_, Some(root))) => desc(root, hops + 1)
        case _ => ""
      }
      desc(j.execId, 0)
    }

  /** Per-layer metrics: warm values are the median over the traced warm
    * passes; memo metrics are the cold pass minus that median. */
  def report(cold: Pass, tracedWarm: Seq[Pass], untracedWarm: Seq[Pass], last: Pass,
      driftKeys: Int, spansPath: String): Seq[(String, Any)] = {
    off()
    synchronized {
      jobs.values.foreach(j => j.site = site(j))
      val warm = tracedWarm.map(passMetrics)
      val coldM = passMetrics(cold)
      def med(k: String) = Stats.median(warm.map(_(k)))
      val tracedWall = Stats.median(tracedWarm.map(_.wall))
      val untracedWall = Stats.median(untracedWarm.map(_.wall))
      writeSpans(spansPath)
      val sites = jobs.values.filter(_.layer == "construct").groupBy(j => file(j.site))
        .map { case (f, js) => f -> js.size }
      coldM.keys.toSeq.map(k => k -> med(k)) ++ Seq(
        "memo.build_s" -> (coldM("construct.s") - med("construct.s")),
        "memo.build_jobs" -> (coldM("construct.jobs") - med("construct.jobs")),
        "jvm.gc_s" -> Stats.median(tracedWarm.map(_.gcS)),
        "cache.storage_mb" -> last.storageMb,
        "cache.rdds" -> last.rdds.toDouble,
        "session.conf_drift" -> driftKeys.toDouble,
        "trace.overhead_s" -> (tracedWall - untracedWall),
        "trace.unattributed_jobs" -> jobs.values.count(j => j.layer.isEmpty).toDouble,
        "traced_warm_pass_s" -> tracedWall,
        "untraced_warm_pass_s" -> untracedWall,
        "construct_sites" -> sites.toSeq.sortBy(-_._2).toMap,
      )
    }
  }

  private def passMetrics(p: Pass): Map[String, Double] = {
    val prefix = s"${p.index}:"
    val js = jobs.values.filter(_.query.startsWith(prefix)).toSeq
    val construct = js.filter(_.layer == "construct")
    val execute = js.filter(_.layer == "execute")
    val sources = construct.filter(j => SourceFiles(file(j.site)))
    val cS = p.qs.map(_.construct).sum
    val eS = p.qs.map(_.execute).sum
    def phase(n: String) = p.qs.map(_.phases.getOrElse(n, 0.0)).sum
    def busy(xs: Seq[Job], wall: Double) =
      if (wall > 0) xs.map(_.taskMs).sum / 1e3 / (wall * Main.Cores) else 0.0
    val spans = querySpans.filter(_.id.startsWith(prefix))
    def self(layer: String, from: QuerySpan => Long, to: QuerySpan => Long) = spans.map { s =>
      val inLayer = js.filter(j => j.query == s.id && j.layer == layer)
      selfTime(ms(from(s)), ms(to(s)), inLayer.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    }.sum
    val buckets = Buckets.map(b => s"construct.jobs.$b" -> construct.count(j => file(j.site) == b).toDouble)
    val other = construct.count(j => !Buckets.contains(file(j.site))).toDouble
    Map(
      "sources.jobs" -> sources.size.toDouble,
      "sources.s" -> sources.map(_.seconds).sum,
      "construct.s" -> cS,
      "construct.self_s" -> self("construct", _.t0, _.t1),
      "construct.jobs" -> construct.size.toDouble,
      "construct.tasks" -> construct.map(_.tasks).sum.toDouble,
      "construct.task_s" -> construct.map(_.taskMs).sum / 1e3,
      "construct.busy_share" -> busy(construct, cS),
      "construct.executions" -> construct.map(_.execId).filter(_ >= 0).distinct.size.toDouble,
      "session.actions" -> passActions.get(p.index).map(_._1.toDouble).getOrElse(0.0),
      "session.failed_actions" -> passActions.get(p.index).map(_._2.toDouble).getOrElse(0.0),
      "plan.s" -> p.qs.map(_.plan).sum,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "execute.s" -> eS,
      "execute.self_s" -> self("execute", _.t2, _.t3),
      "execute.jobs" -> execute.size.toDouble,
      "execute.stages" -> execute.map(_.stages).sum.toDouble,
      "execute.tasks" -> execute.map(_.tasks).sum.toDouble,
      "execute.task_s" -> execute.map(_.taskMs).sum / 1e3,
      "execute.busy_share" -> busy(execute, eS),
      "execute.shuffle_write_mb" -> execute.map(_.shuffleWrite).sum / 1048576.0,
      "execute.shuffle_read_mb" -> execute.map(_.shuffleRead).sum / 1048576.0,
      "execute.spill_mb" -> execute.map(_.spill).sum / 1048576.0,
      "execute.failed_tasks" -> execute.map(_.failedTasks).sum.toDouble,
    ) ++ buckets + ("construct.jobs.other" -> other)
  }

  /** Length of [from, to] not covered by the child intervals. */
  private def selfTime(from: Double, to: Double, children: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = from
    children.map { case (a, b) => (a max from, b min to) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - (a max reach); reach = b }
      }
    ((to - from) - covered) / 1e3
  }

  /** One JSON line per span: query, its three layers, and their jobs. */
  private def writeSpans(path: String): Unit = {
    val lines = mutable.ArrayBuffer[String]()
    def emit(q: String, span: String, parent: String, start: Double, end: Double): Unit =
      lines += Json.obj(Seq("query" -> q, "span" -> span, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> end))
    querySpans.foreach { s =>
      emit(s.id, "query", null, ms(s.t0), ms(s.t3))
      emit(s.id, "construct", "query", ms(s.t0), ms(s.t1))
      emit(s.id, "plan", "query", ms(s.t1), ms(s.t2))
      emit(s.id, "execute", "query", ms(s.t2), ms(s.t3))
    }
    jobs.values.filter(_.query.nonEmpty).foreach { j =>
      emit(j.query, s"job ${j.id} ${j.site}", j.layer, j.startMs.toDouble, j.endMs.toDouble)
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
