package graftbench

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Benchmark-owned span tracer. A span is one benchmark call into a
  * public function of the library; it sets a Spark job group named
  * `<workload>/<span>/<op>` around the call, and a listener buckets
  * every job, task and scanned TSV byte by that group. Everything is
  * kept in memory and summarised after the listener bus drains.
  *
  * Jobs are also bucketed by module: the first `graft.<pkg>` frame of
  * the job's call site names it (`sources`, `etl`, `core`, or `ops` for
  * `ops`/`plans`/`queries`; anything else is `other`).
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val listener = new Listener
  private val scans = new CsvScanListener
  sc.addSparkListener(listener)
  spark.listenerManager.register(scans)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  /** Run `body` as span `name` of op `op`; nested spans extend the
    * enclosing group (`corpus_curation/dedup/3/face.q_dedup_near`). */
  def apply[T](workload: String, name: String, op: Int)(body: => T): T = {
    val group = open.headOption.fold(s"$workload/$name/$op")(g => s"$g/$name")
    open = group :: open
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(workload, name, group, ms0, System.currentTimeMillis(), wall)
      open = open.tail
      open.headOption match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** TSV bytes the CSV scans have planned to read so far. */
  def csvBytes: Long = { drain(); scans.bytes }

  def drain(): Unit = SparkInternals.drainListeners(sc)

  /** Per-op averages of every counter for each span name of `workload`,
    * keyed `<span>.<counter>` (and `<span>.by_module.<m>.{jobs,wall_s}`). */
  def summary(workload: String): Map[String, Double] = {
    drain()
    val out = mutable.LinkedHashMap.empty[String, Double]
    for ((name, ss) <- spans.filter(_.workload == workload).groupBy(_.name)) {
      val n = ss.size.toDouble
      val c = ss.map(counters).reduce(_ + _)
      out ++= Seq(
        s"$name.wall_s" -> c.wall / n,
        s"$name.jobs" -> c.jobs / n,
        s"$name.tasks" -> c.tasks / n,
        s"$name.empty_task_frac" ->
          (if (c.tasks == 0) 0.0 else c.emptyTasks / c.tasks),
        s"$name.busy_frac" -> c.runS / (c.wall * cores),
        s"$name.no_task_s" -> c.noTaskS / n,
        s"$name.shuffle_bytes" -> c.shuffleBytes / n,
        s"$name.spill_bytes" -> c.spillBytes / n)
      for (m <- Modules) {
        out(s"$name.by_module.$m.jobs") = c.moduleJobs.getOrElse(m, 0.0) / n
        out(s"$name.by_module.$m.wall_s") = c.moduleWall.getOrElse(m, 0.0) / n
      }
    }
    out.toMap
  }

  private def counters(s: Span): Counters = listener.synchronized {
    val mine = listener.groups.filter { case (g, _) =>
      g == s.group || g.startsWith(s.group + "/") }.values.toSeq
    val tasks = mine.flatMap(_.tasks)
    val jobs = mine.flatMap(_.jobs)
    // time inside the span that no task of the span covers
    val clipped = tasks.map(t => (math.max(t.start, s.startMs),
      math.min(t.end, s.endMs))).filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    for ((a, b) <- clipped) {
      if (b > reach) covered += b - math.max(a, reach)
      reach = math.max(reach, b)
    }
    Counters(
      wall = s.wallS, jobs = jobs.size, tasks = tasks.size,
      emptyTasks = tasks.count(_.records == 0),
      runS = tasks.map(_.runMs).sum / 1e3,
      noTaskS = math.max(0.0, s.wallS - covered / 1e3),
      shuffleBytes = tasks.map(_.shuffleBytes).sum.toDouble,
      spillBytes = tasks.map(_.spillBytes).sum.toDouble,
      moduleJobs = jobs.groupBy(_.module).map { case (m, j) => m -> j.size.toDouble },
      moduleWall = jobs.groupBy(_.module).map { case (m, j) =>
        m -> j.map(_.durationMs).sum / 1e3 })
  }
}

object Tracer {
  val Modules: Seq[String] = Seq("sources", "etl", "core", "ops")

  final case class Span(workload: String, name: String, group: String,
      startMs: Long, endMs: Long, wallS: Double)

  final case class TaskRec(start: Long, end: Long, runMs: Long,
      records: Long, shuffleBytes: Long, spillBytes: Long)

  final class JobRec(val module: String, val startMs: Long) {
    var endMs: Long = startMs
    def durationMs: Long = endMs - startMs
  }

  final class GroupRec {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
  }

  final case class Counters(wall: Double, jobs: Double, tasks: Double,
      emptyTasks: Double, runS: Double, noTaskS: Double,
      shuffleBytes: Double, spillBytes: Double,
      moduleJobs: Map[String, Double], moduleWall: Map[String, Double]) {
    private def merge(a: Map[String, Double], b: Map[String, Double]) =
      (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
    def +(o: Counters): Counters = Counters(wall + o.wall, jobs + o.jobs,
      tasks + o.tasks, emptyTasks + o.emptyTasks, runS + o.runS,
      noTaskS + o.noTaskS, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, merge(moduleJobs, o.moduleJobs),
      merge(moduleWall, o.moduleWall))
  }

  private val GraftFrame = """^graft\.([a-z]+)\.""".r.unanchored

  /** Module of the first library frame in a long-form call site. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.collectFirst {
      case l if l.trim.startsWith("graft.") =>
        l.trim match {
          case GraftFrame(p) if p == "plans" || p == "queries" => "ops"
          case GraftFrame(p) if Modules.contains(p) => p
          case _ => "other"
        }
    }.getOrElse("other")

  private final class Listener extends SparkListener {
    val groups = mutable.HashMap.empty[String, GroupRec]
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val jobs = mutable.HashMap.empty[Int, JobRec]
    private val execModule = mutable.HashMap.empty[Long, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        // jobs that AQE submits from its own threads carry no library
        // frame; their SQL execution's call site names the module
        val own = e.stageInfos.map(i => moduleOf(i.details)).find(_ != "other")
        val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execModule.get(id.toLong))
        val job = new JobRec(own.orElse(sql).getOrElse("other"), e.time)
        jobs(e.jobId) = job
        groups.getOrElseUpdate(g, new GroupRec).jobs += job
        e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, g))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execModule(x.executionId) = moduleOf(x.details) }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val records = m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead
        groups.getOrElseUpdate(g, new GroupRec).tasks += TaskRec(
          e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
          records, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Sums the planned file bytes of every executed CSV (TSV) scan,
    * including the scans under each in-memory cache the query used,
    * counted once per cache: a persisted frame reads its TSV while the
    * first query that uses it builds the cache. */
  private final class CsvScanListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    @volatile var bytes = 0L
    private val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])

    private def scanned(plan: SparkPlan): Long =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case m: InMemoryTableScanExec if caches.add(m.relation.cacheBuilder) =>
          scanned(m.relation.cacheBuilder.cachedPlan)
      }.sum

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { bytes += scanned(qe.executedPlan) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
