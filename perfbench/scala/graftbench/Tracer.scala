package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property naming the op (and phase) a job belongs to:
    * `pass \t client \t op \t phase`. Spark copies local properties to
    * every job the calling thread starts, broadcast sub-jobs included. */
  val KeyProp = "graftbench.key"
  private object Plans extends AdaptiveSparkPlanHelper

  /** One SQL execution as the QueryExecutionListener saw it. */
  final case class Exec(id: Long, func: String, durationNs: Long,
                        analysisMs: Long, optimizationMs: Long, planningMs: Long,
                        endMs: Long, xlsxRows: Long, xlsxScans: Int)
}

/** Listeners of the traced run. Jobs, stages and tasks are attributed to
  * ops exactly, through [[Tracer.KeyProp]]; SQL executions through the
  * jobs they ran (`spark.sql.execution.id`), or by time when they ran
  * none. Everything is kept in memory; [[writeTrace]] writes it once. */
final class Tracer(slots: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var gcMs = 0L; var waitMs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L
    val jobSpans = ArrayBuffer[(Long, Long)]() // (start, end) epoch ms
  }

  private val counters = new ConcurrentHashMap[String, Counters]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), Long]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val execs = java.util.Collections.synchronizedList(new java.util.ArrayList[Exec]())
  private val jobLog = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(Int, String, Long, Long)]())

  private def ctr(key: String): Counters = counters.computeIfAbsent(key, _ => new Counters)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // -- SparkListener ---------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(KeyProp))).getOrElse("other")
    jobKey.put(e.jobId, key)
    jobStartMs.put(e.jobId, e.time)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execKey.putIfAbsent(id.toLong, key))
    ctr(key).synchronized(ctr(key).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = jobKey.getOrDefault(e.jobId, "other")
    val start = jobStartMs.getOrDefault(e.jobId, e.time)
    val c = ctr(key)
    c.synchronized(c.jobSpans += ((start, e.time)))
    jobLog.add((e.jobId, key, start, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(KeyProp)))
      .getOrElse("other")
    val si = e.stageInfo
    stageKey.put(si.stageId, key)
    stageSubmitMs.put((si.stageId, si.attemptNumber()),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
    ctr(key).synchronized(ctr(key).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.getOrDefault(e.stageId, "other")
    val c = ctr(key)
    val submitted = stageSubmitMs.getOrDefault((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
    c.synchronized {
      c.tasks += 1
      c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shWrite += m.shuffleWriteMetrics.bytesWritten
        c.shRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // -- QueryExecutionListener ------------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val endMs = if (phases.isEmpty) System.currentTimeMillis()
                else phases.values.map(_.endTimeMs).max
    val scans = try Plans.collect(qe.executedPlan) {
        case b: BatchScanExec if b.scan.getClass.getName.contains("Xlsx") => b
      } catch { case _: Throwable => Nil }
    val rows = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    execs.add(Exec(qe.id, funcName, durationNs, ms("analysis"), ms("optimization"),
      ms("planning"), endMs, rows, scans.size))
  }

  // -- per-pass figures ------------------------------------------------------

  private def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  private def opOf(key: String): Option[(Int, String, String, String)] =
    key.split("\t") match {
      case Array(p, cl, op, ph) => Some((p.toInt, cl, op, ph))
      case _ => None
    }

  /** The SQL executions of one pass, each with the op it belongs to. */
  private def passExecs(pass: Int, recs: Seq[OpRec]): Seq[(Exec, Option[OpRec])] = {
    val byOp = recs.map(r => (r.client, r.op) -> r).toMap
    execs.asScala.toSeq.flatMap { x =>
      Option(execKey.get(x.id)).flatMap(opOf) match {
        case Some((p, cl, op, _)) => if (p == pass) Some(x -> byOp.get((cl, op))) else None
        case None => // ran no job: match by time
          recs.find(r => x.endMs >= r.startMs && x.endMs <= r.endMs).map(r => x -> Some(r))
      }
    }
  }

  /** Layer figures of one traced pass (README, "Per-layer metrics"). */
  def passLayers(pass: Int, recs: Seq[OpRec], passWallS: Double,
                 workbookBytes: Long): Map[String, Any] = {
    val mine = counters.asScala.toSeq.flatMap { case (k, v) =>
      opOf(k).filter(_._1 == pass).map(o => o -> v)
    }
    def sum(f: Counters => Long): Long = mine.map(m => f(m._2)).sum
    val xs = passExecs(pass, recs)
    val mb = 1048576.0
    val taskS = sum(_.runMs) / 1e3
    val ok = recs.filter(_.ok)
    val repl = ok.filter(_.client == "repl")
    val cur = ok.filter(_.client == "curation")
    def opCounters(r: OpRec) = mine.filter(m => m._1._2 == r.client && m._1._3 == r.op).map(_._2)
    val replSelf = repl.map { r =>
      val inside = xs.filter(_._2.contains(r)).map(_._1.durationNs).sum
      math.max(0L, r.wallNs - inside)
    }.sum / 1e9
    val buildSelf = cur.map { r =>
      val build = mine.filter(m => m._1._2 == r.client && m._1._3 == r.op && m._1._4 == "build")
        .flatMap(_._2.jobSpans)
      math.max(0.0, r.buildNs / 1e9 - union(build) / 1e3)
    }.sum
    val metrics = scala.collection.mutable.LinkedHashMap[String, Any](
      "sources.load_s" -> repl.filter(_.op == "load").map(_.wallNs).sum / 1e9,
      "sources.rows_read" -> xs.map(_._1.xlsxRows).sum,
      "sources.read_mb" -> xs.map(_._1.xlsxScans).sum * workbookBytes / mb,
      "catalyst.analysis_s" -> xs.map(_._1.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> xs.map(_._1.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> xs.map(_._1.planningMs).sum / 1e3,
      "queries.build_s" -> cur.map(_.buildNs).sum / 1e9,
      "queries.build_self_s" -> buildSelf,
      "queries.build_jobs" -> mine.filter(_._1._4 == "build").map(_._2.jobs).sum,
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks), "exec.task_s" -> taskS,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.busy_ratio" -> (if (passWallS > 0) taskS / (passWallS * slots) else 0.0),
      "exec.task_wait_s" -> sum(_.waitMs) / 1e3,
      "exec.spill_mb" -> sum(_.spill) / mb,
      "shuffle.write_mb" -> sum(_.shWrite) / mb,
      "shuffle.read_mb" -> sum(_.shRead) / mb,
      "staging.left_after_op" ->
        (if (recs.isEmpty) 0.0 else recs.map(_.leftAfter).sum.toDouble / recs.size),
      "staging.cached_mb" -> (if (recs.isEmpty) 0.0 else recs.map(_.cachedBytes).max / mb),
      "repl.self_s" -> replSelf,
      "sinks.parquet_s" -> cur.map(_.writeNs).sum / 1e9,
      "sinks.csv_s" -> repl.map(_.csvNs).sum / 1e9,
      "sinks.files" -> recs.map(_.files).sum)
    ok.foreach { r => metrics(s"op.${r.op}_s") = r.wallNs / 1e9 }
    cur.foreach { r =>
      metrics(s"op.${r.op}.jobs") = opCounters(r).map(_.jobs).sum
      metrics(s"op.${r.op}.tasks") = opCounters(r).map(_.tasks).sum
    }
    Map("pass" -> pass, "metrics" -> metrics.toMap)
  }

  /** One trace file: op spans with their build/write children, jobs and
    * SQL executions, all in memory until now. */
  def writeTrace(path: String, recs: Seq[OpRec]): Unit = {
    val t0 = if (recs.isEmpty) 0L else recs.map(_.startNs).min
    Json.write(path, Map(
      "spans" -> recs.filter(_.traced).map(r => Map(
        "client" -> r.client, "op" -> r.op, "pass" -> r.pass,
        "start_ms" -> r.startMs, "end_ms" -> r.endMs,
        "start_s" -> (r.startNs - t0) / 1e9, "wall_s" -> r.wallNs / 1e9,
        "build_s" -> r.buildNs / 1e9, "write_s" -> r.writeNs / 1e9,
        "csv_replay_s" -> r.csvNs / 1e9, "left_after" -> r.leftAfter, "held" -> r.held,
        "cached_bytes" -> r.cachedBytes, "ok" -> r.ok)),
      "jobs" -> jobLog.asScala.toSeq.map { case (id, k, s, e) =>
        Map("job" -> id, "key" -> k, "start_ms" -> s, "end_ms" -> e) },
      "executions" -> execs.asScala.toSeq.map(x => Map(
        "id" -> x.id, "func" -> x.func, "key" -> Option(execKey.get(x.id)).getOrElse(""),
        "duration_s" -> x.durationNs / 1e9, "analysis_ms" -> x.analysisMs,
        "optimization_ms" -> x.optimizationMs, "planning_ms" -> x.planningMs,
        "xlsx_rows" -> x.xlsxRows)),
      "counters" -> counters.asScala.toSeq.map { case (k, v) => Map(
        "key" -> k, "jobs" -> v.jobs, "stages" -> v.stages, "tasks" -> v.tasks,
        "task_ms" -> v.runMs, "gc_ms" -> v.gcMs, "wait_ms" -> v.waitMs) }))
  }
}
