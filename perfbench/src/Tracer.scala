package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners, attached from outside the program
  * through Spark's public `SparkListener` and `QueryExecutionListener`
  * interfaces. Events are kept raw with their own timestamps and
  * attributed to the timed passes at the end, so events the listener
  * bus delivers late still land in the right window.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val jobsEnded = new AtomicLong()
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p =>
      Option(p.getProperty("graftbench.phase"))).getOrElse("")
    jobs.add(JobRec(e.time, phase)); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages.add(StageRec(s, c))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.shuffleReadMetrics.fetchWaitTime,
      m.inputMetrics.recordsRead))
    touch()
  }

  /** The tracker phases of one execution. */
  private def phases(qe: QueryExecution, files: Long, bytes: Long,
      scanned: Long): QueryRec = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    QueryRec(start, ms("analysis"), ms("optimization"), ms("planning"),
      files, bytes, scanned)
  }

  /** Phases of a frame whose execution the listener never sees. */
  def recordPhases(qe: QueryExecution): Unit =
    queries.add(phases(qe, 0L, 0L, 0L))

  private def record(qe: QueryExecution): Unit = {
    var files = 0L
    var bytes = 0L
    var scanned = 0L
    // writes and scans can sit under a command, an adaptive plan's
    // query stages or a subquery
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: DataWritingCommandExec =>
          files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytes += w.cmd.metrics.get("numOutputBytes").map(_.value)
            .getOrElse(0L)
        case s: FileSourceScanExec =>
          scanned += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (inner ++ p.subqueries).foreach(walk)
    }
    walk(qe.executedPlan)
    queries.add(phases(qe, files, bytes, scanned))
    touch()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** Wait until the listener bus has drained (every started job has
    * ended and no event arrived for 300 ms, at most 20 s). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get() < jobs.size ||
          System.nanoTime() - lastEventNs.get() < 300000000L))
      Thread.sleep(50)
  }

  /** Per-layer metrics over the timed passes, as totals per pass. */
  def finish(run: PerfBench.Run, passes: Seq[(Long, Long)],
      work: Workload): Map[String, Double] = {
    drain()
    val windows = passes.map { case (a, b) => (a / 1000L, b / 1000L) }
    def in(ms: Long) = windows.exists { case (a, b) => ms >= a && ms <= b }
    val n = passes.size.toDouble
    val js = jobs.asScala.filter(j => in(j.timeMs)).toSeq
    val ss = stages.asScala.filter(s => in(s.submitMs)).toSeq
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val qs = queries.asScala.filter(q => in(q.startMs)).toSeq
    val busyMs = windows.map { case (a, b) =>
      unionLength(ss.map(s => (s.submitMs max a, s.doneMs min b))
        .filter(iv => iv._2 > iv._1))
    }.sum
    val windowMs = windows.map { case (a, b) => b - a }.sum
    val spans = run.spans.toSeq
    def spanS(phase: String) =
      spans.filter(_.phase == phase).map(_.seconds).sum
    val (committed, stored) = work match {
      case l: LakeIngest => (l.committedBytes, l.storedBytes)
      case _ => (0L, 0L)
    }
    val lake = work.isInstanceOf[LakeIngest]
    Map(
      "operators.build_s" -> spanS("build"),
      "operators.build_jobs" -> js.count(_.phase == "build").toDouble,
      "plans.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
      "plans.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
      "plans.planning_s" -> qs.map(_.planningMs).sum / 1e3,
      "plans.final_plan_s" -> spanS("plan"),
      "executor.execute_s" -> spanS("execute"),
      "executor.run_s" -> ts.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.stage_busy_s" -> busyMs / 1e3,
      "scheduler.idle_s" -> (windowMs - busyMs) / 1e3,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "tables.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "tables.input_bytes" -> qs.map(_.bytesScanned).sum.toDouble,
      "warehouse.commit_s" -> spanS("Versioned.commit"),
      "warehouse.maintain_s" -> spanS("Versioned.maintain"),
      "warehouse.upsert_s" -> spanS("Merge.upsertPartitioned"),
      "warehouse.read_s" -> spanS("Versioned.read"),
      "warehouse.bytes_written" ->
        (if (lake) qs.map(_.bytesWritten).sum.toDouble else 0.0),
      "warehouse.files_written" ->
        (if (lake) qs.map(_.filesWritten).sum.toDouble else 0.0)
    ).map { case (k, v) => k -> v / n } + ("warehouse.bytes_per_input_byte" ->
      (if (committed > 0) stored.toDouble / committed else 0.0))
  }
}

object Tracer {
  final case class JobRec(timeMs: Long, phase: String)
  final case class StageRec(submitMs: Long, doneMs: Long)
  final case class TaskRec(launchMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      fetchWaitMs: Long, inRows: Long)
  final case class QueryRec(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, filesWritten: Long,
      bytesWritten: Long, bytesScanned: Long)

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Length of the union of half-open intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - (a max end); end = b }
    }
    total
  }

  /** The span file: one span per operation and per phase inside it
    * (times in microseconds since the epoch, parent = the enclosing
    * operation span or the pass), plus the listener counts. */
  def writeSpans(path: Path, workload: String, spans: Seq[PerfBench.Span],
      passes: Seq[(Long, Long)], t: Tracer): Unit = {
    val passSpans = passes.zipWithIndex.map { case ((a, b), i) =>
      Json.obj("id" -> Json.str(s"pass$i"), "workload" -> Json.str(workload),
        "op" -> Json.str("pass"), "phase" -> Json.str("pass"),
        "start_us" -> Json.num(a), "end_us" -> Json.num(b),
        "parent" -> "null")
    }
    val passIds = spans.map(_.pass).distinct.sorted.zipWithIndex.toMap
    var opId = ""
    // spans are appended when they close: phases precede their op
    val ordered = spans.sortBy(s => (s.startUs, if (s.phase == "op") 0 else 1))
    val opSpans = ordered.zipWithIndex.map { case (s, i) =>
      val id = s"s$i"
      val parent =
        if (s.phase == "op") { opId = id; s"pass${passIds(s.pass)}" }
        else opId
      Json.obj("id" -> Json.str(id), "workload" -> Json.str(workload),
        "op" -> Json.str(s.op), "phase" -> Json.str(s.phase),
        "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs),
        "parent" -> Json.str(parent))
    }
    Files.writeString(path, Json.obj(
      "workload" -> Json.str(workload),
      "spans" -> Json.arr(passSpans ++ opSpans),
      "listener_counts" -> Json.obj(
        "jobs" -> Json.num(t.jobs.size.toLong),
        "stages" -> Json.num(t.stages.size.toLong),
        "tasks" -> Json.num(t.tasks.size.toLong),
        "query_executions" -> Json.num(t.queries.size.toLong))))
  }
}

/** Minimal JSON writer (values are pre-rendered JSON strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
