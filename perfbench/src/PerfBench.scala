package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed-loop, single-client benchmark harness for the graft engine.
  *
  * One JVM runs one workload. It touches the program only through its
  * public entry points (`SparkEntry.queries`, `Tables.load`,
  * `Versioned`, `Merge`), times every call from outside, and writes
  * `result.json` (per-pass and per-operation timings, set-up time,
  * peak RSS, and with `--trace 1` the per-layer totals) plus the
  * outputs of one untimed checking pass for `perfbench/check.py`.
  *
  * Set-up: [[PerfBench.SetUps]] times over, a new session with the
  * settings of `graft.Bench` and every corpus table loaded through
  * `Tables.load`; the first set-up starts at JVM start, the later ones
  * stop the previous session first (outside the figure). `setup_s` is
  * their median. The last session runs the workload.
  *
  * Pass structure: pass 0 is the checking pass (results written to
  * `<out>/check`), then `--warmups` untimed passes, then timed passes
  * until at least `--min-ops` operations were timed and the window is
  * as near `--seconds` as whole passes bring it (the next pass would
  * overshoot by more than half a pass). Every pass runs the same
  * operation list, so each run attempts whole rounds.
  * `spark.catalog.clearCache()` runs between passes, outside the timed
  * window.
  *
  * Usage: PerfBench --workload W --data DIR --out DIR --ops a,b,c
  *   --seconds S --warmups W --min-ops N --seed N --trace 0|1
  */
object PerfBench {

  /** Wall clock in microseconds since the epoch, from a monotonic
    * anchor so intervals never go backwards. */
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  final case class Span(op: String, phase: String, pass: Int,
      startUs: Long, endUs: Long) {
    def seconds: Double = (endUs - startUs) / 1e6
  }

  final class Run(val spark: SparkSession, val out: Path,
      val tracer: Option[Tracer]) {
    val spans = ArrayBuffer.empty[Span]
    var pass = 0
    def trace: Boolean = tracer.isDefined
    def span[T](op: String, phase: String)(body: => T): T = {
      if (trace) spark.sparkContext.setLocalProperty("graftbench.phase", phase)
      val t0 = nowUs()
      try body finally spans += Span(op, phase, pass, t0, nowUs())
    }
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** A session with the settings of `graft.Bench`. */
  def session(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.util.Scratch.path("warehouse"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val warmups = opt("warmups").toInt
    val minOps = opt("min-ops").toInt
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    Files.createDirectories(out)

    // setup_s: the median of SetUps set-ups, the first from JVM start
    val setups = ArrayBuffer.empty[Double]
    var last: SparkSession = null
    var start = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    for (_ <- 1 to SetUps) {
      if (last != null) { last.stop(); start = nowUs() }
      last = session(cores)
      graft.Tables.names.foreach(graft.Tables.load(last, data, _))
      setups += (nowUs() - start) / 1e6
    }
    val setupS = setups.sorted.apply(SetUps / 2)
    val spark = last
    val tracer = if (trace) Some(Tracer.attach(spark)) else None
    val run = new Run(spark, out, tracer)

    val work: Workload = workload match {
      case "lake_ingest" => new LakeIngest(run, data, seed)
      case _ => new RegistryQueries(run, data, opt("ops").split(",").toSeq)
    }

    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** One pass; returns its (start, end) in epoch microseconds. */
    def onePass(check: Boolean): (Long, Long) = {
      val t0 = nowUs()
      work.pass(check, (op, e) => failed.getOrElseUpdate(op,
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
      val t1 = nowUs()
      spark.catalog.clearCache()
      work.cleanup(check)
      (t0, t1)
    }
    def secs(p: (Long, Long)): Double = (p._2 - p._1) / 1e6

    run.pass = 0
    val checkPass = onePass(check = true)
    val warmPasses = (1 to warmups).map { p => run.pass = p; onePass(false) }
    run.spans.clear()
    val passes = ArrayBuffer.empty[(Long, Long)]
    def timedOps = run.spans.count(_.phase == "op")
    def window = passes.map(secs).sum
    while (passes.isEmpty || timedOps < minOps ||
        seconds - window > window / passes.size / 2) {
      run.pass = warmups + 1 + passes.size
      passes += onePass(false)
    }
    val layers = tracer.map(_.finish(run, passes.toSeq, work))
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

    val opSpans = run.spans.filter(_.phase == "op")
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "setups_s" -> Json.arr(setups.map(Json.num).toSeq),
      "check_pass_s" -> Json.num(secs(checkPass)),
      "warmup_pass_s" -> Json.arr(warmPasses.map(p => Json.num(secs(p)))),
      "pass_s" -> Json.arr(passes.map(p => Json.num(secs(p))).toSeq),
      "ops" -> Json.arr(opSpans.map(s => Json.obj(
        "name" -> Json.str(s.op), "pass" -> Json.num(s.pass),
        "s" -> Json.num(s.seconds))).toSeq),
      "failed_ops" -> Json.obj(failed.toSeq.map { case (k, v) =>
        k -> Json.str(v) }: _*),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "lake" -> work.checkFacts,
      "layers" -> layers.map(l => Json.obj(l.toSeq.map { case (k, v) =>
        k -> Json.num(v) }: _*)).getOrElse("null"))
    Files.writeString(out.resolve("result.json"), json)
    tracer.foreach(Tracer.writeSpans(out.resolve("spans.json"), workload,
      run.spans.toSeq, passes.toSeq, _))
    spark.stop()
  }
}

/** One workload: a fixed operation list run as whole passes. */
trait Workload {
  /** Run every operation once; `check` marks the untimed pass whose
    * outputs are written for the output checks. */
  def pass(check: Boolean, fail: (String, Throwable) => Unit): Unit
  /** Remove what a pass left behind (outside the timed window). */
  def cleanup(check: Boolean): Unit = ()
  /** Facts recorded during the checking pass, as JSON. */
  def checkFacts: String = "null"
}

/** Registry queries: build the frame, force its executed plan, run it
  * into the `noop` sink. The checking pass writes each result as one
  * parquet file instead. */
final class RegistryQueries(run: PerfBench.Run, data: String,
    names: Seq[String]) extends Workload {
  private val fns = {
    val all = SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"unknown registry query $n")))
  }
  private val oracles = SparkEntry.oracleSql
  java.nio.file.Files.writeString(run.out.resolve("oracle_sql.json"),
    Json.obj(names.map(n => n -> Json.str(oracles.getOrElse(n,
      sys.error(s"registry query $n has no DuckDB oracle")))): _*))

  def pass(check: Boolean, fail: (String, Throwable) => Unit): Unit =
    fns.foreach { case (name, fn) =>
      try run.span(name, "op") {
        val df = run.span(name, "build")(fn(run.spark, data))
        if (check)
          df.coalesce(1).write.mode("overwrite")
            .parquet(run.out.resolve("check").resolve(name).toString)
        else {
          run.span(name, "plan")(df.queryExecution.executedPlan)
          // the frame's own phases: its execution never reaches the
          // listener, only the noop write's does
          run.tracer.foreach(_.recordPhases(df.queryExecution))
          run.span(name, "execute")(
            df.write.format("noop").mode("overwrite").save())
        }
      } catch { case e: Exception => fail(name, e) }
    }
}
