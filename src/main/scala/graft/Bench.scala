package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints the results as JSON on stdout.
  * Queries execute into the `noop` sink so the whole plan (including
  * projections that a bare count() would prune away) runs end-to-end
  * without sink I/O.
  *
  * Each query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3) after an
  * untimed warmup; iterative/high-variance queries (k-means, connected
  * components, sketch/session aggregations — observed swinging 2-3× on
  * identical binaries across rounds) run `SPARK_GRAFT_BENCH_RUNS_ITER`
  * times (default 5). The JSON carries the per-query MEDIAN, taming
  * JIT/page-cache run-to-run variance so round-over-round regressions
  * are attributable. A query that throws is listed in `failed` with
  * time -1 (excluded from the total) and the process exits non-zero —
  * a failure can never read as a speedup.
  *
  * Output contract (the harness keeps only a ~2 KB stdout TAIL):
  *  1. the full result line — per-query medians keyed by the short
  *     `qNN` id, millisecond precision, so the whole line fits inside
  *     the tail window;
  *  2. a final compact headline `{"metric":"total",...,"n":…,
  *     "failed":[…]}` — whatever else scrolls off, the total survives.
  * The verbose map (full query names, nanosecond precision) goes to
  * stderr for human debugging.
  */
object Bench {

  /** First three fields of /proc/loadavg (1/5/15-min run-queue
    * averages), or "" off-Linux. Recorded before and after the suite so
    * a regressed round can be adjudicated as machine load vs code — the
    * r9 driver bench read 133.5 s purely from a busy machine and cost a
    * judge session to disprove. */
  private def loadAvg(): String =
    try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** Fixed data-independent calibration job (range → hash-agg over a
    * 32-partition shuffle). Identical bytes every round, so its time
    * moves ONLY with machine conditions: a round where queries and the
    * calibration drift together is machine noise; queries drifting
    * alone is a code regression. Median of `samples` timed runs after
    * one untimed codegen warmup. */
  private def calibrate(spark: SparkSession, samples: Int = 3): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup, untimed
    val ts = List.fill(samples)(once()).sorted
    ts(ts.size / 2)
  }

  /** Queries whose runtime is dominated by multi-round iterative jobs;
    * their medians need more samples to be comparable across rounds. */
  private val IterativeQueries = Set(
    "q58_ivf_kmeans", "q61_dedup_clusters", "q63_kmv_distinct",
    "q64_sessionize", "q71_lsh_clusters", "q78_incremental_dedup",
    // not iterative, but observed swinging ±25% across rounds on
    // identical code (JIT/profile sensitivity of the regex cascades
    // and the shingle index build) — extra samples keep the medians
    // comparable round over round
    "q19_ngram_jaccard", "q30_extract_requirements",
    // checkpoint/state-dir heavy: measured per-run profiles like
    // 54/85/7 s (q99) — the first runs pay dirty-page flush from
    // everything benched before them, steady state is the small
    // number; 5 samples put the median in the steady-state cluster
    "q98_ivf_index_recall", "q99_streaming_dedup",
    "q100_stream_merge_fold")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // iterative default: 5 on a default run, but follow an explicit
    // SPARK_GRAFT_BENCH_RUNS (a RUNS=1 smoke run shouldn't still pay
    // five passes of the slowest queries)
    val iterRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS_ITER").map(_.toInt)
      .getOrElse(if (sys.env.contains("SPARK_GRAFT_BENCH_RUNS")) runs
        else 5)
      .max(runs)
    // a crashed run must not leave the PREVIOUS run's summary behind
    // for a file-reading consumer to mistake for current results
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("target/bench_summary.json"))
    catch { case _: Throwable => }
    val spark = graft.util.Session.build()
    val loadBefore = loadAvg()
    // untimed warmup: JIT/codegen/parquet-footer paths, one cheap
    // query per table family
    for (w <- Seq("q01_pricing_summary", "q13_completeness",
        "q12_doc_token_stats", "q37_media_stats"))
      try SparkEntry.queries.get(w)
        .foreach(_(spark, sfDir).write.format("noop").mode("overwrite")
          .save())
      catch { case _: Throwable => }
    val calibBefore = calibrate(spark)
    val only = SparkEntry.nameFilter()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only(n) }
    def runsFor(n: String): Int =
      if (IterativeQueries.contains(n)) iterRuns else runs
    val maxRuns = names.map { case (n, _) => runsFor(n) }
      .maxOption.getOrElse(runs)
    val times = scala.collection.mutable.Map[String, List[Double]]()
    val failed = scala.collection.mutable.SortedSet[String]()
    for (r <- 1 to maxRuns) {
      // drop persisted frames from the previous pass: operators that
      // persist internally (dedup indexes/results) would otherwise be
      // plan-cache hits on runs 2+ and the median would report cached
      // reads instead of cold compute
      spark.catalog.clearCache()
      for ((name, fn) <- names if r <= runsFor(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt :: times.getOrElse(name, Nil)
          // per-run progress on stderr: a hung/slow query is visible
          // (and attributable) while the suite is still running
          System.err.println(f"[bench] $name run $r: $dt%.2f s")
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name run $r failed: ${e.getMessage}")
        }
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // a query that failed ANY run reports -1 and never contributes to
    // the total — mixed-run medians would make flaky queries
    // incomparable across rounds
    val qs = names.map { case (n, _) =>
      n -> (if (failed.contains(n)) -1.0
        else times.get(n).filter(_.nonEmpty).map(median).getOrElse(-1.0))
    }
    val total = qs.collect { case (_, t) if t >= 0 => t }.sum
    val calibAfter = calibrate(spark)
    val loadAfter = loadAvg()
    def ms(x: Double): Double = math.rint(x * 1000) / 1000
    // short qNN keys + ms precision keep the whole line under the
    // harness's ~2 KB stdout-tail capture
    val qJson = qs.map { case (k, v) =>
      "\"" + k.split("_").head + "\":" + ms(v) }.mkString("{", ",", "}")
    val fJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val verbose = qs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    System.err.println(s"""[bench-full] {"queries":$verbose}""")
    // Contamination verdict: the calibration job is identical bytes
    // every run, so a >2× drift between its before/after medians means
    // the machine was loaded during part of the window and the query
    // medians are not attributable to code. Flagging it here (instead of
    // a judge re-adjudicating post-hoc, as the r10 driver run required)
    // makes a dirty total self-labeling. Calibration alone passed the
    // r16/r17 loaded artifacts (steady background load doesn't DRIFT
    // the calibration — it inflates everything uniformly), so the
    // 1-minute load average before the run gates independently: a
    // run started on a machine above `maxStartLoad` is contaminated
    // regardless of calibration, and the round artifact must be
    // re-recorded quiet.
    // default threshold scales with the machine: loadavg is a
    // run-queue LENGTH, so a fixed 2.0 reads "idle" on a 4-core box
    // but near-saturated noise on 64 cores inverts to "2 is nothing"
    // — 0.25×cores marks the same fractional busyness everywhere
    // (8.0 on this 32-core runner); the env override stays for
    // pinning a stricter bar
    val maxStartLoad = sys.env.get("SPARK_GRAFT_MAX_START_LOAD")
      .flatMap(_.toDoubleOption)
      .getOrElse(0.25 * Runtime.getRuntime.availableProcessors())
    val load1 = loadBefore.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)
    val contaminated = {
      val lo = math.min(calibBefore, calibAfter)
      val hi = math.max(calibBefore, calibAfter)
      (lo > 0 && hi / lo > 2.0) || load1 > maxStartLoad
    }
    if (load1 > maxStartLoad)
      System.err.println(f"[bench] REFUSING a clean verdict: 1-min " +
        f"load $load1%.2f > $maxStartLoad%.2f at start - summary is " +
        "marked contaminated; rerun on a quiet machine")
    val machineJson =
      s""""load_before":"$loadBefore","load_after":"$loadAfter","calib_before":${ms(calibBefore)},"calib_after":${ms(calibAfter)},"contaminated":$contaminated"""
    val resultLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qJson,"sf":"$sfDir","runs":$runs,"runs_iter":$iterRuns,$machineJson,"failed":$fJson}"""
    println(resultLine)
    // final compact headline — the last stdout line, so a tail capture
    // of any length contains the total
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${qs.size},"calib_before":${ms(calibBefore)},"calib_after":${ms(calibAfter)},"contaminated":$contaminated,"failed":$fJson}""")
    // stdout through sbt arrives "[info] "-prefixed, which defeats a
    // line-oriented JSON parser; emit the full result line on stderr
    // (passed through unprefixed) AND to a fixed file so the driver can
    // parse it regardless of how the process was launched
    System.err.println(resultLine)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_summary.json"), resultLine)
    catch { case e: Throwable =>
      System.err.println(s"[bench] summary file write failed: $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
