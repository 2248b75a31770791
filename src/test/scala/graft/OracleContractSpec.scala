package graft

import java.nio.file.{Files, Paths}
import scala.util.Try

/** Standing oracle-contract gate: every `SparkEntry.oracleSql` entry
  * must (a) parse and execute in DuckDB, (b) emit no HUGEINT-family
  * output column (pandas materializes those as object/float64 while
  * Spark emits int64, so the driver's dtype-sensitive value hash
  * fails on numerically identical results — the q212 rounds-12/13
  * regression), and (c) match the Spark side at sf0.001 in rows,
  * schema, dtypes and value hash.
  *
  * All three assertions read one report: a `Verify.dump` at sf0.001
  * followed by one `tools/check_oracle.py` pass, which executes each
  * oracle in DuckDB once and prints one verdict line per oracle
  * (python3 + duckdb are external tooling, not library dependencies).
  * The whole suite cancels cleanly when that tooling or the corpus is
  * absent, so `sbt test` stays portable.
  */
class OracleContractSpec extends SparkSpec {
  import OracleContractSpec._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val gate: (Seq[String], Report) = {
    val outDir = tmpDir("graft-verify-sf0001")
    val failed = Verify.dump(spark, sfDir, outDir, _ => true)
    (failed, runGate(sfDir, outDir))
  }

  private def requireHarness(): Unit = {
    assume(Files.exists(Paths.get(tool)),
      "check_oracle.py not found (not running from repo root?)")
    assume(Try(Runtime.getRuntime.exec(
        Array("python3", "-c", "import duckdb, pandas, numpy")).waitFor())
      .toOption.contains(0), "python3 + duckdb/pandas/numpy not available")
  }

  private def requireGate(): (Seq[String], Report) = {
    assume(Files.isDirectory(Paths.get(sfDir)),
      s"corpus $sfDir not present")
    requireHarness()
    gate
  }

  test("every oracle parses and executes in DuckDB") {
    val report = requireGate()._2
    val errors = report.withVerdict("DUCKERR")
    assert(errors.isEmpty, s"oracle SQL errors:\n${errors.mkString("\n")}")
    val missing = SparkEntry.oracleSql.keySet -- report.verdicts.keySet
    assert(missing.isEmpty, s"oracles not reported: $missing")
  }

  test("no oracle emits a HUGEINT-family output column") {
    val bad = requireGate()._2.withVerdict("TYPELINT")
    assert(bad.isEmpty,
      "HUGEINT-family oracle outputs (cast them to BIGINT — pandas " +
        s"cannot dtype-match them):\n${bad.mkString("\n")}")
  }

  test("full value-hash parity with DuckDB at sf0.001 (driver gate)") {
    val (failed, report) = requireGate()
    assert(failed.isEmpty, s"queries failed to execute: $failed")
    assert(report.code == 0,
      "check_oracle.py gate failed (rows/schema/dtype/hash):\n" +
        report.failures)
  }

  test("check_oracle.py gives each broken oracle the verdict that " +
      "fails its test") {
    requireHarness()
    import spark.implicits._
    val dir = tmpDir("graft-oracle-neg")
    val oracles = Map(
      "good" -> "SELECT CAST(1 AS BIGINT) AS x",
      "broken" -> "SELEC CAST(1 AS BIGINT) AS x",
      "huge" -> "SELECT 1::HUGEINT AS x",
      "changed" -> "SELECT CAST(2 AS BIGINT) AS x")
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      Verify.oracleJson(oracles))
    for (name <- oracles.keys)
      Seq(1L).toDF("x").coalesce(1).write.parquet(s"$dir/$name")
    val report = runGate(dir, dir)
    assert(report.verdicts == Map("good" -> "PASS", "broken" -> "DUCKERR",
      "huge" -> "TYPELINT", "changed" -> "FAIL"), report.lines.mkString("\n"))
    def names(keyword: String) =
      report.withVerdict(keyword).map(_.takeWhile(_ != ':'))
    assert(names("DUCKERR") == Seq("broken"))
    assert(names("TYPELINT") == Seq("huge"))
    assert(report.code != 0)
  }
}

object OracleContractSpec {
  private val tool = "tools/check_oracle.py"

  private val verdictRe =
    """^(PASS|FAIL|MISSING|ERROR|DUCKERR|TYPELINT)\s+([^\s:]+).*""".r

  /** One `check_oracle.py` run: its exit code and its stdout and
    * stderr lines. */
  final case class Report(code: Int, lines: Seq[String]) {
    /** Oracle name → verdict keyword, for every oracle reported. */
    lazy val verdicts: Map[String, String] =
      lines.collect { case verdictRe(keyword, name) => name -> keyword }.toMap
    def failures: String = lines.filterNot(_.startsWith("PASS")).mkString("\n")
    /** The `name: reason` tail of every line with this verdict. */
    def withVerdict(keyword: String): Seq[String] =
      lines.filter(_.startsWith(keyword + " "))
        .map(_.stripPrefix(keyword).trim).sorted
  }

  def runGate(sfDir: String, outDir: String): Report = {
    val lines = Seq.newBuilder[String]
    val code = Try {
      import scala.sys.process._
      Seq("python3", tool, sfDir, outDir)
        .!(ProcessLogger(l => lines.synchronized(lines += l): Unit,
          l => lines.synchronized(lines += l): Unit))
    }.getOrElse(-1)
    Report(code, lines.result())
  }
}
