package graft.util

import org.apache.spark.sql.SparkSession

/** THE session builder: every main (Bench, Verify, Explain,
  * PipelineMain) and the spec harness get their SparkSession here, so
  * the engine's settings are written down once. The per-JVM
  * [[Scratch]] warehouse dir keeps concurrent drivers apart; the UTC
  * time zone is the oracle contract's. `perfbench/src/PerfBench.scala`
  * builds the same session from its own copy and must stay in step.
  */
object Session {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session at `local[cores]`, or at `master` when a deployment
    * names one; shuffle partitions follow `cores` either way. */
  def build(cores: Int = defaultCores,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.warehouse.dir", Scratch.path("warehouse"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
