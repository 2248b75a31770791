package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.util.Session.build()
    val only = SparkEntry.nameFilter()
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Write every selected query result to `outDir/<name>` parquet plus
    * `oracle_sql.json` — the driver's Verify protocol, shared with the
    * standing OracleContractSpec hash gate. Returns failed names. */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String, only: String => Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if only(name) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      case _ => None
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => only(k) }))
    failed
  }

  /** The oracle map as one JSON object. Escapes backslash, quote, and
    * ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently
    * zero the round's correctness. Shared with OracleContractSpec. */
  private[graft] def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
  }
}
