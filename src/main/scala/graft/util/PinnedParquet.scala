package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** `spark.read.parquet(paths)` without its schema-inference job.
  *
  * Without summary files and with `mergeSchema` off (the lake tier
  * writes no summary files and never turns it on), Spark infers a
  * parquet read's schema with a one-task job that reads the footer of
  * the lexicographically first data file under the paths. [[read]]
  * reads that same footer on the driver, converts it the way the job
  * does (`ParquetFileFormat.readSchemaFromFooter` with a converter
  * built from the session conf) and pins the result as the read's
  * schema, so building the frame launches no job. The footer holds
  * the data columns; partition columns are not pinned and are still
  * inferred from directory names, so the frame's schema and rows equal
  * the inferred read's.
  *
  * The data files are found by listing the paths on the driver, with
  * Spark's rule for hidden names (a leading `_` outside `k=v`
  * directories, a leading `.`, a `._COPYING_` suffix). Paths with no
  * data file are read by `spark.read.parquet` itself, so a missing
  * path or one holding only `_SUCCESS` fails exactly as before.
  */
object PinnedParquet {

  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(conf, paths) match {
      case None => spark.read.parquet(paths: _*)
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf),
          ParquetMetadataConverter.NO_FILTER)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(paths: _*)
    }
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  private def firstDataFile(conf: Configuration,
      paths: Seq[String]): Option[FileStatus] = {
    val found = paths.flatMap { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
      Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves)
    }
    found.minByOption(_.getPath.toString)
  }
}
