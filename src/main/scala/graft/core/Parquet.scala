package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their schema from one footer on the driver. */
object Parquet {

  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * Spark's non-merging inference lists the directory, sorts the data
    * files by full path string and reads the footer of the first one in
    * a one-task job. For a flat directory this reads that same footer
    * here, converts it under the session's parquet confs (nanos-as-long,
    * INT96, binary-as-string, NTZ inference) and hands the schema to
    * `spark.read.schema(s)`, which runs no job. Anything else — a
    * subdirectory (partitions), a `_metadata`/`_common_metadata` summary
    * file, no data file, a missing path, a glob, session-wide schema
    * merging, or a footer that does not read — goes through plain
    * `spark.read.parquet`, so its schema and its errors are Spark's own.
    * The footer is read on every call: nothing is cached. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  // InMemoryFileIndex's visibility rule: `_x` (not a partition `k=v`),
  // `.x` and in-flight copies are skipped; summary files are not
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summary(name)

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val dir = new Path(path)
      val listed = dir.getFileSystem(hadoopConf).listStatus(dir)
        .filterNot(s => hidden(s.getPath.getName))
      if (listed.exists(s => s.isDirectory || summary(s.getPath.getName))) None
      else listed.sortBy(_.getPath.toString).headOption.map { first =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, hadoopConf))
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case NonFatal(_) => None }
  }
}
