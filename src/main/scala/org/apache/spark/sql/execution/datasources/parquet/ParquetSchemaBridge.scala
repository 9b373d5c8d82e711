package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side Parquet schema resolution. `spark.read.parquet(path)` infers
  * its schema with a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`)
  * even though, with `mergeSchema` off, that job reads exactly one footer:
  * the first `_common_metadata`, else the first `_metadata`, else the first
  * data file in path order (`ParquetUtils.inferSchema`). [[footerSchema]]
  * picks the same footer from a plain listing of `path` and decodes it with
  * the same converter (`ParquetFileFormat.readSchema`), on the driver.
  *
  * It answers None wherever Spark needs more than that one footer or its
  * own file index to decide the schema, and the caller then lets Spark
  * infer: `mergeSchema` requested (option or session conf), an option that
  * changes which files are listed, a glob, a missing path (Spark raises
  * the error), any subdirectory (partition `k=v` layouts, `_spark_metadata`
  * file-sink logs, nested output), no footer candidate, or a footer that
  * cannot be read. */
object ParquetSchemaBridge {
  private val listingOptions =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")
  private val summaryFiles = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)

  def footerSchema(spark: SparkSession, path: String,
                   options: Map[String, String]): Option[StructType] = {
    val p = new Path(path)
    if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema ||
        options.keys.exists(k => listingOptions(k.toLowerCase(java.util.Locale.ROOT))) ||
        SparkHadoopUtil.get.isGlobPath(p)) return None
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val fs = p.getFileSystem(hadoopConf)
    val root = try fs.getFileStatus(p) catch { case _: FileNotFoundException => return None }
    val listed = if (root.isDirectory) fs.listStatus(root.getPath) else Array(root)
    if (listed.exists(_.isDirectory)) return None
    val leaves = listed
      .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
      .sortBy(_.getPath.toString)
    val (summaries, data) = leaves.partition(f => summaryFiles(f.getPath.getName))
    val footer = summaries.find(_.getPath.getName == PARQUET_COMMON_METADATA_FILE)
      .orElse(summaries.headOption).orElse(data.headOption)
    footer.flatMap { f =>
      val ignoreCorrupt =
        new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
      try ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(f), ignoreCorrupt),
        spark)
      catch { case NonFatal(_) => None }
    }
  }
}
