package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.variant.VariantExpressionEvalUtils
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that
  * `graft.io.Parquet.read` runs in-process, each Spark's own code:
  * `ParquetFileFormat.readSchema` and the listing's name filter are
  * package-private, so they are exposed from inside Spark's package, like
  * the Column bridge in `org.apache.spark.sql.graftbridge`.
  */
object FooterBridge {
  /** The Hadoop conf the inference job reads footers with. */
  def hadoopConf(spark: SparkSession): Configuration =
    SessionStateHelper.getHadoopConf(spark)

  /** Whether a read without options merges the schemas of all files
    * (`spark.sql.parquet.mergeSchema`).
    */
  def mergesSchemas(spark: SparkSession): Boolean =
    new ParquetOptions(Map.empty[String, String],
      SessionStateHelper.getSqlConf(spark)).mergeSchema

  /** Whether Spark globs the path instead of listing it. */
  def isGlob(path: String): Boolean = SparkHadoopUtil.get.isGlobPath(new Path(path))

  /** Whether Spark's file listing skips this name: `_` and `.` names,
    * except `_metadata*`, `_common_metadata*` and `_x=y` partitions, and
    * `._COPYING_` files.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `file`'s schema as the inference job converts it: the footer read
    * the way `readParquetFootersInParallel` reads each file, converted by
    * `ParquetFileFormat.readSchema` under the session's parquet confs.
    * Throws what the footer read or the conversion throws. `None` if the
    * schema holds a variant (whose shredding Spark may infer) or a
    * char/varchar type (which `DataFrameReader.schema` rejects).
    */
  def footerSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): Option[StructType] = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, footer)), spark)
      .filterNot(s => VariantExpressionEvalUtils.typeContainsVariant(s) ||
        CharVarcharUtils.hasCharVarchar(s))
  }
}
