package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Name-resolved converter registry — the re-expression of
  * `/root/reference/edsnlp/data/converters.py:1415-1472`
  * (`get_dict2doc_converter` / `get_doc2dict_converter`): pipelines
  * address converters by STRING NAME with the reference's resolution
  * rules — exact match first, then substring match filtered to the
  * right direction suffix (`*2doc` for readers, `doc2*` for writers) —
  * and an unknown name fails with the list of available converters.
  *
  * Entries are Spark-level: a reader turns a path into a document
  * DataFrame, a writer persists one. User formats register at runtime,
  * like the reference's `registry.factory`.
  */
object Converters {

  type Reader = (SparkSession, String) => DataFrame
  type Writer = (DataFrame, String) => Unit

  /** Markup files (one annotated doc per line) -> (doc_id, text,
    * entities): the distributed form of the reference's
    * MarkupToDocConverter over a text source. The preset OBJECT is
    * resolved on the driver and captured in the UDF closure (names are
    * driver-JVM state — see [[Markup.registerPreset]]); doc_id is the
    * stable string "<file>-<line index>", invariant under partitioning,
    * matching the string doc_id contract of the standoff/conll readers.
    */
  private def readMarkup(presetName: String): Reader = { (spark, path) =>
    val preset = Markup.preset(presetName)
    val parseUdf = udf((line: String) => Markup.parseWith(line, preset))
    spark.read.option("wholetext", "true").text(path)
      .select(regexp_extract(input_file_name(), "([^/]+)$", 1).as("f"),
        posexplode(split(col("value"), "\n")))
      .filter(trim(col("col")) =!= "")
      .select(concat(col("f"), lit("-"), col("pos")).as("doc_id"),
        parseUdf(col("col")).as("parsed"))
      .select(col("doc_id"), col("parsed._1").as("text"),
        col("parsed._2").as("entities"))
  }

  private val readers =
    scala.collection.concurrent.TrieMap[String, Reader](
      "standoff2doc" -> ((s, p) => Standoff.read(s, p)),
      "brat2doc" -> ((s, p) => Standoff.read(s, p)),
      "conll2doc" -> ((s, p) => Conll.read(s, p)),
      "markup2doc" -> readMarkup("md"),
      "markup_xml2doc" -> readMarkup("xml"),
      "json2doc" -> ((s, p) => s.read.json(p)),
      "parquet2doc" -> ((s, p) => Parquet.read(s, p)))

  private val writers =
    scala.collection.concurrent.TrieMap[String, Writer](
      "doc2standoff" -> ((df, p) => Standoff.write(df, p)),
      "doc2brat" -> ((df, p) => Standoff.write(df, p)),
      "doc2json" -> ((df, p) => df.write.mode("overwrite").json(p)),
      "doc2parquet" -> ((df, p) => df.write.mode("overwrite").parquet(p)))

  def registerReader(name: String, r: Reader): Unit =
    readers.put(name, r)
  def registerWriter(name: String, w: Writer): Unit =
    writers.put(name, w)

  private def resolve[T](
      table: scala.collection.Map[String, T], name: String,
      isDirectional: String => Boolean, direction: String): T =
    table.getOrElse(name, {
      val filtered = table.keys.toSeq.sorted
        .filter(k => k.contains(name) && isDirectional(k))
      filtered.headOption.map(table).getOrElse {
        val available =
          table.keys.toSeq.sorted.filter(isDirectional).mkString(", ")
        throw new IllegalArgumentException(
          s"Cannot find converter for format $name. " +
            s"Available $direction converters are $available")
      }
    })

  /** Resolve a reader ("standoff", "brat2doc", "conll", ...). */
  def dict2doc(name: String): Reader =
    resolve(readers, name, _.endsWith("2doc"), "dict2doc")

  /** Resolve a writer ("standoff", "doc2brat", ...). */
  def doc2dict(name: String): Writer =
    resolve(writers, name, _.startsWith("doc2"), "doc2dict")
}
