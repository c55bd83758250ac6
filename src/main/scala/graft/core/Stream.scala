package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Parquet

/** The reference's user-facing dataflow API
  * (`/root/reference/edsnlp/core/stream.py:278-921`: map / map_batches /
  * flatten / batchify-around / shuffle / loop / write over pluggable
  * readers and writers) as a thin facade over `Dataset` — each combinator
  * delegates to the Catalyst-planned equivalent, so the familiar surface
  * costs nothing: plans stay declarative, pushdown/pruning/AQE all apply.
  *
  * | reference            | here                                        |
  * |----------------------|---------------------------------------------|
  * | `map(f)`             | `Dataset.map` (narrow)                      |
  * | `map_batches(f)`     | `mapPartitions` with content-aware rebatch  |
  * | `flatten()`          | `flatMap(identity)`                         |
  * | `shuffle(seed)`      | `orderBy(rand(seed))` (reader-pushdown rule |
  * |                      | unnecessary: Catalyst reorders the sample)  |
  * | `loop()`             | driver-side epoch iterator (training)       |
  * | `write_parquet(...)` | `DataFrameWriter` (distributed, incremental)|
  * | `set_processing(n)`  | `repartition(n)`                            |
  */
case class Stream[T](ds: Dataset[T]) {

  def map[U: Encoder](f: T => U): Stream[U] = Stream(ds.map(f))

  def flatMap[U: Encoder](f: T => IterableOnce[U]): Stream[U] =
    Stream(ds.flatMap(f))

  /** Batch-wise map with a content-aware policy ("64 docs", "1024 words",
    * "8000 padded_words"); partition-local, one batch live at a time.
    */
  def mapBatches[U: Encoder](
      batchSize: String, sizeOf: T => Long)(
      f: Seq[T] => Seq[U]): Stream[U] = {
    val (limit, policy) = graft.operators.Batching.parseSizeExpr(batchSize)
    Stream(ds.mapPartitions { it =>
      graft.operators.Batching.batchify(it, limit, policy, sizeOf)
        .flatMap(f)
    })
  }

  /** Seeded whole-dataset shuffle (`stream.py:765-850`). */
  def shuffle(seed: Long): Stream[T] = Stream(ds.orderBy(rand(seed)))

  /** Deterministic partition layout (`set_processing(num_cpu_workers)`). */
  def repartitioned(n: Int): Stream[T] = Stream(ds.repartition(n))

  /** Epoch looping (`stream.py:852-879`): the training driver re-iterates
    * the stream; each epoch may reshuffle. Returns an iterator of epoch
    * views rather than an infinite unioned plan — Spark's planner should
    * see one epoch at a time.
    */
  def loop(epochs: Int, reshuffle: Boolean = true): Iterator[Stream[T]] =
    (0 until epochs).iterator.map { e =>
      if (reshuffle) shuffle(seed = 42L + e) else this
    }

  def writeParquet(path: String, maxRecordsPerFile: Int = 0): Unit = {
    val w = ds.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toLong)
     else w).parquet(path)
  }

  def writeJson(path: String): Unit =
    ds.write.mode("overwrite").json(path)

  /** `to_iterable` (`edsnlp/data/base.py:200-240`). */
  def toLocalIterator: Iterator[T] = {
    val it = ds.toLocalIterator()
    new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  def toDF: DataFrame = ds.toDF()
}

object Stream {
  /** `edsnlp.data.read_parquet` analog. */
  def fromParquet(spark: SparkSession, path: String): Stream[org.apache.spark.sql.Row] =
    Stream(Parquet.read(spark, path))

  def fromJson(spark: SparkSession, path: String): Stream[org.apache.spark.sql.Row] =
    Stream(spark.read.json(path))

  /** `from_iterable`. */
  def fromSeq[T: Encoder](spark: SparkSession, data: Seq[T]): Stream[T] =
    Stream(spark.createDataset(data))
}
