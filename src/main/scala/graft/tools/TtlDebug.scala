package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Dev-only probe for the state-v2 TTL dedup (not part of the declared
  * surface): prints per-second query status so a stalled
  * processAllAvailable can be diagnosed from batch progress.
  */
object TtlDebug {
  def main(args: Array[String]): Unit = {
    val s2 = graft.Sessions.local(2)
    // transformWithState needs the RocksDB state store (a runtime conf)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import s2.implicits._
    val dir = Files.createTempDirectory("ttl-dedup").toString
    def add(i: Int, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = Files.createTempDirectory(s"ttl-b$i").toString
      rows.toDF("user_id", "sec", "event_id", "event_type")
        .select($"user_id", expr("timestamp_micros(sec * 1000000)").as("ts"),
          $"event_id", $"event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, Paths.get(dir, s"b$i.parquet"))
    }
    add(0, Seq((1L, 10L, 1L, "view"), (2L, 11L, 2L, "view"),
      (2L, 11L, 2L, "view"), (3L, 12L, 3L, "click")))
    val stream = s2.readStream
      .schema("user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING")
      .parquet(dir)
      .as[graft.streaming.EventStreams.TransEvent]
    val q = graft.streaming.EventStreams.dedupEventsV2(stream).toDF()
      .writeStream.format("memory").queryName("ttldedup")
      .outputMode("append").start()
    for (i <- 1 to 20) {
      Thread.sleep(1000)
      println(s"[dbg] t=$i status='${q.status.message}' " +
        s"batches=${q.recentProgress.length} " +
        s"lastBatch=${Option(q.lastProgress).map(_.batchId)} " +
        s"rows=${s2.table("ttldedup").count()}")
      if (i == 10) add(1, Seq((9L, 20L, 2L, "error"), (4L, 22L, 4L, "signup")))
    }
    q.stop()
    s2.stop()
  }
}
