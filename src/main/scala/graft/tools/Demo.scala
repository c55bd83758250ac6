package graft.tools

/** Example entrypoint driving the IO sources and streaming operators
  * through the public API: BRAT standoff round-trip, CoNLL-U read, and a
  * streaming sessionization run over a staged events directory.
  *
  * Usage: sbt "runMain graft.tools.Demo <bratDir> <eventsDir> <conllGlob>"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val Array(bratDir, eventsDir, conllGlob) = args
    val spark = graft.Sessions.local(4)
    import spark.implicits._

    val docs = graft.io.Standoff.read(spark, bratDir)
    docs.show(truncate = false)
    graft.io.Standoff.write(docs, s"$bratDir-out")
    println("ANN OUT >>>")
    println(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$bratDir-out/doc-1.ann")))

    val ev = graft.streaming.EventStreams.readEvents(spark, eventsDir)
    val sess = graft.streaming.EventStreams.sessionize(
      ev.select($"user_id", $"ts", $"value")
        .as[graft.streaming.EventStreams.SessionEvent])
    val q = sess.toDF().writeStream.format("memory").queryName("s")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    println("SESSIONS >>> " + spark.table("s").count())
    spark.table("s").orderBy($"user_id").show(5)

    val conll = graft.io.Conll.read(spark, conllGlob)
    println("CONLL >>> " + conll.count())
    conll.show(2, truncate = false)
    spark.stop()
  }
}
