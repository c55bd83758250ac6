package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only per-query profiler and micro-bench: run named queries (exact
  * names or prefixes) over several reps in one warmed session, print
  * each query's median wall time over the reps, and, for the last rep,
  * a listener's view of every Spark job's wall time and per-stage
  * task-time / shuffle-bytes breakdown — the "where inside this query
  * do the seconds go" view the bench medians cannot give.
  *
  * Usage: runMain graft.tools.ProfQuery <sfDir> <name>[,<name>...] [reps]
  */
object ProfQuery {
  final class StageAgg {
    var name = ""
    var tasks = 0
    var taskTimeMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    var spillB = 0L
    var wallMs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var fetchWaitMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 2) args(2).toInt else 3
    val picked = graft.Verify.select(graft.SparkEntry.queries, args(1))
    val spark = graft.Sessions.local(
      math.min(32, Runtime.getRuntime.availableProcessors))
    spark.range(2000000L).selectExpr("max(id * 2 + 1)").collect()

    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    val jobStages = mutable.LinkedHashMap.empty[Int, (Long, Seq[Int])]
    val jobEnd = mutable.LinkedHashMap.empty[Int, Long]
    var enabled = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (enabled) jobStages.synchronized {
          jobStages(j.jobId) = (j.time, j.stageIds)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (enabled) jobStages.synchronized { jobEnd(j.jobId) = j.time }
      override def onStageCompleted(
          s: SparkListenerStageCompleted): Unit =
        if (enabled) stages.synchronized {
          val a = stages.getOrElseUpdate(s.stageInfo.stageId, new StageAgg)
          a.name = s.stageInfo.name.takeWhile(_ != '\n').take(80)
          a.tasks = s.stageInfo.numTasks
          a.wallMs = (for {
            c <- s.stageInfo.completionTime
            b <- s.stageInfo.submissionTime
          } yield c - b).getOrElse(-1L)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (enabled && t.taskMetrics != null) stages.synchronized {
          val a = stages.getOrElseUpdate(t.stageId, new StageAgg)
          a.taskTimeMs += t.taskMetrics.executorRunTime
          a.shufReadB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
          a.inputB += t.taskMetrics.inputMetrics.bytesRead
          a.spillB += t.taskMetrics.diskBytesSpilled
          a.gcMs += t.taskMetrics.jvmGCTime
          a.deserMs += t.taskMetrics.executorDeserializeTime
          a.fetchWaitMs += t.taskMetrics.shuffleReadMetrics.fetchWaitTime
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val walls = (1 to reps).map { rep =>
        stages.clear(); jobStages.clear(); jobEnd.clear()
        enabled = rep == reps // profile the LAST (warmed) rep
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        if (enabled) {
          Thread.sleep(300) // let straggler listener events drain
          println(f"\n===== $name rep=$rep wall=$wall%.3f s =====")
          jobStages.foreach { case (jid, (t0j, sids)) =>
            val dur = jobEnd.get(jid).map(_ - t0j).getOrElse(-1L)
            println(f"  job $jid%3d ${dur / 1000.0}%7.3f s  stages=" +
              sids.mkString(","))
          }
          println("  stage  wall_s  tasktime_s  gc_s  deser_s fetch_s " +
            "tasks  input_mb shufR_mb shufW_mb  name")
          stages.toSeq.sortBy(_._1).foreach { case (sid, a) =>
            println(f"  $sid%5d ${a.wallMs / 1000.0}%7.3f ${
              a.taskTimeMs / 1000.0}%11.3f ${a.gcMs / 1000.0}%5.2f ${
              a.deserMs / 1000.0}%7.2f ${a.fetchWaitMs / 1000.0}%7.2f ${
              a.tasks}%6d ${mb(a.inputB)}%9s ${mb(a.shufReadB)}%8s ${
              mb(a.shufWriteB)}%8s  ${a.name}")
          }
        } else {
          println(f"  (warm) $name rep=$rep wall=$wall%.3f s")
        }
        wall
      }
      println(f"MEDIAN $name median=${walls.sorted.apply(reps / 2)}%.3f " +
        s"reps=${walls.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
