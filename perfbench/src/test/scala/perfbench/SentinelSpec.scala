package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SentinelSpec extends AnyFunSuite {

  test("a quiet run gets no contention stamp") {
    // let the build tool that forked this JVM finish its own work first:
    // it competes for the cores, which the sentinel rightly reports
    Thread.sleep(3000)
    val s = new Sentinel
    try {
      val log = new ContentionLog(s)
      (1 to 8).foreach(i => log.after(s"op$i"))
      // only a quiet machine can show that quiet gets no stamp: on a host
      // whose hypervisor gives our CPU time to other guests, stamps are right
      assume(s.stealShare < 0.02, s"host not quiet: steal ${s.stealShare}")
      assert(log.stampedOps.isEmpty, s"ratios ${s.ratios} shares ${s.shares}")
      assert(!log.runContended,
        s"ratios ${s.ratios} shares ${s.shares} steal ${s.stealShare}")
    } finally s.close()
  }

  test("a busy loop started mid-run stamps the operations it overlaps") {
    val s = new Sentinel
    var hogs = Seq.empty[Process]
    try {
      val log = new ContentionLog(s)
      (1 to 3).foreach(i => log.after(s"before$i"))
      // busy loops in other processes, as a competing tenant would run
      hogs = (1 to 8).map(_ =>
        new ProcessBuilder("sh", "-c", "while :; do :; done").start())
      Thread.sleep(200)
      (1 to 3).foreach(i => log.after(s"during$i"))
      assert(log.stampedOps.exists(_.startsWith("during")),
        s"ratios ${s.ratios} shares ${s.shares}")
      assert(log.runContended)
    } finally {
      hogs.foreach(_.destroyForcibly())
      hogs.foreach(_.waitFor())
      s.close()
    }
  }
}
