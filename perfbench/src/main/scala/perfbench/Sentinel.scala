package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** Whole-run contention stamp. Between operations the benchmark runs a
  * fixed amount of integer work on every core at once and compares the
  * slowest core's time with the run's own first sample. A sample more than
  * [[Sentinel.Threshold]] times slower, while this process got less than
  * [[Sentinel.MinShare]] of the cores' time, means another process took CPU from the run: the
  * operations on either side of it are stamped contended. The engine's
  * own background threads (JIT, GC, cleanup) also slow the probe, but
  * their CPU time is this process's, so they stamp nothing. A later sample
  * `Threshold` times faster than a first sample that was itself short of
  * CPU stamps the run, and so does a run whose machine had more than 5% of
  * its CPU time stolen by the hypervisor: contention spread evenly over a
  * whole run leaves the relative samples flat.
  */
final class Sentinel extends AutoCloseable {
  import Sentinel._

  private val threads = Main.cores
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-sentinel")
    t.setDaemon(true)
    t
  })
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private var samples = Vector.empty[Probe]

  private def spin(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < Work) {
      acc ^= i * 0x9E3779B97F4A7C15L + (acc >>> 13)
      i += 1
    }
    if (acc == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  private def probe(): Double = {
    val tasks = (1 to threads).map(_ => new Callable[Double] {
      def call(): Double = spin()
    })
    pool.invokeAll(tasks.asJava).asScala.map(_.get()).max
  }

  // compile the loop before the first sample counts
  (1 to 20).foreach(_ => probe())

  private def base: Probe = samples.head

  /** Takes one sample, the fastest of three probes; true when contended. */
  def sample(): Boolean = {
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val fastest = Seq.fill(3)(probe()).min
    val share = (os.getProcessCpuTime - cpu0).toDouble /
      (threads * (System.nanoTime() - t0))
    samples :+= Probe(fastest, share)
    val s = samples.last
    s.seconds > base.seconds * Threshold && s.share < MinShare
  }

  def ratios: Seq[Double] = samples.map(_.seconds / base.seconds)
  def shares: Seq[Double] = samples.map(_.share)
  def baseSeconds: Double = base.seconds
  def medianSeconds: Double = Stats.median(samples.map(_.seconds))

  /** (steal, total) CPU jiffies of the whole machine, where the kernel
    * reports them: time the hypervisor gave to other guests shows as steal.
    */
  private def cpuJiffies(): Option[(Long, Long)] = {
    val stat = new java.io.File("/proc/stat")
    if (!stat.exists) None else {
      val src = scala.io.Source.fromFile(stat)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    }
  }
  private val jiffiesAtStart = cpuJiffies()

  /** Share of the machine's CPU time stolen since the sentinel started. */
  def stealShare: Double = (jiffiesAtStart, cpuJiffies()) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
      (s1 - s0).toDouble / (t1 - t0)
    case _ => 0.0
  }

  /** True when a later sample shows the first one was short of CPU. */
  def baseContended: Boolean = samples.nonEmpty && base.share < MinShare &&
    samples.exists(_.seconds * Threshold < base.seconds)

  override def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Sentinel {
  /** Loop iterations per core in one probe. */
  val Work = 10000000L
  /** Slow-down over the first sample that stamps an operation. */
  val Threshold = 1.5
  /** Share of the cores' time below which this process was short of CPU. */
  val MinShare = 0.75

  /** Slowest core's seconds for one round of the fixed work, and this
    * process's CPU time over the cores' wall time across the sample.
    */
  final case class Probe(seconds: Double, share: Double)
}

/** Per-operation stamps from the samples taken around each operation. */
final class ContentionLog(sentinel: Sentinel) {
  private var before = sentinel.sample()
  private var stamped = Vector.empty[String]

  /** Call after each operation, outside its timed region. */
  def after(op: String): Boolean = {
    val now = sentinel.sample()
    val hit = before || now
    if (hit) stamped :+= op
    before = now
    hit
  }

  def stampedOps: Seq[String] = stamped
  def runContended: Boolean = stamped.nonEmpty || sentinel.baseContended
}
