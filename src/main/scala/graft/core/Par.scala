package graft.core

/** Run independent Spark ACTIONS concurrently from driver threads: the
  * scheduler interleaves their stages, so wall time approaches the
  * longest branch and the per-action fixed costs (plan, commit) overlap.
  * Each call uses its own bounded pool and tears it down; the first
  * failing branch rethrows after all branches settle. Used only where
  * the overlap measured a win, before → after (s): `Pq.buildPqIndex`
  * q105 3.9 → 3.0, `Ann.buildIvfIndex` q76 2.5 → 2.0, `MergeInto` q124
  * 3.2 → 2.2 (NOTES_r11) and `VersionLog.mergeByKeyCdc`, q136's merge
  * 1.70 → 1.51 (CHANGES.md).
  */
object Par {
  def run(tasks: (() => Unit)*): Unit = {
    require(tasks.nonEmpty, "no tasks")
    if (tasks.size == 1) { tasks.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit(new Runnable {
        override def run(): Unit = t()
      }))
      var firstFailure: Throwable = null
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }
}
