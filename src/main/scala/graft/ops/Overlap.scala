package graft.ops

/** Overlap INDEPENDENT eager job chains from driver threads — the
  * guide-§2.6 shape ("actions are only sequential because your driver
  * code calls them sequentially"). The flagship compositions run several
  * mutually independent pipelines whose eager steps (freezes, connected-
  * components rounds, model-sized counts) are long chains of small jobs:
  * submitted serially, every job's tail leaves the cluster idle;
  * submitted from one thread per pipeline, each chain's tasks back-fill
  * the others' stragglers. FIFO scheduling (the default) gives exactly
  * the back-fill behaviour — no fair-scheduler config is needed.
  *
  * Results are unaffected: each thunk computes an independent slice
  * (thread interleaving changes only job timing, never any frame's
  * content), and Spark job submission is thread-safe. Spark's job
  * description/group live in an InheritableThreadLocal, so the caller's
  * labels carry into the worker threads. */
private[graft] object Overlap {
  def inParallel[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val results = new Array[Option[A]](thunks.size)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = thunks.zipWithIndex.map { case (th, i) =>
      val t = new Thread(
        () =>
          try results(i) = Some(th())
          catch { case e: Throwable => failure.compareAndSet(null, e): Unit },
        s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    val err = failure.get()
    if (err != null) throw err
    results.toSeq.map(_.get)
  }
}
