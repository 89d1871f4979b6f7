package graft.engine

import java.util.concurrent.{ExecutionException, FutureTask}

/** Overlap INDEPENDENT eager builders (guide §2.6 "overlap independent
  * jobs"): several operators in this engine run blocking driver jobs
  * during CONSTRUCTION (the checkpoint-seeded label-propagation
  * closures), so a query composing two or three independent closures
  * serializes their driver barriers while the executors idle. Spark's
  * scheduler happily runs jobs submitted from several threads (FIFO —
  * later jobs back-fill executors freed by the current job's tail),
  * so building the closures from a couple of threads overlaps those
  * barriers without changing any frame: each builder produces exactly
  * the DataFrame it produced sequentially.
  *
  * The first thunk runs on the CALLER's thread (job-description and
  * active-session thread-locals are inherited by the forked threads,
  * which are created here, at call time, from the caller). Failures
  * propagate with their original exception type. */
object Par {
  private def fork[T](name: String)(f: => T): FutureTask[T] = {
    val task = new FutureTask[T](() => f)
    val th = new Thread(task, name)
    th.setDaemon(true)
    th.start()
    task
  }

  private def join[T](t: FutureTask[T]): T =
    try t.get()
    catch { case e: ExecutionException => throw e.getCause }

  def run2[A, B](fa: => A, fb: => B): (A, B) = {
    val b = fork("graft-par-1")(fb)
    (fa, join(b))
  }
}
