package graft.core

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** The one helper that runs independent Spark actions as overlapping jobs.
  * Actions are only sequential because driver code calls them one after
  * another; a small pool lets one task's stages back-fill the cores
  * another task's tail leaves idle. The store-fixture builds and
  * [[graft.pipeline.ScdPipeline]]'s cycle both call it.
  *
  * The pool is fresh per call and sized to the task count, so its threads
  * inherit the caller's Spark local properties as they are at the call
  * (job group, SQL execution id) and never outlive it: no thread carries
  * a stale execution id into a later call. */
object Overlap {

  /** Run `tasks` concurrently and return their results in task order.
    * Returns only after EVERY task has finished, failed or not, so no task
    * is still writing when the call returns. The first failure (in
    * completion order) is rethrown as itself, not wrapped; later failures
    * ride on it as suppressed. An interrupt of the caller interrupts the
    * tasks, still waits for them, then is rethrown with the tasks'
    * failures suppressed on it. */
  def run[T](tasks: Seq[() => T]): Seq[T] = {
    if (tasks.size <= 1) return tasks.map(_())
    val failures = new ConcurrentLinkedQueue[Throwable]
    val pool = Executors.newFixedThreadPool(tasks.size)
    val futures = try tasks.map(t => pool.submit(new Callable[Option[T]] {
        def call(): Option[T] =
          try Some(t()) catch { case e: Throwable => failures.add(e); None }
      }))
      finally pool.shutdown()
    var interrupted: InterruptedException = null
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.DAYS)
      catch {
        case e: InterruptedException =>
          if (interrupted == null) { interrupted = e; pool.shutdownNow() }
      }
    if (interrupted != null) {
      failures.forEach(f => interrupted.addSuppressed(f))
      throw interrupted
    }
    failures.asScala.headOption.foreach { first =>
      failures.asScala.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    futures.map(_.get().get)
  }
}
