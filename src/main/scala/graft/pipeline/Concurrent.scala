package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Success, Try}

/** Runs independent driver-side Spark actions at the same time, so that
  * jobs too narrow to fill the cluster (a one-file scan, a small aggregate)
  * share its cores instead of queueing behind each other.
  *
  * Each call builds a fresh fixed pool whose threads the calling thread
  * creates, so every job inherits the caller's Spark local properties (job
  * group, job tags, scheduler pool): cancelling the caller's job group
  * cancels these jobs too. A reused pool would carry the properties of
  * whichever caller first created its threads.
  */
object Concurrent {

  /** Run every job on its own thread and return the results in job order.
    * Returns, or throws, only after every job has finished; on failure it
    * rethrows the failure of the first failed job in job order. */
  def all[T](jobs: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(jobs.size)
    try {
      val futures = jobs.map(j => pool.submit(new Callable[T] { def call(): T = j() }))
      futures.map(f => Try(f.get())).map {
        case Success(r) => r
        case Failure(e: ExecutionException) => throw e.getCause
        case Failure(e) => throw e
      }
    } finally pool.shutdown()
  }
}
