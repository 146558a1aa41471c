package graft.core

import java.util.concurrent.{ExecutorCompletionService, Executors}

import scala.collection.mutable
import scala.util.Try

/** The one runner of concurrent Spark work (the gold DAG, the bronze
  * fan-out, table registration). Threads come from the caller: each call
  * makes a fresh pool, every task is submitted from the calling thread,
  * which so starts every pool thread, and the pool is shut down before
  * the call returns. The threads inherit the caller's Spark local
  * properties (job group, description), and none outlives the call to
  * hand them to the next one. */
object Runner {

  /** One unit of work: its `id`, the ids it waits for, and its body. */
  case class Task[A](id: String, waitsFor: Seq[String], body: () => A)

  /** Run `tasks`, at most `width` at once. A task starts once every task
    * it waits for has succeeded; a task that waits for a failed or
    * skipped task is skipped. Every started task runs to its end.
    * Outcomes come back in input order, skipped tasks absent; what to do
    * with a failure is the caller's choice. A waited-for id must appear
    * earlier in `tasks`. */
  def run[A](tasks: Seq[Task[A]], width: Int): Seq[Try[A]] = {
    val earlier = mutable.Set.empty[String]
    tasks.foreach { t =>
      t.waitsFor.foreach(d => require(earlier(d),
        s"task ${t.id} waits for '$d', which is not earlier in the input"))
      require(earlier.add(t.id), s"duplicate task id ${t.id}")
    }
    val results = mutable.Map.empty[String, Try[A]]
    val skipped = mutable.Set.empty[String]
    val pool = Executors.newFixedThreadPool(width.min(tasks.size).max(1))
    val ended = new ExecutorCompletionService[(String, Try[A])](pool)
    try {
      var (waiting, running) = (tasks, 0)
      while (waiting.nonEmpty || running > 0) {
        val (ready, rest) = waiting.partition(
          _.waitsFor.forall(d => results.contains(d) || skipped(d)))
        ready.foreach { t =>
          if (t.waitsFor.exists(d => skipped(d) || results(d).isFailure)) skipped += t.id
          else {
            ended.submit(() => (t.id, Try(t.body())))
            running += 1
          }
        }
        waiting = rest
        if (running > 0) {
          results += ended.take().get()
          running -= 1
        }
      }
    } finally pool.shutdown()
    tasks.flatMap(t => results.get(t.id))
  }
}
