package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.util.control.NonFatal

/** Concurrent fan-out of independent tasks (store deletes, partition
  * moves, verification checks, per-query writes) that loses no failure. */
object Par {

  /** Run `tasks` on at most `parallelism` threads (inline for one task)
    * and return their results in task order. Every task settles before a
    * failure is raised: the first in task order, a fatal error before any
    * other, with the rest attached via `addSuppressed`. */
  def all[T](parallelism: Int)(tasks: Seq[() => T]): Seq[T] = {
    if (tasks.size <= 1) return tasks.map(_())
    val pool = Executors.newFixedThreadPool(math.min(parallelism, tasks.size))
    val outcomes = try {
      tasks.map(t => pool.submit(new Callable[Either[Throwable, T]] {
        def call(): Either[Throwable, T] =
          try Right(t()) catch { case NonFatal(e) => Left(e) }
      })).map(f => try f.get() catch { case e: ExecutionException => Left(e.getCause) })
    } finally {
      pool.shutdown()
      // returns at once unless get() was interrupted
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    val failures = outcomes.collect { case Left(e) => e }
    failures.find(!NonFatal(_)).orElse(failures.headOption).foreach { first =>
      failures.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    outcomes.collect { case Right(v) => v }
  }
}
