package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

object Concurrency {
  /** Runs `actions` concurrently and returns their results in order. Every
    * action finishes before this returns or throws: rethrowing while a
    * sibling Spark job is still running would let a caller's retry race the
    * orphaned job. The first failure is rethrown with the others attached
    * as suppressed. */
  def concurrently[T](actions: (() => T)*): Seq[T] = {
    val futures = actions.map(a => Future(a()))
    val outcomes = futures.map { f =>
      try Right(Await.result(f, Duration.Inf)) catch { case e: Throwable => Left(e) }
    }
    val failures = outcomes.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      // `ne` guard: two actions can surface the SAME throwable instance (a
      // shared upstream failure), and self-suppression throws
      failures.drop(1).filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
    outcomes.collect { case Right(v) => v }
  }
}
