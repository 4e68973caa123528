package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Driver-side fan-out that never leaves a task running behind a
  * failure (conversion writes, upload copies, footer reads, HNSW layer
  * builds). */
object Settle {

  /** Runs `tasks` side by side on a pool of at most
    * `defaultParallelism` threads owned by this call, and returns each
    * task's outcome, in order, once EVERY task has settled — so no
    * write or copy is still running when a caller rethrows. */
  def all[T](spark: SparkSession, tasks: Seq[() => T]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(math.max(1,
      math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    try tasks
      .map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      .map(f => try Success(f.get())
        catch { case e: ExecutionException => Failure(e.getCause) })
    finally pool.shutdown()
  }

  /** The values of settled `outcomes`, or the first failure rethrown
    * with the later ones suppressed on it. */
  def values[T](outcomes: Seq[Try[T]]): Seq[T] =
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => outcomes.map(_.get)
    }
}
