package graft

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

/** Overlap INDEPENDENT Spark actions from the driver (optimization guide
  * §2.6: the scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially). Used by the self-priced lifecycle gates,
  * multi-stage report queries, per-group map fits and GBT's CV folds,
  * whose wall-clock is dozens of small sequential jobs that leave most
  * cores idle: forking the independent chains back-fills the idle
  * capacity without changing a computed bit (each branch is a
  * deterministic computation over its own inputs, and none of them share
  * mutable state).
  *
  * A branch runs under its caller's job group, description and
  * interrupt flag, so a listener attributes the branch's jobs to the
  * caller exactly as if it had run them itself; the pool thread's own
  * values come back when the branch ends. `spark.sql.execution.id` is
  * never carried over: it names the caller's running SQL execution, and
  * a branch that inherited it would nest its own actions inside it.
  *
  * `join` wraps the wait in `blocking` so nested forks (a forked stage
  * that itself forks sub-work) cannot starve the global pool.
  */
private[graft] object Par {
  implicit private val ec: ExecutionContext = ExecutionContext.global

  private val Attribution =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def fork[A](f: => A): Future[A] = {
    val caller = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
      .map(sc => (sc, Attribution.map(sc.getLocalProperty)))
    Future(caller.fold(f) { case (sc, props) =>
      def set(values: Seq[String]): Unit =
        Attribution.zip(values).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val own = Attribution.map(sc.getLocalProperty)
      set(props)
      try f finally set(own)
    })
  }

  def join[A](fa: Future[A]): A = blocking(Await.result(fa, Duration.Inf))
}
