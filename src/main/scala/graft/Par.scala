package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

/** Overlap INDEPENDENT driver actions (guide §2.6): Spark runs any
  * number of jobs concurrently inside one application — actions are
  * only sequential because driver code calls them sequentially, and a
  * sequential chain leaves the cluster idle through every job's
  * straggler tail. Callers own the independence argument (disjoint
  * tables/dirs, no read-your-own-concurrent-write); keep pools tiny —
  * 2–3 in flight fills the tail without fighting for executors.
  *
  * Failure contract: every launched action SETTLES before the first
  * failure is rethrown — abandoning a mid-flight table write to race a
  * caller's retry would break the package-wide single-writer contract.
  *
  * Each call builds its own pool, and the pool's threads are created
  * from the calling thread: Spark's local properties (job group,
  * scheduler pool, any caller-set key) are inheritable thread-locals,
  * copied into a thread when it is constructed, so they reach every
  * task. A shared long-lived pool would carry whatever its threads
  * inherited when they were first made.
  */
object Par {

  /** `f` over `items` with at most `width` applications in flight;
    * results in input order. Empty input returns `Nil` without a pool.
    */
  def map[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else {
      require(width > 0, s"Par.map width must be positive, got $width")
      val pool = Executors.newFixedThreadPool(math.min(width, items.size))
      try {
        val futures = items.map(a =>
          pool.submit(new Callable[B] { def call(): B = f(a) }))
        // collect every outcome before throwing, so no task is abandoned
        val outcomes = futures.map(fu => Try(fu.get()))
        outcomes.collectFirst {
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
        outcomes.map(_.get)
      } finally pool.shutdown()
    }

  def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val rs = map(Seq[() => Any](fa, fb), 2)(_())
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }
}
