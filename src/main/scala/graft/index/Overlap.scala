package graft.index

/** Driver-thread overlap for independent Spark actions (optimization
  * guide §2.6): actions are only sequential because driver code calls
  * them sequentially, and the index lifecycle verbs are full of short
  * independent ones — a tier save writes its big frame plus 1-2
  * driver-local sidecar frames, a load collects 1-2 tiny parquet
  * sidecars — each costing more in driver planning/commit latency than
  * in cluster work. Submitting them concurrently lets one action's jobs
  * back-fill the idle slots another's driver step leaves.
  *
  * Bodies hold blocking Spark actions, so each runs under
  * `scala.concurrent.blocking`: the shared fork-join pool spawns
  * replacement workers instead of starving when overlapped blocks nest
  * or outnumber pool threads. Callers may only overlap blocks with
  * disjoint outputs (different files/collections) — then results are
  * identical to sequential execution by construction. */
object Overlap {
  import scala.concurrent.{Await, Future, blocking}
  import scala.concurrent.ExecutionContext.Implicits.global
  import scala.concurrent.duration.Duration
  import scala.util.Try

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(blocking(a))
    val fb = Future(blocking(b))
    val (ra, rb) = (await(fa), await(fb))
    rethrowFirst(ra, rb)
    (ra.get, rb.get)
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fa = Future(blocking(a))
    val fb = Future(blocking(b))
    val fc = Future(blocking(c))
    val (ra, rb, rc) = (await(fa), await(fb), await(fc))
    rethrowFirst(ra, rb, rc)
    (ra.get, rb.get, rc.get)
  }

  private def await[A](f: Future[A]): Try[A] =
    Await.ready(f, Duration.Inf).value.get

  /** A failed block must not leave its siblings running detached (the
    * other half of a failed save still writing into the same
    * directory): every block is awaited first, then the first failure
    * in argument order is rethrown with the later ones suppressed. */
  private def rethrowFirst(rs: Try[_]*): Unit =
    rs.flatMap(_.failed.toOption) match {
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case _ =>
    }
}
