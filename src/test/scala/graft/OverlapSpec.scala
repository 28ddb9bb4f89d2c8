package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.index.Overlap

/** Driver-thread overlap must fail like sequential code: no block is
  * left running detached once the call has thrown. */
class OverlapSpec extends AnyFunSuite {

  test("a failing block rethrows only after its siblings finish; later failures are suppressed") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.par2(
      throw new IllegalStateException("a"),
      { Thread.sleep(300); done.set(true) }))
    assert(e.getMessage == "a")
    assert(done.get, "par2 rethrew while its sibling block was still running")

    val late = new AtomicBoolean(false)
    val e3 = intercept[IllegalStateException](Overlap.par3(
      throw new IllegalStateException("first"),
      { Thread.sleep(300); late.set(true) },
      { Thread.sleep(100); throw new IllegalArgumentException("third") }))
    assert(e3.getMessage == "first")
    assert(late.get, "par3 rethrew while a sibling block was still running")
    assert(e3.getSuppressed.map(_.getMessage).toSeq == Seq("third"))

    assert(Overlap.par3(1, "b", 3.0) == ((1, "b", 3.0)))
  }
}
