package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap]]'s contract: a failure in any thunk position still
  * awaits every sibling before the call throws, and the first failure
  * in argument order is the one rethrown.
  */
class OverlapSpec extends AnyFunSuite {

  // a pool-side sibling outlasts the failing thunk by far, so a call
  // that throws without awaiting it sees it unfinished
  private def slow(done: AtomicInteger): Int = {
    Thread.sleep(300); done.incrementAndGet()
  }
  private def fast(done: AtomicInteger): Int = done.incrementAndGet()
  private def boom(pos: String): Int = throw new IllegalStateException(s"boom-$pos")

  private def assertFailsAfterSiblings(pos: String, siblings: Int)(
      call: AtomicInteger => Any): Unit = {
    val done = new AtomicInteger
    val e = intercept[Throwable](call(done))
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains(s"boom-$pos")), s"rethrew $e")
    assert(done.get == siblings,
      s"failure in $pos returned before its siblings finished (${done.get}/$siblings)")
  }

  test("par: failure in a awaits b") {
    assertFailsAfterSiblings("a", 1)(d => Overlap.par(boom("a"), slow(d)))
  }

  test("par: failure in b is rethrown after a") {
    assertFailsAfterSiblings("b", 1)(d => Overlap.par(fast(d), boom("b")))
  }

  test("par3: failure in a awaits b and c") {
    assertFailsAfterSiblings("a", 2)(d => Overlap.par3(boom("a"), slow(d), slow(d)))
  }

  test("par3: failure in b awaits c") {
    assertFailsAfterSiblings("b", 2)(d => Overlap.par3(fast(d), boom("b"), slow(d)))
  }

  test("par3: failure in c awaits b") {
    assertFailsAfterSiblings("c", 2)(d => Overlap.par3(fast(d), slow(d), boom("c")))
  }

  test("par3: the first failure in argument order wins") {
    assertFailsAfterSiblings("a", 1)(d => Overlap.par3(boom("a"), boom("b"), slow(d)))
  }
}
