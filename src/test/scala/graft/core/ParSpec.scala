package graft.core

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Par.all`: order, inline single task, every task settling before a
  * failure surfaces, and which failure surfaces. */
class ParSpec extends AnyFunSuite {

  test("results come back in task order") {
    val tasks = (0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i })
    assert(Par.all(4)(tasks) == (0 until 6))
  }

  test("a single task runs inline on the calling thread") {
    val caller = Thread.currentThread()
    assert(Par.all(4)(Seq(() => Thread.currentThread())) == Seq(caller))
  }

  test("every task settles; the first failure in task order surfaces, the rest suppressed") {
    val slowDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val thrown = intercept[IllegalStateException] {
      Par.all(3)(Seq(
        () => { Thread.sleep(100); throw first },
        () => { Thread.sleep(300); slowDone.set(true) },
        () => throw second))
    }
    assert(slowDone.get, "the slow task must finish before the throw")
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }

  test("a fatal error surfaces ahead of an earlier non-fatal one") {
    val nonFatal = new RuntimeException("non-fatal")
    val fatal = new StackOverflowError("fatal")
    val thrown = intercept[StackOverflowError] {
      Par.all(2)(Seq(() => throw nonFatal, () => throw fatal))
    }
    assert(thrown eq fatal)
    assert(thrown.getSuppressed.toSeq == Seq(nonFatal))
  }
}
