package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.scalactic.source.Position
import org.scalatest.Assertions.fail

/** Runs one decode under a 10 s wall bound and fails the test, naming the
  * payload, when it has not returned in time. The bound is generous —
  * seconds, not milliseconds — so it catches hangs, not slowness: a
  * looping decoder becomes a named failure instead of blocking the whole
  * suite until the build's timeout. The body runs on a daemon thread; a
  * body that never returns keeps that thread but cannot keep the JVM up.
  * Exceptions thrown by the body reach the caller unchanged. */
object WallBound {
  private val Seconds = 10L

  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "wall-bound")
    t.setDaemon(true)
    t
  }

  def apply[T](what: => String)(body: => T)(implicit pos: Position): T = {
    val f = pool.submit(new Callable[T] { def call(): T = body })
    try f.get(Seconds, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException => fail(s"$what: no result within $Seconds s")(pos)
      case e: ExecutionException => throw e.getCause
    }
  }
}
