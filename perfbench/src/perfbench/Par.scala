package perfbench

import java.util.concurrent.{Callable, Executors}

/** Runs independent steps on a small thread pool — table builds and gate
  * checks that Spark can overlap — and returns their results in order. */
object Par {
  def run[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors)))
    try tasks.map(f => pool.submit(new Callable[T] { def call(): T = f() })).map(_.get())
    finally pool.shutdown()
  }
}
