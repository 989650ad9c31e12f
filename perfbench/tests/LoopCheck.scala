package graft.perfbench

/** Drives [[Loop]] with a stub job that is slow until it has built its
  * cache and fast afterwards, and prints each timed execution as
  * `iteration kind seconds` for `test_perfbench.py`. */
object LoopCheck {
  def main(args: Array[String]): Unit = {
    var cached = false
    val stub = Job("stub", () => { Thread.sleep(if (cached) 10 else 200); cached = true })
    val (_, execs, iters) = Loop.run(Seq(stub), () => cached = false, warmup = Seq(stub.run),
      seconds = 0.0, minIterations = 3, cpuNanos = () => 0L,
      around = (_, _, _) => body => body())
    execs.foreach(e => println(s"${e.iteration} ${e.kind} ${e.seconds}"))
    println(s"iterations ${iters.size}")
  }
}
