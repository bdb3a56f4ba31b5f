package perfbench

import scala.collection.mutable.ArrayBuffer

/** Closed-loop load: each client sends its next request only when the
  * reply to its previous one has arrived, so a slower system receives
  * less load. After the deadline a client starts no new request, except
  * to reach `minPerClient`; requests in flight complete and count. */
object ClosedLoop {

  /** One completed request; `reply` is None when the call threw. */
  final case class Sample[R](client: Int, seq: Int, startNs: Long,
      endNs: Long, reply: Option[R]) {
    def latencyMs: Double = (endNs - startNs) / 1e6
  }

  def run[R](clients: Int, seconds: Double, minPerClient: Int = 0)(
      call: (Int, Int) => R): Seq[Sample[R]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val per = Array.fill(clients)(ArrayBuffer.empty[Sample[R]])
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var j = 0
        while (j < minPerClient || System.nanoTime() < deadline) {
          val t0 = System.nanoTime()
          val r = try Some(call(c, j)) catch { case _: Exception => None }
          per(c) += Sample(c, j, t0, System.nanoTime(), r)
          j += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    per.toSeq.flatMap(_.toSeq)
  }
}
