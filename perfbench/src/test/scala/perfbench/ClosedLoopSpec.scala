package perfbench

import java.util.concurrent.atomic.AtomicIntegerArray

import org.scalatest.funsuite.AnyFunSuite

class ClosedLoopSpec extends AnyFunSuite {

  test("a client sends its next request only after the previous reply") {
    val clients = 3
    val inFlight = new AtomicIntegerArray(clients)
    val t0 = System.nanoTime()
    val samples = ClosedLoop.run(clients, 0.5) { (c, j) =>
      assert(inFlight.incrementAndGet(c) == 1, s"client $c overlapped itself")
      Thread.sleep(20)
      inFlight.decrementAndGet(c)
      j
    }
    val deadline = t0 + 500000000L
    for (c <- 0 until clients) {
      val mine = samples.filter(_.client == c).sortBy(_.seq)
      assert(mine.map(_.seq) == mine.indices)
      mine.sliding(2).foreach {
        case Seq(a, b) => assert(b.startNs >= a.endNs)
        case _ => ()
      }
      // 0.5 s of 20 ms calls: about 25 per client, never far more
      assert(mine.size >= 10 && mine.size <= 26, s"client $c sent ${mine.size}")
      assert(mine.forall(_.startNs <= deadline + 5000000L))
      assert(mine.forall(s => s.reply.contains(s.seq)))
    }
  }

  test("a client finishes its minimum round even past the deadline") {
    val s = ClosedLoop.run(2, 0.0, minPerClient = 3) { (c, j) => Thread.sleep(2); (c, j) }
    assert(s.size == 6 && s.groupBy(_.client).values.forall(_.map(_.seq) == Seq(0, 1, 2)))
  }

  test("a failing call is a sample without a reply") {
    val s = ClosedLoop.run(1, 0.05) { (_, j) =>
      if (j % 2 == 0) throw new IllegalStateException("boom"); j
    }
    assert(s.nonEmpty && s.filter(_.seq % 2 == 0).forall(_.reply.isEmpty))
  }
}
