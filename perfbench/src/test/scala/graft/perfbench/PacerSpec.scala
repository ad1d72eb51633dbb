package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PacerSpec extends AnyFunSuite {
  test("the open-loop schedule reports lateness instead of slipping") {
    val period = 30000000L // 30 ms
    val t0 = System.nanoTime() + period
    val published = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val (due, late) = Pacer.run(t0, period, 6) { tick =>
      published += (tick -> System.nanoTime())
      if (tick == 2) Thread.sleep(100) // a stall: ticks 3 and 4 fall due meanwhile
    }
    assert(due.toSeq == (0 until 6).map(t0 + _ * period))
    assert(published.map(_._1) == (1 to 6))
    assert(late(2) >= 60 && late(3) >= 30, late.mkString(","))
    // after the stall the schedule is where it always was
    assert(published(5)._2 >= due(5))
    assert(late(0) < 20 && late(5) < 20, late.mkString(","))
  }
}
