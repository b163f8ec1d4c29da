package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RequestGenSpec extends AnyFunSuite {

  private def bytes(seed: Long): Seq[String] = (0 until 3).flatMap(RequestGen.pair(seed, _)).map(_.canonical)

  test("the same seed generates byte-identical requests") {
    assert(bytes(7) == bytes(7))
    assert(RequestGen.warmups.map(_.canonical) == RequestGen.warmups.map(_.canonical))
  }

  test("different seeds generate different requests") {
    assert(bytes(7) != bytes(8))
  }

  test("every pair carries five series and one EARNINGS payload") {
    (1L to 20L).foreach { seed =>
      val pair = RequestGen.pair(seed, 0)
      val endpoints = pair.flatMap(_.plan.rankedRequests.map(_.endpointName))
      assert(endpoints.count(_ == "TIME_SERIES_DAILY") == 5)
      assert(endpoints.count(_ == "EARNINGS") == 1)
      assert(pair.map(_.joins).sorted == Seq(0, 1))
    }
  }

  test("a request has a payload per planned call and six distinct feature columns") {
    val r = RequestGen.pair(3, 1).head
    r.plan.rankedRequests.foreach { a =>
      assert(r.payloads.contains(s"${a.endpointName}:${a.parameters("ticker")}"))
    }
    assert(r.featureColumns.distinct.size == 6)
    assert(r.bars.values.forall(n => n >= 100 && n <= 750))
  }

  test("a join request's series span all eight quarters") {
    (1L to 10L).flatMap(RequestGen.pair(_, 0)).filter(_.joins > 0)
      .foreach(r => assert(r.bars.values.forall(_ == 750)))
  }

  test("the warm-up requests cover both shapes of a pair") {
    assert(RequestGen.warmups.map(_.joins).sorted == Seq(0, 1))
  }
}
