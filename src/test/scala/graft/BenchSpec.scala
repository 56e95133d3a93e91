package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.aqeGrain]]: `SPARK_GRAFT_AQE_GRAIN` parsing. */
class BenchSpec extends AnyFunSuite {
  private val derived = (3L << 20, 768L << 10)

  test("on, off and explicit adv:min grains") {
    assert(Bench.aqeGrain("on", derived) == derived)
    assert(Bench.aqeGrain("off", derived) == ((64L << 20, 1L << 20)))
    assert(Bench.aqeGrain("134217728:1048576", derived) ==
      ((134217728L, 1048576L)))
  }

  test("malformed grains fall back to the derived one") {
    Seq("134217728:", ":1", "1:2:3", "-1:1", "abc", "",
      "99999999999999999999:1").foreach { s =>
      assert(Bench.aqeGrain(s, derived) == derived, s)
    }
  }
}
