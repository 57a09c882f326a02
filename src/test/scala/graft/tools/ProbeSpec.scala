package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  test("resolve takes an exact name or a unique prefix, else lists candidates") {
    val names = Seq("q3_b", "q30_c", "q38_a")
    assert(Probe.resolve(names, "q3_b") == Right("q3_b"))
    assert(Probe.resolve(names, "q38") == Right("q38_a"))
    assert(Probe.resolve(names, "q3") ==
      Left("'q3' is ambiguous: q30_c, q38_a, q3_b"))
    assert(Probe.resolve(names, "q9").isLeft)
    assert(Probe.resolve(graft.SparkEntry.queries.keys, "q278") ==
      Right("q278_bt_distributed"))
  }
}
