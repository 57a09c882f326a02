package graft.tools

import graft.SparkSpec

class ProbeSpec extends SparkSpec {

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

  test("matrix digest: row order and float noise past 9 decimals do not count") {
    import spark.implicits._
    def frame(rows: (Long, Double, Seq[Double])*) = rows.toDF("id", "x", "xs")
    val a = frame((1L, 0.1 + 0.2, Seq(1.0, 2.0)), (2L, -0.0, Nil))
    val b = frame((2L, 0.0, Nil), (1L, 0.3, Seq(1.0, 2.0)))
    val changed = frame((2L, 0.0, Nil), (1L, 0.3000001, Seq(1.0, 2.0)))
    val reordered = frame((2L, 0.0, Nil), (1L, 0.3, Seq(2.0, 1.0)))
    assert(Probe.digest(a) == Probe.digest(b) && Probe.digest(a)._1 == 2L)
    assert(Probe.digest(changed) != Probe.digest(a))
    assert(Probe.digest(reordered) != Probe.digest(a))
  }
}
