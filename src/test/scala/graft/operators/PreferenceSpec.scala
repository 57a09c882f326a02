package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  test("bradleyTerry: two items — ratings converge to the 2:1 win-ratio fixed point") {
    // A beats B twice, B beats A once: the BT fixed point is
    // p_A/p_B = W_A/W_B = 2 (two-player MM solves exactly)
    val comp = Seq(("A", "B"), ("A", "B"), ("B", "A")).toDF("w", "l")
    val r = Preference.bradleyTerry(comp, "w", "l", iters = 20)
      .orderBy("item").collect()
    assert(r(0).getString(0) == "A" && r(0).getLong(1) == 2L &&
      r(0).getLong(2) == 1L && r(0).getLong(3) == 3L)
    assert(math.abs(r(0).getDouble(4) - 2.0 / 3.0) < 1e-4)
    assert(math.abs(r(1).getDouble(4) - 1.0 / 3.0) < 1e-4)
    assert(r(0).getInt(5) == 1 && r(1).getInt(5) == 2)
  }

  test("bradleyTerry: transitive tournament ranks by strength, ratings sum to 1") {
    // A dominates B, B dominates C; A vs C sparse — transitivity must
    // still put A > B > C even though A meets C only once
    val comp = Seq(("A", "B"), ("A", "B"), ("A", "B"), ("B", "C"),
      ("B", "C"), ("B", "C"), ("A", "C"), ("C", "B"))
      .toDF("winner", "loser")
    val rows = Preference.bradleyTerry(comp, "winner", "loser")
      .orderBy("rank").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-5)
    assert(rows(0).getDouble(4) > rows(1).getDouble(4) &&
      rows(1).getDouble(4) > rows(2).getDouble(4))
  }

  test("bradleyTerry: a never-winning item converges to rating 0; determinism across reruns") {
    val comp = Seq(("A", "Z"), ("B", "Z"), ("A", "B"), ("B", "A"))
      .toDF("w", "l")
    val once = Preference.bradleyTerry(comp, "w", "l").orderBy("item")
      .collect()
    assert(once.find(_.getString(0) == "Z").get.getDouble(4) == 0.0)
    // bit-identical on a rerun (integer-millionth ratings end to end)
    val again = Preference.bradleyTerry(comp, "w", "l").orderBy("item")
      .collect()
    assert(once.toSeq == again.toSeq)
  }

  test("bradleyTerry: NULL winner/loser rows are excluded, not an NPE") {
    // a raw arena log easily carries comparisons with a missing side —
    // they carry no pairwise information and must not reach the item sort
    // (round-12 advice: an unfiltered null id threw an opaque NPE there)
    val comp = Seq((Some("A"), Some("B")), (Some("A"), Some("B")),
      (Some("B"), Some("A")), (None, Some("A")), (Some("B"), None))
      .toDF("w", "l")
    val withNulls = Preference.bradleyTerry(comp, "w", "l", iters = 20)
      .orderBy("item").collect()
    val clean = Preference.bradleyTerry(
      Seq(("A", "B"), ("A", "B"), ("B", "A")).toDF("w", "l"),
      "w", "l", iters = 20).orderBy("item").collect()
    assert(withNulls.toSeq == clean.toSeq)
  }

  test("bradleyTerry: the bounded-items guard fails loudly on an id-like column") {
    val comp = (1 to 60).map(i => (s"item_$i", s"item_${i + 1}"))
      .toDF("w", "l")
    val e = intercept[IllegalArgumentException] {
      Preference.bradleyTerry(comp, "w", "l", maxItems = 50)
    }
    assert(e.getMessage.contains("bounded vocabulary"))
  }

  test("bradleyTerryDistributed: bit-identical to the driver fit on a shared fixture") {
    // a ring tournament with asymmetric counts plus a never-winner and a
    // NULL row — every code path (zero-rated pairs, the null filter, tie
    // ranks) crossed; ratings must match the driver MM loop EXACTLY (the
    // integer-millionth state leaves no tolerance to hide behind)
    val comp = PreferenceSpec.sharedFixture(spark)
    for (it <- Seq(1, 3, 10)) {
      val driver = Preference.bradleyTerry(comp, "w", "l", iters = it)
        .orderBy("item").collect()
      val dist = Preference.bradleyTerryDistributed(comp, "w", "l",
        iters = it).orderBy("item").collect()
      assert(driver.toSeq == dist.toSeq, s"iters=$it")
    }
  }

  test("bradleyTerryDistributed: runs past the driver fit's item bound") {
    // 1200 items — over bradleyTerry's default 1000-item guard — in a
    // chain tournament; the distributed fit must complete and rank the
    // chain head first (it wins twice, loses never)
    val comp = ((1 to 1199).map(i => (s"i${i - 1}", s"i$i")) ++
      Seq(("i0", "i1"))).toDF("w", "l")
    intercept[IllegalArgumentException] {
      Preference.bradleyTerry(comp, "w", "l")
    }
    val rows = Preference.bradleyTerryDistributed(comp, "w", "l", iters = 3)
    assert(rows.count() == 1200L)
    val top = rows.orderBy("rank").head()
    assert(top.getString(0) == "i0" && top.getInt(5) == 1)
  }
}

object PreferenceSpec {

  /** A ring tournament with asymmetric counts plus a never-winner and a
    * NULL row, as (w, l) comparisons.
    */
  def sharedFixture(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ((1 to 40).flatMap { i =>
      val a = s"m${i % 13}"; val b = s"m${(i * 7 + 3) % 13}"
      if (a == b) Nil else Seq((Some(a), Some(b)))
    } ++ Seq((Some("m1"), Some("zz")), (Some("m2"), Some("zz")),
      (None, Some("m1")))).toDF("w", "l")
  }
}
