package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The one state file every persisted store keeps: a missing state names
  * the kind the caller expected, a store of another kind never reads as
  * this one (the file name is shared, so the `kind` check is what tells
  * them apart), and values round-trip exactly whatever they contain.
  */
class StoreStateSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = (1 to 6).map { i =>
    (i.toLong, if (i % 2 == 0) "en" else "de",
      s"shared banner line\nbody $i of the store state corpus ${i * 7}")
  }.toDF("doc_id", "lang", "text")
  private def emb: DataFrame = (0 until 64).map { i =>
    (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 17) % 13 - 6).toFloat))
  }.toDF("vec_id", "embedding")
  private def pairs: DataFrame =
    Seq(("a", "b", 1L), ("b", "c", 2L)).toDF("w", "l", "s")

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft-storestate").toString + "/s"

  /** kind → (build a store of that kind at a path, read it through the
    * store's own public surface).
    */
  private val kinds: Seq[(String, String => Unit, String => Any)] = Seq(
    ("gram",
      p => GramStore.create(docs, "doc_id", "text", p, minTokens = 5),
      p => GramStore.probeSpans(spark, p, docs, "doc_id", "text")),
    ("line",
      p => LineStore.create(docs, "doc_id", "text", p),
      p => LineStore.probeClean(spark, p, docs, "doc_id", "text")),
    ("langid",
      p => LangIdStore.create(docs, "lang", "text", p, buckets = 64),
      p => LangIdStore.classify(spark, p, docs, "doc_id", "text")),
    ("preference",
      p => PreferenceStore.create(pairs, "w", "l", p),
      p => PreferenceStore.census(spark, p)),
    ("conformal",
      p => ConformalStore.create(pairs, "w", "s", p),
      p => ConformalStore.census(spark, p)),
    ("mips",
      p => AnnStore.writeMips(emb, "vec_id", "embedding", p, nPlanes = 2,
        dim = 64, nBands = 2),
      p => AnnStore.appendMips(emb, "vec_id", "embedding", p)),
    ("ivf",
      p => AnnStore.writeIvf(emb, "vec_id", "embedding", p, nClusters = 2,
        iters = 1),
      p => AnnStore.readIvfCentroids(spark, p)))

  private lazy val built: Map[String, String] = kinds.map {
    case (kind, build, _) => val p = tmp(); build(p); kind -> p
  }.toMap

  kinds.foreach { case (kind, _, probe) =>
    test(s"$kind: a path without store state fails naming the kind") {
      val e = intercept[IllegalArgumentException](probe(tmp()))
      assert(e.getMessage.contains(s"not a graft $kind store"))
    }

    test(s"$kind: every other kind of store fails loudly") {
      kinds.filter(_._1 != kind).foreach { case (other, _, _) =>
        val e = intercept[IllegalArgumentException](probe(built(other)))
        assert(e.getMessage.contains(s"graft $other store, not a graft $kind store"),
          s"$kind probe of a $other store: ${e.getMessage}")
      }
    }

    test(s"$kind: values with newlines, backslashes, tabs and '=' round-trip") {
      val path = tmp()
      val nasty = Seq("nl" -> "a\nb\n\n", "bs" -> "\\n\\\\x\\",
        "tab" -> "\tk\tv", "eq" -> "k=v==", "empty" -> "")
      StoreState.write(spark, path, kind, nasty)
      assert(StoreState.read(spark, path, kind) ==
        (nasty :+ ("kind" -> kind)).toMap)
      // one file, renamed into place: no tmp file or checksum sidecar left
      assert(new java.io.File(path).list().toSeq == Seq("_graft_state"))
    }
  }
}
