package graft

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Declaration-time guard over the whole driver surface: the oracle harness
  * sorts result columns with pandas before hashing, and a nested cell
  * (array/map/struct) is unsortable there — the query comes back `err`, which
  * grades as red even when every value is right (round-4 q111/q127). This
  * spec builds EVERY declared query against the real sf0.001 tables and
  * asserts the output schema is scalar-only, so the class cannot ship again.
  * Operator APIs are free to return arrays; the declared query must project
  * them to scalars (explode / join / round) before the gate sees them.
  */
class QuerySchemaGuardSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def nested(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  test("every declared query output is atomic — no array/map/struct column") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val bad =
          try fn(spark, dir).schema.fields.collect {
            case f if nested(f.dataType) =>
              s"$name.${f.name}: ${f.dataType.simpleString}"
          }.toSeq
          catch {
            case e: Throwable => Seq(s"$name: FAILED TO BUILD: ${e.getMessage}")
          }
        // builder queries persist fixture frames, and the loop operators
        // checkpoint eagerly at build time: drop both
        spark.catalog.clearCache()
        releaseSince(before)
        bad
    }
    assert(offenders.isEmpty,
      s"non-scalar (or unbuildable) driver-facing outputs:\n  " +
        offenders.mkString("\n  "))
  }

  test("oracle coverage: every declared query carries an oracle, no orphans") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty,
      s"queries graded rows-only (add oracle SQL): ${(q -- o).toSeq.sorted}")
  }
}
