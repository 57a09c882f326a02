package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the per-pair BLEU sufficient statistics
  * of one (candidate, reference) row — the kernel under
  * [[graft.operators.Evaluation.corpusBleu]]. One pass per row:
  *
  *   1. both texts split into tokens exactly as `split(text, ' ')` does:
  *      single 0x20 separators, empty tokens kept (`""` is one empty
  *      token, `" a"` is `["", "a"]`);
  *   2. the candidate's n-grams (n = 1..4) counted in one hash map, keyed
  *      by zero-copy `UTF8String` views of each gram's byte range — the
  *      same bytes `array_join(slice(tokens, i + 1, n), ' ')` builds, since
  *      the separators are single spaces. Grams of different n never
  *      collide: an n-gram holds exactly n − 1 separator bytes;
  *   3. every reference gram takes one unit off its candidate count while
  *      any is left, so the matches per n are Σ_g min(cand_g, ref_g).
  *
  * Returns a non-NULL struct of BIGINT counters ([[schema]]): the clipped
  * matches `m1..m4`, the candidate gram totals `t1..t4`
  * (`max(0, tokens − n + 1)`) and the token lengths `cand_tokens` /
  * `ref_tokens`. Each side's counters come from that side alone: a NULL
  * side contributes no tokens and no grams, and its length is NULL, as
  * ANSI `size(split(NULL, ' '))` is — so SUMs over the struct equal the
  * SUMs of the gram-census formulation bit for bit.
  *
  * Whole-stage codegen emits one static call into [[counts]], like
  * [[NormalizeText]]; the map and the views live for one row only.
  */
case class BleuCounts(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bleu counts expect string inputs, got ${l.catalogString} / ${r.catalogString}")
    }

  override def dataType: DataType = BleuCounts.schema
  override def nullable: Boolean = false

  // not nullSafeEval: a NULL side still leaves the other side's counters
  override def eval(input: InternalRow): Any =
    BleuCounts.counts(left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.BleuCounts$$.MODULE$$.counts(
          ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BleuCounts {

  val MaxN = 4

  val schema: StructType = StructType(
    (1 to MaxN).map(n => StructField(s"m$n", LongType, nullable = false)) ++
      (1 to MaxN).map(n => StructField(s"t$n", LongType, nullable = false)) ++
      Seq(StructField("cand_tokens", LongType), StructField("ref_tokens", LongType)))

  /** The counters of one pair, in [[schema]] order. */
  def counts(cand: UTF8String, ref: UTF8String): InternalRow = {
    val out = new Array[Any](2 * MaxN + 2)
    val grams = new java.util.HashMap[UTF8String, Array[Int]]()
    val cb = if (cand == null) null else bounds(cand)
    val ct = if (cb == null) 0 else cb.length - 1
    var n = 1
    while (n <= MaxN) {
      var i = 0
      while (i + n <= ct) {
        val g = gram(cand, cb, i, n)
        val c = grams.get(g)
        if (c == null) grams.put(g, Array(1)) else c(0) += 1
        i += 1
      }
      out(MaxN + n - 1) = math.max(0, ct - n + 1).toLong
      n += 1
    }
    val matches = new Array[Long](MaxN)
    val rb = if (ref == null) null else bounds(ref)
    val rt = if (rb == null) 0 else rb.length - 1
    if (ct > 0) {
      n = 1
      while (n <= MaxN) {
        var i = 0
        while (i + n <= rt) {
          val c = grams.get(gram(ref, rb, i, n))
          if (c != null && c(0) > 0) { c(0) -= 1; matches(n - 1) += 1 }
          i += 1
        }
        n += 1
      }
    }
    n = 0
    while (n < MaxN) { out(n) = matches(n); n += 1 }
    out(2 * MaxN) = if (cand == null) null else ct.toLong
    out(2 * MaxN + 1) = if (ref == null) null else rt.toLong
    new GenericInternalRow(out)
  }

  /** Separator positions framed by −1 and numBytes: token i spans bytes
    * `[b(i) + 1, b(i + 1))`, so `b.length − 1` is the token count.
    */
  private def bounds(u: UTF8String): Array[Int] = {
    val nb = u.numBytes
    var seps = 0
    var i = 0
    while (i < nb) { if (u.getByte(i) == ' ') seps += 1; i += 1 }
    val b = new Array[Int](seps + 2)
    b(0) = -1
    var j = 1
    i = 0
    while (i < nb) { if (u.getByte(i) == ' ') { b(j) = i; j += 1 }; i += 1 }
    b(seps + 1) = nb
    b
  }

  /** The n tokens from token i on, as a view of `u`'s bytes. */
  private def gram(u: UTF8String, b: Array[Int], i: Int, n: Int): UTF8String =
    UTF8String.fromAddress(u.getBaseObject, u.getBaseOffset + b(i) + 1,
      b(i + n) - b(i) - 1)
}
