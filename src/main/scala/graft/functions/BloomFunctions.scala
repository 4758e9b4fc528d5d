package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast-set membership as a native expression (EXT — the
  * decontamination prefilter's engine half; see
  * [[graft.operators.Corpus.decontaminate]]).
  *
  * A `BloomFilter` built from a (small-by-comparison) probe set is
  * embedded in the expression and consulted per value — a map-side,
  * shuffle-free "might this corpus value be in the probe set?" test, the
  * standard semi-join prefilter at 100 TB: the corpus is never shuffled,
  * only the (tiny) might-contain survivors reach the exact join that
  * removes the false positives. Never a false NEGATIVE by the filter's
  * contract, so prefilter + exact verify is exactly the semi-join.
  *
  * The filter object serializes with the expression (BloomFilterImpl is
  * java-Serializable) and is registered as a codegen reference object —
  * shipped once per stage like any closure constant, sized by
  * expectedItems x ~10 bits at fpp=0.01 (an 8 MB filter covers ~6M probe
  * n-grams).
  */
object BloomFunctions {

  case class StringMightContain(child: Expression, filter: BloomFilter)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(v: Any): Any =
      filter.mightContainString(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloom", filter, classOf[BloomFilter].getName)
      defineCodeGen(ctx, ev, c => s"$ref.mightContainString($c.toString())")
    }
    override protected def withNewChildInternal(c: Expression): StringMightContain =
      copy(child = c)
  }

  /** `true` iff the string column's value MIGHT be in the set the filter
    * was built from (no false negatives; false-positive rate = the
    * filter's fpp). Composes inside higher-order lambdas, e.g.
    * `exists(ngrams, s => mightContainString(s, bloom))`. */
  def mightContainString(c: Column, filter: BloomFilter): Column =
    ColumnOps.toColumn(StringMightContain(_, filter))(c)

  /** Static kernel: shingle + probe in ONE pass with short-circuit —
    * called from interpreted eval and from the generated Java. A
    * composed `exists(wordShingles(text), s -> mightContain(s))` was
    * measured ~60% SLOWER end-to-end than the plain exploded semi-join
    * it was supposed to beat (bloom-vs-join A/B, 42k docs): higher-order
    * functions evaluate their lambda INTERPRETED per element, plus the
    * array materializes per row. This kernel stays inside whole-stage
    * codegen and allocates nothing beyond the shingle strings.
    */
  def anyWordShingleIn(v: UTF8String, k: Int, filter: BloomFilter): Boolean = {
    val strs = TextFunctions.wordShingleStringsOf(v.toString, k)
    var i = 0
    while (i < strs.length) {
      if (filter.mightContainString(strs(i))) return true
      i += 1
    }
    false
  }

  case class AnyWordShingleMightContain(child: Expression, k: Int,
      filter: BloomFilter) extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(v: Any): Any =
      anyWordShingleIn(v.asInstanceOf[UTF8String], k, filter)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloom", filter, classOf[BloomFilter].getName)
      defineCodeGen(ctx, ev,
        c => s"graft.functions.BloomFunctions.anyWordShingleIn($c, $k, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): AnyWordShingleMightContain =
      copy(child = c)
  }

  /** `true` iff ANY word `k`-shingle of the text column might be in the
    * filter's set — the decontamination prefilter as one codegen
    * expression (see [[anyWordShingleIn]]). */
  def anyWordShingleMightContain(c: Column, k: Int, filter: BloomFilter): Column =
    ColumnOps.toColumn(AnyWordShingleMightContain(_, k, filter))(c)
}
