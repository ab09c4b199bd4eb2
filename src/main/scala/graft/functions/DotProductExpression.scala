package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Codegen'd dot product of two `array<double>` columns: the sequential
  * left fold `acc += a(i) * b(i)` — bit-identical to
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` and to the DuckDB
  * oracles' `list_reduce` fold, but a tight generated loop instead of an
  * interpreted higher-order-function chain with per-element lambda
  * dispatch.
  *
  * This is the hot inner operation of every similarity operator: a
  * candidate join evaluates it per candidate PAIR (O(n · occupancy) of
  * them in d6's banded join at scale), which made the interpreted form
  * the suite bottleneck at sf0.1.
  *
  * Null semantics match the HOF chain: null if either array is null,
  * null element or length mismatch → null result (zip_with pads the
  * shorter side with null; null poisons the fold). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product of two `array<float>` columns accumulated in
  * DOUBLE — bit-identical to casting both arrays to `array<double>`
  * first and folding with [[DotProduct]] (each float→double conversion
  * is exact, and the per-element product of two float-valued doubles is
  * the same double either way), but the float arrays never materialize
  * as doubles. The point is the JOIN pipeline around it (optimization
  * round 18, guide §2.3 narrower types): d6/d16's candidate pull-back
  * copies one vector array per side per candidate pair through two
  * broadcast-hash joins — ~2.25 M pairs at sf0.1 — and carrying the raw
  * float arrays halves those bytes (256 B vs 512 B per 64-dim vector)
  * while the cosine value, fold order included, stays bit-identical.
  *
  * Null semantics match [[DotProduct]]: null array, null element, or
  * length mismatch → null. */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd asymmetric-distance (ADC) score of one product-quantized
  * code array against one query's lookup table. `lut` holds the query's
  * partial distances row-major by sub-space, `k` entries per sub-space:
  * entry `m·k + c` is sub-space m's distance to centroid c, null where
  * the codebook has no such centroid. The score is
  * Σ_m lut(m·k + codes(m)), added in fixed m order. A sub-code with no
  * table entry (a null code, a code outside [0, k), a sub-space past
  * the table, a null entry) adds nothing, and a code array with no entry
  * at all scores null — the semantics of exploding the codes, inner
  * joining them to the table's rows and summing per candidate, which
  * this replaces with one generated loop. */
case class AdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = math.min(codes.numElements(), lut.numElements() / k)
    var acc = 0L
    var hit = false
    var m = 0
    while (m < n) {
      if (!codes.isNullAt(m)) {
        val c = codes.getInt(m)
        if (c >= 0 && c < k && !lut.isNullAt(m * k + c)) {
          acc += lut.getLong(m * k + c)
          hit = true
        }
      }
      m += 1
    }
    if (hit) acc else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val hit = ctx.freshName("hit")
      s"""
         |int $n = java.lang.Math.min($codes.numElements(), $lut.numElements() / $k);
         |long $acc = 0L;
         |boolean $hit = false;
         |for (int $m = 0; $m < $n; $m++) {
         |  if (!$codes.isNullAt($m)) {
         |    int $c = $codes.getInt($m);
         |    if ($c >= 0 && $c < $k && !$lut.isNullAt($m * $k + $c)) {
         |      $acc += $lut.getLong($m * $k + $c);
         |      $hit = true;
         |    }
         |  }
         |}
         |if ($hit) { ${ev.value} = $acc; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry point. */
  def dotFast(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** The driver-side twin of [[DotProduct]]'s generated loop: the same
    * sequential fold `acc += a(i) * b(i)` from 0.0, so a value computed
    * on the driver equals the one a plan computes, bit for bit. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length, s"dot of ${a.length} and ${b.length} elements")
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      acc += a(i) * b(i)
      i += 1
    }
    acc
  }

  /** PQ codes scored against a per-query lookup table of `k` entries
    * per sub-space — see [[AdcScore]]. */
  def adcScore(codes: Column, lut: Column, k: Int): Column =
    Bridge.column(AdcScore(Bridge.expression(codes), Bridge.expression(lut), k))

  /** Float-array dot with double accumulation — see [[DotProductFloat]]. */
  def dotFloatFast(a: Column, b: Column): Column =
    Bridge.column(DotProductFloat(Bridge.expression(a), Bridge.expression(b)))
}
