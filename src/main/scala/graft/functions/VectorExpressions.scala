package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for embedding math.
  *
  * A Scala UDF would box every float and fall out of whole-stage
  * codegen; these generate a tight primitive loop instead, so the
  * brute-force scan stays in one codegen stage — on a 1000-executor
  * scan of 100 TB of vectors that is the difference between
  * memory-bandwidth-bound and GC-bound.
  *
  * Accumulation is double, in fixed left-to-right element order, so
  * results are bit-deterministic for identical inputs.
  */
abstract class FloatVectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<float> arguments")
    }
  }
}

/** dot(a, b); null if lengths differ. */
case class DotFloat(left: Expression, right: Expression) extends FloatVectorBinary {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; } else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) in one pass; null if lengths differ or a norm is 0. */
case class CosineFloat(left: Expression, right: Expression) extends FloatVectorBinary {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; } else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = (double) $x.getFloat($i);
         |    double $yv = (double) $y.getFloat($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Merge-intersection of two SORTED (strictly ascending) bigint
  * arrays — the triangle-closing primitive (round 16): for a
  * degree-oriented edge (a, b), N⁺(a) ∩ N⁺(b) is exactly the set of
  * closing nodes c, so the enumeration never materializes the wedge
  * fan-out at all. Spark's `array_intersect` builds a hash set per
  * ROW (and handles null elements / arbitrary types); the adjacency
  * arrays here are sorted primitive longs, so a two-pointer merge in
  * codegen does the same work allocation-free at a few ns per
  * element. Callers OWN the sortedness invariant (sort_array or a
  * sorted collect); unsorted input degrades to a subset, never an
  * error — keep the invariant pinned in specs. */
case class SortedIntersectLong(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sorted_intersect"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes() = {
    // containsNull is accepted either way: a parquet round-trip of the
    // adjacency arrays reports element-nullable even though the builder
    // never writes a null element (callers own that invariant, like
    // sortedness)
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<bigint> arguments")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    val buf = new Array[Long](math.min(n, m))
    var i = 0; var j = 0; var k = 0
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { buf(k) = xv; k += 1; i += 1; j += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val buf = ctx.freshName("buf")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |long[] $buf = new long[$n < $m ? $n : $m];
         |int $i = 0; int $j = 0; int $k = 0;
         |while ($i < $n && $j < $m) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $buf[$k++] = $xv; $i++; $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $k));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
