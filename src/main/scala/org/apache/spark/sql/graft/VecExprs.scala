// Lives under org.apache.spark.sql to reach the private[sql] expression
// SPI (AbstractDataType, ExpressionUtils) — the standard extension-point
// packaging used by third-party Spark libraries.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path — the reference's
  * `<->` / `<=>` / `<#>` / `@#` operators (/root/reference/vechord/
  * spec.py:426-435, 447-456) with `doGenCode`, so brute-force distance
  * scans stay inside whole-stage codegen (the composed `aggregate`/
  * `zip_with` forms in [[graft.functions.Vec]] are higher-order
  * functions, which Spark evaluates interpreted). The IVF-SQ family
  * has its own pair: [[SqL2Adc]], the asymmetric SQ8 scan distance,
  * and [[SqEncode]], the 8-bit encoder.
  *
  * Bit-compatibility contract: every expression folds left-to-right in
  * double, exactly like its Vec twin — swapping one for the other cannot
  * change any oracle-checked result. Inputs are implicitly cast to
  * array<double>; elements are assumed non-null (embedding columns),
  * except in the two SQ kernels, which reproduce their composed forms'
  * null and error behavior too.
  */
abstract class VecBinary extends BinaryExpression with ImplicitCastInputTypes
  with Serializable {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
}

/** Euclidean distance — `<->`. */
case class L2Dist(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "l2_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local must be freshName'd: this expression can occur more
      // than once in a single generated method (e.g. an aggregate result
      // projection), where bare names collide and janino rejects the class
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
      double $acc = 0.0;
      int $n = $a.numElements();
      for (int $i = 0; $i < $n; $i++) {
        double $d = $a.getDouble($i) - $b.getDouble($i);
        $acc += $d * $d;
      }
      ${ev.value} = Math.sqrt($acc);"""
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Inner product (positive); `<#>` is its negation. */
case class DotProduct(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
      double $acc = 0.0;
      int $n = $a.numElements();
      for (int $i = 0; $i < $n; $i++) {
        $acc += $a.getDouble($i) * $b.getDouble($i);
      }
      ${ev.value} = $acc;"""
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine distance — `<=>`: 1 − dot/(√n2a·√n2b), same association order
  * as Vec.cosDist. */
case class CosDist(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "cos_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var dot = 0.0
    var n2a = 0.0
    var n2b = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      n2a += xi * xi
      n2b += yi * yi
      i += 1
    }
    1.0 - dot / (math.sqrt(n2a) * math.sqrt(n2b))
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
      double $dot = 0.0, $na = 0.0, $nb = 0.0;
      int $n = $a.numElements();
      for (int $i = 0; $i < $n; $i++) {
        double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
        $dot += $xi * $yi;
        $na += $xi * $xi;
        $nb += $yi * $yi;
      }
      ${ev.value} = 1.0 - $dot / (Math.sqrt($na) * Math.sqrt($nb));"""
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MaxSim late interaction — `@#` (positive form): Σ over query tokens
  * of the max dot with any doc token. Children are array<array<double>>. */
case class MaxSimDot(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  override def prettyName: String = "maxsim_dot"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val d = b.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    while (i < q.numElements()) {
      val qv = q.getArray(i)
      val dim = qv.numElements()
      var best = Double.NegativeInfinity
      var j = 0
      while (j < d.numElements()) {
        val dv = d.getArray(j)
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += qv.getDouble(k) * dv.getDouble(k); k += 1 }
        if (dot > best) best = dot
        j += 1
      }
      acc += best
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val qv = ctx.freshName("qv")
      val dim = ctx.freshName("dim")
      val best = ctx.freshName("best")
      val j = ctx.freshName("j")
      val dv = ctx.freshName("dv")
      val dot = ctx.freshName("dot")
      val k = ctx.freshName("k")
      s"""
      double $acc = 0.0;
      for (int $i = 0; $i < $a.numElements(); $i++) {
        org.apache.spark.sql.catalyst.util.ArrayData $qv = $a.getArray($i);
        int $dim = $qv.numElements();
        double $best = Double.NEGATIVE_INFINITY;
        for (int $j = 0; $j < $b.numElements(); $j++) {
          org.apache.spark.sql.catalyst.util.ArrayData $dv = $b.getArray($j);
          double $dot = 0.0;
          for (int $k = 0; $k < $dim; $k++) {
            $dot += $qv.getDouble($k) * $dv.getDouble($k);
          }
          if ($dot > $best) $best = $dot;
        }
        $acc += $best;
      }
      ${ev.value} = $acc;"""
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two ASCENDING-sorted long arrays — the verify
  * kernel of the dedup family (Jaccard / MinHash candidate verification
  * over xxhash64'd shingle sets). A sorted two-pointer merge: O(m+n),
  * zero allocation, codegen-friendly — `array_intersect` by contrast
  * builds a hash set per row. Duplicate values count once (set
  * semantics, matching `array_intersect`). Inputs MUST be sorted
  * ascending (callers use `array_sort`); elements assumed non-null. */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  override def prettyName: String = "sorted_intersect_size"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val m = x.numElements()
    val n = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < m && j < n) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        c += 1
        // skip duplicates of the matched value on both sides
        val v = xv
        while (i < m && x.getLong(i) == v) i += 1
        while (j < n && y.getLong(j) == v) j += 1
      }
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val v = ctx.freshName("v")
      s"""
      int $m = $a.numElements();
      int $n = $b.numElements();
      int $i = 0; int $j = 0; int $c = 0;
      while ($i < $m && $j < $n) {
        long $xv = $a.getLong($i);
        long $yv = $b.getLong($j);
        if ($xv < $yv) { $i++; }
        else if ($xv > $yv) { $j++; }
        else {
          $c++;
          long $v = $xv;
          while ($i < $m && $a.getLong($i) == $v) { $i++; }
          while ($j < $n && $b.getLong($j) == $v) { $j++; }
        }
      }
      ${ev.value} = $c;"""
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-dimension helpers shared by [[SqL2Adc]] and [[SqEncode]] — the
  * interpreted `eval` and the generated code call the same functions,
  * so the two evaluation modes cannot drift apart. */
object SqKernels {

  /** `element_at(bounds, i + 1)` is in range: false on a null array;
    * past the end it raises Spark's `element_at` out-of-range error
    * under ANSI (`failOnError`) and is false otherwise. */
  def inBounds(bounds: ArrayData, i: Int, failOnError: Boolean): Boolean =
    bounds != null && (i < bounds.numElements() || {
      if (failOnError) throw QueryExecutionErrors
        .invalidElementAtIndexError(i + 1, bounds.numElements(), null)
      false
    })

  /** `mx > mn` under Spark's double ordering: NaN sorts above every
    * other value and equals itself. */
  def gt(mx: Double, mn: Double): Boolean =
    mx > mn || (java.lang.Double.isNaN(mx) && !java.lang.Double.isNaN(mn))

  /** `least(greatest(round(y, 0), 0), 255)` as an int, with Spark's NaN
    * ordering (NaN is the greatest value, so it clamps to 255). Spark
    * rounds HALF_UP on the decimal `Double.toString(y)`; that string
    * parses back to y and k + 0.5 is itself a double, so it lies on the
    * same side of k + 0.5 as y, and HALF_UP on y's exact binary value
    * (`y − ⌊y⌋ ≥ 0.5`, exact below 2⁵²) gives the same integer. */
  def code(y: Double): Int =
    if (!(y < 255.0)) 255
    else if (y < 0.0) 0
    else {
      val r = y.toInt
      if (y - r >= 0.5) r + 1 else r
    }
}

/** Asymmetric SQ8 L2 distance — the scan kernel of the IVF-SQ family
  * ([[graft.ops.Ann.sqDistCols]]): the full-precision query against
  * 8-bit codes dequantized through per-dimension bounds,
  * `√ Σ (qᵢ − (mnᵢ + cᵢ/255·(mxᵢ − mnᵢ)))²`, summed left to right from
  * 0.0.
  *
  * Bit-identical to the composed `transform` / `zip_with` / `aggregate`
  * form it replaces, edge cases included: null on a null query or
  * codes array, on any null element or null bound, and when the query
  * and codes lengths differ (`zip_with` pads with null). Bounds shorter
  * than the codes raise the `element_at` out-of-range error under ANSI
  * (null otherwise), for the first such dimension, in the composed
  * form's order: mnᵢ, then cᵢ, then mxᵢ. Bounds are array<double> in
  * every caller (typed literals or `VecAgg.vecMinMax` output). */
case class SqL2Adc(query: Expression, codes: Expression, mins: Expression,
                   maxs: Expression,
                   failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def first: Expression = query
  override def second: Expression = codes
  override def third: Expression = mins
  override def fourth: Expression = maxs
  override def prettyName: String = "sq_l2_adc"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType),
      ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val q = query.eval(input).asInstanceOf[ArrayData]
    if (q == null) return null
    val c = codes.eval(input).asInstanceOf[ArrayData]
    if (c == null) return null
    val lo = mins.eval(input).asInstanceOf[ArrayData]
    val hi = maxs.eval(input).asInstanceOf[ArrayData]
    val n = c.numElements()
    var isNull = q.numElements() != n
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (SqKernels.inBounds(lo, i, failOnError) && !lo.isNullAt(i) &&
          !c.isNullAt(i) &&
          SqKernels.inBounds(hi, i, failOnError) && !hi.isNullAt(i)) {
        val mn = lo.getDouble(i)
        val dq = mn + c.getInt(i).toDouble / 255.0 * (hi.getDouble(i) - mn)
        if (isNull || q.isNullAt(i)) isNull = true
        else {
          val d = q.getDouble(i) - dq
          acc += d * d
        }
      } else isNull = true
      i += 1
    }
    if (isNull) null else math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val q = query.genCode(ctx)
    val c = codes.genCode(ctx)
    val mn = mins.genCode(ctx)
    val mx = maxs.genCode(ctx)
    val k = SqKernels.getClass.getName.stripSuffix("$")
    val arr = classOf[ArrayData].getName
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val n = ctx.freshName("n")
    val nul = ctx.freshName("nul")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val m = ctx.freshName("m")
    val dq = ctx.freshName("dq")
    val d = ctx.freshName("d")
    ev.copy(code = code"""
      ${q.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${q.isNull}) {
        ${c.code}
        if (!${c.isNull}) {
          ${mn.code}
          ${mx.code}
          $arr $lo = ${mn.isNull} ? null : ${mn.value};
          $arr $hi = ${mx.isNull} ? null : ${mx.value};
          int $n = ${c.value}.numElements();
          boolean $nul = ${q.value}.numElements() != $n;
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($k.inBounds($lo, $i, $failOnError) && !$lo.isNullAt($i)
                && !${c.value}.isNullAt($i)
                && $k.inBounds($hi, $i, $failOnError) && !$hi.isNullAt($i)) {
              double $m = $lo.getDouble($i);
              double $dq = $m + (double) ${c.value}.getInt($i) / 255.0
                * ($hi.getDouble($i) - $m);
              if ($nul || ${q.value}.isNullAt($i)) {
                $nul = true;
              } else {
                double $d = ${q.value}.getDouble($i) - $dq;
                $acc += $d * $d;
              }
            } else {
              $nul = true;
            }
          }
          if (!$nul) {
            ${ev.isNull} = false;
            ${ev.value} = Math.sqrt($acc);
          }
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(query = newFirst, codes = newSecond, mins = newThird,
      maxs = newFourth)
}

/** SQ8 encoder — the build, append and query-side quantizer of the
  * IVF-SQ family ([[graft.ops.Ann.quantizeSqCols]]): per dimension,
  * `round((x − mn)/(mx − mn)·255)` clamped to 0..255 when `mx > mn`,
  * else 0.
  *
  * Bit-identical to the composed `transform` form it replaces: Spark's
  * HALF_UP `round` and NaN ordering ([[SqKernels.code]]); a null
  * element, a null bound or a constant dimension codes 0 (`greatest`
  * skips nulls); a null vector gives null. Bounds shorter than the
  * vector raise the `element_at` out-of-range error under ANSI (code 0
  * otherwise) in the composed form's order: mxᵢ, then mnᵢ. */
case class SqEncode(vec: Expression, mins: Expression, maxs: Expression,
                    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends TernaryExpression with ImplicitCastInputTypes with Serializable {
  override def first: Expression = vec
  override def second: Expression = mins
  override def third: Expression = maxs
  override def prettyName: String = "sq_encode"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), ArrayType(DoubleType))
  // the composed form's type: `transform` declares nullable elements
  override def dataType: DataType = ArrayType(IntegerType)
  override def nullable: Boolean = vec.nullable

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input).asInstanceOf[ArrayData]
    if (v == null) return null
    val lo = mins.eval(input).asInstanceOf[ArrayData]
    val hi = maxs.eval(input).asInstanceOf[ArrayData]
    val out = new Array[Int](v.numElements())
    var i = 0
    while (i < out.length) {
      if (SqKernels.inBounds(hi, i, failOnError) && !hi.isNullAt(i) &&
          SqKernels.inBounds(lo, i, failOnError) && !lo.isNullAt(i) &&
          !v.isNullAt(i)) {
        val mx = hi.getDouble(i)
        val mn = lo.getDouble(i)
        if (SqKernels.gt(mx, mn))
          out(i) = SqKernels.code((v.getDouble(i) - mn) / (mx - mn) * 255.0)
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val mn = mins.genCode(ctx)
    val mx = maxs.genCode(ctx)
    val k = SqKernels.getClass.getName.stripSuffix("$")
    val arr = classOf[ArrayData].getName
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val out = ctx.freshName("out")
    val i = ctx.freshName("i")
    val a = ctx.freshName("a")
    val b = ctx.freshName("b")
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      $arr ${ev.value} = null;
      if (!${ev.isNull}) {
        ${mn.code}
        ${mx.code}
        $arr $lo = ${mn.isNull} ? null : ${mn.value};
        $arr $hi = ${mx.isNull} ? null : ${mx.value};
        int[] $out = new int[${v.value}.numElements()];
        for (int $i = 0; $i < $out.length; $i++) {
          if ($k.inBounds($hi, $i, $failOnError) && !$hi.isNullAt($i)
              && $k.inBounds($lo, $i, $failOnError) && !$lo.isNullAt($i)
              && !${v.value}.isNullAt($i)) {
            double $b = $hi.getDouble($i);
            double $a = $lo.getDouble($i);
            if ($k.gt($b, $a)) {
              $out[$i] = $k.code(
                (${v.value}.getDouble($i) - $a) / ($b - $a) * 255.0);
            }
          }
        }
        ${ev.value} = ${classOf[UnsafeArrayData].getName}
          .fromPrimitiveArray($out);
      }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, mins = newSecond, maxs = newThird)
}

/** Sparse dot of a document's (indices, values) column pair against a
  * FIXED query embedded as literals — the recognizable scalar form
  * behind the declarative sparse rewrite (the sparse twin of
  * [[Bm25Score]]). Self-contained and evaluable anywhere, which is
  * what lets [[graft.plans.AnnTopKRule]] treat a plain
  * `orderBy(score.desc).limit(k)` plan as a declarative sparse search
  * and inject an inverted-postings candidate semi-join while this
  * expression survives as the exact re-rank.
  *
  * Bit-compatibility contract: accumulates `v · w` left-to-right over
  * the DOCUMENT's positions in index order, exactly like
  * [[graft.functions.Sparse.sparseDot]]'s `aggregate` fold — and with
  * small-integer tf weights the products are exact in double, so it
  * also equals [[graft.functions.Sparse.invertedTopK]]'s per-doc sum
  * regardless of order. Codegen calls back into [[score]] via a
  * reference object (never breaks a WholeStageCodegen span). */
case class SparseDotQ(left: Expression, right: Expression,
                      qIdx: Seq[Int], qVal: Seq[Double])
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {

  override def prettyName: String = "sparse_dot_q"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  require(qIdx.length == qVal.length,
    s"query indices/values length mismatch: ${qIdx.length} vs " +
      s"${qVal.length}")

  @transient private lazy val qMap: java.util.HashMap[Integer, java.lang.Double] = {
    val m = new java.util.HashMap[Integer, java.lang.Double](
      qIdx.length * 2)
    var i = 0
    while (i < qIdx.length) { m.put(qIdx(i), qVal(i)); i += 1 }
    m
  }

  /** Public for generated code. */
  def score(ix: ArrayData, vs: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = ix.numElements()
    while (i < n) {
      val w = qMap.get(Integer.valueOf(ix.getInt(i)))
      if (w != null) acc += vs.getDouble(i) * w.doubleValue()
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sparseDotQ", this,
      classOf[SparseDotQ].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = $ref.score($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SparseDotQ =
    copy(left = newLeft, right = newRight)
}

object VecExprs {
  private def c(e: Expression): Column = ExpressionUtils.column(e)

  /** Column → catalyst Expression, re-exported for graft's operator
    * layer (ExpressionUtils is package-private to org.apache.spark.sql;
    * used e.g. to detect literal query vectors and pre-fold them). */
  def exprOf(col: Column): Expression = ExpressionUtils.expression(col)

  /** Column → catalyst Expression with Spark-4 COLUMN NODES CONVERTED:
    * a user-facing `typedlit(...)`/`.cast(...)` column arrives as a
    * lazy [[org.apache.spark.sql.classic.ColumnNodeExpression]]
    * wrapper, on which no catalyst pattern (Literal, Cast, ...) can
    * fire — a literal-detection fast path fed [[exprOf]] silently
    * falls back to its distributed form for every user-built column.
    * The conversion is the same driver-side rewrite analysis performs
    * (no session, no job); anything the converter refuses keeps the
    * unconverted wrapper, which downstream matchers treat as
    * "computed". */
  def catalystExpr(col: Column): Expression =
    ExpressionUtils.expression(col) match {
      case w @ org.apache.spark.sql.classic.ColumnNodeExpression(node) =>
        scala.util.Try(
          org.apache.spark.sql.classic
            .ColumnNodeToExpressionConverter(node)).getOrElse(w)
      case e => e
    }

  def l2Dist(a: Column, b: Column): Column =
    c(L2Dist(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def cosDist(a: Column, b: Column): Column =
    c(CosDist(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def dot(a: Column, b: Column): Column =
    c(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def negDot(a: Column, b: Column): Column = -dot(a, b)
  def maxSimDot(a: Column, b: Column): Column =
    c(MaxSimDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def sortedIntersectSize(a: Column, b: Column): Column =
    c(SortedIntersectSize(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))
  def sqL2Adc(query: Column, codes: Column, mins: Column,
              maxs: Column): Column =
    c(SqL2Adc(ExpressionUtils.expression(query),
      ExpressionUtils.expression(codes), ExpressionUtils.expression(mins),
      ExpressionUtils.expression(maxs)))
  def sqEncode(vec: Column, mins: Column, maxs: Column): Column =
    c(SqEncode(ExpressionUtils.expression(vec),
      ExpressionUtils.expression(mins), ExpressionUtils.expression(maxs)))
  def sparseDotQ(indices: Column, values: Column,
                 qIdx: Seq[Int], qVal: Seq[Double]): Column =
    c(SparseDotQ(ExpressionUtils.expression(indices),
      ExpressionUtils.expression(values), qIdx, qVal))
  def bm25Score(text: Column, terms: Seq[String], dfs: Seq[Long],
                n: Long, avgdl: Double,
                tok: graft.functions.Tokenizers.Tokenizer,
                roundTo: Int): Column =
    c(Bm25Score(ExpressionUtils.expression(text), terms, dfs, n, avgdl,
      tok, roundTo))

  /** Register the SQL function forms (`l2_dist`, `cos_dist`,
    * `dot_product`, `maxsim_dot`) on a session — the
    * SparkSessionExtensions-style injection point. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("l2_dist",
      es => L2Dist(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cos_dist",
      es => CosDist(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_product",
      es => DotProduct(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("maxsim_dot",
      es => MaxSimDot(es.head, es(1)), "scala_udf")
  }
}
