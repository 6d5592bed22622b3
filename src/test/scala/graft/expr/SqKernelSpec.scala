package graft.expr

import scala.collection.mutable

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpecBase
import graft.ops.Ann
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SqEncode, SqL2Adc}
import org.apache.spark.sql.types._

/** The native SQ8 kernels ([[SqL2Adc]], [[SqEncode]]) against their
  * composed higher-order-function forms ([[SqReference]]): the same
  * doubles, the same codes, the same nulls and the same errors, in
  * generated code and in interpreted `eval` alike, under ANSI on and
  * off. Cases are drawn from seeded ScalaCheck generators: dims 1–256,
  * codes 0 and 255, constant dimensions, negative, large, infinite and
  * NaN values, half-way rounding ties, float query columns, null
  * arrays and elements, query/codes length mismatches and bounds
  * shorter than the codes. */
class SqKernelSpec extends SparkSpecBase {
  import SqKernelSpec._

  /** A nullable array of nullable elements. */
  private type Arr = Option[Seq[Option[Double]]]

  /** What one evaluation produced: a normalized value (double bits,
    * code list or null) or the error it raised. */
  private type Outcome = Either[String, Any]

  private val AnsiKey = "spark.sql.ansi.enabled"

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val old = spark.conf.getOption(AnsiKey)
    spark.conf.set(AnsiKey, on.toString)
    try f finally old.fold(spark.conf.unset(AnsiKey))(spark.conf.set(AnsiKey, _))
  }

  /** Binds the native column and its reference over `schema` once, then
    * evaluates a row three ways: the native kernel's generated code,
    * its interpreted `eval`, and the reference. */
  private final class Evaluator(schema: StructType, native: Column,
                                reference: Column) {
    private val (nExpr, rExpr) = {
      val plan = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          schema)
        .select(native.as("n"), reference.as("r"))
        .queryExecution.optimizedPlan
      val p = plan.asInstanceOf[Project]
      def bound(e: Expression): Expression =
        BindReferences.bindReference(e.asInstanceOf[Alias].child,
          p.child.output)
      (bound(p.projectList(0)), bound(p.projectList(1)))
    }
    require(nExpr.exists(e => e.isInstanceOf[SqL2Adc] ||
      e.isInstanceOf[SqEncode]), s"no native kernel in $nExpr")
    val dataType: DataType = nExpr.dataType
    require(dataType == rExpr.dataType && nExpr.nullable == rExpr.nullable,
      s"type differs: ${nExpr.dataType}/${nExpr.nullable} vs " +
        s"${rExpr.dataType}/${rExpr.nullable}")
    // generated directly (no interpreted fallback on a compile error)
    private val compiled = GenerateUnsafeProjection.generate(Seq(nExpr))
    private val toInternal =
      CatalystTypeConverters.createToCatalystConverter(schema)

    private def norm(v: Any): Any = v match {
      case null => null
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case a: ArrayData => (0 until a.numElements())
        .map(i => if (a.isNullAt(i)) None else Some(a.getInt(i)))
      case other => other
    }

    private def outcome(f: => Any): Outcome =
      try Right(norm(f)) catch {
        case e: SparkThrowable =>
          Left(s"${e.getClass.getName} ${e.getCondition} " +
            e.getMessageParameters)
        case e: Exception => Left(s"${e.getClass.getName} ${e.getMessage}")
      }

    def apply(row: Row): (Outcome, Outcome, Outcome) = {
      val in = toInternal(row).asInstanceOf[
        org.apache.spark.sql.catalyst.InternalRow]
      (outcome {
        val out = compiled(in)
        if (out.isNullAt(0)) null else out.get(0, dataType)
      }, outcome(nExpr.eval(in)), outcome(rExpr.eval(in)))
    }
  }

  // ---- generators ---------------------------------------------------

  /** Per-dimension bounds of one scale per case: unit-sized ranges
    * with constant dimensions mixed in, or large ranges. The distance
    * sums every dimension, so one huge term would absorb the low-order
    * bits of all the others and hide an arithmetic difference; extreme
    * values come in as a few [[spiked]] dimensions instead. */
  private def boundsG(dim: Int): Gen[List[(Double, Double)]] =
    Gen.frequency(
      4 -> Gen.listOfN(dim, Gen.frequency(
        8 -> (for {
          a <- Gen.choose(-2.0, 2.0); w <- Gen.choose(1e-3, 4.0)
        } yield (a, a + w)),
        2 -> Gen.choose(-3.0, 3.0).map(a => (a, a)))), // constant dim
      1 -> Gen.listOfN(dim, for {
        a <- Gen.choose(-1e6, 1e6); w <- Gen.choose(1.0, 1e7)
      } yield (a, a + w)))

  private val codeG: Gen[Int] = Gen.frequency(
    2 -> Gen.const(0), 2 -> Gen.const(255), 6 -> Gen.choose(0, 255))

  /** A value in and a little beyond [mn, mx], so codes spread over
    * 0..255 and both clamps fire. */
  private def inRangeG(mn: Double, mx: Double): Gen[Double] =
    Gen.choose(-0.1, 1.1).map(t => mn + t * (mx - mn))

  /** One case in four carries one or two spiked dimensions: a
    * non-finite, signed-zero or huge value, or a NaN, infinite or
    * inverted bound pair. */
  private def spiked(bounds: List[(Double, Double)], xs: List[Double])
      : Gen[(List[(Double, Double)], List[Double])] =
    Gen.frequency(3 -> Gen.const((bounds, xs)), 1 -> (for {
      n <- Gen.choose(1, 2)
      at <- Gen.listOfN(n, Gen.choose(0, bounds.length - 1))
      onBound <- Gen.listOfN(n, Gen.oneOf(true, false))
      values <- Gen.listOfN(n, Gen.oneOf(Double.NaN,
        Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1e6,
        -1e6))
      pairs <- Gen.listOfN(n, Gen.oneOf((Double.NaN, 1.0),
        (0.0, Double.NaN), (Double.NaN, Double.NaN),
        (Double.NegativeInfinity, 1.0), (0.0, Double.PositiveInfinity),
        (1.0, -1.0), (-0.0, 0.0)))
    } yield at.indices.foldLeft((bounds, xs)) { case ((b, x), k) =>
      if (onBound(k)) (b.updated(at(k), pairs(k)), x)
      else (b, x.updated(at(k), values(k)))
    }))

  /** A half-way tie on the 0..255 grid (bounds 0 and 255), exact or one
    * ulp to either side. */
  private val tieG: Gen[Double] = for {
    k <- Gen.choose(0, 254)
    s <- Gen.oneOf(-1, 0, 1)
  } yield {
    val t = k + 0.5
    if (s < 0) Math.nextDown(t) else if (s > 0) Math.nextUp(t) else t
  }

  /** `which` indexes the case's arrays (0 = query/vector, then codes for
    * the distance, then mins, maxs). */
  private def defectG(arrays: Int): Gen[Defect] = Gen.frequency(
    6 -> Gen.const(Clean),
    1 -> Gen.choose(0, arrays - 1).map(NullArray(_)),
    2 -> (for {
      w <- Gen.choose(0, arrays - 1); at <- Gen.choose(0.0, 1.0)
    } yield NullElem(w, at)),
    1 -> Gen.oneOf(-3, -1, 1, 2).map(LengthDiff(_)),
    1 -> (for {
      w <- Gen.oneOf(arrays - 2, arrays - 1); k <- Gen.choose(0.0, 1.0)
    } yield ShortBounds(w, k)))

  private def applyDefect(arrs: IndexedSeq[Arr], d: Defect,
                          resizable: Int): IndexedSeq[Arr] = d match {
    case Clean => arrs
    case NullArray(w) => arrs.updated(w, None)
    case NullElem(w, at) => arrs.updated(w, arrs(w).map { xs =>
      xs.updated((at * (xs.length - 1)).toInt, None)
    })
    case LengthDiff(delta) => arrs.updated(resizable, arrs(resizable).map {
      xs => if (delta < 0) xs.dropRight(-delta)
        else xs ++ Seq.fill(delta)(Some(0.5))
    })
    case ShortBounds(w, keep) => arrs.updated(w, arrs(w).map { xs =>
      xs.take((keep * (xs.length - 1)).toInt)
    })
  }

  /** (query, codes, mins, maxs) rows for the distance. */
  private val adcRowG: Gen[Row] = for {
    dim <- Gen.choose(1, 256)
    inRange <- boundsG(dim)
    codes <- Gen.listOfN(dim, codeG)
    q0 <- Gen.sequence[List[Double], Double](
      inRange.map { case (mn, mx) => inRangeG(mn, mx) })
    spikedCase <- spiked(inRange, q0)
    defect <- defectG(4)
  } yield {
    val (bounds, q) = spikedCase
    val arrs = applyDefect(IndexedSeq(
      Some(q.map(Some(_))), Some(codes.map(c => Some(c.toDouble))),
      Some(bounds.map(b => Some(b._1))), Some(bounds.map(b => Some(b._2)))),
      defect, resizable = 0)
    def d(a: Arr) = a.map(_.map(_.map(Double.box).orNull)).orNull
    Row(d(arrs(0)),
      arrs(1).map(_.map(_.map(x => Int.box(x.toInt)).orNull)).orNull,
      d(arrs(2)), d(arrs(3)))
  }

  /** (vec, mins, maxs) rows for the encoder; one case in six is a grid
    * of half-way ties. */
  private val encRowG: Gen[Row] = for {
    dim <- Gen.choose(1, 256)
    ties <- Gen.frequency(5 -> false, 1 -> true)
    inRange <- if (ties) Gen.const(List.fill(dim)((0.0, 255.0)))
      else boundsG(dim)
    v0 <- Gen.sequence[List[Double], Double](inRange.map {
      case (mn, mx) => if (ties) tieG else inRangeG(mn, mx)
    })
    spikedCase <- spiked(inRange, v0)
    defect <- defectG(3).map {
      case LengthDiff(_) => Clean // the encoder has no second vector
      case d => d
    }
  } yield {
    val (bounds, v) = spikedCase
    val arrs = applyDefect(IndexedSeq(Some(v.map(Some(_))),
      Some(bounds.map(b => Some(b._1))), Some(bounds.map(b => Some(b._2)))),
      defect, resizable = 0)
    Row.fromSeq(arrs.map(_.map(_.map(_.map(Double.box).orNull)).orNull))
  }

  private def arr(t: DataType) = ArrayType(t, containsNull = true)
  private def adcSchema(qType: DataType) = StructType(Seq(
    StructField("q", arr(qType)), StructField("codes", arr(IntegerType)),
    StructField("mins", arr(DoubleType)), StructField("maxs", arr(DoubleType))))
  private val encSchema = StructType(Seq(StructField("v", arr(DoubleType)),
    StructField("mins", arr(DoubleType)), StructField("maxs", arr(DoubleType))))

  private def adcEvaluator(qType: DataType) = new Evaluator(adcSchema(qType),
    Ann.sqDistCols(col("q"), col("codes"), col("mins"), col("maxs")),
    SqReference.sqDistCols(col("q"), col("codes"), col("mins"), col("maxs")))
  private def encEvaluator() = new Evaluator(encSchema,
    Ann.quantizeSqCols(col("v"), col("mins"), col("maxs")),
    SqReference.quantizeSqCols(col("v"), col("mins"), col("maxs")))

  /** The property over `rows`: codegen, interpreted and reference agree
    * on every case. Returns how often each outcome kind occurred, so a
    * test can show it was not vacuous. */
  private def agreeOn(ev: Evaluator, rows: Gen[Row], seed: Long,
                      cases: Int = 300): Map[String, Int] = {
    val kinds = mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAll(rows) { row =>
      val (cg, in, ref) = ev(row)
      kinds(ref match {
        case Left(_) => "error"
        case Right(null) => "null"
        case Right(_) => "value"
      }) += 1
      (cg == ref && in == ref) :|
        s"codegen=$cg\ninterpreted=$in\nreference=$ref\nrow=$row"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1)
      .withInitialSeed(Seed(seed)), prop)
    assert(res.passed, res.status.toString)
    kinds.toMap
  }

  test("SqL2Adc is bit-identical to the composed sqDist (codegen and " +
      "interpreted, ANSI on): values, nulls and the element_at error") {
    val kinds = withAnsi(on = true) {
      agreeOn(adcEvaluator(DoubleType), adcRowG, seed = 11L)
    }
    assert(kinds("value") > 100 && kinds("null") > 10 && kinds("error") > 0,
      kinds.toString)
  }

  test("SqL2Adc over a float query column and with ANSI off matches " +
      "the composed sqDist") {
    val floatQ = adcRowG.map { r =>
      Row(Option(r.getSeq[java.lang.Double](0)).map(_.map(d =>
        if (d == null) null else Float.box(d.floatValue()))).orNull,
        r.get(1), r.get(2), r.get(3))
    }
    val f = withAnsi(on = true) {
      agreeOn(adcEvaluator(FloatType), floatQ, seed = 12L)
    }
    assert(f("value") > 100, f.toString)
    val off = withAnsi(on = false) {
      agreeOn(adcEvaluator(DoubleType), adcRowG, seed = 13L)
    }
    assert(off("value") > 100 && !off.contains("error"), off.toString)
  }

  test("SqEncode is bit-identical to the composed quantizeSq (codegen " +
      "and interpreted, ANSI on and off): HALF_UP ties, NaN, clamps, " +
      "nulls and the element_at error") {
    val on = withAnsi(on = true) {
      agreeOn(encEvaluator(), encRowG, seed = 21L)
    }
    assert(on("value") > 100 && on("null") > 0 && on("error") > 0,
      on.toString)
    val off = withAnsi(on = false) {
      agreeOn(encEvaluator(), encRowG, seed = 22L)
    }
    assert(off("value") > 100 && !off.contains("error"), off.toString)
  }

  test("the SQ kernels compile into whole-stage codegen and match the " +
      "reference over a real scan") {
    val rows = (0 until 200).flatMap { i =>
      adcRowG.apply(Gen.Parameters.default, Seed(100L + i))
    }.filter { r =>
      // clean cases only: a raised error would fail the whole job
      (0 until 4).forall(j => !r.isNullAt(j)) && {
        val n = r.getSeq[Any](0).length max r.getSeq[Any](1).length
        r.getSeq[Any](2).length >= n && r.getSeq[Any](3).length >= n
      }
    }
    assert(rows.length > 50)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) },
      2), StructType(StructField("id", LongType) +: adcSchema(DoubleType)))
    // separate projections: a CodegenFallback expression (the
    // reference's higher-order functions) keeps its whole operator out
    // of whole-stage codegen
    def run(dist: (Column, Column, Column, Column) => Column,
            enc: (Column, Column, Column) => Column) =
      df.select(col("id"),
        dist(col("q"), col("codes"), col("mins"), col("maxs")),
        enc(col("q"), col("mins"), col("maxs")))
    val native = run(Ann.sqDistCols, Ann.quantizeSqCols)
    val plan = native.queryExecution.executedPlan
    val wsc = plan.collect { case w: WholeStageCodegenExec => w }
    def compiled(kernel: Expression => Boolean) = wsc.exists(
      _.child.find(_.expressions.exists(_.exists(kernel))).isDefined)
    assert(compiled(_.isInstanceOf[SqL2Adc]) &&
      compiled(_.isInstanceOf[SqEncode]),
      s"expected both kernels inside WholeStageCodegen:\n$plan")
    def byId(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      r.getLong(0) -> (
        if (r.isNullAt(1)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(1))),
        r.get(2))
    }.toMap
    val got = byId(native)
    val want = byId(run(SqReference.sqDistCols, SqReference.quantizeSqCols))
    assert(got.size === rows.length)
    assert(got === want)
  }
}

object SqKernelSpec {
  /** The one flaw a generated case carries, if any. */
  private sealed trait Defect
  private case object Clean extends Defect
  private final case class NullArray(which: Int) extends Defect
  private final case class NullElem(which: Int, at: Double) extends Defect
  private final case class LengthDiff(delta: Int) extends Defect
  private final case class ShortBounds(which: Int, keep: Double)
    extends Defect
}
