package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed higher-order-function forms of the SQ8 kernels: what
  * `Ann.quantizeSqCols` and `Ann.sqDistCols` were built from before
  * they became the native [[org.apache.spark.sql.graft.SqEncode]] and
  * [[org.apache.spark.sql.graft.SqL2Adc]]. Spark interprets these
  * (`transform`, `zip_with` and `aggregate` are `CodegenFallback`); they
  * stay here as the bit-identity reference the native kernels are
  * checked against. */
object SqReference {

  def quantizeSqCols(vec: Column, mins: Column, maxs: Column): Column =
    transform(vec.cast("array<double>"), (x, i) => {
      val mn = element_at(mins, i + 1)
      val mx = element_at(maxs, i + 1)
      when(mx > mn,
        least(greatest(round((x - mn) / (mx - mn) * 255.0, 0), lit(0.0)),
          lit(255.0)).cast("int"))
        .otherwise(lit(0))
    })

  def sqDistCols(queryVec: Column, codes: Column, mins: Column,
                 maxs: Column): Column = {
    val dq = transform(codes, (c, i) => {
      val mn = element_at(mins, i + 1)
      val mx = element_at(maxs, i + 1)
      mn + c.cast("double") / 255.0 * (mx - mn)
    })
    sqrt(aggregate(
      zip_with(queryVec, dq, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v))
  }
}
