package graft.core

import java.nio.file.Files

import graft.SparkSpecBase
import graft.core.Spec._
import graft.ops.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SqL2Adc, VecExprs}

/** Plan guard for the IVF-SQ scan: every engine surface that searches
  * an SQ-quantized table runs the native [[SqL2Adc]] kernel inside
  * whole-stage codegen, and no higher-order function (`transform`,
  * `zip_with`, `aggregate` — all interpreted by Spark) is left in the
  * executed plan. Keeps the interpreted form from coming back. */
class SqScanPlanSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def expressions(plan: SparkPlan): Seq[Expression] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten

  private def assertNativeScan(name: String, df: DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exprs = expressions(plan)
    assert(exprs.exists(_.exists(_.isInstanceOf[SqL2Adc])),
      s"$name: no SqL2Adc in the executed plan:\n$plan")
    val hofs = exprs.flatMap(_.collect { case h: HigherOrderFunction => h })
    assert(hofs.isEmpty,
      s"$name: interpreted higher-order functions in the plan: " +
        s"${hofs.map(_.prettyName).distinct}\n$plan")
    val compiled = collectWithSubqueries(plan) {
      case w: WholeStageCodegenExec => w
    }.exists(_.child.find(_.expressions.exists(
      _.exists(_.isInstanceOf[SqL2Adc]))).isDefined)
    assert(compiled, s"$name: SqL2Adc outside whole-stage codegen:\n$plan")
  }

  test("IVF-SQ scans run the native SQ8 kernel in whole-stage codegen: " +
      "searchByVector with and without filter, searchByVectorBatch and " +
      "the declarative orderBy(dist).limit(k) carry no higher-order " +
      "function") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunksqplan", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, quantized = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-sq-plan").toString).register(td)
    reg.insert(td, (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base + i * 0.01f, base),
        Seq(Seq(base, base)))
    })
    val eng = new Engine(reg)
    eng.buildIndex(td)
    val q = Seq(0.0, 0.0)
    assertNativeScan("searchByVector",
      eng.searchByVector(td, q, topk = 5, probes = 2))
    assertNativeScan("searchByVector filter",
      eng.searchByVector(td, q, topk = 5, probes = 2,
        filter = Some(col("cid") % 3 =!= 0)))
    assertNativeScan("searchByVectorBatch",
      eng.searchByVectorBatch(td,
        Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 10.0))).toDF("qid", "qv"),
        "qid", "qv", topk = 5, probes = 2))
    eng.installDeclarative(td, probes = 2)
    try {
      val df = reg.table(td)
        .withColumn("dist", round(VecExprs.l2Dist(col("vec"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("cid").asc)
        .limit(5)
        .select("cid", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "the declarative SQ rewrite did not fire")
      assertNativeScan("declarative", df)
    } finally eng.uninstallDeclarative(td)
  }
}
