package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.JobLog
import graft.ops.Fusion
import graft.pipeline.Dynamic

/** Dumps, for one warm request of each serving kind (vector, filtered
  * vector, keyword, hybrid, declarative, the `/api/run` search
  * pipeline), the Spark jobs it launches with their stages and the
  * executed plans of the frames it collects, over a [[ServeFixture]]
  * corpus of 2,400 chunks on `local[4]`. Writes `<out>/<kind>.txt`.
  *
  * {{{
  * sbt "Test/runMain graft.core.ServePlanDump <out-dir>"
  * }}}
  */
object ServePlanDump {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    Files.createDirectories(out)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val f = new ServeFixture(spark, 2400)
      f.eng.installDeclarative(f.td, probes = f.Probes)
      f.indexDynamic(200)
      val sp = spark
      import sp.implicits._
      def vector(i: Int, cat: Option[Int]): DataFrame =
        f.eng.searchByVector(f.td, f.qvec(i), 10, f.Probes,
          returnFields = Seq("cid", "cat"),
          filter = cat.map(c => col("cat") === c))
      def keyword(i: Int): DataFrame =
        f.eng.searchByKeyword(f.td, f.queries(i), 10,
          returnFields = Seq("cid"))
      def collected(dfs: DataFrame*): Seq[DataFrame] = {
        dfs.foreach(_.collect())
        dfs
      }
      // each kind builds and collects its frames as the serving path
      // does, and returns them for their executed plans
      val kinds: Seq[(String, Int => Seq[DataFrame])] = Seq(
        "vector" -> (i => collected(vector(i, None))),
        "vector_filtered" -> (i => collected(vector(i, Some(i % 10)))),
        "keyword" -> (i => collected(keyword(i))),
        "hybrid" -> { i =>
          val v = vector(i, None)
          val vr = v.collect()
          val k = keyword(i)
          val kr = k.collect()
          val fused = Fusion.rrf(Seq(
            Fusion.ranked(vr.toSeq.map(r => (r.getLong(0),
              r.getAs[Double]("dist"))).toDF("id", "dist"), "id", "dist",
              asc = true),
            Fusion.ranked(kr.toSeq.map(r => (r.getLong(0),
              r.getAs[Double]("score"))).toDF("id", "score"), "id",
              "score", asc = false)), topK = 10)
          fused.collect()
          Seq(v, k, fused)
        },
        "declarative" -> (i => collected(f.reg.table(f.td)
          .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("vec"), typedlit(f.qvec(i))), 6))
          .orderBy(col("dist").asc, col("cid").asc)
          .limit(10).select("cid", "dist"))),
        "http_run" -> (i => collected(Dynamic.runSearch(f.reg, f.searchCfg,
          f.queries(i), f.dyn).select("id", "doc_id", "text"))))
      kinds.foreach { case (kind, run) =>
        run(0) // warm: memo caches and codegen
        val (frames, jobs) = JobLog.of(spark)(run(1))
        val plans = frames.zipWithIndex.map { case (df, n) =>
          s"-- executed plan, frame ${n + 1} of ${frames.length}\n" +
            df.queryExecution.executedPlan.toString
        }
        val text = s"request kind: $kind\njobs: ${jobs.length}, " +
          s"stages run: ${jobs.flatMap(_.stages).count(_.ran)}\n\n" +
          JobLog.render(jobs) + "\n\n" + plans.mkString("\n")
        Files.write(out.resolve(s"$kind.txt"),
          text.getBytes(StandardCharsets.UTF_8))
        println(s"$kind: ${jobs.length} jobs")
      }
    } finally spark.stop()
  }
}
