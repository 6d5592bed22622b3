package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** The matryoshka BATCH family: the stored composed batch operator
  * ([[Ann.matryoshkaTopKIvfBatch]]) must return, per query id, exactly
  * the single-query operator's rows ([[Ann.matryoshkaTopKIvf]]) under
  * both metrics. */
class MrlBatchSpec extends SparkSpecBase {

  private def docs: DataFrame = {
    val sp = spark
    import sp.implicits._
    (0 until 80).map { i =>
      val base = (i % 4) * 3.0
      (i.toLong,
        Seq(base + i * 0.01, base + (i % 5) * 0.2 + 0.1,
          base * 0.5 + 0.3, (i % 3) * 0.7 + 0.2),
        i % 4)
    }.toDF("id", "vec", "label")
  }

  private def queriesDf = {
    val sp = spark
    import sp.implicits._
    Seq((0L, Seq(0.1, 0.2, 0.4, 0.3)),
        (1L, Seq(9.1, 9.3, 4.8, 1.5))).toDF("q_id", "qv")
  }
  private val qSeqs = Seq(
    0L -> Seq(0.1, 0.2, 0.4, 0.3),
    1L -> Seq(9.1, 9.3, 4.8, 1.5))

  private def groupByQ(rows: Array[(Long, Long, Double, Double)]) =
    rows.groupBy(_._1).view
      .mapValues(_.sortBy(x => (x._4, x._2)).map(x => (x._2, x._3, x._4))
        .toSeq).toMap

  test("matryoshkaTopKIvfBatch per-query rows equal matryoshkaTopKIvf " +
      "under L2 and cosine; wrong-metric reads refuse") {
    val d = docs
    val model = Ann.buildIvf(d, "label", "vec")
    for (metric <- Seq(Ann.L2, Ann.Cosine)) {
      val dir = Files.createTempDirectory("graft-mrlbatch").toString
      Ann.writeMatryoshkaIvf(d, "id", "vec", dims = 2, model, dir,
        metric = metric)
      val got = groupByQ(
        Ann.matryoshkaTopKIvfBatch(spark, dir, "id", queriesDf,
            "q_id", "qv", probes = 2, candidates = 10, k = 5,
            metric = metric)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getDouble(3))))
      qSeqs.foreach { case (qid, qv) =>
        val want = Ann.searchStored(Ann.cellRoot(spark, dir, None), "id", qv,
            2, 5, refine = 2)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(x => (x._3, x._1)).toSeq
        assert(got(qid) == want,
          s"$metric qid=$qid: batch ${got(qid)} != per-query $want")
      }
      val wrong = if (metric == Ann.L2) Ann.Cosine else Ann.L2
      intercept[IllegalArgumentException] {
        Ann.matryoshkaTopKIvfBatch(spark, dir, "id", queriesDf,
          "q_id", "qv", probes = 2, candidates = 10, k = 5,
          metric = wrong)
      }
    }
  }

  test("matryoshkaTopKIvfBatch with a metadata predicate: per-query " +
      "rows equal the filtered matryoshkaTopKIvf; only allowed ids") {
    val d = docs
    val model = Ann.buildIvf(d, "label", "vec")
    val dir = Files.createTempDirectory("graft-mrlbatch-f").toString
    Ann.writeMatryoshkaIvf(d, "id", "vec", dims = 2, model, dir,
      keepCols = Seq("label"))
    val pred = col("label").isin(1, 2)
    val got = groupByQ(
      Ann.matryoshkaTopKIvfBatch(spark, dir, "id", queriesDf,
          "q_id", "qv", probes = 2, candidates = 10, k = 5,
          pred = pred)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))))
    val allowed = d.filter(pred).select("id").collect()
      .map(_.getLong(0)).toSet
    qSeqs.foreach { case (qid, qv) =>
      val want = Ann.searchStored(Ann.cellRoot(spark, dir, None), "id", qv, 2,
          5, refine = 2, pred = pred)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(x => (x._3, x._1)).toSeq
      assert(got(qid) == want,
        s"qid=$qid: filtered batch ${got(qid)} != per-query $want")
      assert(got(qid).map(_._1).forall(allowed),
        s"qid=$qid leaked a disallowed id: ${got(qid)}")
    }
  }

  // The in-memory composed batch (Ann.knnJoinMrlIvf) and the flat
  // batch (Ann.knnJoinMrl) are parity-covered against the engine's
  // single-query branches in EngineSpec ("searchByVectorBatch
  // matryoshka + composed matryoshka-IVF"), under both metrics.

  test("indexHealthMrlIvf audits the root's ASSIGNMENT space: cosine " +
      "roots measure the normalized geometry (zero mean-dist only if " +
      "a cell is degenerate), counts match occupancy, L2 gate-covered") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val model = Ann.buildIvf(docs, "label", "vec")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mrl-health-cos").toString
    Ann.writeMatryoshkaIvf(docs, "id", "vec", dims = 2, model, dir,
      metric = Ann.Cosine)
    val health = Ann.indexHealth(Ann.cellRoot(sp, dir, None))
      .collect().map(r => (r.getAs[Any]("centroid_id").toString.toLong,
        r.getAs[Long]("n_rows"), r.getAs[Double]("mean_dist"))).toList
    // counts match the layout's actual occupancy per cell
    val occ = sp.read.parquet(s"$dir/rows")
      .groupBy(col("centroid_id")).count()
      .collect().map(r => (r.getAs[Any]("centroid_id").toString.toLong,
        r.getLong(1))).toMap
    assert(health.map(h => (h._1, h._2)).toMap === occ)
    // the audited space is the normalized one: mean dists are the
    // L2-on-unit-sphere values, all within [0, 2] and not all zero
    assert(health.forall(h => h._3 >= 0.0 && h._3 <= 2.0))
    assert(health.exists(_._3 > 0.0))
    // manual replay of one cell's mean in the normalized space
    val cell = health.head._1
    val norm = Ann.normalizeModel(model).centroids
      .filter(col("centroid_id") === cell)
      .select(col("centroid").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val mean = sp.read.parquet(s"$dir/rows")
      .filter(col("centroid_id") === cell)
      .select(col("emb_full").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](0).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        val nv = v.map(_ / n)
        BigDecimal(math.sqrt(nv.zip(norm)
            .map { case (a, b) => (a - b) * (a - b) }.sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val want = BigDecimal(mean.sum / mean.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(health.find(_._1 == cell).get._3 - want) <= 1e-6)
  }
}
