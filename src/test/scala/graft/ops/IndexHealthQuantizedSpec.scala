package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The quantized per-cell health signal ([[Ann.indexHealth]] on a
  * quantized root) and its engine dispatch seat
  * ([[graft.core.Engine.indexHealthFor]]).
  * The SQ arm is oracle-gated (r104); these arms cover the PQ and
  * 1-bit families from first principles, the fresh-rows refusal, and
  * the seat's typed refusal — the pieces DuckDB cannot replay cheaply
  * (PQ codebooks) or that are refusal-shaped rather than row-shaped. */
class IndexHealthQuantizedSpec extends SparkSpecBase {

  private val rng = new scala.util.Random(7)
  private val dim = 16

  private lazy val corpus: Seq[(Long, Seq[Double], Int)] = {
    val anchors = Array.fill(4)(Array.fill(dim)(rng.nextDouble() * 4))
    (0 until 80).map { i =>
      val lab = i % 4
      val v = anchors(lab).map(_ + (rng.nextDouble() - 0.5) * 0.2).toSeq
      (i.toLong, v, lab)
    }
  }

  private def df = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("PQ health = per-cell mean reconstruction distance (first principles)") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val index = Ann.buildIvfPq(df, "embedding", model, m = 4, Ann.L2)
    val dir = tmp("graft_pq_health")
    Ann.writeQuantized(index, dir)
    val got = Ann.indexHealth(Ann.cellRoot(sp, dir, None))
      .collect().map(r => (r.getAs[Number]("centroid_id").longValue(),
        (r.getAs[Long]("n_rows"), r.getAs[Double]("mean_dist")))).toMap
    // first principles: reconstruct each row from the codebooks,
    // L2 to its own cell centroid, per-row round(6), per-cell mean
    val cents = index.model.centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val rows = index.encoded
      .select(col("centroid_id").cast("long"), col("pq_codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    def recon(codes: Seq[Int]): Array[Double] =
      (0 until index.pq.m).flatMap(s =>
        index.pq.codebooks(s)(codes(s))._2).toArray
    val want = rows.groupBy(_._1).map { case (cid, rs) =>
      val ds = rs.map { case (_, codes) =>
        val rec = recon(codes)
        val c = cents(cid)
        BigDecimal(math.sqrt(rec.indices.foldLeft(0.0)((a, i) => {
          val t = rec(i) - c(i); a + t * t
        }))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      (cid, (rs.length.toLong,
        BigDecimal(ds.sum / ds.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (cid, (n, mean)) =>
      assert(got(cid)._1 == n, s"cell $cid n_rows")
      assert(math.abs(got(cid)._2 - mean) <= 1e-6,
        s"cell $cid mean: got ${got(cid)._2}, want $mean")
    }
  }

  test("1-bit health mean IS the stored rnorm mean (residual norm = " +
      "reconstruction distance)") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val index = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    val dir = tmp("graft_bitq_health")
    Ann.writeQuantized(index, dir)
    val got = Ann.indexHealth(Ann.cellRoot(sp, dir, None))
      .collect().map(r => (r.getAs[Number]("centroid_id").longValue(),
        (r.getAs[Long]("n_rows"), r.getAs[Double]("mean_dist")))).toMap
    val want = index.quantized
      .groupBy(col("centroid_id").cast("long").as("cid"))
      .agg(count(lit(1)).as("n"), round(avg(col("rnorm")), 6).as("m"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("health refuses while fresh/ rows are uncompacted") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val index = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = tmp("graft_sq_health_fresh")
    Ann.writeQuantized(index, dir)
    val sp2 = spark
    import sp2.implicits._
    val fresh = Seq((1000L, corpus.head._2, 0))
      .toDF("vec_id", "embedding", "label")
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      fresh, "vec_id") == 1L)
    val err = intercept[IllegalArgumentException] {
      Ann.indexHealth(Ann.cellRoot(sp, dir, None))
    }
    assert(err.getMessage.contains("fresh"))
  }

  final case class EmbRow(vec_id: Long, embedding: Seq[Double],
                          label: Int)

  test("engine seat dispatches a quantized root and refuses unknowns") {
    val sp = spark
    implicit val enc: org.apache.spark.sql.Encoder[EmbRow] =
      org.apache.spark.sql.Encoders.product[EmbRow]
    val reg = new graft.core.Registry(sp, tmp("graft_seat_reg"))
    val td = graft.core.Spec.TableDef[EmbRow]("emb",
      primaryKey = Some("vec_id"),
      indexes = Seq(graft.core.Spec.VectorIndex("embedding")))
    val eng = new graft.core.Engine(reg)
    val model = Ann.buildIvf(df, "label", "embedding")
    val index = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = tmp("graft_seat_sq")
    Ann.writeQuantized(index, dir)
    val viaSeat = eng.indexHealthFor(td, dir).orderBy("centroid_id")
      .collect().toSeq
    val direct = Ann.indexHealth(Ann.cellRoot(sp, dir, None))
      .orderBy("centroid_id").collect().toSeq
    assert(viaSeat == direct)
    val bogus = tmp("graft_seat_unknown")
    val err = intercept[IllegalStateException] {
      eng.indexHealthFor(td, bogus)
    }
    assert(err.getMessage.contains("none of the maintainable"))

    // the other three families land on their own audits too (the
    // range+dense pair is oracle-gated at r107; composed is seat-only)
    val assigned = Ann.assign(df, "embedding", model, Ann.L2)
    val rDir = tmp("graft_seat_range")
    Ann.writeRangeIndex(assigned, "embedding", model, rDir)
    assert(eng.indexHealthFor(td, rDir).orderBy("centroid_id")
        .collect().toSeq ==
      Ann.indexHealth(
        Ann.cellRoot(sp, rDir, Some("embedding"))).orderBy("centroid_id")
        .collect().toSeq)
    val dDir = tmp("graft_seat_dense")
    Ann.writeDenseRoot(assigned, "embedding", model, Ann.L2, dDir)
    assert(eng.indexHealthFor(td, dDir).orderBy("centroid_id")
        .collect().toSeq ==
      Ann.indexHealth(Ann.cellRoot(sp, dDir, None)).orderBy("centroid_id")
        .collect().toSeq)
    val mDir = tmp("graft_seat_mrl")
    Ann.writeMatryoshkaIvf(df, "vec_id", "embedding", dims = 4, model,
      mDir)
    assert(eng.indexHealthFor(td, mDir).orderBy("centroid_id")
        .collect().toSeq ==
      Ann.indexHealth(Ann.cellRoot(sp, mDir, None)).orderBy("centroid_id")
        .collect().toSeq)
  }

  test("registerRangeRoot refuses non-range dirs with a typed message") {
    val sp = spark
    val bogus = tmp("graft_rr_bogus")
    val err = intercept[IllegalStateException] {
      graft.plans.AnnIndex.register(graft.plans.Binding.rangeRoot(sp, bogus,
        "embedding"))
    }
    assert(err.getMessage.contains("no range radii table"))
    val err2 = intercept[IllegalStateException] {
      graft.plans.AnnIndex.register(graft.plans.Binding.rangeRootDistributed(sp,
        bogus, "embedding"))
    }
    assert(err2.getMessage.contains("no range radii table"))
  }

  test("registerQuantizedRoot dispatches PQ and 1-bit by marker and " +
      "matches the explicit stored operators") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val q = corpus(5)._2
    // parquet-backed scan: a LocalRelation corpus constant-folds
    // before the rewrite can be observed in the optimized plan
    val base = tmp("graft_root_base")
    df.write.mode("overwrite").parquet(base)
    val scan = sp.read.parquet(base)
    graft.plans.AnnIndex.install(sp)

    val pqDir = tmp("graft_root_pq")
    Ann.writeQuantized(Ann.buildIvfPq(df, "embedding", model, 4, Ann.L2),
      pqDir)
    graft.plans.AnnIndex.register(graft.plans.Binding.quantizedRoot(sp, pqDir,
      "embedding", "vec_id", probes = 2, refine = 5, owner = "spec"))
    try {
      val decl = scan
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5).select("vec_id", "dist")
      assert(decl.queryExecution.optimizedPlan.toString
        .contains("LeftSemi"), "PQ root rewrite did not engage")
      val want = Ann.searchStored(Ann.cellRoot(sp, pqDir, Some("embedding")),
          "vec_id", q, 2, 5, refine = 5).collect().toSeq
      assert(decl.collect().toSeq == want)
    } finally graft.plans.AnnIndex.unregister("embedding")

    val bqDir = tmp("graft_root_bq")
    val bq = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    Ann.writeQuantized(bq, bqDir)
    graft.plans.AnnIndex.register(graft.plans.Binding.quantizedRoot(sp, bqDir,
      "embedding", "vec_id", probes = 2, owner = "spec"))
    try {
      val decl = scan
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5).select("vec_id", "dist")
      assert(decl.queryExecution.optimizedPlan.toString
        .contains("LeftSemi"), "1-bit root rewrite did not engage")
      val want = Ann.searchStored(Ann.cellRoot(sp, bqDir, Some("embedding")),
          "vec_id", q, 2, 5)
        .collect().toSeq
      assert(decl.collect().toSeq == want)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }
}
