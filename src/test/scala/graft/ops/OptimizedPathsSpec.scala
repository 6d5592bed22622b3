package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Focused pins for round-19 operator-internal optimizations: each
  * fast path must be observationally identical to the path it
  * replaced (the oracle gates pin end-to-end results; these pin the
  * internals' equivalence directly, so a drift is caught at the
  * operator, not three layers up). */
class OptimizedPathsSpec extends SparkSpecBase {
  import spark.implicits._

  private def vecs(n: Int, dim: Int, seed: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      val r = new scala.util.Random(seed + i)
      (i.toLong, Seq.fill(dim)(math.rint(r.nextDouble() * 100) / 100))
    }

  test("probeCellIds literal fast path selects exactly the probeCells " +
      "job form's cells, every metric") {
    val docs = vecs(200, 8, 7).toDF("id", "v")
    val model = Ann.buildIvfKMeans(docs, "v", k = 9, Ann.L2, iters = 2)
    val q = vecs(1, 8, 99).head._2
    for (metric <- Seq[Ann.Metric](Ann.L2, Ann.Cosine, Ann.InnerProduct);
         probes <- Seq(1, 3, 9)) {
      val viaJob = Ann.probeCells(model, typedlit(q), metric, probes)
        .collect().map(_.getLong(0)).toSeq
      val viaDriver =
        Ann.probeCellIds(model, typedlit(q), metric, probes).toSeq
      assert(viaDriver == viaJob,
        s"metric=$metric probes=$probes: driver $viaDriver != job $viaJob")
    }
  }

  test("probeCellIds falls back to the job form for non-literal query " +
      "columns and still agrees") {
    val docs = vecs(100, 6, 3).toDF("id", "v")
    val model = Ann.buildIvfKMeans(docs, "v", k = 5, Ann.L2, iters = 2)
    val q = vecs(1, 6, 42).head._2
    // a computed column (literal wrapped in arithmetic) is NOT a plain
    // literal — the extractor must decline and the fallback must run
    val computed = transform(typedlit(q), x => x + lit(0.0))
    assert(Ann.literalVec(computed).isEmpty)
    val viaFallback = Ann.probeCellIds(model, computed, Ann.L2, 3).toSeq
    val viaJob = Ann.probeCells(model, computed, Ann.L2, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(viaFallback == viaJob)
  }

  test("buildIvfKMeansIfSplittable: None exactly on an identical-at-" +
      "hash-precision corpus; bit-identical model otherwise") {
    val dup = (0 until 50).map(i => (i.toLong, Seq(1.0, 2.0, 3.0)))
      .toDF("id", "v")
    assert(Ann.buildIvfKMeansIfSplittable(dup, "v", k = 2).isEmpty)
    // >= 16 copies of the min-hash vector must not fool the oversample
    // window: two distinct vectors stay splittable
    val skew = ((0 until 40).map(i => (i.toLong, Seq(1.0, 2.0, 3.0))) :+
      (99L, Seq(9.0, 9.0, 9.0))).toDF("id", "v")
    assert(Ann.buildIvfKMeansIfSplittable(skew, "v", k = 2).nonEmpty)
    val mixed = vecs(120, 5, 11).toDF("id", "v")
    val viaOpt = Ann.buildIvfKMeansIfSplittable(mixed, "v", k = 2,
      Ann.L2, iters = 2).get
    val viaPlain = Ann.buildIvfKMeans(mixed, "v", k = 2, Ann.L2,
      iters = 2)
    assert(Ann.modelFingerprint(viaOpt) == Ann.modelFingerprint(viaPlain))
  }

  test("ivfModelAt re-loads when the centroids dir changes (listing-" +
      "signature staleness) and caches when it does not") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_modelcache").toString
    val m1 = Ann.buildIvfKMeans(vecs(60, 4, 5).toDF("id", "v"), "v",
      k = 3, Ann.L2, iters = 1)
    m1.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val a = Ann.ivfModelAt(spark, dir)
    val b = Ann.ivfModelAt(spark, dir)
    assert(a eq b, "unchanged listing must return the cached instance")
    // mutate the side table the way maintenance does (full overwrite:
    // fresh part-UUID files) — the next load must see the new set
    val m2 = Ann.buildIvfKMeans(vecs(60, 4, 77).toDF("id", "v"), "v",
      k = 4, Ann.L2, iters = 1)
    m2.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val c = Ann.ivfModelAt(spark, dir)
    assert(!(c eq a), "a changed listing must re-load")
    assert(c.collectedCentroids.length ==
      m2.collectedCentroids.length)
  }

  test("parallelismFloor raises sub-core scans to defaultParallelism, " +
      "passes wider frames through, and never changes rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_floor").toString
    vecs(50, 3, 1).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    val floored = Ann.parallelismFloor(one)
    val target = spark.sparkContext.defaultParallelism
    assert(floored.rdd.getNumPartitions >= math.min(target, 2))
    assert(floored.select("id").as[Long].collect().sorted.toSeq ==
      one.select("id").as[Long].collect().sorted.toSeq)
    val wide = one.repartition(target + 3)
    assert(Ann.parallelismFloor(wide) eq wide,
      "a frame already at/above the floor must pass through untouched")
  }

  test("parallelismFloor floors an explicit repartition(n) below the " +
      "session's cores: a shuffle root states its partition count") {
    val target = spark.sparkContext.defaultParallelism
    assert(target == 4, "the spec session runs local[4]")
    val two = vecs(50, 3, 5).toDF("id", "v").repartition(2)
    val floored = Ann.parallelismFloor(two)
    assert(!(floored eq two), "a 2-partition shuffle must be floored")
    assert(floored.rdd.getNumPartitions == target)
    assert(floored.select("id").as[Long].collect().sorted.toSeq ==
      two.select("id").as[Long].collect().sorted.toSeq)
  }

  test("literalVec unwraps widening casts only: a narrowing " +
      "array<double> -> array<float> cast falls back to the job form") {
    val dbl = Seq(0.1, 0.2, 0.3)
    val flt = Seq(0.1f, 0.2f, 0.3f)
    // plain literals and widening casts extract exactly
    assert(Ann.literalVec(typedlit(dbl)).map(_.toSeq).contains(dbl))
    assert(Ann.literalVec(typedlit(flt).cast("array<double>"))
      .map(_.toSeq).contains(flt.map(_.toDouble)))
    // identity float cast: post-cast values are the literal's own
    assert(Ann.literalVec(typedlit(flt).cast("array<float>"))
      .map(_.toSeq).contains(flt.map(_.toDouble)))
    // NARROWING cast: the distributed form computes on float-truncated
    // values (0.1 != 0.1f as a double), so the extractor must decline
    assert(Ann.literalVec(typedlit(dbl).cast("array<float>")).isEmpty)
    // and the fallback still agrees with the job form end to end
    val docs = vecs(80, 3, 13).toDF("id", "v")
    val model = Ann.buildIvfKMeans(docs, "v", k = 4, Ann.L2, iters = 1)
    val narrowed = typedlit(dbl).cast("array<float>")
    val viaDriverPath = Ann.probeCellIds(model, narrowed, Ann.L2, 2).toSeq
    val viaJob = Ann.probeCells(model, narrowed, Ann.L2, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(viaDriverPath == viaJob)
  }

  test("lazyPartitionCount declines exchange/subquery-bearing frames " +
      "(whose execute() would launch jobs) and probes plain scans free") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lazyparts").toString
    vecs(50, 3, 2).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(Ann.lazyPartitionCount(scan).contains(1))
    assert(Ann.lazyPartitionCount(scan.repartition(4)).isEmpty,
      "an Exchange-bearing plan must not be probed")
    val small = Seq((1L, "a")).toDF("id", "tag")
    val joined = scan.join(broadcast(small), Seq("id"))
    assert(Ann.lazyPartitionCount(joined).isEmpty,
      "a broadcast-join plan must not be probed (execute() would " +
        "launch the broadcast job on the non-adaptive plan)")
  }

  test("range join is identical with the probed-side broadcast pin " +
      "gated off (the 100 TB fallback arm)") {
    val e = vecs(150, 4, 21).toDF("vec_id", "embedding")
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = e.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"))
    def run(): Seq[(Long, Long, Double)] =
      Ann.rangeJoinIvf(queries, "q_id", "qv", assigned, "d_id", "dv",
          model, radii, Ann.L2, eps = 2.0)
        .as[(Long, Long, Double)].collect().toSeq
    val pinned = run()
    spark.conf.set("spark.graft.range.broadcastMaxBytes", "0")
    try {
      val unhinted = run()
      assert(unhinted == pinned,
        "the unhinted fallback must return byte-identical pairs")
    } finally spark.conf.unset("spark.graft.range.broadcastMaxBytes")
  }
}
