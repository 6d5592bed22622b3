package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Range (distance-threshold) search family: the triangle-inequality
  * radii contract makes the IVF forms EXACT — these tests pin both
  * halves of that claim: (a) results equal the brute-force scan on any
  * data, (b) on clustered data the cut genuinely DROPS provably-empty
  * cells (the gate corpus is radius-degenerate random Gaussians, so
  * real pruning is pinned here, not there). */
class AnnRangeSpec extends SparkSpecBase {

  // three tight clusters far apart: radius ~0.1, separation ~10
  private def clustered(sp: org.apache.spark.sql.SparkSession) = {
    import sp.implicits._
    val rng = new scala.util.Random(41)
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(0.0, 10.0))
    (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(_ + (rng.nextDouble() - 0.5) * 0.2), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "cluster")
  }

  test("rangeSearch returns exactly the rows whose rounded distance " +
      "is within eps, (dist, id)-ordered") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val q = typedlit(Seq(0.0, 0.0))
    val got = Ann.rangeSearch(docs, "vec_id", "embedding", q, Ann.L2,
        eps = 0.5)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    // brute force over the collected table
    val want = docs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        (id, BigDecimal(math.sqrt(v.map(x => x * x).sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .filter(_._2 <= 0.5).sortBy { case (id, d) => (d, id) }
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty && got.length < 60)
  }

  test("radii-pruned stored range search is exact AND actually prunes " +
      "cell directories on clustered data") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-spec").toString
    Ann.writePartitioned(assigned, dir)
    val radii = Ann.cellRadii(assigned, "embedding", model, Ann.L2)
    val q = typedlit(Seq(0.1, 0.1))
    // the eps=1 ball around (0.1,0.1) intersects ONLY cluster 0
    val cells = Ann.rangeCells(model, radii, q, Ann.L2, eps = 1.0)
    assert(cells.length === 1,
      s"expected 1 intersecting cell, got ${cells.toSeq}")
    val got = Ann.rangeSearchIvfStored(sp, dir, "vec_id", "embedding",
        model, radii, q, Ann.L2, eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    val want = Ann.rangeSearch(docs, "vec_id", "embedding", q, Ann.L2,
        eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    assert(got.toSeq === want.toSeq)
    assert(got.length === 20)
    // pruning must survive a predicate and stay exact
    val gotPred = Ann.rangeSearchIvfStored(sp, dir, "vec_id",
        "embedding", model, radii, q, Ann.L2, eps = 1.0,
        pred = col("vec_id") % 2 === 0)
      .select("vec_id").as[Long].collect()
    assert(gotPred.toSeq === want.map(_._1).filter(_ % 2 == 0).toSeq)
  }

  test("rangeCells never drops a cell that holds a true match " +
      "(boundary eps, rounding slack)") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val radii = Ann.cellRadii(assigned, "embedding", model, Ann.L2)
    // eps exactly at a member's rounded distance: that member's cell
    // must still be selected
    val q = typedlit(Seq(5.0, 0.0)) // between clusters 0 and 1
    val exact = Ann.rangeSearch(docs, "vec_id", "embedding", q, Ann.L2,
      eps = 5.2).select("vec_id", "dist").as[(Long, Double)].collect()
    val cells = Ann.rangeCells(model, radii, q, Ann.L2, eps = 5.2)
    val cellOf = assigned.select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    exact.foreach { case (id, _) =>
      assert(cells.contains(cellOf(id)),
        s"cell of matching row $id was pruned") }
    assert(cells.length === 2, s"ball spans clusters 0+1 only: ${cells.toSeq}")
  }

  test("rangeJoinIvf equals the brute-force eps-join and blocks by " +
      "cluster (self near-dup shape)") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = docs.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"))
    val got = Ann.rangeJoinIvf(queries, "q_id", "qv", assigned, "d_id",
        "dv", model, radii, Ann.L2, eps = 0.5)
      .filter(col("q_id") < col("d_id"))
      .select("q_id", "d_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    val rows = docs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val want = (for {
      (a, va) <- rows; (b, vb) <- rows if a < b
      d = BigDecimal(math.sqrt(va.zip(vb)
        .map { case (x, y) => (x - y) * (x - y) }.sum))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if d <= 0.5
    } yield (a, b, d)).toSet
    assert(got === want)
    // every within-eps pair is intra-cluster here, so the join must
    // only produce intra-cluster pairs (the blocking did its job)
    assert(want.forall { case (a, b, _) => a % 3 == b % 3 })
    assert(want.nonEmpty)
  }

  test("rangeJoinIvfPerEps: each query's OWN radius decides its " +
      "pairs — per-eps slices equal the fixed-eps join, and bad " +
      "radii refuse loudly") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    // half the queries get a tight radius, half a loose one — the
    // loose half must see strictly more pairs than it would tightly
    val queries = docs.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"),
      when(col("vec_id") % 2 === 0, 0.1).otherwise(0.5).as("eps"))
    val got = Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps",
        assigned, "d_id", "dv", model, radii, Ann.L2)
      .select("q_id", "d_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    def fixed(eps: Double, parity: Int) =
      Ann.rangeJoinIvf(
        queries.filter(col("q_id") % 2 === parity)
          .select(col("q_id"), col("qv")),
        "q_id", "qv", assigned, "d_id", "dv", model, radii, Ann.L2,
        eps)
      .select("q_id", "d_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    val want = fixed(0.1, 0) ++ fixed(0.5, 1)
    assert(got === want,
      s"per-eps join diverged from its fixed-eps slices")
    // the loose radius genuinely admits more (non-vacuous fixture)
    assert(fixed(0.5, 1).size > fixed(0.1, 1).size)
    // null / NaN / negative / infinite radii refuse before any join
    for (bad <- Seq(lit(Double.NaN), lit(-0.1),
        lit(Double.PositiveInfinity),
        lit(null).cast("double"))) {
      intercept[IllegalArgumentException] {
        Ann.rangeJoinIvfPerEps(
          queries.withColumn("eps", bad), "q_id", "qv", "eps",
          assigned, "d_id", "dv", model, radii, Ann.L2).collect()
      }
    }
    // the STORED form is result-identical (the admitted-cell union
    // prunes IO, never results) and refuses bad radii on the
    // collected values before any IO
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rjoin-st").toString
    Ann.writeRangeIndex(
      Ann.assign(docs, "embedding", model, Ann.L2), "embedding",
      model, dir)
    val gotStored = Ann.rangeJoinIvfStored(sp, dir, queries, "q_id",
        "qv", "eps", "vec_id", "embedding")
      .select("q_id", "vec_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    assert(gotStored === want,
      "stored per-eps join diverged from the in-memory form")
    intercept[IllegalArgumentException] {
      Ann.rangeJoinIvfStored(sp, dir,
        queries.withColumn("eps", lit(-1.0)), "q_id", "qv", "eps",
        "vec_id", "embedding")
    }
  }

  test("rangeJoinIvfPerEpsCos: each query's own COSINE radius decides " +
      "its pairs — equals the brute-force per-query cosine scan over " +
      "a spherical layout with mixed norms; bad radii refuse loudly") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(17)
    // three angular clusters with RANDOM SCALES — cosine ignores
    // norms, so a layout confusing raw and normalized space fails here
    val dirs3 = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0),
      Seq(0.7, 0.7, 0.0))
    val docs = (0L until 60L).map { i =>
      val c = dirs3((i % 3).toInt)
      val scale = 0.5 + rng.nextDouble() * 9
      (i, c.map(x => (x + (rng.nextDouble() - 0.5) * 0.15) * scale),
        (i % 3).toInt)
    }.toDF("vec_id", "embedding", "cluster")
    val withN = docs.withColumn("__nv", Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "cluster", "__nv"))
    val assigned = Ann.assign(withN, "__nv", model, Ann.L2)
    val radii = Ann.cellRadii(assigned, "__nv", model, Ann.L2)
    val docSide = assigned.drop("__nv")
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    // tight vs loose per-query cosine radii
    val queries = docs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        when(col("vec_id") % 2 === 0, 0.02).otherwise(0.6).as("eps"))
    val got = Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps", docSide,
        "d_id", "dv", model, radii, Ann.Cosine)
      .select("q_id", "d_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    // brute force: per-pair rounded cosine against the query's own eps
    val want = queries.crossJoin(docs
        .select(col("vec_id").as("d_id"), col("embedding").as("dv")))
      .withColumn("dist", round(Ann.Cosine.dist(
        col("qv").cast("array<double>"),
        col("dv").cast("array<double>")), 6))
      .filter(col("dist") <= col("eps"))
      .select("q_id", "d_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want,
      s"cosine per-eps join diverged from brute force: " +
        s"${(got diff want).take(5)} / ${(want diff got).take(5)}")
    // the loose arm genuinely admits cross-norm same-direction pairs
    assert(want.nonEmpty &&
      want.exists { case (q, _, _) => q % 2 == 1 })
    // null / NaN / negative / infinite radii refuse before any join
    for (bad <- Seq(lit(Double.NaN), lit(-0.1),
        lit(Double.PositiveInfinity), lit(null).cast("double"))) {
      intercept[IllegalArgumentException] {
        Ann.rangeJoinIvfPerEps(queries.withColumn("eps", bad), "q_id", "qv",
            "eps", docSide, "d_id", "dv", model, radii, Ann.Cosine).collect()
      }
    }
  }

  test("declarative range rewrite injects the EXACT cell filter on " +
      "clustered data; unregistered columns and foreign metrics bail") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-rw-spec").toString
    Ann.writePartitioned(assigned, dir)
    val radii = Ann.cellRadii(assigned, "embedding", model, Ann.L2)
    graft.plans.AnnIndex.install(sp)
    val rad = Ann.collectRadiiMap(model, radii)
    graft.plans.AnnIndex.register(graft.plans.Binding.Range("embedding",
      model.idCol, Ann.L2, () => model.collectedCentroids.toSeq.map {
        case (id, c) => (id, c, rad.getOrElse(id, 0.0)) }))
    try {
      val q = Seq(0.1, 0.1)
      def plan(eps: Double) = sp.read.parquet(dir)
        .filter(round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), typedlit(q)), 6) <= eps)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .select("vec_id", "dist")
      val df = plan(1.0)
      // the injected In survives to PartitionFilters and keeps ONLY
      // cluster 0's cell (real pruning, not just filter presence)
      val phys = df.queryExecution.executedPlan.toString
      val pf = """PartitionFilters: \[[^\]]*centroid_id[^\]]*\]""".r
        .findFirstIn(phys)
      assert(pf.isDefined, s"no partition filter:\n$phys")
      // results equal brute force
      val want = Ann.rangeSearch(docs, "vec_id", "embedding",
          typedlit(q), Ann.L2, eps = 1.0)
        .select("vec_id", "dist").as[(Long, Double)].collect()
      assert(df.as[(Long, Double)].collect().toSeq === want.toSeq)
      assert(want.length === 20)
      // a cosine query must NOT be answered from the L2 radii
      val cosPlan = sp.read.parquet(dir)
        .filter(round(org.apache.spark.sql.graft.VecExprs
          .cosDist(col("embedding"), typedlit(q)), 6) <= 0.5)
      assert(!cosPlan.queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists {
            case org.apache.spark.sql.catalyst.expressions
              .In(a: org.apache.spark.sql.catalyst.expressions
                .AttributeReference, _) => a.name == "centroid_id"
            case _ => false
          }
        case _ => false
      }, "cosine filter must not get L2 cell pruning")
    } finally graft.plans.AnnIndex.unregister("embedding")
    // after unregister, the same plan gets no injection
    val df2 = sp.read.parquet(dir)
      .filter(round(org.apache.spark.sql.graft.VecExprs
        .l2Dist(col("embedding"), typedlit(Seq(0.1, 0.1))), 6) <= 1.0)
    assert(!df2.queryExecution.optimizedPlan.exists {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.exists {
          case org.apache.spark.sql.catalyst.expressions
            .In(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference, _) => a.name == "centroid_id"
          case _ => false
        }
      case _ => false
    })
  }

  test("self-contained range root: load-and-search equals the " +
      "explicit path; stale radii after a delete stay conservative") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-self-spec").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val q = typedlit(Seq(0.1, 0.1))
    val got = Ann.rangeSearchStoredSelf(sp, dir, "vec_id", "embedding",
        q, eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    val want = Ann.rangeSearch(docs, "vec_id", "embedding", q, Ann.L2,
        eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    assert(got.toSeq === want.toSeq)
    // a mixed-geometry append is refused by the fingerprint marker
    val other = Ann.buildIvf(docs.withColumn("embedding",
      transform(col("embedding"), x => x * 2)), "cluster", "embedding")
    val ex = intercept[IllegalStateException] {
      Ann.ensureIvfModelMarker(sp, dir, other)
    }
    assert(ex.getMessage.contains("different IVF model"))
    // delete the cell's FARTHEST members by rewriting rows/ (the
    // deleteStored shape), keep the ORIGINAL radii: the stale (larger)
    // radius keeps the cell selected — conservative, never unsound —
    // and results still equal brute force over the surviving rows
    val survivors = sp.read.parquet(s"$dir/rows")
      .filter(col("vec_id") % 5 =!= 0)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-range-self-del").toString
    survivors.write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$tmp/rows")
    // splice surviving rows under the ORIGINAL root's radii/centroids
    val fs = new java.io.File(s"$dir/rows")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    rm(fs)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$tmp/rows"),
      java.nio.file.Paths.get(s"$dir/rows"))
    val afterDel = Ann.rangeSearchStoredSelf(sp, dir, "vec_id",
        "embedding", q, eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    val wantDel = Ann.rangeSearch(docs.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", q, Ann.L2, eps = 1.0)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    assert(afterDel.toSeq === wantDel.toSeq)
  }

  test("splitOverfullCells: results invariant, occupancy bounded, " +
      "appends still work under the re-pinned marker, identical-row " +
      "cells skipped, balanced roots untouched") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(47)
    // one FAT cluster (80 rows) + two small ones → a 3-cell model has
    // one overfull cell that local retraining genuinely separates
    // (the fat cluster is itself two lobes)
    val docs = ((0L until 40L).map(i =>
        (i, Seq(0.0 + rng.nextDouble() * 0.2, 0.0), 0)) ++
      (40L until 80L).map(i =>
        (i, Seq(2.0 + rng.nextDouble() * 0.2, 0.0), 0)) ++
      (80L until 90L).map(i =>
        (i, Seq(10.0 + rng.nextDouble() * 0.2, 10.0), 1)) ++
      (90L until 100L).map(i =>
        (i, Seq(-10.0 + rng.nextDouble() * 0.2, 10.0), 2)))
      .toDF("vec_id", "embedding", "cluster")
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-split-spec").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val q = typedlit(Seq(1.0, 0.0))
    def search() = Ann.rangeSearchStoredSelf(sp, dir, "vec_id",
        "embedding", q, eps = 1.2)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val before = search()
    assert(before.nonEmpty)
    val splits = Ann.splitOverfull(Ann.cellRoot(sp, dir, Some("embedding")),
      maxRows = 50L)
    // exactly the fat cell split, into two fresh ids past the old max
    assert(splits.keySet.size === 1)
    val newIds = splits.values.head
    assert(newIds.size === 2 && newIds.forall(_ >= 3))
    // the search contract is INVARIANT under the re-partitioning
    assert(search() === before)
    // occupancy bounded now; the audit sees the new geometry
    val health = Ann.indexHealth(Ann.cellRoot(sp, dir, Some("embedding")))
      .select(col("centroid_id").cast("long"), col("n_rows"))
      .as[(Long, Long)].collect().toMap
    assert(health.values.max <= 50L)
    assert(health.keySet.intersect(newIds.toSet) === newIds.toSet)
    assert(!health.keySet.contains(splits.keySet.head))
    // appends still work: the marker was re-pinned to the NEW model
    Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((1000L, Seq(1.0, 0.5), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id")
    val after = search()
    assert(after.map(_._1).contains(1000L))
    assert(after.filterNot(_._1 == 1000L) === before)
    // a balanced root is a no-op; an all-identical overfull cell is
    // skipped (splitting cannot separate identical vectors)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dir, Some("embedding")),
      200L).isEmpty)
    val same = (0L until 30L).map(i => (i, Seq(5.0, 5.0), 0))
      .toDF("vec_id", "embedding", "cluster")
    val m2 = Ann.buildIvf(same, "cluster", "embedding")
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-range-split-same").toString
    Ann.writeRangeIndex(Ann.assign(same, "embedding", m2, Ann.L2),
      "embedding", m2, dir2)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dir2, Some("embedding")),
      10L).isEmpty)
  }

  test("mergeUnderfullCells: drained cells dissolve, their rows " +
      "re-home to true nearest survivors, results invariant; a torn " +
      "merge refuses reads and re-running completes it; an " +
      "all-underfull merge refuses") {
    val sp = spark
    import sp.implicits._
    // cluster 2 drained to 2 rows (ids 2 and 5 only)
    val docs = clustered(sp).filter(col("vec_id") < 6 ||
      col("vec_id") % 3 =!= 2)
    val model = Ann.buildIvf(clustered(sp), "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-merge").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val wantAll = Ann.rangeSearch(docs, "vec_id", "embedding",
        typedlit(Seq(0.0, 10.0)), Ann.L2, eps = 99.0)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val merged = Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")),
      minRows = 5)
    assert(merged.keySet === Set(2L) && merged(2L) === 2L,
      s"expected cell 2 (2 rows) to dissolve, got $merged")
    val m2 = Ann.cellRoot(sp, dir, None).readModel
    val radii2 = sp.read.parquet(s"$dir/radii")
    assert(m2.centroids.count() === 2L)
    assert(radii2.count() === 2L, "doomed radii row survived")
    assert(!new java.io.File(s"$dir/rows/centroid_id=2").exists())
    // results invariant at an everything-admitting eps: every row,
    // the re-homed two included, at its exact distance
    val got = Ann.rangeSearchStoredSelf(sp, dir, "vec_id", "embedding",
        typedlit(Seq(0.0, 10.0)), eps = 99.0)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === wantAll, "merge changed range results")
    // the re-homed rows live in their TRUE nearest surviving cell
    val rehomed = sp.read.parquet(s"$dir/rows")
      .filter(col("vec_id").isin(2L, 5L))
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expect = Ann.assign(docs.filter(col("vec_id").isin(2L, 5L)),
        "embedding", m2, Ann.L2)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(rehomed === expect, "moved rows not in their argmin cells")
    // nothing left to merge: second run is a no-op
    assert(Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")),
      5).isEmpty)
    // post-merge append works under the root's (reduced) own model
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((500L, Seq(0.3, 0.1), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id") === 1L)
    // an all-underfull threshold refuses (nothing to merge into)
    intercept[IllegalArgumentException] {
      Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")), 1000000L)
    }

    // --- a GENUINELY torn merge on a second root: crash right after
    // the pending marker — rows staged, centroids/doomed dir/radii
    // untouched. Readers (and deletes) must refuse; ONE re-run must
    // complete every back-half step from this state.
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-range-merge-torn").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir2)
    val reduced = Ann.IvfModel(
      model.centroids.filter(col("centroid_id") =!= 2)
        .localCheckpoint(true), "centroid_id", "centroid")
    Ann.assign(
        sp.read.parquet(s"$dir2/rows")
          .filter(col("centroid_id") === 2).drop("centroid_id"),
        "embedding", reduced, Ann.L2)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir2/rows_merge")
    graft.io.Markers.write(sp, dir2, "_graft_merge_pending", "2")
    intercept[IllegalStateException] {
      Ann.cellRoot(sp, dir2, None).readModel
    }
    intercept[IllegalStateException] {
      Ann.rangeSearchStoredSelf(sp, dir2, "vec_id", "embedding",
        typedlit(Seq(0.0, 10.0)), eps = 1.0).collect()
    }
    // a delete against the torn root must refuse too — it cannot see
    // the staged copies, and completion would resurrect its victims
    intercept[IllegalStateException] {
      Ann.deleteStoredIds(sp, s"$dir2/rows", "vec_id",
        Seq(2L).toDF("vec_id"))
    }
    // one re-run heals: reduced model committed, staged rows moved,
    // doomed dir gone, radii pruned, marker lifted, results exact
    // (eps 99 admits every cell, so the sim's un-grown radii — the
    // real op grows them pre-marker — don't mask the row moves)
    Ann.mergeUnderfull(Ann.cellRoot(sp, dir2, Some("embedding")), 5)
    val m3 = Ann.cellRoot(sp, dir2, None).readModel
    val radii3 = sp.read.parquet(s"$dir2/radii")
    assert(m3.centroids.count() === 2L && radii3.count() === 2L)
    assert(!new java.io.File(s"$dir2/rows/centroid_id=2").exists())
    assert(!new java.io.File(s"$dir2/rows_merge").exists())
    val healed = Ann.rangeSearchStoredSelf(sp, dir2, "vec_id",
        "embedding", typedlit(Seq(0.0, 10.0)), eps = 99.0)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(healed === wantAll, "healed torn merge changed results")

    // --- a crash INSIDE a side-table swap (between the two renames)
    // leaves the authoritative copy aside as __old; the next merge
    // run restores it before reading (the old delete-then-rename
    // order bricked the root here)
    assert(new java.io.File(s"$dir2/radii")
      .renameTo(new java.io.File(s"$dir2/radii__old")))
    Ann.mergeUnderfull(Ann.cellRoot(sp, dir2, Some("embedding")), 5)
    assert(new java.io.File(s"$dir2/radii").exists())
    assert(!new java.io.File(s"$dir2/radii__old").exists())
    assert(Ann.rangeSearchStoredSelf(sp, dir2, "vec_id", "embedding",
        typedlit(Seq(0.0, 10.0)), eps = 99.0).count() ===
      wantAll.size.toLong)
  }

  test("cosine radii are refused (not a metric); the spherical " +
      "reduction is exact and prunes on angularly-clustered data") {
    val sp = spark
    import sp.implicits._
    // angular clusters: directions ~0° and ~90°, mixed magnitudes —
    // cosine-close, L2-far apart within a cluster
    val rng = new scala.util.Random(53)
    val docs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.01) else Seq(0.01, 1.0)
      val mag = 0.5 + rng.nextDouble() * 9.5
      (i, base.map(x => x * mag + (rng.nextDouble() - 0.5) * 0.01),
        (i % 2).toInt)
    }.toDF("vec_id", "embedding", "cluster")
    val withN = docs.withColumn("__nvec",
      Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "cluster", "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    // guard: cosine radii must throw before producing unsound pruning
    val ex = intercept[IllegalArgumentException] {
      Ann.cellRadii(assigned, "__nvec", model, Ann.Cosine)
    }
    assert(ex.getMessage.contains("triangle"))
    val radii = Ann.cellRadii(assigned, "__nvec", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-cos-spec").toString
    Ann.writePartitioned(assigned.drop("__nvec"), dir)
    val q = typedlit(Seq(5.0, 0.05)) // direction ~cluster 0, big norm
    val got = Ann.rangeSearchIvfStored(sp, dir, "vec_id", "embedding", model,
        radii, q, Ann.Cosine, eps = 0.1)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    val want = Ann.rangeSearch(docs, "vec_id", "embedding", q,
        Ann.Cosine, eps = 0.1)
      .select("vec_id", "dist").as[(Long, Double)].collect()
    assert(got.toSeq === want.toSeq)
    assert(got.length === 20, "all of cluster 0 is cosine-close " +
      "regardless of magnitude")
    // and the reduction genuinely pruned: only cluster 0's cell scans
    val epsL2 = math.sqrt(2.0 * 0.1 + 1e-6)
    val cells = Ann.rangeCells(model, radii, Ann.l2Normalize(q), Ann.L2,
      epsL2)
    assert(cells.length === 1, s"expected 1 cell, got ${cells.toSeq}")
  }

  test("eps below the nearest neighbor yields empty results, not an " +
      "error; a cell with no members is harmless in the radii map") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val radii = Ann.cellRadii(
      assigned.filter(col("centroid_id") =!= 2L), "embedding", model,
      Ann.L2) // cell 2 missing from radii: treated as radius 0
    val q = typedlit(Seq(100.0, 100.0))
    assert(Ann.rangeSearch(docs, "vec_id", "embedding", q, Ann.L2,
      eps = 1.0).count() === 0L)
    assert(Ann.rangeCells(model, radii, q, Ann.L2, eps = 1.0).isEmpty)
  }

  test("range append checks column TYPES, not names: a batch whose " +
      "cluster column is a string over the stored int refuses, and " +
      "rows/ and radii/ stay unchanged") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-schema-spec").toString
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, dir)
    def snapshot = (
      sp.read.parquet(s"$dir/rows").orderBy("vec_id").collect().toSeq,
      sp.read.parquet(s"$dir/radii").orderBy("centroid_id").collect().toSeq)
    val before = snapshot
    // same names, one type off: outside cluster 0's radius, so a
    // written batch would also have grown radii/
    val bad = Seq((100L, Seq(0.9, 0.9), "zero"))
      .toDF("vec_id", "embedding", "cluster")
    intercept[IllegalArgumentException] {
      Ann.appendIdempotent(Ann.cellRoot(sp, dir, Some("embedding")), bad,
        "vec_id")
    }
    assert(snapshot === before)
  }

  test("appendRangeIndex: radii grow before rows land — a late outlier " +
      "is visible; a raw rows-only append would hide it") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-append-spec").toString
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, dir)
    // outlier near cluster 0's centroid but OUTSIDE its ~0.14 radius
    val late = Seq((100L, Seq(0.9, 0.9), 0)).toDF(
      "vec_id", "embedding", "cluster")
    // counterfactual FIRST: raw rows-only append hides the outlier
    // from a ball that contains it (stale radius misses the query ball)
    Ann.assign(late, "embedding", model, Ann.L2)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/rows")
    val q = typedlit(Seq(1.0, 1.0))
    val blind = Ann.rangeSearchStoredSelf(sp, dir, "vec_id", "embedding",
      q, eps = 0.2).select("vec_id").as[Long].collect()
    assert(!blind.contains(100L),
      "stale radii should hide the raw-appended outlier (else the " +
        "counterfactual is vacuous)")
    // now the SOUND append of a second outlier at the same spot
    val late2 = Seq((101L, Seq(0.9, 0.92), 0)).toDF(
      "vec_id", "embedding", "cluster")
    Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      late2, "vec_id")
    val seen = Ann.rangeSearchStoredSelf(sp, dir, "vec_id", "embedding",
      q, eps = 0.2).select("vec_id").as[Long].collect().toSet
    // the grown radius admits the cell: BOTH outliers are now visible
    assert(seen.contains(101L) && seen.contains(100L))
    // stored radii actually grew and still cover every row
    val m2 = Ann.cellRoot(sp, dir, None).readModel
    val radii2 = sp.read.parquet(s"$dir/radii")
    val rows2 = sp.read.parquet(s"$dir/rows")
    val recomputed = Ann.cellRadii(rows2, "embedding", m2, Ann.L2)
      .collect().map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[Double]("radius")).toMap
    radii2.collect().foreach { r =>
      assert(r.getAs[Double]("radius") >=
        recomputed(r.getAs[Long]("centroid_id")) - 1e-12)
    }
  }

  test("appendRangeIndexIdempotent probes by COVERING RADII, not " +
      "argmin: a copy stranded off today's argmin (the post-split " +
      "drift shape) is still found, so a replay appends zero") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-drift-spec").toString
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, dir)
    // strand row 0 (cluster 0) in cluster 1's cell: exactly the shape
    // a split leaves behind when a new sub-centroid steals a
    // neighboring cell's boundary row's argmin
    val argminCell = Ann.assign(docs.filter(col("vec_id") === 0),
      "embedding", model, Ann.L2).select(col("centroid_id"))
      .head().getLong(0)
    val otherCell = model.centroids
      .select(col("centroid_id").cast("long"))
      .collect().map(_.getLong(0)).filter(_ != argminCell).head
    assert(Ann.deleteStoredIds(sp, s"$dir/rows", "vec_id",
      Seq(0L).toDF("vec_id")) === 1L)
    docs.filter(col("vec_id") === 0)
      .withColumn("centroid_id", lit(otherCell))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/rows")
    // radii must COVER the stranded copy (the invariant every
    // maintenance op preserves — grow them to the recomputed truth)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    val covered = Ann.cellRadii(sp.read.parquet(s"$dir/rows"),
      "embedding", model, Ann.L2).localCheckpoint(true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/radii"), true)
    covered.write.parquet(s"$dir/radii")
    // the replay: row 0's argmin cell does NOT hold its copy, but the
    // radii-admitting probe reaches the stranded one — appends ZERO
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      docs.filter(col("vec_id") === 0), "vec_id") === 0L)
    assert(sp.read.parquet(s"$dir/rows")
      .filter(col("vec_id") === 0).count() === 1L,
      "the stranded copy must not be duplicated by the replay")
  }

  test("crashed radii swaps heal at appendRangeIndex entry: the " +
      "legacy delete-then-rename window (radii missing, radii_next " +
      "the only complete copy) PROMOTES the staged table, and the " +
      "mid-swap window (radii aside as __old) restores it — neither " +
      "strands the root for a manual rebuild") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-heal-spec").toString
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$dir/$n")
    // window 1 — the LEGACY protocol's crash between delete(radii)
    // and rename: radii_next fully written (committer _SUCCESS
    // present), live radii gone. The old heal deleted _next here,
    // leaving the root radii-less until a hand rebuild.
    sp.read.parquet(s"$dir/radii").write.parquet(s"$dir/radii_next")
    fs.delete(p("radii"), true)
    Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((200L, Seq(0.3, 0.3), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id")
    assert(fs.exists(p("radii")) && !fs.exists(p("radii_next")))
    // window 2 — a crash between swapSideTable's two renames: live
    // missing, the authoritative copy aside as __old
    require(fs.rename(p("radii"), p("radii__old")))
    Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((201L, Seq(0.3, 0.35), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id")
    assert(fs.exists(p("radii")) && !fs.exists(p("radii__old")))
    // the healed root still answers: both late rows are covered
    val seen = Ann.rangeSearchStoredSelf(sp, dir, "vec_id",
        "embedding", typedlit(Seq(0.3, 0.32)), eps = 0.1)
      .select("vec_id").as[Long].collect().toSet
    assert(seen === Set(200L, 201L))
    // an INCOMPLETE staged copy (no _SUCCESS) is debris, not promoted
    fs.mkdirs(p("radii_next"))
    Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((202L, Seq(0.3, 0.4), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id")
    assert(!fs.exists(p("radii_next")))
  }

  test("indexHealth: per-cell counts, stored radii, bounded means; " +
      "payload columns pruned from the rows scan") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-health-spec").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val health = Ann.indexHealth(Ann.cellRoot(sp, dir, Some("embedding")))
    val rows = health.collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Double]("radius"),
          r.getAs[Double]("mean_dist")))).toMap
    assert(rows.keySet === Set(0L, 1L, 2L))
    assert(rows.values.map(_._1).sum === 60L)
    // tight clusters (+-0.1 jitter): every stat small and mean <= radius
    rows.values.foreach { case (n, rad, mean) =>
      assert(n === 20L)
      assert(rad > 0 && rad < 0.5, s"radius $rad")
      assert(mean > 0 && mean <= rad, s"mean $mean vs radius $rad")
    }
    // the stored radius IS what the audit reports (round is monotone)
    val stored = sp.read.parquet(s"$dir/radii").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        BigDecimal(r.getAs[Double]("radius"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(rows.view.mapValues(_._2).toMap === stored)
    // payload pruning: the rows scan must not read vec_id/cluster
    val phys = health.queryExecution.executedPlan.toString
    assert(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
      !phys.contains("cluster"))
  }

  // angularly-clustered, MIXED-norm corpus: cosine ignores norms, so
  // the spherical layout is the only sound cell geometry for it
  private def angular(sp: org.apache.spark.sql.SparkSession) = {
    import sp.implicits._
    val rng = new scala.util.Random(61)
    (0L until 60L).map { i =>
      val base = (i % 3).toDouble * 1.2
      val a = base + rng.nextDouble() * 0.15
      val norm = 1.0 + (i % 4).toDouble
      (i, Seq(math.cos(a) * norm, math.sin(a) * norm), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "cluster")
  }

  private def sphericalRoot(sp: org.apache.spark.sql.SparkSession,
                            docs: org.apache.spark.sql.DataFrame) = {
    val withN = docs.withColumn("__nvec",
      Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "cluster",
      "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    val radii = Ann.cellRadii(assigned, "__nvec", model, Ann.L2)
    (model, assigned, radii)
  }

  test("rangeJoinIvfStoredCos == rangeJoinIvfPerEpsCos on the same " +
      "spherical root (pruning changes IO, never results), and both " +
      "equal the index-free per-query cosine scan") {
    val sp = spark
    import sp.implicits._
    val docs = angular(sp)
    val (model, assigned, radii) = sphericalRoot(sp, docs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rjoin-storedcos").toString
    Ann.writeRangeIndex(assigned, "__nvec", model, dir)
    val queries = docs.filter(col("vec_id") < 12)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.02) + (col("vec_id") % 3).cast("double") * lit(0.01))
          .as("eps"))
    val inMem = Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps",
        assigned.select(col("vec_id").as("d_id"),
          col("embedding").as("dv"), col("centroid_id")),
        "d_id", "dv", model, radii, Ann.Cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val stored = Ann.rangeJoinIvfStored(sp, dir, queries, "q_id", "qv", "eps",
        "vec_id", "embedding", metric = Ann.Cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(stored === inMem)
    // index-free truth: per-query cosine threshold scan
    val all = docs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(1.0 - dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = (for {
      (qid, qv) <- all if qid < 12
      eps = 0.02 + (qid % 3).toDouble * 0.01
      (did, dv) <- all
      d = cos(qv, dv) if d <= eps
    } yield (qid, did, d))
      .sortBy { case (q, d2, dist) => (q, dist, d2) }.toSeq
    assert(inMem === want)
  }

  test("pred on the range-join family: filtered == post-filtered " +
      "unfiltered on all four forms, and disallowed rows never " +
      "surface (no-leak)") {
    val sp = spark
    import sp.implicits._
    val docs = clustered(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("cluster"), col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = docs.filter(col("vec_id") < 9)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.5) + (col("vec_id") % 3).cast("double") * lit(0.2))
          .as("eps"))
    val allowed = docs.filter(col("cluster") === 0)
      .select(col("vec_id")).as[Long].collect().toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // fixed-eps form
    val f1 = rows(Ann.rangeJoinIvf(queries, "q_id", "qv", assigned,
      "d_id", "dv", model, radii, Ann.L2, eps = 0.7,
      pred = col("cluster") === 0))
    val u1 = rows(Ann.rangeJoinIvf(queries, "q_id", "qv", assigned,
      "d_id", "dv", model, radii, Ann.L2, eps = 0.7))
      .filter(t => allowed.contains(t._2))
    assert(f1 === u1)
    assert(f1.forall(t => allowed.contains(t._2)))
    // per-eps form
    val f2 = rows(Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps",
      assigned, "d_id", "dv", model, radii, Ann.L2,
      pred = col("cluster") === 0))
    val u2 = rows(Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps",
      assigned, "d_id", "dv", model, radii, Ann.L2))
      .filter(t => allowed.contains(t._2))
    assert(f2 === u2)
    // stored L2 form (pred pushes into the pruned scan)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rjoin-pred").toString
    Ann.writeRangeIndex(
      Ann.assign(docs, "embedding", model, Ann.L2), "embedding",
      model, dir)
    val f3 = rows(Ann.rangeJoinIvfStored(sp, dir, queries, "q_id",
      "qv", "eps", "vec_id", "embedding",
      pred = col("cluster") === 0))
    val u3 = rows(Ann.rangeJoinIvfStored(sp, dir, queries, "q_id",
      "qv", "eps", "vec_id", "embedding"))
      .filter(t => allowed.contains(t._2))
    assert(f3 === u3)
    // cosine per-eps + stored-cos forms on the spherical layout
    val adocs = angular(sp)
    val (m2, a2, r2) = sphericalRoot(sp, adocs)
    val aq = adocs.filter(col("vec_id") < 9)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        lit(0.05).as("eps"))
    val aAllowed = adocs.filter(col("cluster") === 0)
      .select(col("vec_id")).as[Long].collect().toSet
    val f4 = rows(Ann.rangeJoinIvfPerEps(aq, "q_id", "qv", "eps",
        a2.select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("cluster"), col("centroid_id")),
        "d_id", "dv", m2, r2, Ann.Cosine, pred = col("cluster") === 0))
    val u4 = rows(Ann.rangeJoinIvfPerEps(aq, "q_id", "qv", "eps",
        a2.select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("cluster"), col("centroid_id")),
        "d_id", "dv", m2, r2, Ann.Cosine)).filter(t => aAllowed.contains(t._2))
    assert(f4 === u4)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-rjoin-predcos").toString
    Ann.writeRangeIndex(a2, "__nvec", m2, dir2)
    val f5 = rows(Ann.rangeJoinIvfStored(sp, dir2, aq, "q_id", "qv", "eps",
        "vec_id", "embedding", pred = col("cluster") === 0,
        metric = Ann.Cosine))
    val u5 = rows(Ann.rangeJoinIvfStored(sp, dir2, aq, "q_id", "qv", "eps",
        "vec_id", "embedding", metric = Ann.Cosine))
      .filter(t => aAllowed.contains(t._2))
    assert(f5 === u5)
    assert(f5 === f4)
  }
}
