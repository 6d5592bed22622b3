package graft.plans

import java.nio.file.Files

import graft.SparkSpecBase
import graft.core.{Engine, Registry, Spec}
import graft.ops.Ann
import org.apache.spark.sql.functions._

/** Round-7 additions to the ANN layer:
  *  - cosine (spherical) support in the quantized declarative rewrite
  *    (normalize-then-L2, the reference's `spherical_centroids` default
  *    for cos/dot indexes, /root/reference/vechord/spec.py:437-444);
  *  - resolver-backed quantized registrations (post-install writes are
  *    visible to later declarative queries — round-6 advisor finding);
  *  - the cell-rewrite DELETE on at-rest index layouts, wired to
  *    Registry.removeBy via Engine.attachStoredIndex.
  */
class AnnCosineDeleteSpec extends SparkSpecBase {

  private def embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def q64: Seq[Double] = (0 until 64).map(i => 0.1 + i * 0.003)

  test("cosine quantized index: declarative cos_dist plan hits the " +
      "two-phase semi-join and matches the explicit spherical operator") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.Cosine)
    // NB: register with built.model — the spherical build normalizes
    // the centroids, and probes must be chosen against those
    val index = built.copy(quantized = built.quantized.persist(),
      bounds = built.bounds.persist())
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.Cosine, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.cosDist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected injected candidate semi-join:\n$optimized")
      val viaOp = Ann.searchQuantized(index, "vec_id", "embedding",
        typedlit(q64), Ann.Cosine, probes = 3, k = 5, refine = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
      // sanity: cosine distances, not L2 (all in [0, 2])
      assert(viaOp.forall(r => {
        val d = r(1).asInstanceOf[Double]; d >= 0.0 && d <= 2.0
      }))
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
      index.bounds.unpersist(false)
    }
  }

  test("cosine 1-bit index: declarative plan matches the explicit " +
      "spherical bitq operator") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val built = Ann.buildIvfBitq(e, "embedding", model, Ann.Cosine)
    val index = built.copy(quantized = built.quantized.persist())
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.Cosine, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.cosDist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val viaOp = Ann.searchQuantized(index, "vec_id", "embedding",
        typedlit(q64), Ann.Cosine, probes = 3, k = 5, refine = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
    }
  }

  test("spherical candidates: all-probe cosine search recalls the exact " +
      "brute-force cosine top-k") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.Cosine)
    val lists = model.centroids.count().toInt
    // probe everything + refine spanning the table: phase 1 is
    // recall-complete, so the exact re-rank equals brute force
    val got = Ann.searchQuantized(index, "vec_id", "embedding", typedlit(q64),
      Ann.Cosine, probes = lists, k = 10, refine = 1000)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Ann.topK(e, "vec_id", "embedding", typedlit(q64),
      Ann.Cosine, 10).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === brute)
  }

  test("inner-product registration is rejected (no bounded-norm " +
      "spherical equivalence)") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    intercept[IllegalArgumentException] {
      AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
        Ann.InnerProduct, probes = 3, refine = 5))
    }
  }

  test("resolver registration re-resolves per rewrite: rows indexed " +
      "after install surface in later declarative queries") {
    val sp = spark
    import sp.implicits._
    val mk = (n: Int) => (0 until n).map { i =>
      val v = if (i == 20) Seq(0.001, 0.0) // the late, closest row
        else Seq(5.0 + i * 0.01, 5.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
      .withColumn("cell", (col("vec_id") % 2).cast("long"))
    val before = mk(20)
    // through parquet: a LocalRelation leaf would be constant-folded
    // (dist computed eagerly) before the last-batch rewrite ever runs
    val afterDir = Files.createTempDirectory("graft-resolver").toString
    mk(21).write.mode("overwrite").parquet(afterDir)
    val after = spark.read.parquet(afterDir)
    val model = Ann.buildIvf(after, "cell", "embedding")
    var current = Ann.buildIvfSq(before, "embedding", model, Ann.L2)
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => current,
      Ann.L2, probes = 2, refine = 21, owner = ""))
    try {
      def topIds = after
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(Seq(0.0, 0.0))), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(3).select("vec_id", "dist")
        .collect().map(_.getLong(0)).toSeq
      // index snapshot predates row 20: the semi-join excludes it even
      // though the scanned frame contains it (the round-6 frozen bug,
      // now explicit behavior of a STALE resolver result)
      assert(!topIds.contains(20L))
      // the write path refreshes what the resolver returns -> visible
      current = Ann.buildIvfSq(after, "embedding", model, Ann.L2)
      assert(topIds.head === 20L)
    } finally AnnIndex.unregister("embedding")
  }

  test("maxsim rewrite is a fixpoint on its own output") {
    val dir = Files.createTempDirectory("graft-maxsim-fix").toString
    val sp = spark
    import sp.implicits._
    (0 until 12).map(i => (i.toLong,
        Seq(Seq(i * 1.0, 1.0), Seq(0.5, i * 0.5))))
      .toDF("doc_id", "mv").write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Maxsim("mv", "doc_id", () => stored, refine = 4))
    try {
      val q: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0))
      val df = stored
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(q), col("mv")), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(3)
        .select("doc_id", "score")
      val once = AnnTopKRule()(df.queryExecution.analyzed)
      assert(once.toString.contains("LeftSemi"),
        s"maxsim rewrite did not engage:\n$once")
      val twice = AnnTopKRule()(once)
      assert(once.fastEquals(twice),
        s"maxsim rewrite not idempotent:\nonce: $once\ntwice: $twice")
    } finally AnnIndex.unregister("mv")
  }

  test("deleteStored rewrites only affected cells and removes emptied " +
      "cell directories") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = Files.createTempDirectory("graft-del").toString
    Ann.writePartitioned(assigned, dir)
    val total = spark.read.parquet(dir).count()
    // victim cell: empty it entirely; plus a partial delete elsewhere
    val victimCell = assigned.select("centroid_id").distinct()
      .orderBy("centroid_id").head().getLong(0)
    val removed = Ann.deleteStored(spark, dir,
      col("centroid_id") === victimCell || col("vec_id") % 11 === 0)
    assert(removed > 0)
    val left = spark.read.parquet(dir)
    assert(left.count() === total - removed)
    assert(left.filter(col("centroid_id") === victimCell).count() === 0)
    assert(left.filter(col("vec_id") % 11 === 0).count() === 0)
    // the emptied cell's directory is physically gone
    assert(!new java.io.File(s"$dir/centroid_id=$victimCell").exists())
    // no-match delete is a no-op
    assert(Ann.deleteStored(spark, dir, col("vec_id") === -1L) === 0L)
  }

  test("stored bitq layout: delete + loaded search never surfaces " +
      "removed ids (packed bits pass through opaquely)") {
    val e = embeddings
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val dir = Files.createTempDirectory("graft-del-bitq").toString
    Ann.writeQuantized(index, dir)
    val doomed = Ann.searchStored(Ann.cellRoot(spark, dir, Some("embedding")),
        "vec_id", q64, 3, 3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ann.deleteStored(spark, s"$dir/quantized", col("vec_id").isin(doomed: _*))
    val after = Ann.searchStored(Ann.cellRoot(spark, dir, Some("embedding")),
        "vec_id", q64, 3, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(d => !after.contains(d)))
    assert(after.nonEmpty)
  }

  test("attachStoredIndex: Registry.removeBy rewrites the layout " +
      "post-commit; rolled-back deletes leave it untouched") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("vecrow", primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 2)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-del-reg").toString).register(td)
    val rows = (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 3).toFloat * 10f, (i % 3).toFloat * 10f)))
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    // at-rest layout of the table's index
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 2)
    val assigned = Ann.assign(reg.table(td), "v", model, Ann.L2)
    val dir = Files.createTempDirectory("graft-del-attach").toString
    Ann.writePartitioned(assigned, dir)
    eng.attachStoredIndex(td, dir)
    // rollback: hook must NOT fire
    intercept[RuntimeException] {
      reg.runTxn { txn =>
        reg.removeBy(td, Map("rid" -> 5L), txn)
        throw new RuntimeException("boom")
      }
    }
    assert(spark.read.parquet(dir).filter(col("rid") === 5L).count() === 1)
    // committed delete: stored layout rewritten
    reg.removeBy(td, Map("rid" -> 5L))
    assert(spark.read.parquet(dir).filter(col("rid") === 5L).count() === 0)
    assert(reg.table(td).filter(col("rid") === 5L).count() === 0)
  }

  test("mergeUnderfullIfNeeded: the engine seat dissolves a " +
      "delete-drained cell of a range root; every survivor stays " +
      "reachable") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("vecrow_merge",
      primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 3)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-merge-reg").toString).register(td)
    reg.insert(td, (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 3).toFloat * 10f, (i % 3).toFloat * 10f))))
    val eng = new Engine(reg)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 3)
    val root = Files.createTempDirectory("graft-merge-root").toString
    Ann.writeRangeIndex(Ann.assign(reg.table(td), "v", model, Ann.L2),
      "v", model, root)
    // an S6 delete drains one cluster's cell to a single row
    val doomed = (5 until 30 by 3).map(_.toLong).toDF("rid")
    assert(Ann.deleteStoredIds(sp, s"$root/rows", "rid", doomed) === 9L)
    val merged = eng.mergeUnderfullIfNeeded(td, root, minRows = 5)
    assert(merged.size === 1 && merged.values.sum === 1L,
      s"expected the one drained cell (1 row) to dissolve, got $merged")
    val m2 = Ann.cellRoot(sp, root, None).readModel
    assert(m2.centroids.count() === 2L)
    // every survivor reachable through the merged layout
    assert(Ann.rangeSearchStoredSelf(sp, root, "rid", "v",
      typedlit(Seq(0.0, 0.0)), eps = 99.0).count() === 21L)
    // below-threshold layouts are left alone
    assert(eng.mergeUnderfullIfNeeded(td, root, minRows = 5).isEmpty)
  }

  test("splitOverfullIfNeeded: the engine seat re-partitions a hot " +
      "cell of a range root AND of a composed root (marker dispatch); " +
      "below-threshold layouts are left alone") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("vecrow_split",
      primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 1)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-split-reg").toString).register(td)
    // two clusters under a ONE-cell model: that cell is hot
    reg.insert(td, (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 2).toFloat * 10f + (i % 5) * 0.01f,
        (i % 2).toFloat * 10f))))
    val eng = new Engine(reg)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 1)
    // range arm
    val root = Files.createTempDirectory("graft-split-root").toString
    Ann.writeRangeIndex(Ann.assign(reg.table(td), "v", model, Ann.L2),
      "v", model, root)
    val before = Ann.rangeSearchStoredSelf(sp, root, "rid", "v",
      typedlit(Seq(0.0, 0.0)), eps = 99.0).count()
    val split = eng.splitOverfullIfNeeded(td, root, maxRows = 20)
    assert(split.keySet.size === 1 && split.values.head.size === 2)
    assert(Ann.rangeSearchStoredSelf(sp, root, "rid", "v",
      typedlit(Seq(0.0, 0.0)), eps = 99.0).count() === before,
      "range results changed across the engine-seat split")
    assert(eng.splitOverfullIfNeeded(td, root, maxRows = 20).isEmpty)
    // composed arm (marker dispatch)
    val mroot = Files.createTempDirectory("graft-split-mroot").toString
    Ann.writeMatryoshkaIvf(reg.table(td), "rid", "v", dims = 1, model,
      mroot)
    val msplit = eng.splitOverfullIfNeeded(td, mroot, maxRows = 20)
    assert(msplit.keySet.size === 1)
    assert(sp.read.parquet(s"$mroot/centroids").count() === 2L)
    assert(Ann.searchStored(Ann.cellRoot(sp, mroot, None), "rid",
        Seq(0.0, 0.0), 2, 30, refine = 1).count() === 30L)
  }

  test("mergeUnderfullIfNeeded dispatches on the root's marker: a " +
      "COMPOSED matryoshka-IVF root merges under its own pinned " +
      "geometry through the same engine seat") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("vecrow_mrlmerge",
      primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 3)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-mrlmerge-reg").toString)
      .register(td)
    reg.insert(td, (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 3).toFloat * 10f, (i % 3).toFloat * 10f))))
    val eng = new Engine(reg)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 3)
    val root = Files.createTempDirectory("graft-mrlmerge-root").toString
    Ann.writeMatryoshkaIvf(reg.table(td), "rid", "v", dims = 1, model,
      root)
    // drain one cluster's cell to a single row (the r91 shape)
    val doomed = (5 until 30 by 3).map(_.toLong).toDF("rid")
    assert(Ann.deleteStoredIds(sp, s"$root/rows", "rid", doomed) === 9L)
    val merged = eng.mergeUnderfullIfNeeded(td, root, minRows = 5)
    assert(merged.size === 1 && merged.values.sum === 1L,
      s"expected the one drained cell (1 row) to dissolve, got $merged")
    assert(sp.read.parquet(s"$root/centroids").count() === 2L)
    // every survivor reachable at all-probe through the merged root
    assert(Ann.searchStored(Ann.cellRoot(sp, root, None), "rid",
        Seq(0.0, 0.0), 2, 21, refine = 1).count()
      === 21L)
    // below-threshold layouts are left alone
    assert(eng.mergeUnderfullIfNeeded(td, root, minRows = 5).isEmpty)
  }

  test("split composed root: a replayed row stranded off argmin appends 0") {
    val sp = spark
    import sp.implicits._
    // cell 0 is fat (a second lobe at x = 2) and splits; 1 and 2 don't
    val docs = ((0L until 30L).map(i =>
        (i, Seq((i % 3).toDouble * 10 + (i % 5) * 0.01,
          (i % 3).toDouble * 10), (i % 3).toInt)) ++
      (30L until 50L).map(i => (i, Seq(2.0 + (i % 5) * 0.01, 0.0), 0)))
      .toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(docs, "label", "embedding")
    val root = Files.createTempDirectory("graft-mrl-drift").toString
    Ann.writeMatryoshkaIvf(docs, "vec_id", "embedding", dims = 1,
      model, root)
    // strand row 0's copy in cell 1, off its argmin
    val strand = sp.read.parquet(s"$root/rows")
      .filter(col("vec_id") === 0).localCheckpoint(true)
    assert(Ann.deleteStoredIds(sp, s"$root/rows", "vec_id",
      Seq(0L).toDF("vec_id")) === 1L)
    strand.withColumn("centroid_id", lit(1L))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$root/rows")
    // a real split of cell 0 leaves the copy where it is; the split
    // history alone makes the replay probe the whole layout
    assert(Ann.splitOverfull(Ann.cellRoot(sp, root, None), maxRows = 20)
      .keySet === Set(0L))
    assert(Ann.appendIdempotent(Ann.cellRoot(sp, root, Some("embedding")),
      docs.filter(col("vec_id") === 0), "vec_id") === 0L)
    assert(sp.read.parquet(s"$root/rows")
      .filter(col("vec_id") === 0).count() === 1L)
  }

  test("engine maintenance seats dispatch QUANTIZED roots by marker: " +
      "the merge re-encodes under frozen artifacts, the split " +
      "inherits bounds — one cadence covers all three layout kinds") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("vecrow_qseat",
      primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 3)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-qseat-reg").toString).register(td)
    reg.insert(td, (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 3).toFloat * 10f, (i % 3).toFloat * 10f))))
    val eng = new Engine(reg)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 3)
    val idx = Ann.buildIvfSq(reg.table(td), "v", model, Ann.L2)
    val root = Files.createTempDirectory("graft-qseat-root").toString
    Ann.writeQuantized(idx, root)
    // drain one cluster's cell to a single row, then the MERGE seat
    val doomed = (5 until 30 by 3).map(_.toLong).toDF("rid")
    assert(Ann.deleteStoredIds(sp, s"$root/quantized", "rid",
      doomed) === 9L)
    val merged = eng.mergeUnderfullIfNeeded(td, root, minRows = 5)
    assert(merged.size === 1 && merged.values.sum === 1L,
      s"expected the drained cell (1 row) to dissolve, got $merged")
    assert(sp.read.parquet(s"$root/centroids").count() === 2L)
    // the SPLIT seat re-partitions the now-hottest cell
    val maxOcc = sp.read.parquet(s"$root/quantized")
      .groupBy(col("centroid_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val split = eng.splitOverfullIfNeeded(td, root,
      maxRows = maxOcc - 1)
    assert(split.nonEmpty, "engine-seat quantized split never fired")
    assert(sp.read.parquet(s"$root/centroids").count() === 3L)
    // every survivor reachable through the re-partitioned root
    assert(Ann.searchStored(Ann.cellRoot(sp, root, Some("v")), "rid",
        Seq(0.0, 0.0), 3, 21, refine = 1).count() === 21L)
  }

  test("mergeUnderfullCellsMrlIvf (cosine): drained cells dissolve " +
      "with rows re-homed under the spherical geometry; all-probe " +
      "results equal the flat cut; readers refuse mid-merge and one " +
      "re-run heals") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    // three angular clusters; cluster 2 drained later
    val dirs3 = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0),
      Seq(0.0, 0.0, 1.0))
    val docs = (0L until 60L).map { i =>
      val c = dirs3((i % 3).toInt)
      val scale = 1.0 + rng.nextDouble() * 4 // cosine ignores norms
      (i, c.zipWithIndex.map { case (x, j) =>
        (x + (rng.nextDouble() - 0.5) * 0.1) * scale }, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "cluster")
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val root = Files.createTempDirectory("graft-mrl-merge").toString
    Ann.writeMatryoshkaIvf(docs, "vec_id", "embedding", dims = 2,
      model, root, metric = Ann.Cosine)
    // drain the cell holding cluster-2's rows to two survivors
    val cell2 = sp.read.parquet(s"$root/rows")
      .filter(col("vec_id") % 3 === 2)
      .select(col("centroid_id").cast("long")).head().getLong(0)
    val doomed = sp.read.parquet(s"$root/rows")
      .filter(col("centroid_id") === cell2 && col("vec_id") > 8)
      .select("vec_id").localCheckpoint(true)
    assert(Ann.deleteStoredIds(sp, s"$root/rows", "vec_id",
      doomed) > 0)
    val survivorsN = sp.read.parquet(s"$root/rows").count()
    val merged = Ann.mergeUnderfull(Ann.cellRoot(sp, root, None), minRows = 5)
    assert(merged.keySet === Set(cell2), s"got $merged")
    val cents = sp.read.parquet(s"$root/centroids")
    assert(cents.count() === 2L)
    assert(sp.read.parquet(s"$root/rows").count() === survivorsN,
      "merge lost or duplicated rows")
    // rows re-homed to their argmin under the REDUCED spherical model
    // — transitively pinned by the all-probe equality below (a
    // mis-homed row would still surface there; the operator's own
    // partition/column pins assert on the call)
    val q = docs.filter(col("vec_id") === 2)
      .select(col("embedding")).head().getSeq[Double](0).toSeq
    val got = Ann.searchStored(Ann.cellRoot(sp, root, None), "vec_id", q, 2,
        8, refine = 3)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val doomedIds = doomed.as[Long].collect().toSet
    val flat = Ann.matryoshkaTopK(
        docs.filter(!col("vec_id").isin(doomedIds.toSeq: _*)),
        "vec_id", "embedding", q, dims = 2, candidates = 24, k = 8,
        metric = Ann.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === flat,
      s"all-probe composed != flat cut over survivors:\n$got\n$flat")
    // torn merge: readers and appends refuse; one re-run heals
    graft.io.Markers.write(sp, root, "_graft_merge_pending", "")
    intercept[IllegalStateException] {
      Ann.searchStored(Ann.cellRoot(sp, root, None), "vec_id", q, 1, 4,
          refine = 2)
    }
    intercept[IllegalStateException] {
      Ann.appendIdempotent(
        Ann.cellRoot(sp, root, Some("embedding")),
        Seq((900L, Seq(1.0, 0.1, 0.0))).toDF("vec_id", "embedding"), "vec_id")
    }
    Ann.mergeUnderfull(Ann.cellRoot(sp, root, None), minRows = 5)
    assert(Ann.searchStored(Ann.cellRoot(sp, root, None), "vec_id", q, 2, 8,
        refine = 3).count() === 8L)
  }

  test("splitOverfullCellsMrlIvf (cosine): a hot cell dissolves into " +
      "its sub-cells under the spherical geometry (emb_pre verbatim, " +
      "rows at GLOBAL argmin); all-probe results equal the flat cut; " +
      "unsplittable cells skip; appends land post-split; a pending " +
      "merge is COMPLETED at entry, not refused") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    // two angular clusters under a ONE-cell model: that cell is hot
    val dirs2 = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val docs = (0L until 40L).map { i =>
      val c = dirs2((i % 2).toInt)
      val scale = 1.0 + rng.nextDouble() * 4 // cosine ignores norms
      (i, c.zipWithIndex.map { case (x, j) =>
        (x + (rng.nextDouble() - 0.5) * 0.1) * scale }, 0)
    }.toDF("vec_id", "embedding", "one")
    val model = Ann.buildIvf(docs, "one", "embedding")
    val root = Files.createTempDirectory("graft-mrl-split").toString
    Ann.writeMatryoshkaIvf(docs, "vec_id", "embedding", dims = 2,
      model, root, metric = Ann.Cosine)
    val split = Ann.splitOverfull(Ann.cellRoot(sp, root, None), maxRows = 30)
    assert(split.keySet === Set(0L) && split(0L).size === 2,
      s"expected cell 0 to split in two, got $split")
    val cents = sp.read.parquet(s"$root/centroids")
    assert(cents.count() === 2L, "old cell must dissolve")
    assert(sp.read.parquet(s"$root/rows").count() === 40L,
      "split lost or duplicated rows")
    // every row homed at its ARGMIN under the normalized sub-model —
    // the one convention build/append/probe all share (all-probe
    // equality below can't see homes, so pin them directly)
    val centList = cents.collect().map { r =>
      val c = r.getSeq[Double](cents.columns.indexOf("centroid"))
      val n = math.sqrt(c.map(x => x * x).sum)
      (r.getLong(cents.columns.indexOf("centroid_id")),
        c.map(_ / n).toArray)
    }
    sp.read.parquet(s"$root/rows")
      .select(col("vec_id"), col("emb_full"),
        col("centroid_id").cast("long"))
      .collect().foreach { r =>
        val v = r.getSeq[Double](1)
        val n = math.sqrt(v.map(x => x * x).sum)
        val vn = v.map(_ / n).toArray
        val want = centList.minBy { case (_, c) =>
          math.sqrt(vn.zip(c).map { case (a, b) =>
            (a - b) * (a - b) }.sum) }._1
        assert(r.getLong(2) === want,
          s"row ${r.getLong(0)} homed in ${r.getLong(2)}, argmin $want")
      }
    // all-probe equality to the flat spherical cut — a mis-sliced
    // emb_pre or mis-homed row would surface here
    val q = docs.filter(col("vec_id") === 2)
      .select(col("embedding")).head().getSeq[Double](0).toSeq
    val got = Ann.searchStored(Ann.cellRoot(sp, root, None), "vec_id", q, 2,
        8, refine = 3)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val flat = Ann.matryoshkaTopK(docs, "vec_id", "embedding", q,
        dims = 2, candidates = 24, k = 8, metric = Ann.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === flat,
      s"all-probe composed != flat cut after split:\n$got\n$flat")
    // appends land against the re-pinned post-split root
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, root, Some("embedding")),
      Seq((900L, Seq(1.0, 0.05, 0.0))).toDF("vec_id", "embedding"),
      "vec_id") === 1L)
    // an unsplittable hot cell (one direction at hash precision —
    // scales differ but the SPHERICAL space collapses them) skips
    val sameDir = (0L until 20L).map { i =>
      (i, Seq(3.0 + i, 0.0, 0.0), 0) // raw distinct, one direction
    }.toDF("vec_id", "embedding", "one")
    val root2 = Files.createTempDirectory("graft-mrl-split2").toString
    Ann.writeMatryoshkaIvf(sameDir, "vec_id", "embedding", dims = 2,
      Ann.buildIvf(sameDir, "one", "embedding"), root2,
      metric = Ann.Cosine)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, root2, None),
      maxRows = 5).isEmpty)
    // a torn MERGE no longer blocks the actuator: the split — like
    // every maintenance entry point — COMPLETES the pending merge at
    // entry (readers refuse; actuators heal), then proceeds
    graft.io.Markers.write(sp, root, "_graft_merge_pending", "")
    assert(Ann.splitOverfull(Ann.cellRoot(sp, root, None), maxRows = 1000)
      .isEmpty) // nothing overfull at this threshold — entry healed
    assert(!graft.io.Markers.exists(sp, root, "_graft_merge_pending"),
      "the split entry must complete (and lift) a pending merge")
  }

  test("attachStoredIndex PQ layout: removeBy rewrites encoded/ cells " +
      "(geometry marker auto-detected); codebooks stay trained") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("pqrow", primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 2)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-pqdel-reg").toString).register(td)
    val rows = (0 until 30).map(i =>
      VecRow(i.toLong, Seq((i % 3).toFloat * 10f, (i % 3).toFloat * 10f)))
    reg.insert(td, rows)
    val eng = new Engine(reg)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 2)
    val idx = Ann.buildIvfPq(reg.table(td), "v", model, m = 2, Ann.L2)
    val dir = Files.createTempDirectory("graft-pqdel-attach").toString
    Ann.writeQuantized(idx, dir)
    eng.attachStoredIndex(td, dir) // PQ root via its geometry marker
    val booksBefore = spark.read.parquet(s"$dir/codebooks").count()
    reg.removeBy(td, Map("rid" -> 5L))
    assert(spark.read.parquet(s"$dir/encoded")
      .filter(col("rid") === 5L).count() === 0)
    // trained artifacts untouched by the delete
    assert(spark.read.parquet(s"$dir/codebooks").count() === booksBefore)
    // stored search over the maintained layout never surfaces rid 5
    val got = Ann.searchStored(Ann.cellRoot(spark, dir, Some("v")), "rid",
        Seq(0.0, 0.0), 2, 30, refine = 5)
      .collect().map(_.getLong(0))
    assert(!got.contains(5L) && got.nonEmpty)
  }

  test("attachStoredIndex keyword layout: removeBy rewrites the " +
      "postings buckets post-commit (marker auto-detected)") {
    val sp = spark
    import sp.implicits._
    import Spec._
    import graft.ops.Bm25
    val td = Spec.TableDef[KwRow]("kwrow", primaryKey = Some("kid"),
      indexes = Seq(KeywordIndex("body", model = "simple")))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-kwdel-reg").toString).register(td)
    reg.insert(td, Seq(
      KwRow(1L, "spark shuffle join"),
      KwRow(2L, "sort merge shuffle"),
      KwRow(3L, "hash aggregate plan")))
    val eng = new Engine(reg)
    val dir = Files.createTempDirectory("graft-kwdel-attach").toString
    Bm25.writePostings(reg.table(td), "kid", "body", dir, buckets = 8)
    eng.attachStoredIndex(td, dir) // keyword layout via _graft_buckets
    reg.removeBy(td, Map("kid" -> 2L))
    val after = Bm25.loadStoredPostings(spark, dir)
    val hits = Bm25.search(after, "shuffle", k = 5).collect()
      .map(_.getLong(0)).toSeq
    assert(hits === Seq(1L)) // doc 2 gone from the stored index
    // stats re-derived: N shrank with the delete
    assert(after.n === 2L)
  }

  test("attachStoredIndex is idempotent per (table, dir); " +
      "detachStoredIndex stops the maintenance; a hook failure is " +
      "reported without masking the committed delete") {
    val sp = spark
    import sp.implicits._
    import Spec._
    import graft.ops.Bm25
    val td = Spec.TableDef[KwRow]("kwrow2", primaryKey = Some("kid"),
      indexes = Seq(KeywordIndex("body", model = "simple")))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-detach-reg").toString).register(td)
    reg.insert(td, Seq(
      KwRow(1L, "spark shuffle join"),
      KwRow(2L, "sort merge shuffle"),
      KwRow(3L, "hash aggregate plan")))
    val eng = new Engine(reg)
    val dir = Files.createTempDirectory("graft-detach-dir").toString
    Bm25.writePostings(reg.table(td), "kid", "body", dir, buckets = 8)
    eng.attachStoredIndex(td, dir)
    eng.attachStoredIndex(td, dir) // re-attach must NOT stack a 2nd hook
    // ONE detach removes the (single) registration entirely
    eng.detachStoredIndex(td, dir)
    reg.removeBy(td, Map("kid" -> 2L))
    // table delete committed, layout intentionally untouched
    assert(reg.table(td).filter(col("kid") === 2L).count() === 0)
    assert(Bm25.loadStoredPostings(spark, dir).n === 3L)
    // re-attach, then poison the layout so the hook throws: the commit
    // must survive and the failure land in lastHookFailures
    eng.attachStoredIndex(td, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true) // layout gone → the delete hook's read throws
    reg.removeBy(td, Map("kid" -> 3L))
    assert(reg.table(td).filter(col("kid") === 3L).count() === 0,
      "hook failure must not roll back or mask the committed delete")
    assert(reg.lastHookFailures.nonEmpty)
  }

  test("attachStoredIndex refuses a streaming-grown layout") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[KwRow]("kwrow3", primaryKey = Some("kid"),
      indexes = Seq(KeywordIndex("body", model = "simple")))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-smeta-reg").toString).register(td)
    val eng = new Engine(reg)
    val dir = Files.createTempDirectory("graft-smeta-dir")
    // minimal parquet layout + a file-sink commit log marker
    graft.ops.Bm25.writePostings(
      Seq((1L, "spark shuffle")).toDF("kid", "body"), "kid", "body",
      dir.toString, buckets = 4)
    assert(new java.io.File(dir.toFile, "_spark_metadata").mkdir())
    val ex = intercept[IllegalStateException] {
      eng.attachStoredIndex(td, dir.toString)
    }
    assert(ex.getMessage.contains("compact"))
  }

  test("attachStoredIndex matryoshka root: removeBy swaps rows/ " +
      "whole-directory (marker auto-detected); engine search and the " +
      "spec refusals hold") {
    val sp = spark
    import sp.implicits._
    import Spec._
    // spec-level refusals: L2 and cosine (the normalize-then-L2
    // reduction) are the metric surface, inner product has no
    // prefix-cut contract; cells COMPOSE with truncation (the r78
    // shape) but a value quantization under it stays refused
    VectorIndex("v", Ann.L2, lists = 2, mrlDims = 2) // composed, allowed
    intercept[IllegalArgumentException] {
      VectorIndex("v", Ann.L2, quantized = true, mrlDims = 2)
    }
    intercept[IllegalArgumentException] {
      VectorIndex("v", Ann.L2, lists = 2, oneBit = true, mrlDims = 2)
    }
    intercept[IllegalArgumentException] {
      VectorIndex("v", Ann.InnerProduct, mrlDims = 2)
    }
    VectorIndex("v", Ann.Cosine, mrlDims = 2) // allowed since r77
    intercept[IllegalArgumentException] {
      VectorIndex("v", Ann.L2, mrlDims = -1)
    }
    val td = Spec.TableDef[VecRow]("mrlrow", primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, mrlDims = 1)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-mrldel-reg").toString)
      .register(td)
    val rows = (0 until 30).map(i =>
      VecRow(i.toLong, Seq(i.toFloat, (30 - i).toFloat)))
    reg.insert(td, rows)
    val eng = new Engine(reg)
    // the declarative path has no in-memory truncation form: parity
    // would silently break, so the install refuses loudly
    intercept[IllegalStateException] { eng.installDeclarative(td) }
    // engine search equals the explicit two-phase form
    val q = Seq(0.0, 0.0)
    val got = eng.searchByVector(td, q, topk = 5, refine = 3,
        returnFields = Seq("rid"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = Ann.matryoshkaTopK(reg.table(td), "rid", "v", q,
        dims = 1, candidates = 15, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
    // at-rest root + delete cascade through the marker auto-detect
    val dir = Files.createTempDirectory("graft-mrldel-attach").toString
    Ann.writeMatryoshka(reg.table(td), "rid", "v", 1, dir)
    eng.attachStoredIndex(td, dir)
    reg.removeBy(td, Map("rid" -> 5L))
    assert(spark.read.parquet(s"$dir/rows")
      .filter(col("rid") === 5L).count() === 0)
    val after = Ann.matryoshkaTopKStored(sp, dir, "rid", q,
        candidates = 30, k = 30)
      .collect().map(_.getLong(0))
    assert(!after.contains(5L) && after.length === 29)
  }

  test("engine composed index (lists + mrlDims): searchByVector " +
      "prunes cells before the prefix cut — parity with the explicit " +
      "composition, and an unprobed far cluster never surfaces") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("mrlivfeng", primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.L2, lists = 2, mrlDims = 1)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-mrlivfeng-reg").toString)
      .register(td)
    // two well-separated clusters; rid parity picks the cluster
    val rows = (0 until 30).map { i =>
      val c = if (i % 2 == 0) 0.0f else 100.0f
      VecRow(i.toLong, Seq(c + (i % 5) * 0.1f, (i % 7).toFloat))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    val q = Seq(1.0, 1.0)
    val got = eng.searchByVector(td, q, topk = 5, probes = 1,
        refine = 3, returnFields = Seq("rid"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the deterministic KMeans trainer reproduces the engine's model
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 2, Ann.L2)
    val pruned = Ann.assign(reg.table(td), "v", model, Ann.L2)
      .join(org.apache.spark.sql.functions.broadcast(
        Ann.probeCells(model, org.apache.spark.sql.functions
          .typedlit(q), Ann.L2, 1)), Seq("centroid_id"))
    val want = Ann.matryoshkaTopK(pruned, "rid", "v", q, dims = 1,
        candidates = 15, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
    // cells really pruned: the far cluster (odd rids) is unprobed
    assert(got.forall(_._1 % 2 == 0),
      s"far-cluster rows surfaced through a 1-probe search: $got")
  }

  test("engine composed index under COSINE: the probe runs on " +
      "normalized centroids with L2 — the matryoshkaTopKIvf spherical " +
      "convention — so engine and explicit paths pick the same cells") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("mrlivfcos", primaryKey = Some("rid"),
      indexes = Seq(VectorIndex("v", Ann.Cosine, lists = 2, mrlDims = 1)),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-mrlivfcos-reg").toString)
      .register(td)
    // two DIRECTION clusters (cosine geometry) with wildly varying
    // magnitudes: raw-centroid probing and normalized probing disagree
    // exactly when magnitude structure is present
    val rows = (0 until 30).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      val m = 1.0f + i * 0.3f
      VecRow(i.toLong, Seq(s * m, (i % 5) * 0.05f * m))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    val q = Seq(1.0, 0.05)
    val got = eng.searchByVector(td, q, topk = 5, probes = 1,
        refine = 3, returnFields = Seq("rid"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // explicit composition, spherical probe (the ONE convention)
    val model = Ann.buildIvfKMeans(reg.table(td), "v", 2, Ann.Cosine)
    val pruned = Ann.assign(reg.table(td), "v", model, Ann.Cosine)
      .join(org.apache.spark.sql.functions.broadcast(
        Ann.probeCells(Ann.normalizeModel(model),
          org.apache.spark.sql.functions.typedlit(Ann.normalizeSeq(q)),
          Ann.L2, 1)), Seq("centroid_id"))
    val want = Ann.matryoshkaTopK(pruned, "rid", "v", q, dims = 1,
        candidates = 15, k = 5, metric = Ann.Cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
    // the far direction cluster (odd rids) is unprobed
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0),
      s"far-direction rows surfaced through a 1-probe search: $got")
  }

  test("attachStoredIndex matryoshka-IVF root: deletes rewrite ONLY " +
      "the cells holding doomed rows (cell-confined, never the whole " +
      "dir); search sees survivors only") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("mrlivfrow", primaryKey = Some("rid"),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-mrlivf-reg").toString)
      .register(td)
    // two well-separated cells via the sign of the first coordinate
    val rows = (0 until 30).map { i =>
      val c = if (i % 2 == 0) 0.0f else 100.0f
      VecRow(i.toLong, Seq(c + i * 0.1f, i.toFloat))
    }
    reg.insert(td, rows)
    val base = reg.table(td)
      .withColumn("__c", (col("rid") % 2).cast("int"))
    val model = Ann.buildIvf(base, "__c", "v")
    val dir = Files.createTempDirectory("graft-mrlivf-attach").toString
    Ann.writeMatryoshkaIvf(reg.table(td), "rid", "v", 1, model, dir)
    val eng = new Engine(reg)
    eng.attachStoredIndex(td, dir)
    // snapshot per-cell file mtimes; delete a row from ONE cell
    val rowsPath = new java.io.File(s"$dir/rows")
    def cellFiles(cell: String): Set[String] =
      Option(new java.io.File(rowsPath, s"centroid_id=$cell").list())
        .map(_.toSet).getOrElse(Set.empty)
    val doomed = 4L // even rid -> the cell holding even rows
    // partition-column read-back is directory-name-inferred (int) —
    // cast before the typed get
    val doomedCell = sp.read.parquet(s"$dir/rows")
      .filter(col("rid") === doomed)
      .select(col("centroid_id").cast("long")).head().getLong(0)
    val otherCell = sp.read.parquet(s"$dir/rows")
      .filter(col("centroid_id") =!= doomedCell)
      .select(col("centroid_id").cast("long")).head().getLong(0)
    val beforeOther = cellFiles(otherCell.toString)
    reg.removeBy(td, Map("rid" -> doomed))
    // survivor contract
    assert(sp.read.parquet(s"$dir/rows")
      .filter(col("rid") === doomed).count() === 0L)
    assert(sp.read.parquet(s"$dir/rows").count() === 29L)
    // cell confinement: the untouched cell's files are byte-identical
    assert(cellFiles(otherCell.toString) === beforeOther,
      "a delete in one cell rewrote another cell's files")
    // the composed search behaves as if the row never existed
    val got = Ann.searchStored(Ann.cellRoot(sp, dir, None), "rid",
        Seq(0.0, 0.0), 2, 30, refine = 1)
      .collect().map(_.getLong(0))
    assert(!got.contains(doomed) && got.length === 29)
  }

  test("attachStoredIndex range root: deletes rewrite rows/ (not the " +
      "root dir); the stored range search drops the row; radii/ is " +
      "untouched") {
    val sp = spark
    import sp.implicits._
    import Spec._
    val td = Spec.TableDef[VecRow]("rangerow", primaryKey = Some("rid"),
      vectorDims = Map("v" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-range-reg").toString)
      .register(td)
    reg.insert(td, (0 until 30).map { i =>
      val c = if (i % 2 == 0) 0.0f else 100.0f
      VecRow(i.toLong, Seq(c + i * 0.1f, i.toFloat))
    })
    val base = reg.table(td)
      .withColumn("__c", (col("rid") % 2).cast("int"))
    val model = Ann.buildIvf(base, "__c", "v")
    val dir = Files.createTempDirectory("graft-range-attach").toString
    Ann.writeRangeIndex(Ann.assign(reg.table(td), "v", model, Ann.L2),
      "v", model, dir)
    new Engine(reg).attachStoredIndex(td, dir)
    def radii(): Set[(String, Long, Long)] =
      new java.io.File(s"$dir/radii").listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val radiiBefore = radii()
    val doomed = 4L
    val q = reg.table(td).filter(col("rid") === doomed)
      .select(col("v").cast("array<double>")).head().getSeq[Double](0)
    def hits(): Set[Long] = Ann.rangeSearchStoredSelf(sp, dir, "rid",
        "v", typedlit(q), eps = 0.5)
      .select("rid").as[Long].collect().toSet
    assert(hits().contains(doomed))
    reg.removeBy(td, Map("rid" -> doomed))
    assert(sp.read.parquet(s"$dir/rows")
      .filter(col("rid") === doomed).count() === 0L)
    assert(sp.read.parquet(s"$dir/rows").count() === 29L)
    assert(!hits().contains(doomed))
    assert(radii() === radiiBefore)
  }
}

/** Minimal keyword-table row for the attach test. */
case class KwRow(kid: Long, body: String)

/** Minimal vector-table row for the attach test. */
case class VecRow(rid: Long, v: Seq[Float])
