package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The SELF-CONTAINED dense cell root (round 17): the plain
  * [[Ann.writePartitioned]] layout promoted to own its geometry on
  * disk (`rows/` + `centroids/` + the `metric|vecCol` marker), which
  * is what lets the split/merge actuators reach it — the last
  * cell-partitioned family whose hot cells nothing bounded. These
  * tests pin: build/load/search parity with the exact scan at
  * all-probe, idempotent appends across splits (including the
  * split-history marker's automatic sound probe — the round's ADVICE
  * medium), split/merge result invariance at all-probe on BOTH
  * metrics, in-place graduation of a flat layout, and the engine
  * triad's typed refusal for unrecognized directories. */
class DenseRootSpec extends SparkSpecBase {

  private def isDenseRoot(sp: org.apache.spark.sql.SparkSession,
                          dir: String): Boolean =
    Ann.detectCellRoot(sp, dir, None)
      .exists(_.isInstanceOf[Ann.CellRoot.Dense])

  // one fat two-lobed cluster + two small ones: a 3-cell model has
  // exactly one overfull cell that local retraining separates
  private def corpus(sp: org.apache.spark.sql.SparkSession) = {
    import sp.implicits._
    val rng = new scala.util.Random(53)
    ((0L until 40L).map(i =>
        (i, Seq(0.0 + rng.nextDouble() * 0.2, 0.1), 0)) ++
      (40L until 80L).map(i =>
        (i, Seq(2.0 + rng.nextDouble() * 0.2, 0.1), 0)) ++
      (80L until 90L).map(i =>
        (i, Seq(10.0 + rng.nextDouble() * 0.2, 10.0), 1)) ++
      (90L until 100L).map(i =>
        (i, Seq(-10.0 + rng.nextDouble() * 0.2, 10.0), 2)))
      .toDF("vec_id", "embedding", "cluster")
  }

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-dense-$tag").toString

  test("writeDenseRoot + loadDenseRoot + searchDenseStoredSelf: " +
      "all-probe equals the exact scan, probed search prunes, IP " +
      "refuses, mid-merge readers refuse") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("build")
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    assert(isDenseRoot(sp, dir))
    val root = Ann.cellRoot(sp, dir, None)
      .as[Ann.CellRoot.Dense]("DenseRootSpec")
    val (m, metric, vecCol) = (root.readModel, root.metric, root.vecCol)
    assert(metric === Ann.L2 && vecCol === "embedding")
    assert(m.centroids.count() === model.centroids.count())
    val qs = Seq(1.0, 0.0)
    val q = typedlit(qs)
    val got = Ann.searchStored(Ann.cellRoot(sp, dir, None), "vec_id",
        qs, 3, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = Ann.topK(docs, "vec_id", "embedding", q, Ann.L2, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === want)
    // an InnerProduct root refuses at build (no split training space)
    intercept[IllegalArgumentException] {
      Ann.writeDenseRoot(docs.withColumn("centroid_id", lit(0L)),
        "embedding", model, Ann.InnerProduct, tmp("ip"))
    }
    // a non-root refuses by family name
    val e = intercept[IllegalStateException] {
      Ann.cellRoot(sp, tmp("empty"), None)
    }
    assert(e.getMessage.contains("dense cell-root marker"))
  }

  test("appendDenseRootIdempotent: appends under the DISK model, " +
      "replays append zero, and a split re-pins the model without " +
      "breaking later appends (the flat layout's impossibility)") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("append")
    Ann.writeDenseRoot(
      Ann.assign(docs.filter(col("vec_id") < 90), "embedding", model,
        Ann.L2),
      "embedding", model, Ann.L2, dir)
    val tail = docs.filter(col("vec_id") >= 90)
    assert(Ann.appendIdempotent(Ann.cellRoot(sp, dir, None), tail,
      "vec_id") === 10L)
    assert(Ann.appendIdempotent(Ann.cellRoot(sp, dir, None), tail,
      "vec_id") === 0L)
    // split re-pins the fingerprint; the root's appends keep working
    // (a caller-supplied stale model would refuse here)
    val splits = Ann.splitOverfull(Ann.cellRoot(sp, dir, None), maxRows = 50L)
    assert(splits.nonEmpty)
    assert(Ann.hasSplitHistory(sp, dir))
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, None),
      Seq((1000L, Seq(1.0, 0.5), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id") === 1L)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, None),
      Seq((1000L, Seq(1.0, 0.5), 0)).toDF("vec_id", "embedding",
        "cluster"),
      "vec_id") === 0L)
  }

  test("split-history marker forces the SOUND replay probe: a copy " +
      "stranded off-argmin by a split is still found by a default " +
      "(touched-cells) append — the out-of-band-split hazard") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("probe")
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    // strand a copy: a row whose stored cell is NOT its argmin under
    // the current model (hand-moved, the worst case a split can make)
    val m = Ann.cellRoot(sp, dir, None).readModel
    val cells = m.centroids.select(col("centroid_id").cast("long"))
      .collect().map(_.getLong(0)).sorted
    val strandedCell = cells.last
    sp.createDataFrame(Seq((7L, Seq(0.05, 0.1), 0)))
      .toDF("vec_id", "embedding", "cluster")
      .withColumn("centroid_id", lit(strandedCell))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/rows")
    // no split yet ⇒ the fast probe misses the stranded copy — do NOT
    // append (that would duplicate); just pin that the hazard is real
    // via the probe choice itself: mark split history and verify the
    // default append now sees the copy and appends nothing
    val redelivered = Seq((7L, Seq(0.05, 0.1), 0))
      .toDF("vec_id", "embedding", "cluster")
    Ann.splitOverfull(Ann.cellRoot(sp, dir, None), maxRows = 50L) // real split
    assert(Ann.hasSplitHistory(sp, dir))
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, None),
      redelivered, "vec_id") === 0L)
  }

  test("splitOverfullCellsDense (L2): occupancy bounded, rows " +
      "preserved, all-probe results invariant; balanced roots no-op") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("split")
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    val q = Seq(1.0, 0.0)
    def searchAll() = {
      val cells = sp.read.parquet(s"$dir/centroids").count().toInt
      Ann.searchStored(Ann.cellRoot(sp, dir, None), "vec_id", q,
          cells, 10).select("vec_id", "dist")
        .as[(Long, Double)].collect().toSeq
    }
    val before = searchAll()
    val splits = Ann.splitOverfull(Ann.cellRoot(sp, dir, None), maxRows = 50L)
    assert(splits.keySet.size === 1)
    assert(splits.values.head.size === 2)
    assert(searchAll() === before)
    assert(sp.read.parquet(s"$dir/rows").count() === 100L)
    val occ = sp.read.parquet(s"$dir/rows")
      .groupBy("centroid_id").count()
      .agg(max("count")).head().getLong(0)
    assert(occ <= 50L)
    // every row sits at its TRUE argmin (the dissolve's invariant)
    val m2 = Ann.cellRoot(sp, dir, None).readModel
    val offArgmin = Ann.assign(
        sp.read.parquet(s"$dir/rows")
          .withColumnRenamed("centroid_id", "__stored"),
        "embedding", m2, Ann.L2)
      .filter(col("__stored") =!= col("centroid_id")).count()
    assert(offArgmin === 0L)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dir, None),
      maxRows = 200L).isEmpty)
  }

  test("splitOverfullCellsDense (Cosine): trains on the unit sphere, " +
      "stores unit sub-centroids, all-probe cosine results invariant") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(59)
    // two angular lobes inside one cell + a far small cell; mixed
    // norms prove the spherical training space matters
    val docs = ((0L until 30L).map { i =>
        val a = 0.05 + rng.nextDouble() * 0.1
        (i, Seq(math.cos(a), math.sin(a)).map(_ * (1 + i % 3)), 0)
      } ++
      (30L until 60L).map { i =>
        val a = 0.9 + rng.nextDouble() * 0.1
        (i, Seq(math.cos(a), math.sin(a)).map(_ * (1 + i % 3)), 0)
      } ++
      (60L until 70L).map { i =>
        val a = 3.0 + rng.nextDouble() * 0.05
        (i, Seq(math.cos(a), math.sin(a)), 1)
      }).toDF("vec_id", "embedding", "cluster")
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("cos")
    Ann.writeDenseRoot(
      Ann.assign(docs, "embedding", model, Ann.Cosine),
      "embedding", model, Ann.Cosine, dir)
    val qs = Seq(0.8, 0.6)
    val q = typedlit(qs)
    def searchAll() = {
      val cells = sp.read.parquet(s"$dir/centroids").count().toInt
      Ann.searchStored(Ann.cellRoot(sp, dir, None), "vec_id", qs,
          cells, 10).select("vec_id", "dist")
        .as[(Long, Double)].collect().toSeq
    }
    val before = searchAll()
    val want = Ann.topK(docs, "vec_id", "embedding", q, Ann.Cosine, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(before === want)
    val splits = Ann.splitOverfull(Ann.cellRoot(sp, dir, None), maxRows = 40L)
    assert(splits.nonEmpty)
    assert(searchAll() === before)
    // rows at their true COSINE argmin; sub-centroids unit-norm
    val m2 = Ann.cellRoot(sp, dir, None).readModel
    val offArgmin = Ann.assign(
        sp.read.parquet(s"$dir/rows")
          .withColumnRenamed("centroid_id", "__stored"),
        "embedding", m2, Ann.Cosine)
      .filter(col("__stored") =!= col("centroid_id")).count()
    assert(offArgmin === 0L)
    val newIds = splits.values.head
    val norms = m2.centroids
      .filter(col("centroid_id").isin(newIds: _*))
      .select(aggregate(col("centroid").cast("array<double>"),
        lit(0.0), (a, x) => a + x * x))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(math.sqrt(n) - 1.0) < 1e-9))
  }

  test("mergeUnderfullCellsDense: drained cells dissolve, rows " +
      "re-home to argmin survivors, all-probe results invariant") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("merge")
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    // drain cell 2 (the -10,10 cluster) below the threshold
    Ann.deleteStoredIds(sp, s"$dir/rows", "vec_id",
      docs.filter(col("vec_id") >= 92).select("vec_id"))
    val q = Seq(1.0, 0.0)
    def searchAll() = {
      val cells = sp.read.parquet(s"$dir/centroids").count().toInt
      Ann.searchStored(Ann.cellRoot(sp, dir, None), "vec_id", q,
          cells, 10).select("vec_id", "dist")
        .as[(Long, Double)].collect().toSeq
    }
    val before = searchAll()
    val merged = Ann.mergeUnderfull(Ann.cellRoot(sp, dir, None), minRows = 5L)
    assert(merged.keySet.nonEmpty)
    assert(searchAll() === before)
    val m2 = Ann.cellRoot(sp, dir, None).readModel
    assert(m2.centroids.count() ===
      model.centroids.count() - merged.keySet.size)
    val offArgmin = Ann.assign(
        sp.read.parquet(s"$dir/rows")
          .withColumnRenamed("centroid_id", "__stored"),
        "embedding", m2, Ann.L2)
      .filter(col("__stored") =!= col("centroid_id")).count()
    assert(offArgmin === 0L)
  }

  test("graduateDenseRoot: a flat writePartitioned layout promotes " +
      "IN PLACE (renames, no data bytes), is idempotent, refuses a " +
      "foreign model and an unmarked dir") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val flat = tmp("flat")
    Ann.writePartitioned(Ann.assign(docs, "embedding", model, Ann.L2),
      flat)
    Ann.ensureIvfModelMarker(sp, flat, model)
    val qs = Seq(1.0, 0.0)
    val q = typedlit(qs)
    val before = Ann.searchIvfStored(sp, flat, "vec_id", "embedding",
        model, q, Ann.L2, probes = 3, k = 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    Ann.graduateDenseRoot(sp, flat, model, Ann.L2, "embedding")
    assert(isDenseRoot(sp, flat))
    val after = Ann.searchStored(Ann.cellRoot(sp, flat, None), "vec_id",
        qs, 3, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(after === before)
    // idempotent re-run; a mismatched pin refuses
    Ann.graduateDenseRoot(sp, flat, model, Ann.L2, "embedding")
    intercept[IllegalArgumentException] {
      Ann.graduateDenseRoot(sp, flat, model, Ann.Cosine, "embedding")
    }
    // an unmarked flat dir refuses (no pin to validate against)
    val bare = tmp("bare")
    Ann.writePartitioned(Ann.assign(docs, "embedding", model, Ann.L2),
      bare)
    intercept[IllegalStateException] {
      Ann.graduateDenseRoot(sp, bare, model, Ann.L2, "embedding")
    }
  }

  test("graduateDenseRoot completes a crashed half-move: cells " +
      "already under rows/ stay, the rest follow, the marker commits " +
      "last — re-run-heals, never silent-partial") {
    val sp = spark
    import sp.implicits._
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val flat = tmp("crashmove")
    Ann.writePartitioned(Ann.assign(docs, "embedding", model, Ann.L2),
      flat)
    Ann.ensureIvfModelMarker(sp, flat, model)
    // simulate the crash window: rows/ created, ONE cell moved, the
    // marker never written
    val fs = new org.apache.hadoop.fs.Path(flat).getFileSystem(
      sp.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$flat/rows"))
    val firstCell = fs.listStatus(new org.apache.hadoop.fs.Path(flat))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .head.getPath
    assert(fs.rename(firstCell, new org.apache.hadoop.fs.Path(
      s"$flat/rows/${firstCell.getName}")))
    assert(!isDenseRoot(sp, flat)) // half-moved is NOT a root yet
    Ann.graduateDenseRoot(sp, flat, model, Ann.L2, "embedding")
    assert(isDenseRoot(sp, flat))
    assert(sp.read.parquet(s"$flat/rows").count() === 100L)
    val qs = Seq(1.0, 0.0)
    val q = typedlit(qs)
    val got = Ann.searchStored(Ann.cellRoot(sp, flat, None), "vec_id",
        qs, 3, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = Ann.topK(docs, "vec_id", "embedding", q, Ann.L2, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === want)
  }

  test("engine maintenance triad: dense roots dispatch by marker; " +
      "an unrecognized dir refuses by family name, not a path error") {
    val sp = spark
    import sp.implicits._
    val reg = new graft.core.Registry(sp,
      java.nio.file.Files.createTempDirectory("graft-dense-reg")
        .toString, "densetriad")
    val eng = new graft.core.Engine(reg)
    val td = graft.core.Spec.TableDef[DenseRootSpec.DVec]("dvecs",
      primaryKey = Some("vec_id"),
      indexes = Seq(graft.core.Spec.VectorIndex("embedding",
        Ann.L2, lists = 3)))
    val docs = corpus(sp)
    val model = Ann.buildIvf(docs, "cluster", "embedding")
    val dir = tmp("triad")
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    val splits = eng.splitOverfullIfNeeded(td, dir, maxRows = 50L)
    assert(splits.nonEmpty)
    Ann.deleteStoredIds(sp, s"$dir/rows", "vec_id",
      docs.filter(col("vec_id") >= 92).select("vec_id"))
    assert(eng.mergeUnderfullIfNeeded(td, dir, minRows = 5L).nonEmpty)
    // attachStoredIndex resolves the dense root's DATA path to rows/
    // (not the root dir, which also holds centroids/): a registry
    // delete purges the layout's cells, never touches the geometry
    reg.register(td)
    reg.insert(td, corpus(sp)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => DenseRootSpec.DVec(r.getLong(0),
        r.getSeq[Double](1).toSeq)))
    eng.attachStoredIndex(td, dir)
    reg.removeBy(td, Map("vec_id" -> 0L))
    assert(sp.read.parquet(s"$dir/rows")
      .filter(col("vec_id") === 0L).count() === 0L)
    assert(sp.read.parquet(s"$dir/centroids").count() > 0L)
    // unrecognized directory: typed refusal naming every family
    val stray = tmp("stray")
    val e = intercept[IllegalStateException] {
      eng.splitOverfullIfNeeded(td, stray, maxRows = 10L)
    }
    assert(e.getMessage.contains("none of the maintainable"))
    val e2 = intercept[IllegalStateException] {
      eng.mergeUnderfullIfNeeded(td, stray, minRows = 10L)
    }
    assert(e2.getMessage.contains("none of the maintainable"))
  }
}

object DenseRootSpec {
  final case class DVec(vec_id: Long, embedding: Seq[Double])
}
