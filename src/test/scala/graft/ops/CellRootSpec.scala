package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one family resolver behind index maintenance ([[Ann.cellRoot]]):
  * every maintainable layout resolves to its own [[Ann.CellRoot]] case
  * and to the data subdir a delete rewrites; every other layout gets
  * the one typed refusal; a root mid-merge still resolves (the
  * actuators heal it, the readers refuse it). */
class CellRootSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // three separated clusters in 4 dims (PQ needs dim % m == 0)
  private def docs: DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until 60L).map { i =>
      val lab = (i % 3).toInt
      (i, Seq(lab * 5.0 + (i % 7) * 0.1, lab + (i % 5) * 0.1,
        (i % 3) * 0.2, 1.0 + (i % 2) * 0.1), lab)
    }.toDF("vec_id", "embedding", "label")
  }

  private def model = Ann.buildIvf(docs, "label", "embedding")

  private def dense(metric: Ann.Metric)(dir: String): Unit =
    Ann.writeDenseRoot(Ann.assign(docs, "embedding", model, metric),
      "embedding", model, metric, dir)

  private def maxsim(dir: String): Unit = {
    val withMean = docs
      .withColumn("vecs", array(col("embedding"), col("embedding")))
      .withColumn("mv_mean", Ann.tokenMeanCol(col("vecs"), 4))
    Ann.writeDenseRoot(Ann.assign(withMean, "mv_mean", model, Ann.Cosine),
      "mv_mean", model, Ann.Cosine, dir)
  }

  private def sq(metric: Ann.Metric)(dir: String): Unit =
    Ann.writeQuantized(Ann.buildIvfSq(docs, "embedding", model, metric), dir)

  private def pq(metric: Ann.Metric)(dir: String): Unit =
    Ann.writeQuantized(
      Ann.buildIvfPq(docs, "embedding", model, m = 2, metric), dir)

  private def bitq(metric: Ann.Metric)(dir: String): Unit =
    Ann.writeQuantized(Ann.buildIvfBitq(docs, "embedding", model, metric),
      dir)

  import Ann.CellRoot._

  /** (name, build, expected case, data subdir). */
  private val roots
      : Seq[(String, String => Unit,
        PartialFunction[Ann.CellRoot, Unit], String)] = Seq(
    ("range", (d: String) => Ann.writeRangeIndex(
        Ann.assign(docs, "embedding", model, Ann.L2), "embedding", model,
        d),
      { case Range(_, _, Some("embedding")) => }, "rows"),
    ("dense L2", dense(Ann.L2),
      { case Dense(_, _, Ann.L2, "embedding") => }, "rows"),
    ("dense cosine", dense(Ann.Cosine),
      { case Dense(_, _, Ann.Cosine, "embedding") => }, "rows"),
    ("maxsim dense", maxsim,
      { case Dense(_, _, Ann.Cosine, "mv_mean") => }, "rows"),
    ("MRL-IVF L2", (d: String) => Ann.writeMatryoshkaIvf(docs, "vec_id",
        "embedding", dims = 2, model, d),
      { case MrlIvf(_, _, Ann.L2, 2, Some("embedding")) => }, "rows"),
    ("MRL-IVF cosine", (d: String) => Ann.writeMatryoshkaIvf(docs,
        "vec_id", "embedding", dims = 2, model, d, metric = Ann.Cosine),
      { case MrlIvf(_, _, Ann.Cosine, 2, Some("embedding")) => }, "rows"),
    // writeQuantized pins every root it writes, so each family resolves
    // from its marker alone; the "marker-pinned" cases build under
    // Cosine and the "writeQuantized-only" ones under L2, so both flags
    // resolve
    ("SQ marker-pinned", sq(Ann.Cosine),
      { case Quantized(_, _, Ann.Sq, true, _) => }, "quantized"),
    ("SQ writeQuantized-only", sq(Ann.L2),
      { case Quantized(_, _, Ann.Sq, false, _) => }, "quantized"),
    ("PQ marker-pinned", pq(Ann.Cosine),
      { case Quantized(_, _, Ann.Pq, true, _) => }, "encoded"),
    ("PQ writeQuantized-only", pq(Ann.L2),
      { case Quantized(_, _, Ann.Pq, false, _) => }, "encoded"),
    ("1-bit marker-pinned", bitq(Ann.Cosine),
      { case Quantized(_, _, Ann.Bitq, true, _) => }, "quantized"),
    ("1-bit writeQuantized-only", bitq(Ann.L2),
      { case Quantized(_, _, Ann.Bitq, false, _) => }, "quantized"))

  roots.foreach { case (name, build, expected, dataSub) =>
    test(s"cellRoot resolves a $name root to its case and data subdir") {
      val dir = tmp("graft_cellroot")
      build(dir)
      val root = Ann.cellRoot(spark, dir, Some("embedding"))
      assert(expected.isDefinedAt(root), s"$name resolved to $root")
      assert(root.dir == dir)
      assert(root.dataSub == dataSub)
      assert(new java.io.File(dir, root.dataSub).isDirectory)
    }
  }

  /** (name, build) of layouts no maintenance step can serve. */
  private val refused: Seq[(String, String => Unit)] = Seq(
    ("a flat writePartitioned dir", (d: String) => {
      Ann.writePartitioned(Ann.assign(docs, "embedding", model, Ann.L2), d)
      Ann.ensureIvfModelMarker(spark, d, model)
    }),
    ("a BM25 bucket layout", (d: String) => {
      val sp = spark
      import sp.implicits._
      Bm25.writePostings(Seq((1L, "red fox"), (2L, "blue fox"))
        .toDF("doc_id", "text"), "doc_id", "text", d, buckets = 4)
    }),
    ("a flat matryoshka root", (d: String) =>
      Ann.writeMatryoshka(docs, "vec_id", "embedding", dims = 2, d)),
    ("an empty dir", (_: String) => ()))

  refused.foreach { case (name, build) =>
    test(s"cellRoot refuses $name with the one typed message") {
      val dir = tmp("graft_cellroot_no")
      build(dir)
      val e = intercept[IllegalStateException] {
        Ann.cellRoot(spark, dir, Some("embedding"))
      }
      assert(e.getMessage.contains("none of the maintainable"))
      assert(Ann.detectCellRoot(spark, dir, None).isEmpty)
    }
  }

  test("a root with a pending merge still resolves: readers refuse, " +
      "the actuator heals it") {
    val dir = tmp("graft_cellroot_torn")
    val m = model
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", m, Ann.L2),
      "embedding", m, dir)
    // crash right after the pending marker: cell 2's rows staged under
    // the reduced model, nothing else moved
    val reduced = Ann.IvfModel(
      m.centroids.filter(col("centroid_id") =!= 2).localCheckpoint(true),
      "centroid_id", "centroid")
    Ann.assign(spark.read.parquet(s"$dir/rows")
        .filter(col("centroid_id") === 2).drop("centroid_id"),
        "embedding", reduced, Ann.L2)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/rows_merge")
    graft.io.Markers.write(spark, dir, "_graft_merge_pending", "2")
    val root = Ann.cellRoot(spark, dir, Some("embedding"))
    assert(root.isInstanceOf[Range])
    val e = intercept[IllegalStateException](root.readModel)
    assert(e.getMessage.contains("Ann.mergeUnderfull"))
    intercept[IllegalStateException](Ann.indexHealth(root))
    assert(Ann.mergeUnderfull(root, minRows = 1L).isEmpty)
    assert(Ann.indexHealth(root).count() === 2L)
    assert(spark.read.parquet(s"$dir/rows").count() === 60L)
  }

  test("a range or quantized root resolved without its vector column " +
      "refuses the steps that need it before touching the root") {
    val rDir = tmp("graft_cellroot_novec")
    Ann.writeRangeIndex(Ann.assign(docs, "embedding", model, Ann.L2),
      "embedding", model, rDir)
    val range = Ann.cellRoot(spark, rDir, None)
    Seq[() => Any](() => Ann.splitOverfull(range, 10L),
        () => Ann.mergeUnderfull(range, 10L),
        () => Ann.indexHealth(range)).foreach { step =>
      val e = intercept[IllegalStateException](step())
      assert(e.getMessage.contains("none was named"))
    }
    val qDir = tmp("graft_cellroot_novec_q")
    sq(Ann.L2)(qDir)
    val q = Ann.cellRoot(spark, qDir, None)
    intercept[IllegalStateException](Ann.mergeUnderfull(q, 10L))
    // health reads codes only: no vector column needed
    assert(Ann.indexHealth(q).count() === 3L)
  }
}
