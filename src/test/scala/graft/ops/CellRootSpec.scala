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

  private def sq(pin: Boolean)(dir: String): Unit = {
    val index = Ann.buildIvfSq(docs, "embedding", model, Ann.L2)
    Ann.writeQuantized(index, dir)
    if (pin) Ann.ensureQuantizedRoot(spark, dir, index, spherical = false)
  }

  private def pq(pin: Boolean)(dir: String): Unit = {
    val index = Ann.buildIvfPq(docs, "embedding", model, m = 2, Ann.L2)
    Ann.writeQuantized(index, dir)
    if (pin) Ann.ensureQuantizedRoot(spark, dir, index, spherical = false)
  }

  private def bitq(pin: Boolean)(dir: String): Unit = {
    val index = Ann.buildIvfBitq(docs, "embedding", model, Ann.L2)
    Ann.writeQuantized(index, dir)
    if (pin) Ann.ensureQuantizedRoot(spark, dir, index, spherical = false)
  }

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
    ("SQ marker-pinned", sq(pin = true),
      { case Quantized(_, _, Ann.Sq, Some(false), _) => }, "quantized"),
    ("SQ writeQuantized-only", sq(pin = false),
      { case Quantized(_, _, Ann.Sq, None, _) => }, "quantized"),
    ("PQ marker-pinned", pq(pin = true),
      { case Quantized(_, _, Ann.Pq, Some(false), _) => }, "encoded"),
    // PQ's write itself carries the geometry marker
    ("PQ writeQuantized-only", pq(pin = false),
      { case Quantized(_, _, Ann.Pq, Some(false), _) => }, "encoded"),
    ("1-bit marker-pinned", bitq(pin = true),
      { case Quantized(_, _, Ann.Bitq, Some(false), _) => }, "quantized"),
    ("1-bit writeQuantized-only", bitq(pin = false),
      { case Quantized(_, _, Ann.Bitq, None, _) => }, "quantized"))

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
    sq(pin = true)(qDir)
    val q = Ann.cellRoot(spark, qDir, None)
    intercept[IllegalStateException](Ann.mergeUnderfull(q, 10L))
    // health reads codes only: no vector column needed
    assert(Ann.indexHealth(q).count() === 3L)
  }
}
