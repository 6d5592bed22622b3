package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one replay-safe append over every cell family
  * ([[Ann.appendIdempotent]]), table-driven: for each root kind a first
  * batch appends its rows and a replay appends none; after a real
  * [[Ann.splitOverfull]] a replayed row whose stored copy sits off its
  * argmin cell appends none, with no caller option (the split history
  * picks the sound probe); a torn merge heals (dense, maxsim, range) or
  * refuses (composed matryoshka-IVF, quantized) at entry; and a batch
  * whose schema differs from the stored rows refuses without writing. */
class AppendIdempotentSpec extends SparkSpecBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-append-$tag").toString

  // label 0 is one fat two-lobed cell (80 rows) that a k=2 split
  // separates under L2 and on the unit sphere; labels 1 and 2 are small
  // cells (10 rows). 4 dims: PQ needs dim % m == 0.
  private lazy val corpus: Seq[(Long, Seq[Double], Int)] = {
    val rng = new scala.util.Random(71)
    def jit = rng.nextDouble() * 0.2
    (0L until 40L).map(i => (i, Seq(jit, 0.1 + jit, 1.0, 0.5), 0)) ++
      (40L until 80L).map(i => (i, Seq(3.0 + jit, 0.1, 1.0, 0.5), 0)) ++
      (80L until 90L).map(i => (i, Seq(10.0 + jit, 10.0, 1.0, 0.5), 1)) ++
      (90L until 100L).map(i => (i, Seq(-10.0 + jit, 10.0, 1.0, 0.5), 2))
  }

  private def docs: DataFrame = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }

  private def model = Ann.buildIvf(docs, "label", "embedding")

  /** A root kind: how to build it over `rows`, the batch form of
    * `rows`, and whether a torn merge heals at append entry. */
  private case class Kind(name: String, build: (DataFrame, String) => Unit,
                          batch: DataFrame => DataFrame, heals: Boolean)

  private def withMean(df: DataFrame): DataFrame = df
    .withColumn("vecs", array(col("embedding"), col("embedding")))
    .withColumn("mv_mean", Ann.tokenMeanCol(col("vecs"), 4))

  private def dense(metric: Ann.Metric) = Kind(s"dense $metric",
    (rows, dir) => Ann.writeDenseRoot(
      Ann.assign(rows, "embedding", model, metric), "embedding", model,
      metric, dir),
    identity, heals = true)

  private def mrl(metric: Ann.Metric) = Kind(s"composed $metric",
    (rows, dir) => Ann.writeMatryoshkaIvf(rows, "vec_id", "embedding",
      dims = 2, model, dir, metric = metric),
    _.select("vec_id", "embedding"), heals = false)

  private def quantized(name: String,
                        build: (DataFrame, String) => Unit) =
    Kind(name, build, identity, heals = false)

  private val kinds: Seq[Kind] = Seq(
    dense(Ann.L2),
    dense(Ann.Cosine),
    Kind("maxsim",
      (rows, dir) => Ann.writeDenseRoot(
        Ann.assign(withMean(rows), "mv_mean", model, Ann.Cosine),
        "mv_mean", model, Ann.Cosine, dir),
      withMean, heals = true),
    mrl(Ann.L2),
    mrl(Ann.Cosine),
    Kind("range",
      (rows, dir) => Ann.writeRangeIndex(
        Ann.assign(rows, "embedding", model, Ann.L2), "embedding", model,
        dir),
      identity, heals = true),
    quantized("SQ", (rows, dir) => {
      val idx = Ann.buildIvfSq(rows, "embedding", model, Ann.L2)
      Ann.writeQuantized(idx, dir)
    }),
    quantized("PQ", (rows, dir) => {
      val idx = Ann.buildIvfPq(rows, "embedding", model, m = 2, Ann.L2)
      Ann.writeQuantized(idx, dir)
    }),
    quantized("1-bit", (rows, dir) => {
      val idx = Ann.buildIvfBitq(rows, "embedding", model, Ann.L2)
      Ann.writeQuantized(idx, dir)
    }))

  private def root(dir: String): Ann.CellRoot =
    Ann.cellRoot(spark, dir, Some("embedding"))

  /** Every row of a root, wherever an append may have put it. */
  private def stored(dir: String): DataFrame = {
    val r = root(dir)
    val main = spark.read.parquet(s"$dir/${r.dataSub}").select("vec_id")
    if (new java.io.File(dir, "fresh").exists())
      main.unionByName(spark.read.parquet(s"$dir/fresh").select("vec_id"))
    else main
  }

  kinds.foreach { k =>
    test(s"${k.name}: a first batch appends its rows, a replay none") {
      val dir = tmp("first")
      k.build(docs.filter(col("vec_id") % 10 =!= 3), dir)
      val batch = k.batch(docs.filter(col("vec_id") % 10 === 3))
      assert(Ann.appendIdempotent(root(dir), batch, "vec_id") === 10L)
      assert(Ann.appendIdempotent(root(dir), batch, "vec_id") === 0L)
      assert(stored(dir).count() === 100L)
      assert(stored(dir).distinct().count() === 100L)
    }

    test(s"${k.name}: after a real split, a replayed row whose copy " +
        "sits off its argmin cell appends none") {
      val sp = spark
      import sp.implicits._
      val dir = tmp("split")
      k.build(docs, dir)
      val data = s"$dir/${root(dir).dataSub}"
      // strand row 0's copy (fat cell) in the cell holding row 90
      val smallCell = sp.read.parquet(data).filter(col("vec_id") === 90)
        .select(col("centroid_id").cast("long")).head().getLong(0)
      val copy = sp.read.parquet(data).filter(col("vec_id") === 0)
        .localCheckpoint(true)
      assert(Ann.deleteStoredIds(sp, data, "vec_id",
        Seq(0L).toDF("vec_id")) === 1L)
      copy.withColumn("centroid_id", lit(smallCell))
        .write.mode("append").partitionBy("centroid_id").parquet(data)
      if (k.name == "range") {
        // radii cover every stored copy: grow them to the recomputed truth
        val covered = Ann.cellRadii(sp.read.parquet(data), "embedding",
          model, Ann.L2).localCheckpoint(true)
        covered.write.mode("overwrite").parquet(s"$dir/radii")
      }
      val replay = k.batch(docs.filter(col("vec_id") === 0))
      def replayRows = root(dir).appendRows(replay,
        Ann.ivfModelAt(sp, dir), "vec_id")
      def replayCells =
        root(dir).replayCells(replayRows, Ann.ivfModelAt(sp, dir))
      // a never-split root probes the batch's cells only
      assert(replayCells.isDefined)
      val split = Ann.splitOverfull(root(dir), maxRows = 50L)
      assert(split.size === 1 && !split.contains(smallCell),
        s"expected the fat cell alone to split, got $split")
      assert(Ann.hasSplitHistory(sp, dir))
      // the replay's argmin cell is not where the copy sits, so only
      // the whole layout (or a range root's covering radii) reach it
      assert(replayRows.select(col("centroid_id").cast("long")).head()
        .getLong(0) !== smallCell)
      assert(Ann.appendIdempotent(root(dir), replay, "vec_id") === 0L)
      assert(stored(dir).filter(col("vec_id") === 0).count() === 1L)
      assert(replayCells.isDefined === (k.name == "range"))
    }

    test(s"${k.name}: a torn merge " +
        (if (k.heals) "heals at append entry" else "refuses the append")) {
      val dir = tmp("torn")
      k.build(docs.filter(col("vec_id") =!= 5L), dir)
      graft.io.Markers.write(spark, dir, "_graft_merge_pending", "")
      val batch = k.batch(docs.filter(col("vec_id") === 5L))
      if (k.heals) {
        assert(Ann.appendIdempotent(root(dir), batch, "vec_id") === 1L)
        assert(!graft.io.Markers.exists(spark, dir, "_graft_merge_pending"))
      } else {
        intercept[IllegalStateException] {
          Ann.appendIdempotent(root(dir), batch, "vec_id")
        }
        assert(graft.io.Markers.exists(spark, dir, "_graft_merge_pending"))
      }
      assert(stored(dir).count() === (if (k.heals) 100L else 99L))
    }

    test(s"${k.name}: a batch whose column types differ from the " +
        "stored rows refuses and writes nothing") {
      val dir = tmp("schema")
      k.build(docs.filter(col("vec_id") =!= 5L), dir)
      val batch = k.batch(docs.filter(col("vec_id") === 5L))
        .withColumn("vec_id", col("vec_id").cast("string"))
      intercept[IllegalArgumentException] {
        Ann.appendIdempotent(root(dir), batch, "vec_id")
      }
      assert(stored(dir).count() === 99L)
      assert(!new java.io.File(dir, "fresh").exists())
    }
  }
}
