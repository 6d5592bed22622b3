package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.streaming.Stream

/** The quantized write side over every [[Ann.QuantFamily]], SQ / PQ /
  * 1-bit × L2 / cosine: [[Ann.ensureQuantizedRoot]] pins an empty root
  * (geometry marker from the index's own flag, artifact digest, model
  * fingerprint) and refuses any other geometry on restart; rows
  * streamed by [[Stream.ingestQuantized]] and fresh rows folded by
  * [[Ann.compactQuantizedFresh]] land exactly as the batch build
  * writes them; [[Ann.writeQuantized]] pins before it writes, so a
  * rewrite with other artifacts refuses and the same index rewrites;
  * and a refused stream start — a root holding batch data, or a
  * metric outside the index's space — writes nothing. */
class QuantizedIngestSpec extends SparkSpecBase {

  private val rng = new scala.util.Random(41)
  private val dim = 4
  private val anchors =
    Array.fill(3)(Array.fill(dim)(rng.nextDouble() * 4 - 2))
  private lazy val corpus: Seq[(Long, Seq[Double], Int)] =
    (0 until 60).map { i =>
      val lab = i % 3
      (i.toLong, anchors(lab).map(_ + (rng.nextDouble() - 0.5) * 0.6).toSeq,
        lab)
    }

  private def df: DataFrame = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }

  private lazy val model = Ann.buildIvf(df, "label", "embedding")
  /** The corpus moved off its directions, so every trained artifact
    * changes under both metrics. */
  private def moved: DataFrame =
    df.withColumn("embedding", transform(col("embedding"), x => x + 1.0))
  /** A retrained coarse quantizer: the same labels over moved vectors. */
  private lazy val model2 = Ann.buildIvf(moved, "label", "embedding")

  /** One index per family — no wildcard, so a new family does not
    * compile here until this spec covers it. */
  private def build(fam: Ann.QuantFamily, rows: DataFrame,
                    metric: Ann.Metric,
                    m: Ann.IvfModel = model): Ann.QuantIndex = fam match {
    case Ann.Sq => Ann.buildIvfSq(rows, "embedding", m, metric)
    case Ann.Pq => Ann.buildIvfPq(rows, "embedding", m, 2, metric)
    case Ann.Bitq => Ann.buildIvfBitq(rows, "embedding", m, metric)
  }

  /** `index` with its model swapped and its trained artifacts kept. */
  private def withModel(index: Ann.QuantIndex,
                        m: Ann.IvfModel): Ann.QuantIndex = index match {
    case sq: Ann.IvfSqIndex => sq.copy(model = m)
    case pq: Ann.IvfPqIndex => pq.copy(model = m)
    case bq: Ann.IvfBitIndex => bq.copy(model = m)
  }

  /** (geometry marker, its value, digest marker) per family. */
  private def markers(fam: Ann.QuantFamily,
                      spherical: Boolean): (String, String, Option[String]) =
    fam match {
      case Ann.Sq => ("_graft_sq_meta", s"$spherical",
        Some("_graft_sq_bounds_digest"))
      case Ann.Pq => ("_graft_pq_meta", s"2,${dim / 2},$spherical",
        Some("_graft_pq_books_digest"))
      case Ann.Bitq => ("_graft_bitq_meta", s"$spherical", None)
    }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Every row of a data subdir by id, columns by name, binary code
    * columns as sequences so two reads compare by value. */
  private def rowsOf(dir: String): Seq[(Long, Seq[Any])] = {
    val stored = spark.read.parquet(dir)
    stored.select(col("vec_id") +: stored.columns.sorted.map(col): _*)
      .collect()
      .map(r => (r.getLong(0), r.toSeq.tail.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }))
      .sortBy(_._1)
      .toSeq
  }

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq);
       metric <- Seq[Ann.Metric](Ann.L2, Ann.Cosine)) {
    val spherical = metric == Ann.Cosine

    test(s"$fam $metric: ensureQuantizedRoot pins an empty root and " +
        "refuses a flipped flag, retrained artifacts or a retrained model") {
      val sp = spark
      val index = build(fam, df, metric)
      assert(index.spherical === spherical)
      val dir = tmp(s"graft_qi_pin_$fam")
      Ann.ensureQuantizedRoot(sp, dir, index)
      // the flag comes from the index alone: true for a cosine build,
      // false for an L2 one
      val (geometry, want, digest) = markers(fam, spherical)
      assert(graft.io.Markers.read(sp, dir, geometry) === Some(want))
      digest.foreach(d =>
        assert(graft.io.Markers.read(sp, dir, d).exists(_.length == 64)))
      Seq("_graft_sq_bounds_digest", "_graft_pq_books_digest")
        .filterNot(digest.contains)
        .foreach(d => assert(!graft.io.Markers.exists(sp, dir, d)))
      assert(Ann.readIvfModelMarker(sp, dir) ===
        Some(Ann.modelFingerprint(index.model)))
      // a restart with the same index passes
      Ann.ensureQuantizedRoot(sp, dir, index)
      // a flipped spherical flag: the index built under the other metric
      val flipped = intercept[IllegalArgumentException] {
        Ann.ensureQuantizedRoot(sp, dir,
          build(fam, df, if (spherical) Ann.L2 else Ann.Cosine))
      }
      assert(flipped.getMessage.contains("streaming into it would mix"),
        flipped.getMessage)
      // retrained bounds / codebooks (1-bit has none: its centroids
      // are its quantizer)
      if (digest.isDefined) {
        val retrained = build(fam, moved, metric)
        val e = intercept[IllegalArgumentException] {
          Ann.ensureQuantizedRoot(sp, dir, withModel(retrained, index.model))
        }
        assert(e.getMessage.contains("digest mismatch"), e.getMessage)
      }
      // a retrained model under the same artifacts
      val e = intercept[IllegalStateException] {
        Ann.ensureQuantizedRoot(sp, dir, withModel(index, model2))
      }
      assert(e.getMessage.contains("different IVF model"), e.getMessage)
    }

    test(s"$fam $metric: streamed rows and compacted fresh rows land as " +
        "the batch build writes them") {
      val sp = spark
      import sp.implicits._
      implicit val sc = sp.sqlContext
      val index = build(fam, df, metric)
      val batchDir = tmp(s"graft_qi_batch_$fam")
      Ann.writeQuantized(index, batchDir)
      val want = rowsOf(s"$batchDir/${fam.dataSub}")
      // streamed in two micro-batches, then graduated
      val streamDir = tmp(s"graft_qi_stream_$fam")
      val input = MemoryStream[(Long, Seq[Double], Int)]
      val q = Stream.ingestQuantized(
        input.toDF().toDF("vec_id", "embedding", "label"), "embedding",
        index, metric, streamDir, tmp(s"graft_qi_ckpt_$fam"))
      try {
        input.addData(corpus.take(30): _*); q.processAllAvailable()
        input.addData(corpus.drop(30): _*); q.processAllAvailable()
      } finally q.stop()
      Stream.compactStored(sp, s"$streamDir/${fam.dataSub}", "centroid_id",
        maxFilesPerCell = 1)
      assert(rowsOf(s"$streamDir/${fam.dataSub}") === want)
      // half written, half appended raw to fresh/, then folded
      val freshDir = tmp(s"graft_qi_fresh_$fam")
      Ann.writeQuantized(index.withRows(index.rows
        .filter(col("vec_id") % 2 === 0)), freshDir)
      val root = Ann.cellRoot(sp, freshDir, Some("embedding"))
        .as[Ann.CellRoot.Quantized]("QuantizedIngestSpec")
      assert(Ann.appendIdempotent(root, df.filter(col("vec_id") % 2 === 1),
        "vec_id") === 30L)
      assert(Ann.compactQuantizedFresh(root, "vec_id") === 30L)
      assert(rowsOf(s"$freshDir/${fam.dataSub}") === want)
    }
  }

  /** (relative path, length, mtime) of every file under `dir`. */
  private def listing(dir: String): Set[(String, Long, Long)] = {
    val root = new java.io.File(dir).toPath
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toFile).filter(_.isFile)
        .map(f => (root.relativize(f.toPath).toString, f.length(),
          f.lastModified()))
        .toSet
    } finally walk.close()
  }

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Bitq))
    test(s"$fam: a refused ingestQuantized start into a writeQuantized " +
        "root leaves every file and every search result as it was") {
      val sp = spark
      import sp.implicits._
      implicit val sc = sp.sqlContext
      val dir = tmp(s"graft_qi_refused_$fam")
      Ann.writeQuantized(build(fam, df, Ann.L2), dir)
      def search(): Seq[Row] = Ann.searchStored(
          Ann.cellRoot(sp, dir, Some("embedding")), "vec_id",
          corpus(7)._2, 2, 5)
        .collect().toSeq
      val rows = search()
      val before = listing(dir)
      val e = intercept[IllegalStateException] {
        Stream.ingestQuantized(
          MemoryStream[(Long, Seq[Double], Int)].toDF()
            .toDF("vec_id", "embedding", "label"),
          "embedding", build(fam, df, Ann.L2, model2), Ann.L2, dir,
          tmp(s"graft_qi_refused_ckpt_$fam"))
      }
      assert(e.getMessage.contains("holds batch data"), e.getMessage)
      assert(listing(dir) === before)
      assert(search() === rows)
    }

  test("writeQuantized over a root pinned to other SQ bounds refuses and " +
      "leaves every file as it was") {
    val sp = spark
    val dir = tmp("graft_qi_rewrite")
    val a = build(Ann.Sq, df, Ann.L2)
    Ann.writeQuantized(a, dir)
    // other rows under the same model: other bounds, same geometry
    val b = build(Ann.Sq, df.filter(col("vec_id") % 2 === 0), Ann.L2)
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](Ann.writeQuantized(b, dir))
    assert(e.getMessage.contains("different SQ bounds"), e.getMessage)
    assert(listing(dir) === before)
    // the pin still names the bounds on disk
    Ann.ensureQuantizedRoot(sp, dir, a)
  }

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq))
    test(s"$fam: writing the same index twice passes and rewrites the " +
        "rows; a pin without rows fails readers until the write completes") {
      val sp = spark
      val index = build(fam, df, Ann.L2)
      val want = {
        val d = tmp(s"graft_qi_once_$fam")
        Ann.writeQuantized(index, d)
        rowsOf(s"$d/${fam.dataSub}")
      }
      // a crash between the pin and the rows: readers fail loudly
      val dir = tmp(s"graft_qi_twice_$fam")
      Ann.ensureQuantizedRoot(sp, dir, index)
      intercept[org.apache.spark.sql.AnalysisException](
        Ann.cellRoot(sp, dir, Some("embedding"))
          .as[Ann.CellRoot.Quantized]("QuantizedIngestSpec").readIndex)
      Ann.writeQuantized(index, dir)
      Ann.writeQuantized(index, dir)
      assert(rowsOf(s"$dir/${fam.dataSub}") === want)
    }

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq);
       (built, streamed) <- Seq[(Ann.Metric, Ann.Metric)](
         (Ann.Cosine, Ann.L2), (Ann.L2, Ann.Cosine)))
    test(s"$fam: ingestQuantized of a $built index under $streamed " +
        "refuses before any write") {
      val sp = spark
      import sp.implicits._
      implicit val sc = sp.sqlContext
      val dir = tmp(s"graft_qi_space_$fam")
      val e = intercept[IllegalArgumentException] {
        Stream.ingestQuantized(
          MemoryStream[(Long, Seq[Double], Int)].toDF()
            .toDF("vec_id", "embedding", "label"),
          "embedding", build(fam, df, built), streamed, dir,
          tmp(s"graft_qi_space_ckpt_$fam"))
      }
      assert(e.getMessage.contains(
        s"pins spherical=${built == Ann.Cosine} but the query metric is " +
          s"$streamed"), e.getMessage)
      assert(listing(dir).isEmpty)
      assert(sp.streams.active.isEmpty)
    }
}
