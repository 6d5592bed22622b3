package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class StreamSpec extends SparkSpecBase {
  import StreamSpec.AppendCase

  private def ts(min: Int) = new Timestamp(min * 60000L)

  test("windowed counts with watermark over a memory stream") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Stream.windowedCounts(input.toDF(), "10 minutes", "20 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 10, "click", 2.0),
      Event(3, ts(12), 11, "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("wc").collect()
    q.stop()
    val clicks = rows.find(_.getAs[String]("event_type") == "click").get
    assert(clicks.getAs[Long]("n") === 2)
    assert(clicks.getAs[Double]("total") === 3.0)
    val views = rows.find(_.getAs[String]("event_type") == "view").get
    assert(views.getAs[Long]("n") === 1)
  }

  test("the same windowed-count code runs in batch mode") {
    val sp = spark
    import sp.implicits._
    val batch = Seq(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 10, "click", 2.0)).toDF()
    val rows = Stream.windowedCounts(batch, "10 minutes", "20 minutes")
      .collect()
    assert(rows.length === 1 && rows(0).getAs[Long]("n") === 2)
  }

  test("sessionize keeps per-user state across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val input = MemoryStream[Event]
    val q = Stream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("update").start()
    input.addData(Event(1, ts(1), 7, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(2, ts(2), 7, "click", 2.5),
      Event(3, ts(2), 8, "view", 4.0))
    q.processAllAvailable()
    val rows = spark.table("sess").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total")))
    q.stop()
    // user 7 state accumulated across the two batches
    assert(rows.contains((7L, 2L, 3.5)))
    assert(rows.contains((8L, 1L, 4.0)))
  }

  test("streaming dedup drops in-watermark duplicate digests") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Stream.dedupByDigest(
        input.toDF().toDF("id", "ts", "text"), "ts", "text",
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    input.addData(
      (1L, ts(1), "same content"),
      (2L, ts(2), "same content"), // duplicate digest → dropped
      (3L, ts(3), "other content"))
    q.processAllAvailable()
    input.addData((4L, ts(5), "same content")) // still within watermark
    q.processAllAvailable()
    val ids = spark.table("dd").collect().map(_.getAs[Long]("id")).sorted
    q.stop()
    assert(ids === Array(1L, 3L))
  }

  test("the same dedup code runs in batch mode") {
    val sp = spark
    import sp.implicits._
    val batch = Seq(
      (1L, ts(1), "same content"),
      (2L, ts(2), "same content"),
      (3L, ts(3), "other content")).toDF("id", "ts", "text")
    val out = Stream.dedupByDigest(batch, "ts", "text").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[String]("text")).sorted ===
      Array("other content", "same content"))
  }

  test("ingestIvfPq: streamed codes land under encoded/; a restart " +
      "with retrained codebooks or different geometry is refused") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val seed = Seq(
      (0L, Seq(0.0, 0.0), 0), (1L, Seq(10.0, 10.0), 1),
      (2L, Seq(0.2, 0.1), 0), (3L, Seq(9.9, 10.2), 1))
      .toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(seed, "label", "embedding")
    val idx = Ann.buildIvfPq(seed, "embedding", model, m = 2, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-pq").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-pq-ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestQuantized(input.toDF().toDF("vec_id", "embedding"),
      "embedding", idx, Ann.L2, dir, ckpt)
    try {
      input.addData((10L, Seq(0.1, 0.2)), (11L, Seq(9.8, 10.1)))
      q.processAllAvailable()
    } finally q.stop()
    val enc = spark.read.parquet(s"$dir/encoded")
    assert(enc.count() === 2 &&
      enc.columns.contains("pq_codes") &&
      enc.columns.contains("centroid_id"))
    // streamed codes == batch codes under the same artifacts
    val batchCodes = Ann.encodePq(
      Seq((10L, Seq(0.1, 0.2))).toDF("vec_id", "embedding"),
      "embedding", idx.pq)
      .select("pq_codes").head.getSeq[Int](0)
    assert(enc.filter(col("vec_id") === 10L)
      .select("pq_codes").head.getSeq[Int](0) === batchCodes)
    // same artifacts: restart allowed (idempotent root)
    Ann.ensureQuantizedRoot(spark, dir, idx)
    // retrained codebooks (same geometry): refused by digest
    val retrained = Ann.PqModel(idx.pq.m, idx.pq.subDim,
      idx.pq.codebooks.map(_.map { case (id, c) =>
        (id, c.map(_ + 1.0)) }))
    val e1 = intercept[IllegalArgumentException] {
      Ann.ensureQuantizedRoot(spark, dir, idx.copy(pq = retrained))
    }
    assert(e1.getMessage.contains("digest"))
    // different geometry: refused by the marker
    val e2 = intercept[IllegalArgumentException] {
      Ann.ensureQuantizedRoot(spark, dir, idx.copy(spherical = true))
    }
    assert(e2.getMessage.contains("geometry"))
  }

  test("ingestIvf: streamed vectors land in cell directories and the " +
      "stored search finds them with directory pruning") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    // 2-cell model from a static seed (blobs at 0 and 10)
    val seed = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("vec_id", "embedding")
    val model = Ann.buildIvfKMeans(seed, "embedding", k = 2, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-ivf").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ivf-ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestIvf(input.toDF().toDF("vec_id", "embedding"),
      "embedding", model, Ann.L2, dir, ckpt)
    try {
      input.addData((10L, Seq(0.1, 0.2)), (11L, Seq(9.8, 10.1)))
      q.processAllAvailable()
      input.addData((12L, Seq(0.3, 0.1)), (13L, Seq(10.2, 9.9)))
      q.processAllAvailable()
    } finally q.stop()
    // cell directories exist (the at-rest partitioned layout)
    val cells = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(cells.length === 2, cells.mkString(","))
    // stored probe search over the GROWN index: nearest to the origin
    // blob are exactly the two origin-side streamed vectors
    val got = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(Seq(0.0, 0.0)), Ann.L2, probes = 1, k = 2)
      .collect().map(_.getLong(0)).sorted
    assert(got === Array(10L, 12L))
  }

  test("ingestMaxsim: streamed token matrices land cosine-assigned in " +
      "cell dirs with their persisted means, and the guards refuse a " +
      "batch dir and a retrained model") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    // 2-cell model over token-means: DIRECTIONALLY distinct blobs
    // (assignment is cosine — the spherical contract — so cells must
    // differ in direction, not magnitude)
    val seed = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "mean")
    val model = Ann.buildIvfKMeans(seed, "mean", k = 2, iters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-mv").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-mv-ckpt").toString
    val input = MemoryStream[(Long, Seq[Seq[Double]])]
    val q = Stream.ingestMaxsim(input.toDF().toDF("vec_id", "vecs"),
      "vecs", dim = 2, model, dir, ckpt)
    try {
      input.addData(
        (10L, Seq(Seq(0.3, 0.1), Seq(0.1, 0.1))),
        (11L, Seq(Seq(0.1, 9.9), Seq(-0.1, 10.1))))
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(dir)
    // layout carries the token matrix AND the persisted mean, cell-split
    assert(stored.columns.toSet ===
      Set("vec_id", "vecs", "mv_mean", "centroid_id"))
    // partition-dir column type is inferred (int here) — cast to read
    val byId = stored
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(10L) !== byId(11L),
      "opposite blobs must cosine-assign to different cells")
    // persisted mean is the rounded token-mean
    val m10 = stored.filter(col("vec_id") === 10L)
      .select("mv_mean").head.getSeq[Double](0)
    assert(m10 === Seq(0.2, 0.1))
    // a retrained model over the same dir is refused (marker pin)
    val input2 = MemoryStream[(Long, Seq[Seq[Double]])]
    val retrained = Ann.buildIvfKMeans(
      Seq((0L, Seq(-5.0, 0.0)), (1L, Seq(5.0, 0.0))).toDF("vec_id", "mean"),
      "mean", k = 2, iters = 2)
    val exPin = intercept[IllegalStateException] {
      Stream.ingestMaxsim(input2.toDF().toDF("vec_id", "vecs"),
        "vecs", 2, retrained, dir,
        java.nio.file.Files.createTempDirectory("graft-mv-ck2").toString)
    }
    assert(exPin.getMessage.toLowerCase.contains("model"))
    // a BATCH maxsim layout (no commit log) refuses a stream start
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft-mv-batch").toString
    Ann.writePartitioned(
      Ann.assign(Seq((1L, Seq(Seq(0.1, 0.1)), Seq(0.1, 0.1)))
        .toDF("vec_id", "vecs", "mv_mean"), "mv_mean", model, Ann.Cosine),
      batchDir)
    val exBatch = intercept[IllegalStateException] {
      Stream.ingestMaxsim(input2.toDF().toDF("vec_id", "vecs"),
        "vecs", 2, model, batchDir,
        java.nio.file.Files.createTempDirectory("graft-mv-ck3").toString)
    }
    assert(exBatch.getMessage.contains("batch data"))
  }

  test("ingestBm25: streamed docs land in term buckets and the loaded " +
      "index scores EXACTLY like a batch build over the same corpus") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25-ckpt").toString
    val corpus = Seq(
      (1L, "spark shuffle join filter"),
      (2L, "sort merge join shuffle shuffle"),
      (3L, "hash aggregate group by"),
      (4L, "merge sort spill disk sort"))
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, buckets = 8)
    try {
      input.addData(corpus.take(2): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    // term-bucket directories exist (the at-rest pruned layout)
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).length
    assert(bucketDirs > 0)
    // loaded index == batch build: same stats, same scores, any order
    val grown = Bm25.loadStoredPostings(spark, dir)
    val batch = Bm25.build(corpus.toDF("doc_id", "text"),
      "doc_id", "text")
    assert(grown.n === batch.n && grown.avgdl === batch.avgdl)
    def hits(ix: Bm25.Bm25Index) =
      Bm25.search(ix, "shuffle sort", k = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(grown) === hits(batch))
    // term-bucket disk pruning: the stored search's scan carries
    // literal bucket partition filters (other bucket dirs are skipped)
    val phys = Bm25.search(grown, "shuffle sort", k = 4)
      .queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters") && phys.contains("bucket#"),
      s"expected bucket partition pruning:\n$phys")
    batch.postings.unpersist(false)
  }

  test("compactStored graduates a streamed BM25 layout: files bounded, " +
      "scores identical, stored delete then allowed") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-bm25").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-compact-ckpt").toString
    val corpus = Seq(
      (1L, "spark shuffle join filter"),
      (2L, "sort merge join shuffle shuffle"),
      (3L, "hash aggregate group by"),
      (4L, "merge sort spill disk sort"),
      (5L, "filter group shuffle sort"),
      (6L, "join join aggregate disk"))
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, buckets = 4)
    try {
      corpus.grouped(2).foreach { batch => // 3 micro-batches of appends
        input.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def hits() = Bm25.search(Bm25.loadStoredPostings(spark, dir),
        "shuffle sort", k = 6).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = hits()
    // a streaming-grown dir REFUSES batch cell rewrites until compacted
    intercept[IllegalStateException] {
      Bm25.deleteStoredPostings(spark, dir, Seq(1L).toDF("id"))
    }
    val rewritten = Stream.compactStored(spark, dir, "bucket",
      maxFilesPerCell = 1)
    assert(rewritten > 0)
    // commit log gone, every bucket dir compacted to ONE data file
    assert(!new java.io.File(dir, "_spark_metadata").exists())
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val n = d.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(n === 1, s"${d.getName} has $n data files")
    }
    // marker survives compaction; search results are unchanged
    assert(Bm25.readBucketsMarker(spark, dir) === Some(4))
    assert(hits() === before)
    // and the graduated BATCH layout now takes a stored delete
    val removed = Bm25.deleteStoredPostings(spark, dir,
      Seq(1L).toDF("id"))
    assert(removed > 0)
    assert(!hits().exists(_._1 == 1L))
  }

  test("ingestSparse: streamed postings search EXACTLY like a batch " +
      "writePostings layout, and compaction graduates it") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.functions.{Md5SparseEmbedder, Sparse}
    val emb = Md5SparseEmbedder(dim = 512)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-sparse").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-sparse-ckpt").toString
    val corpus = Seq(
      (1L, "spark shuffle join filter"),
      (2L, "sort merge join shuffle shuffle"),
      (3L, "hash aggregate group by"),
      (4L, "merge sort spill disk sort"))
    def sparseRows(rows: Seq[(Long, String)]) = rows.map { case (id, t) =>
      val v = emb.embed(t); (id, v.indices, v.values)
    }
    val input = MemoryStream[(Long, Seq[Int], Seq[Float])]
    val q = Stream.ingestSparse(
      input.toDF().toDF("doc_id", "si", "sv"),
      "doc_id", "si", "sv", dir, ckpt, buckets = 8)
    try {
      input.addData(sparseRows(corpus.take(2)): _*)
      q.processAllAvailable()
      input.addData(sparseRows(corpus.drop(2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val query = emb.embed("shuffle sort")
    // grown layout == batch layout, score for score
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft-stream-sparse-batch").toString
    Sparse.writePostings(
      Sparse.invertedPostings(sparseRows(corpus)
          .toDF("doc_id", "si", "sv"), "doc_id", "si", "sv"),
      batchDir, buckets = 8)
    def hits(d: String) = Sparse.searchStored(spark, d, query, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val grownHits = hits(dir)
    assert(grownHits.nonEmpty && grownHits === hits(batchDir))
    // graduation: compact, commit log gone, scores unchanged
    assert(Stream.compactStored(spark, dir, "__b") > 0)
    assert(!new java.io.File(dir, "_spark_metadata").exists())
    assert(hits(dir) === grownHits)
  }

  test("ingestSparse refuses restarting with a different modulus") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.functions.Md5SparseEmbedder
    val emb = Md5SparseEmbedder(dim = 512)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-sparse-mod").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-sparse-mod-ckpt").toString
    val input = MemoryStream[(Long, Seq[Int], Seq[Float])]
    val v = emb.embed("spark shuffle")
    val q = Stream.ingestSparse(input.toDF().toDF("doc_id", "si", "sv"),
      "doc_id", "si", "sv", dir, ckpt, buckets = 8)
    try {
      input.addData((1L, v.indices, v.values))
      q.processAllAvailable()
    } finally q.stop()
    val input2 = MemoryStream[(Long, Seq[Int], Seq[Float])]
    intercept[IllegalStateException] {
      Stream.ingestSparse(input2.toDF().toDF("doc_id", "si", "sv"),
        "doc_id", "si", "sv", dir, ckpt, buckets = 16)
    }
  }

  test("ingestBm25 refuses restarting with a different bucket modulus") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-modulus").toString
    val ckpt1 = java.nio.file.Files
      .createTempDirectory("graft-modulus-c1").toString
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt1, buckets = 8)
    try {
      input.addData((1L, "spark shuffle"))
      q.processAllAvailable()
    } finally q.stop()
    // same modulus restarts fine (marker reused)...
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft-modulus-c2").toString
    val input2 = MemoryStream[(Long, String)]
    val q2 = Stream.ingestBm25(input2.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt2, buckets = 8)
    q2.stop()
    // ...a DIFFERENT one is rejected before any row is written
    val input3 = MemoryStream[(Long, String)]
    val ex = intercept[IllegalStateException] {
      Stream.ingestBm25(input3.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, java.nio.file.Files
          .createTempDirectory("graft-modulus-c3").toString, buckets = 16)
    }
    assert(ex.getMessage.contains("mod 8"))
  }

  test("ingestBm25 refuses to START into a compacted (batch) layout; " +
      "a legit resume over the live commit log still works") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft-restart").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-restart-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, buckets = 4)
    try {
      input.addData((1L, "spark shuffle join"))
      q.processAllAvailable()
    } finally q.stop()
    // legit RESUME: the prior run's commit log is present, so a
    // restarted sink (same source + checkpoint, the real restart shape)
    // extends it — no refusal, and the resumed rows land next to the
    // old ones
    input.addData((2L, "sort merge shuffle"))
    val q2 = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, buckets = 4)
    try q2.processAllAvailable() finally q2.stop()
    def ids() = Bm25.loadStoredPostings(spark, dir).postings
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids() === Set(1L, 2L))
    // graduate to a batch layout: the commit log is removed
    Stream.compactStored(spark, dir, "bucket", maxFilesPerCell = 1)
    // a fresh stream into the compacted dir would write a NEW commit
    // log that hides every compacted file — refuse before any write
    val input3 = MemoryStream[(Long, String)]
    val ex = intercept[IllegalStateException] {
      Stream.ingestBm25(input3.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, java.nio.file.Files
          .createTempDirectory("graft-restart-c3").toString, buckets = 4)
    }
    assert(ex.getMessage.contains("batch"))
    // nothing was lost by the refusal
    assert(ids() === Set(1L, 2L))
    // the guard is layout-agnostic: plain (unpartitioned) parquet data
    // would be hidden just the same — refuse that too
    val plainDir = java.nio.file.Files
      .createTempDirectory("graft-restart-plain").toString
    Seq((1L, "x")).toDF("doc_id", "text").write
      .mode("overwrite").parquet(plainDir)
    val input4 = MemoryStream[(Long, String)]
    intercept[IllegalStateException] {
      Stream.ingestBm25(input4.toDF().toDF("doc_id", "text"),
        "doc_id", "text", plainDir, java.nio.file.Files
          .createTempDirectory("graft-restart-c4").toString, buckets = 4)
    }
  }

  test("stream-stream interval join pairs in-window rows, bounded state") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val lefts = MemoryStream[(Long, Timestamp, Long)]
    val rights = MemoryStream[(Long, Timestamp, Double)]
    val q = Stream.intervalJoin(
        lefts.toDF().toDF("k", "ts", "event_id"),
        rights.toDF().toDF("k", "ts", "value"),
        "k", "ts", "10 minutes", Seq("value"), watermark = "30 minutes")
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    rights.addData((1L, ts(4), 1.0), (1L, ts(14), 2.0), (2L, ts(10), 9.0))
    lefts.addData((1L, ts(15), 100L)) // window [05:00, 15:00): only 14:00
    q.processAllAvailable()
    val rows = spark.table("ij").collect()
    q.stop()
    assert(rows.map(_.getAs[Double]("r_value")).sorted === Array(2.0))
  }

  test("the same interval-join code runs in batch mode and matches " +
      "Temporal.rangeJoin") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(15), 100L), (2L, ts(20), 101L))
      .toDF("k", "ts", "event_id")
    val right = Seq((1L, ts(4), 1.0), (1L, ts(14), 2.0), (2L, ts(12), 9.0),
      (2L, ts(20), 8.0)).toDF("k", "ts", "value")
    val stream = Stream.intervalJoin(left, right, "k", "ts",
        "10 minutes", Seq("value"))
      .select("k", "event_id", "r_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val batch = graft.ops.Temporal.rangeJoin(left, right, Seq("k"), "ts",
        "10 minutes", Seq("value"))
      .select("k", "event_id", "r_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(stream.toSeq === batch.toSeq)
    assert(stream.toSeq === Seq((1L, 100L, 2.0), (2L, 101L, 9.0)))
  }

  test("kmeans ivf recovers planted blobs") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(5)
    def blob(cx: Double, base: Int) = (0 until 30).map(i =>
      (base + i.toLong, Seq((cx + rng.nextGaussian() * 0.05).toFloat,
        (cx + rng.nextGaussian() * 0.05).toFloat)))
    val df = (blob(0, 0) ++ blob(10, 100)).toDF("id", "vec")
    val model = graft.ops.Ann.buildIvfKMeans(df, "vec", k = 2, iters = 4)
    val assigned = graft.ops.Ann.assign(df, "vec", model, graft.ops.Ann.L2)
    val byCell = assigned.groupBy("centroid_id")
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
        count(lit(1)).as("n")).collect()
    assert(byCell.length === 2)
    // each cell holds exactly one blob (ids 0-29 vs 100-129)
    byCell.foreach { r =>
      assert(r.getAs[Long]("n") === 30)
      assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") === 29)
    }
  }

  test("the postings layout records its tokenizer: loads follow it, " +
      "a mismatched load or ingest restart is refused") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Bm25
    import graft.functions.Tokenizers
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tokmark").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tokmark-c").toString
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, tok = Tokenizers.Wiki, buckets = 4)
    try {
      input.addData((1L, "Spark Shuffle-Joins"))
      q.processAllAvailable()
    } finally q.stop()
    // the default load resolves the RECORDED tokenizer, not 'simple'
    assert(Bm25.loadStoredPostings(spark, dir).tokenizer === "wiki_tocken")
    // an explicit mismatched load is refused (silently mis-tokenized
    // queries would return wrong/empty results)
    val exLoad = intercept[IllegalStateException] {
      Bm25.loadStoredPostings(spark, dir, tokenizer = "simple")
    }
    assert(exLoad.getMessage.contains("wiki_tocken"))
    // restarting ingest with a different tokenizer is refused up front
    val input2 = MemoryStream[(Long, String)]
    val exIngest = intercept[IllegalStateException] {
      Stream.ingestBm25(input2.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, java.nio.file.Files
          .createTempDirectory("graft-tokmark-c2").toString,
        tok = Tokenizers.Simple, buckets = 4)
    }
    assert(exIngest.getMessage.contains("wiki_tocken"))
  }

  test("ingestIvf pins the assignment model: a restart with a " +
      "retrained model is refused (mixed cell geometries)") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val m1 = Ann.IvfModel(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("centroid_id", "centroid"), "centroid_id", "centroid")
    val m2 = Ann.IvfModel(Seq((0L, Seq(5.0, 5.0)), (1L, Seq(20.0, 20.0)))
      .toDF("centroid_id", "centroid"), "centroid_id", "centroid")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfmark").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestIvf(input.toDF().toDF("vec_id", "embedding"),
      "embedding", m1, Ann.L2, dir, java.nio.file.Files
        .createTempDirectory("graft-ivfmark-c").toString)
    try {
      input.addData((1L, Seq(0.1, 0.1)))
      q.processAllAvailable()
    } finally q.stop()
    // same model restarts fine
    val input2 = MemoryStream[(Long, Seq[Double])]
    Stream.ingestIvf(input2.toDF().toDF("vec_id", "embedding"),
      "embedding", m1, Ann.L2, dir, java.nio.file.Files
        .createTempDirectory("graft-ivfmark-c2").toString).stop()
    // a retrained model is refused before any row lands
    val input3 = MemoryStream[(Long, Seq[Double])]
    val ex = intercept[IllegalStateException] {
      Stream.ingestIvf(input3.toDF().toDF("vec_id", "embedding"),
        "embedding", m2, Ann.L2, dir, java.nio.file.Files
          .createTempDirectory("graft-ivfmark-c3").toString)
    }
    assert(ex.getMessage.contains("different IVF model"))
  }

  test("ingestIvfSq: streamed codes match the batch build bit-for-bit; " +
      "a restart with retrained bounds is refused") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val rng = new scala.util.Random(13)
    val docs = (0L until 40L)
      .map(i => (i, Seq.fill(4)(rng.nextDouble() * (1 + i % 3))))
      .toDF("vec_id", "embedding")
    val model = Ann.buildIvf(
      docs.withColumn("__cell", pmod(col("vec_id"), lit(4))),
      "__cell", "embedding")
    val idx = Ann.buildIvfSq(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqstream").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestQuantized(input.toDF().toDF("vec_id", "embedding"),
      "embedding", idx, Ann.L2, dir, java.nio.file.Files
        .createTempDirectory("graft-sqstream-c").toString)
    try {
      val rows = docs.as[(Long, Seq[Double])].collect().sortBy(_._1)
      input.addData(rows.take(20).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(20).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // retrained bounds → digest mismatch → refused before any row lands
    // (restarted before graduation: a graduated dir holds batch data,
    // which refuses any stream start before the pin reads the digest)
    val docs2 = docs.withColumn("embedding",
      transform(col("embedding"), x => x * 2))
    val idx2 = Ann.buildIvfSq(docs2, "embedding", model, Ann.L2)
    val input3 = MemoryStream[(Long, Seq[Double])]
    val ex = intercept[IllegalArgumentException] {
      Stream.ingestQuantized(input3.toDF().toDF("vec_id", "embedding"),
        "embedding", idx2, Ann.L2, dir, java.nio.file.Files
          .createTempDirectory("graft-sqstream-c3").toString)
    }
    assert(ex.getMessage.contains("digest mismatch"))
    Stream.compactStored(sp, s"$dir/quantized", "centroid_id",
      maxFilesPerCell = 1)
    // the graduated layout loads as a writeQuantized SQ layout and its codes
    // equal the batch index's (packed) codes row for row
    val loaded = Ann.cellRoot(sp, dir, None)
      .as[Ann.CellRoot.Quantized]("StreamSpec").readIndex
    val got = loaded.rows.select("vec_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    val want = idx.quantized.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got === want)
    // a search over the streamed layout equals the in-memory index path
    val qv = typedlit(Seq.fill(4)(0.5))
    val a = Ann.searchStored(Ann.cellRoot(sp, dir, Some("embedding")),
        "vec_id", Seq.fill(4)(0.5), 2, 5).collect().map(_.toSeq).toSeq
    val b = {
      val cells = Ann.probeCells(model, qv, Ann.L2, 2)
        .collect().map(_.getLong(0))
      Ann.searchQuantized(idx.copy(quantized = idx.quantized
          .filter(col("centroid_id").isin(cells: _*))),
        "vec_id", "embedding", qv, Ann.L2, probes = 2, k = 5)
        .collect().map(_.toSeq).toSeq
    }
    assert(a === b)
  }

  test("ingestIvfBitq: streamed sign codes match the batch build's " +
      "packed bytes bit-for-bit; a metric-class restart is refused") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val rng = new scala.util.Random(29)
    val docs = (0L until 40L)
      .map(i => (i, Seq.fill(4)(rng.nextDouble() * (1 + i % 3))))
      .toDF("vec_id", "embedding")
    val model = Ann.buildIvf(
      docs.withColumn("__cell", pmod(col("vec_id"), lit(4))),
      "__cell", "embedding")
    val batch = Ann.buildIvfBitq(docs, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bitqstream").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestQuantized(
      input.toDF().toDF("vec_id", "embedding"),
      "embedding", batch, Ann.L2, dir, java.nio.file.Files
        .createTempDirectory("graft-bitqstream-c").toString)
    try {
      val rows = docs.as[(Long, Seq[Double])].collect().sortBy(_._1)
      input.addData(rows.take(20).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(20).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    Stream.compactStored(sp, s"$dir/quantized", "centroid_id",
      maxFilesPerCell = 1)
    // the graduated layout IS a writeQuantized 1-bit layout: its packed bytes
    // equal the batch build's, row for row
    val want = batch.quantized
      .withColumn("bits", Ann.packBits(col("bits")))
      .select("vec_id", "bits", "rnorm")
      .collect().map(r => (r.getLong(0),
        (r.getAs[Array[Byte]](1).toSeq, r.getDouble(2)))).toMap
    val got = sp.read.parquet(s"$dir/quantized")
      .select("vec_id", "bits", "rnorm")
      .collect().map(r => (r.getLong(0),
        (r.getAs[Array[Byte]](1).toSeq, r.getDouble(2)))).toMap
    assert(got === want)
    // stored search over the streamed layout == in-memory index path
    val qv = typedlit(Seq.fill(4)(0.5))
    val a = Ann.searchStored(Ann.cellRoot(sp, dir, Some("embedding")),
        "vec_id", Seq.fill(4)(0.5), 2, 5).collect().map(_.toSeq).toSeq
    val b = {
      val cells = Ann.probeCells(model, qv, Ann.L2, 2)
        .collect().map(_.getLong(0))
      Ann.searchQuantized(batch.copy(quantized = batch.quantized
          .filter(col("centroid_id").isin(cells: _*))),
        "vec_id", "embedding", qv, Ann.L2, probes = 2, k = 5)
        .collect().map(_.toSeq).toSeq
    }
    assert(a === b)
    // same artifacts: restart allowed (idempotent root)
    Ann.ensureQuantizedRoot(sp, dir, batch)
    // a cosine restart would mix two residual spaces: refused
    val e1 = intercept[IllegalArgumentException] {
      Ann.ensureQuantizedRoot(sp, dir, batch.copy(spherical = true))
    }
    assert(e1.getMessage.contains("spherical"))
    // a retrained model: refused by the fingerprint marker
    val model2 = Ann.buildIvf(
      docs.withColumn("embedding",
          transform(col("embedding"), x => x * 2))
        .withColumn("__cell", pmod(col("vec_id"), lit(4))),
      "__cell", "embedding")
    val e2 = intercept[IllegalStateException] {
      Ann.ensureQuantizedRoot(sp, dir, batch.copy(model = model2))
    }
    assert(e2.getMessage.contains("different IVF model"))
  }

  test("graduateRangeIndex computes radii AFTER the last append — a " +
      "late outlier is found where pre-append radii would prune it") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    // two tight clusters far apart; batch 2 adds an outlier that
    // assigns to cluster 0 but sits far outside its batch-1 radius
    val batch1 = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + (i % 5) * 0.02, c))
    }
    val outlier = (100L, Seq(3.0, 0.0))
    val all = (batch1 :+ outlier).toDF("vec_id", "embedding")
      .withColumn("__c", when(col("vec_id") % 2 === 0, 0).otherwise(1))
    val model = Ann.buildIvf(
      all.filter(col("vec_id") < 100), "__c", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft-range-grad").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestIvf(input.toDF().toDF("vec_id", "embedding"),
      "embedding", model, Ann.L2, s"$root/rows", java.nio.file.Files
        .createTempDirectory("graft-range-grad-c").toString)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      // stale radii taken here (before the outlier) would prune the
      // query's cell — quantify it for the assertion below
      input.addData(outlier)
      q.processAllAvailable()
    } finally q.stop()
    Stream.graduateRangeIndex(sp, root, model, "embedding",
      maxFilesPerCell = 1)
    val range = Ann.cellRoot(sp, root, None)
      .as[Ann.CellRoot.Range]("StreamSpec")
    val (loadedModel, radii) = (range.readModel, range.radii)
    val qv = typedlit(Seq(4.0, 0.0))
    // graduation-time radii cover the outlier's cell
    val cells = Ann.rangeCells(loadedModel, radii, qv, Ann.L2, eps = 1.2)
    assert(cells.nonEmpty, "outlier's cell was pruned — radii must " +
      "run after the last append")
    val got = Ann.rangeSearchStoredSelf(sp, root, "vec_id", "embedding",
        qv, eps = 1.2)
      .select("vec_id").as[Long].collect()
    assert(got.toSeq === Seq(100L), s"expected the outlier, got $got")
    // counterfactual: radii over batch 1 alone WOULD have pruned it —
    // the test bites
    val staleRadii = Ann.cellRadii(
      Ann.assign(batch1.toDF("vec_id", "embedding"), "embedding",
        model, Ann.L2), "embedding", model, Ann.L2)
    assert(Ann.rangeCells(loadedModel, staleRadii, qv, Ann.L2,
      eps = 1.2).isEmpty)
  }

  test("ingestAppend on a range root (s19): streamed batches grow a " +
      "graduated root with sound radii; a redelivered batch appends " +
      "nothing; an outlier appended past its cell's old radius is " +
      "still found; a non-root refuses before any stream starts") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    // batch-built root: two tight clusters
    val baseRows = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + (i % 5) * 0.02, c), (i % 2).toInt)
    }
    val base = baseRows.toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(base, "label", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft-range-sapp").toString
    Ann.writeRangeIndex(Ann.assign(base, "embedding", model, Ann.L2),
      "embedding", model, root)
    // streamed appends: a normal row + an OUTLIER far outside cell
    // 0's batch-time radius — its arrival must grow the radius before
    // the row is visible, so the later range query still finds it
    val appended = Seq((100L, Seq(0.5, 0.1), 0),
      (101L, Seq(3.0, 0.0), 0))
    val input = MemoryStream[(Long, Seq[Double], Int)]
    val q = Stream.ingestAppend(
      input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
      Ann.cellRoot(sp, root, Some("embedding")),
      java.nio.file.Files.createTempDirectory("graft-sapp-c").toString)
    try {
      appended.foreach { r =>
        input.addData(r)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the outlier is range-findable (radii grew with its batch)
    val got = Ann.rangeSearchStoredSelf(sp, root, "vec_id",
        "embedding", typedlit(Seq(3.1, 0.0)), eps = 0.2)
      .select("vec_id").as[Long].collect()
    assert(got.toSeq === Seq(101L), s"expected the outlier, got $got")
    // redelivery of an already-applied batch appends NOTHING
    val dup = Ann.appendIdempotent(
      Ann.cellRoot(sp, root, Some("embedding")),
      appended.toDF("vec_id", "embedding", "label"), "vec_id")
    assert(dup === 0L)
    assert(sp.read.parquet(s"$root/rows").count() === 22L)
    // a genuinely new row still appends through the same path
    val fresh = Ann.appendIdempotent(
      Ann.cellRoot(sp, root, Some("embedding")),
      Seq((102L, Seq(0.4, 0.2), 0)).toDF("vec_id", "embedding",
        "label"),
      "vec_id")
    assert(fresh === 1L)
    // a non-root refuses at START, not first batch: the resolver
    // finds no cell family
    intercept[IllegalStateException] {
      Stream.ingestAppend(
        input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
        Ann.cellRoot(sp, java.nio.file.Files
          .createTempDirectory("graft-sapp-bare").toString,
          Some("embedding")),
        java.nio.file.Files
          .createTempDirectory("graft-sapp-bare-c").toString)
    }
    assert(sp.streams.active.isEmpty)
  }

  test("ingestAppend restart SELF-HEALS a root stranded by a " +
      "crashed split swap: centroids aside as __old no longer wedges " +
      "the stream at its start-time load") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val base = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + (i % 5) * 0.02, c), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(base, "label", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft-range-heal-stream").toString
    Ann.writeRangeIndex(Ann.assign(base, "embedding", model, Ann.L2),
      "embedding", model, root)
    // simulate the crash window inside a stream-triggered split's
    // centroid swap: live copy gone, authoritative table aside
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$root/centroids"),
      new org.apache.hadoop.fs.Path(s"$root/centroids__old")))
    val input = MemoryStream[(Long, Seq[Double], Int)]
    // the restart must NOT die on the missing live path — the heal
    // runs before the start-time centroids read
    val q = Stream.ingestAppend(
      input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
      Ann.cellRoot(sp, root, Some("embedding")),
      java.nio.file.Files.createTempDirectory("graft-heal-c").toString,
      splitMaxRows = Some(100L))
    try {
      input.addData((300L, Seq(0.5, 0.1), 0))
      q.processAllAvailable()
    } finally q.stop()
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/centroids")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/centroids__old")))
    assert(sp.read.parquet(s"$root/rows").count() === 21L)
  }

  test("ingestAppend splitMaxRows on a range root (s29): a batch that " +
      "pushes a cell past the threshold triggers the overfull split " +
      "in-stream (results invariant); a non-positive threshold refuses " +
      "at START") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val baseRows = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + (i % 5) * 0.02 + (i / 10) * 0.001, c), (i % 2).toInt)
    }
    val base = baseRows.toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(base, "label", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft-range-split").toString
    Ann.writeRangeIndex(Ann.assign(base, "embedding", model, Ann.L2),
      "embedding", model, root)
    // non-positive threshold refuses at START, before any mutation
    val input = MemoryStream[(Long, Seq[Double], Int)]
    intercept[IllegalArgumentException] {
      Stream.ingestAppend(
        input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
        Ann.cellRoot(sp, root, Some("embedding")), java.nio.file.Files
          .createTempDirectory("graft-split-c0").toString,
        splitMaxRows = Some(0L))
    }
    // cell 0 holds 10 rows; a 6-row batch pushes it past 12 → the
    // post-append pass must split it while cell 1 (10 rows) stays
    val appended = (200L until 206L).map(i =>
      (i, Seq((i - 200L) * 0.015, 0.0), 0))
    val q = Stream.ingestAppend(
      input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
      Ann.cellRoot(sp, root, Some("embedding")), java.nio.file.Files
        .createTempDirectory("graft-split-c").toString,
      splitMaxRows = Some(12L))
    try {
      input.addData(appended: _*)
      q.processAllAvailable()
    } finally q.stop()
    val m2 = Ann.cellRoot(sp, root, None).readModel
    assert(m2.centroids.count() === 3L,
      "exactly the overfull cell must split (2 cells -> 3)")
    // results invariant: the eps-ball around cluster 0's origin still
    // holds exactly the brute-force set over rows on disk
    val all = sp.read.parquet(s"$root/rows")
    val want = Ann.rangeSearch(all, "vec_id", "embedding",
        typedlit(Seq(0.0, 0.0)), Ann.L2, eps = 0.05)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val got = Ann.rangeSearchStoredSelf(sp, root, "vec_id",
        "embedding", typedlit(Seq(0.0, 0.0)), eps = 0.05)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty && got === want,
      s"split changed range results: got $got, want $want")
    // redelivery still appends nothing against the re-partitioned cells
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, root, Some("embedding")),
      appended.toDF("vec_id", "embedding", "label"), "vec_id") === 0L)
  }

  /** (vec_id, vecs = two copies of the embedding, label, mv_mean): a
    * maxsim root's rows, the token mean added by the call its build
    * uses. */
  private def maxsimRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"),
        array(col("embedding"), col("embedding")).as("vecs"), col("label"))
      .withColumn("mv_mean", graft.ops.Ann.tokenMeanCol(col("vecs"), 2))

  private val appendCases: Seq[AppendCase] = {
    import graft.ops.Ann
    def model(df: org.apache.spark.sql.DataFrame, v: String) =
      Ann.buildIvf(df, "label", v)
    val sq = (base: org.apache.spark.sql.DataFrame, dir: String) => {
      Ann.writeQuantized(Ann.buildIvfSq(base, "embedding",
        model(base, "embedding"), Ann.L2), dir)
      Some("embedding")
    }
    Seq(
      AppendCase("a dense L2 root", (base, dir) => {
        val m = model(base, "embedding")
        Ann.writeDenseRoot(Ann.assign(base, "embedding", m, Ann.L2),
          "embedding", m, Ann.L2, dir)
        None
      }),
      AppendCase("a maxsim dense cosine root", (base, dir) => {
        val docs = maxsimRows(base)
        val m = model(docs, "mv_mean")
        Ann.writeDenseRoot(Ann.assign(docs, "mv_mean", m, Ann.Cosine),
          "mv_mean", m, Ann.Cosine, dir)
        None
      }, frame = maxsimRows, assignsOn = "mv_mean"),
      AppendCase("a composed MRL-IVF root", (base, dir) => {
        Ann.writeMatryoshkaIvf(base, "vec_id", "embedding", dims = 1,
          model(base, "embedding"), dir)
        Some("embedding")
      }),
      AppendCase("a range root", (base, dir) => {
        val m = model(base, "embedding")
        Ann.writeRangeIndex(Ann.assign(base, "embedding", m, Ann.L2),
          "embedding", m, dir)
        Some("embedding")
      }),
      // ratio 0 folds fresh/ every batch, and the split follows the fold
      AppendCase("a quantized SQ root", sq, compactRatio = Some(0.0)),
      // no fold, so no split: the quantized split waits for compaction
      AppendCase("a quantized SQ root below its compaction ratio", sq,
        compactRatio = Some(100.0), cellsAfter = 2L))
  }

  /** Every file and dir under `dir` with an MD5 of each file's bytes. */
  private def listing(dir: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map { p =>
      val digest =
        if (java.nio.file.Files.isDirectory(p)) "dir"
        else java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      (root.relativize(p).toString, digest)
    }.toList.sorted
    finally walk.close()
  }

  appendCases.foreach { c =>
    test(s"ingestAppend over ${c.name}: each START refusal starts no " +
        "stream and leaves the root byte-identical; a redelivered batch " +
        "appends 0; the split / compaction policy fires as configured") {
      val sp = spark
      import sp.implicits._
      implicit val sc = sp.sqlContext
      import graft.ops.Ann
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      // two angular clusters (distinct directions, so cosine roots can
      // split them too); the batch sits inside cell 0, apart from its
      // base rows
      def polar(th: Double, r: Double) =
        Seq(r * math.cos(th), r * math.sin(th))
      val base = (0L until 20L).map { i =>
        val k = i / 2
        (i, polar((if (i % 2 == 0) 0.1 else 1.4) + 0.02 * k,
          1.0 + 0.01 * k), (i % 2).toInt)
      }.toDF("vec_id", "embedding", "label")
      val batch = (200L until 206L).map(i =>
        (i, polar(0.5 + 0.02 * (i - 200L), 1.05), 0))
      val dir = tmp("graft-append-table")
      val root = Ann.cellRoot(sp, dir, c.build(base, dir))
      def rows(): Long = {
        val fresh = new java.io.File(dir, "fresh")
        sp.read.parquet(s"$dir/${root.dataSub}").count() +
          (if (fresh.exists()) sp.read.parquet(fresh.toString).count()
           else 0L)
      }
      val input = MemoryStream[(Long, Seq[Double], Int)]
      val stream = c.frame(input.toDF().toDF("vec_id", "embedding", "label"))
      def start(rows: org.apache.spark.sql.DataFrame = stream,
                split: Option[Long] = c.splitMaxRows,
                ratio: Option[Double] = c.compactRatio) =
        Stream.ingestAppend(rows, "vec_id", root, tmp("graft-append-c"),
          split, ratio)
      def refuses[E <: Throwable](how: => Any)(
          implicit tag: scala.reflect.ClassTag[E]): Unit = {
        val before = listing(dir)
        intercept[E](how)
        assert(sp.streams.active.isEmpty, "a refused start left a stream")
        assert(listing(dir) === before, "a refused start wrote to the root")
      }
      refuses[IllegalArgumentException](start(split = Some(0L)))
      refuses[IllegalArgumentException](start(rows = stream.drop(c.assignsOn)))
      root match {
        case _: Ann.CellRoot.Quantized =>
          refuses[IllegalArgumentException](start(ratio = None))
          refuses[IllegalArgumentException](
            start(ratio = Some(Double.NaN)))
        case _ =>
          refuses[IllegalArgumentException](start(ratio = Some(0.5)))
      }
      val q = start()
      val grown = try {
        input.addData(batch: _*)
        q.processAllAvailable()
        val n = rows()
        input.addData(batch: _*) // redelivery through the stream
        q.processAllAvailable()
        n
      } finally q.stop()
      assert(grown === 26L)
      assert(rows() === 26L, "the redelivered batch appended rows")
      assert(Ann.appendIdempotent(root,
        c.frame(batch.toDF("vec_id", "embedding", "label")),
        "vec_id") === 0L)
      assert(sp.read.parquet(s"$dir/centroids").count() === c.cellsAfter)
      c.compactRatio.foreach(r => assert(
        new java.io.File(dir, "fresh").exists() === (r > 0.0),
        "fresh/ must fold under ratio 0 and stay below the ratio"))
      graft.io.Markers.remove(sp, dir, "_graft_ivf_model")
      refuses[IllegalStateException](start())
    }
  }

  test("graduation deletes uncommitted orphan files BEFORE the commit " +
      "log, so no crash point resurrects them or strands the layout") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orphan").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-orphan-c").toString
    val input = MemoryStream[(Long, String)]
    val q = Stream.ingestBm25(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt, buckets = 2)
    try {
      input.addData((1L, "spark shuffle join"), (2L, "cats and dogs"))
      q.processAllAvailable()
    } finally q.stop()
    val before = Bm25.loadStoredPostings(spark, dir)
    val n = before.n
    // plant an ORPHAN: a visible parquet file the commit log does not
    // name (what a crashed micro-batch leaves behind) — duplicate
    // postings for doc 1 that must NOT survive graduation
    val bucketDir = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    val committedFile = bucketDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(committedFile.toPath,
      bucketDir.toPath.resolve("part-99999-orphan.parquet"))
    Stream.compactStored(spark, dir, "bucket")
    // the commit log is gone (graduated) and the orphan's rows did not
    // resurrect: the doc count equals the committed view's
    assert(!new java.io.File(dir, "_spark_metadata").exists())
    val after = Bm25.loadStoredPostings(spark, dir)
    assert(after.n === n,
      "orphan file rows resurrected through graduation")
  }

  test("ingestMatryoshka: streamed rows match the batch layout " +
      "bit-for-bit after compactFlat; a different-dims restart is " +
      "refused; a crashed swap refuses to compact again") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val rows = (0L until 30L).map { i =>
      (i, Seq.tabulate(6)(j => ((i * 5 + j) % 13).toDouble))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_mrl_stream_ck").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Stream.ingestMatryoshka(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dims = 2, dir, ckpt)
    try {
      input.addData(rows.take(15): _*); q.processAllAvailable()
      input.addData(rows.drop(15): _*); q.processAllAvailable()
    } finally q.stop()
    // restart with a different prefix width must refuse (before graduation:
    // a graduated rows/ holds batch data, which refuses any start)
    intercept[IllegalArgumentException] {
      Stream.ingestMatryoshka(
        input.toDF().toDF("vec_id", "embedding"), "vec_id",
        "embedding", dims = 3, dir, ckpt)
    }
    assert(Stream.compactFlat(sp, s"$dir/rows") === 1L)
    assert(!new java.io.File(s"$dir/rows", "_spark_metadata").exists())
    // graduated root answers exactly like the batch write
    val qv = rows(7)._2
    val stored = graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id",
        qv, candidates = 8, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft_mrl_batch").toString
    graft.ops.Ann.writeMatryoshka(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", 2, batchDir)
    val batch = graft.ops.Ann.matryoshkaTopKStored(sp, batchDir,
        "vec_id", qv, candidates = 8, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(stored.toSeq === batch.toSeq)
    // a stranded __old dir (crash between the two swap renames, or
    // mid-delete) must refuse the next compaction loudly
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/rows__old"))
    intercept[IllegalArgumentException] {
      Stream.compactFlat(sp, s"$dir/rows")
    }
  }

  test("ingestMatryoshka into a dense root refuses before it writes " +
      "the matryoshka marker") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    import graft.ops.Ann
    val base = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      (i, Seq(c + (i % 5) * 0.02, c), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(base, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_into_dense").toString
    Ann.writeDenseRoot(Ann.assign(base, "embedding", model, Ann.L2),
      "embedding", model, Ann.L2, dir)
    val e = intercept[IllegalStateException] {
      Stream.ingestMatryoshka(
        MemoryStream[(Long, Seq[Double])].toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dims = 1, dir, java.nio.file.Files
          .createTempDirectory("graft_mrl_into_dense_ck").toString)
    }
    assert(e.getMessage.contains("holds batch data"), e.getMessage)
    assert(!graft.io.Markers.exists(sp, dir, "_graft_matryoshka"))
    assert(!Ann.isMatryoshkaRoot(sp, dir))
  }
}

object StreamSpec {
  /** A graduated cell root for the [[Stream.ingestAppend]] table:
    * `build` writes it at a dir from the base corpus and returns the
    * vector column its resolver takes; `frame` turns a (vec_id,
    * embedding, label) frame into the rows the root takes; `assignsOn`
    * is the column the root assigns on. Every root starts with two
    * 10-row cells, and the streamed batch lands 6 rows in cell 0. */
  private final case class AppendCase(
      name: String,
      build: (org.apache.spark.sql.DataFrame, String) => Option[String],
      frame: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = df => df,
      assignsOn: String = "embedding",
      splitMaxRows: Option[Long] = Some(12L),
      compactRatio: Option[Double] = None,
      cellsAfter: Long = 3L)
}
