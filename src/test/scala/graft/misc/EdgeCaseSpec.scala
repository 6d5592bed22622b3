package graft.misc

import graft.SparkSpecBase
import graft.ops.{Ann, Bm25, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty corpora, empty/whitespace text,
  * single rows. A batch engine meets all of these on real data slices
  * (empty partitions, filtered-to-nothing inputs) — they must return
  * empty/neutral results, not throw. */
class EdgeCaseSpec extends SparkSpecBase {

  private def emptyDocs = {
    val sp = spark
    import sp.implicits._
    Seq.empty[(Long, String)].toDF("id", "text")
  }

  test("sparse queries with duplicate indices are refused, not " +
      "silently double-counted") {
    val sp = spark
    import sp.implicits._
    import graft.functions.Sparse
    val postings = Seq((1L, 3, 2.0f), (2L, 7, 1.0f))
      .toDF("id", "bucket", "v")
    // driver-side form: loud require
    val ex = intercept[IllegalArgumentException] {
      Sparse.invertedTopKW(postings, Seq(3, 3), Seq(1.0, 2.0), k = 5)
    }
    assert(ex.getMessage.contains("duplicate indices"))
    // batch form: the in-plan assert_true fires on action
    val badQ = Seq((1L, Seq(3, 3), Seq(1.0, 2.0)))
      .toDF("qid", "qi", "qv")
    val err = intercept[Exception] {
      Sparse.invertedTopKBatch(postings, badQ, "qid", "qi", "qv", k = 5)
        .collect()
    }
    assert(err.getMessage.contains("duplicate indices"),
      s"unexpected: ${err.getMessage}")
    // and a clean query still scores
    val ok = Seq((1L, Seq(3), Seq(2.0)))
      .toDF("qid", "qi", "qv")
    assert(Sparse.invertedTopKBatch(postings, ok, "qid", "qi", "qv", 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((1L, 4.0)))
    // a NULL index array is absent from the output, never a false
    // duplicate-indices crash
    val withNull = Seq((1L, Seq(3), Seq(2.0)), (2L, null, null))
      .toDF("qid", "qi", "qv")
    assert(Sparse.invertedTopKBatch(postings, withNull, "qid", "qi",
        "qv", 5)
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("searchStoredBatch equals the unpruned batch replay and skips " +
      "unprobed buckets") {
    val sp = spark
    import sp.implicits._
    import graft.functions.{Md5SparseEmbedder, Sparse}
    val emb = Md5SparseEmbedder(dim = 256)
    val docs = Seq((1L, "spark shuffle"), (2L, "hash join"),
      (3L, "window sort"), (4L, "spark hash"))
      .toDF("id", "text")
      .withColumn("sv", udf((t: String) => emb.embed(t)).apply(col("text")))
      .select(col("id"), col("sv.indices").as("i"),
        col("sv.values").as("v"))
    val postings = Sparse.invertedPostings(docs, "id", "i", "v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sparse-batch-store").toString
    Sparse.writePostings(postings, dir, buckets = 8)
    val queries = docs.filter(col("id") <= 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq.sortBy(t => (t._1, t._4))
    assert(rows(Sparse.searchStoredBatch(spark, dir, queries,
        "id", "i", "v", 5)) ===
      rows(Sparse.invertedTopKBatch(postings, queries, "id", "i", "v", 5)))
    // a non-layout dir is refused loudly
    val bad = java.nio.file.Files
      .createTempDirectory("graft-not-a-layout").toString
    val ex = intercept[IllegalArgumentException] {
      Sparse.searchStoredBatch(spark, bad, queries, "id", "i", "v", 5)
    }
    assert(ex.getMessage.contains("marker"))
  }

  test("stored sparse layout edges: no-overlap and empty queries are " +
      "empty, a no-victim delete rewrites nothing") {
    val sp = spark
    import sp.implicits._
    import graft.functions.{Md5SparseEmbedder, Sparse, SparseVec}
    val emb = Md5SparseEmbedder(dim = 256)
    val docs = Seq((1L, "spark shuffle"), (2L, "hash join"))
      .toDF("id", "text")
      .withColumn("sv", udf((t: String) => emb.embed(t)).apply(col("text")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sparse-edge").toString
    val postings = Sparse.invertedPostings(
      docs.select(col("id"), col("sv.indices").as("i"),
        col("sv.values").as("v")), "id", "i", "v")
    Sparse.writePostings(postings, dir, buckets = 4)
    // empty query → empty result, no error
    assert(Sparse.searchStored(spark, dir,
      SparseVec(Nil, Nil), 5).collect().isEmpty)
    // an unrelated query (its tokens may still collide in md5 bucket
    // space): the stored result must equal the in-memory inverted
    // result EXACTLY — pruning may never change what a query matches
    val miss = emb.embed("zzzz qqqq")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pairs(Sparse.searchStored(spark, dir, miss, 5)) ===
      pairs(Sparse.invertedTopK(postings, miss, 5)))
    // deleting absent ids rewrites nothing and preserves scores
    val q = emb.embed("spark")
    val before = Sparse.searchStored(spark, dir, q, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(Sparse.deleteStored(spark, dir, Seq(99L).toDF("id")) === 0L)
    assert(Sparse.searchStored(spark, dir, q, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === before)
  }

  test("bm25 on an empty corpus: empty search results, no NaN stats") {
    val idx = Bm25.build(emptyDocs, "id", "text")
    assert(idx.n === 0)
    assert(!idx.avgdl.isNaN)
    assert(Bm25.search(idx, "anything", 5).count() === 0)
  }

  test("bm25 with empty/whitespace-only docs") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real words here"))
      .toDF("id", "text")
    val idx = Bm25.build(docs, "id", "text")
    assert(idx.n === 1) // only token-bearing docs count
    val hits = Bm25.search(idx, "words", 5).collect()
    assert(hits.map(_.getAs[Long]("id")).toSeq === Seq(3L))
  }

  test("dedup families on empty and single-row corpora") {
    assert(Dedup.exactDedup(emptyDocs, "id", "text").count() === 0)
    assert(Dedup.jaccardPairs(emptyDocs, "id", "text").count() === 0)
    assert(Dedup.minHashDedupPairs(emptyDocs, "id", "text").count() === 0)
    val sp = spark
    import sp.implicits._
    val one = Seq((1L, "just one doc")).toDF("id", "text")
    assert(Dedup.jaccardPairs(one, "id", "text", n = 2).count() === 0)
    assert(Dedup.simHashPairs(Dedup.simHash(one, "id", "text")).count() === 0)
  }

  test("ann topK with k larger than the table") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "vec")
    val hits = Ann.topK(df, "id", "vec", typedlit(Seq(1.0, 0.0)),
      Ann.L2, k = 10)
    assert(hits.count() === 2)
  }

  test("text analysis on empty text: ratios defined, quality in range") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, ""), (2L, "ok text then")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Any]("quality")).toMap
    // empty text: n_chars = 0 -> ratios divide by zero; quality must not
    // be NaN-poisoned for the non-empty doc
    val ok = q(2L).asInstanceOf[Double]
    assert(ok >= 0.0 && ok <= 1.0)
  }

  test("metrics on empty truth / empty ranked lists") {
    import graft.eval.Metrics
    val m = Metrics.evaluateOne(Set.empty, Seq("a", "b"))
    assert(m.values.forall(v => v === 0.0 || v.isNaN === false))
    val m2 = Metrics.evaluateOne(Set("x"), Seq.empty)
    assert(m2("ndcg") === 0.0 && m2("mrr") === 0.0)
  }

  test("chunker on empty / tiny / separator-free text") {
    import graft.text.RegexChunker
    val c = RegexChunker(size = 20, overlap = 5)
    assert(c.segment("") === Seq.empty || c.segment("") === Seq(""))
    assert(c.segment("short").mkString === "short")
    // a run longer than `size` with no separators must still terminate
    val long = "x" * 100
    val out = c.segment(long)
    assert(out.nonEmpty && out.mkString("").contains("x"))
  }

  test("fusion on a single list and dedupUnion on empty frames") {
    import graft.ops.Fusion
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    assert(Fusion.rrf(Seq(l), topK = 5).count() === 2)
    val empty = Seq.empty[(Long, Int)].toDF("id", "rank")
    assert(Fusion.rrf(Seq(empty, empty), topK = 5).count() === 0)
    assert(Fusion.dedupUnion(Seq(empty), topK = 5).count() === 0)
  }

  test("graph extraction on an empty chunk table") {
    import graft.graph.{Graph, VocabRecognizer}
    val sp = spark
    import sp.implicits._
    val chunks = Seq.empty[(Long, String)].toDF("uid", "text")
    val (e, r) = Graph.extractFromChunks(sp, chunks, "uid", "text",
      VocabRecognizer(Seq("spark")))
    assert(e.count() === 0 && r.count() === 0)
  }

  test("media features on an empty payload") {
    import graft.multimodal.FakeCodec
    val f = FakeCodec().features(Array.emptyByteArray)
    assert(f.length === 64 && f.forall(x => !x.isNaN))
  }

  test("cosine LSH on corpus smaller than a bucket") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)))
      .toDF("id", "vec")
    val pairs = Dedup.cosinePairsLsh(df, "id", "vec").collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Double]("cos") === 1.0)
  }

  test("containment with an empty or shingle-free benchmark side") {
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "some training text with enough words here"))
      .toDF("id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.containmentPairs(emptyBench, "id", "text",
      train, "id", "text").count() === 0)
    // a doc shorter than the shingle width has zero shingles → excluded
    val tiny = Seq((2L, "two words")).toDF("id", "text")
    assert(Dedup.containmentPairs(tiny, "id", "text",
      train, "id", "text", n = 3).count() === 0)
  }

  test("scalar quantization with constant dimensions and single row") {
    import graft.ops.Ann
    val sp = spark
    import sp.implicits._
    // dim 1 constant across corpus → range 0 → codes 0, no NaN
    val docs = Seq((1L, Seq(0.5, 7.0)), (2L, Seq(-0.5, 7.0)))
      .toDF("id", "vec")
    val model = Ann.buildSq(docs, "vec")
    assert(model.mins(1) === model.maxs(1))
    val q = Ann.quantizeSq(docs, "vec", model)
    assert(q.select("codes").collect()
      .forall(_.getSeq[Int](0)(1) === 0))
    val hits = Ann.searchSq(q, "id", "vec", "codes", model,
      org.apache.spark.sql.functions.typedlit(Seq(0.4, 7.0)),
      Ann.L2, k = 1).collect()
    assert(hits.length === 1 && hits.head.getLong(0) === 1L)
    assert(!hits.head.getDouble(1).isNaN)
  }

  test("k-means IVF build refuses a null vector and a null element " +
      "with a typed error naming the column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(DoubleType, containsNull = true))))
    def docs(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val nullVec = intercept[IllegalArgumentException] {
      Ann.buildIvfKMeans(docs(Row(1L, Seq(1.0, 2.0)), Row(2L, null),
        Row(3L, Seq(5.0, 1.0))), "emb", k = 3)
    }
    assert(nullVec.getMessage.contains("'emb'") &&
      nullVec.getMessage.contains("null vector"), nullVec.getMessage)
    val nullElem = intercept[IllegalArgumentException] {
      Ann.buildIvfKMeans(docs(Row(1L, Seq(1.0, 2.0)),
        Row(2L, Seq(3.0, null)), Row(3L, Seq(5.0, 1.0))), "emb", k = 3)
    }
    assert(nullElem.getMessage.contains("'emb'") &&
      nullElem.getMessage.contains("null element"), nullElem.getMessage)
  }

  test("hash split with a single weight puts everything in it") {
    import graft.ops.Sampling
    val sp = spark
    import sp.implicits._
    val out = Sampling.withSplit((0L until 50L).toDF("id"), "id",
      Seq(("all", 1.0))).collect()
    assert(out.forall(_.getAs[String]("split") === "all"))
  }

  test("ivf+sq on a tiny corpus: k and refine beyond the corpus size") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, Seq(0.0, 0.0), 0L), (2L, Seq(1.0, 1.0), 1L),
      (3L, Seq(0.1, 0.1), 0L)).toDF("id", "vec", "cell")
    val model = Ann.buildIvf(docs, "cell", "vec")
    val index = Ann.buildIvfSq(docs, "vec", model, Ann.L2)
    // probes/k/refine all exceed what exists — returns everything probed
    val got = Ann.searchIvfSq(index, "id", "vec",
      typedlit(Seq(0.0, 0.0)), Ann.L2, probes = 10, k = 10, refine = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 3L, 2L))
    // single-member cells: per-cell min == max on every dim -> codes 0,
    // dequantized distance still exact-rank-compatible after re-rank
    val one = Seq((9L, Seq(0.5, 0.7), 4L)).toDF("id", "vec", "cell")
    val m1 = Ann.buildIvf(one, "cell", "vec")
    val i1 = Ann.buildIvfSq(one, "vec", m1, Ann.L2)
    assert(i1.quantized.select(col("codes")).head()
      .getSeq[Int](0) === Seq(0, 0))
    assert(Ann.searchIvfSq(i1, "id", "vec", typedlit(Seq(0.0, 0.0)),
      Ann.L2, probes = 1, k = 1).count() === 1L)
  }

  test("packed codes on empty and boundary values") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Seq.empty[Int]), (2L, Seq(0, 255, 128)))
      .toDF("id", "codes")
    val rt = df.select(col("id"),
        Ann.unpackCodes(Ann.packCodes(col("codes"))).as("rt"))
      .orderBy("id").collect()
    assert(rt(0).getSeq[Int](1) === Seq.empty[Int])
    assert(rt(1).getSeq[Int](1) === Seq(0, 255, 128))
  }

  test("mmrSelect degenerate inputs: empty, k > n, zero vectors") {
    import graft.rank.Rerank
    assert(Rerank.mmrSelect(Nil, 5, 0.7) === Nil)
    val one = Seq((3L, Array(1.0, 0.0), 0.5))
    assert(Rerank.mmrSelect(one, 10, 0.7).map(_._1) === Seq(3L))
    // zero-norm vectors: cos defined as 0, selection still total
    val zeros = Seq((1L, Array(0.0, 0.0), 0.9), (2L, Array(0.0, 0.0), 0.8))
    assert(Rerank.mmrSelect(zeros, 2, 0.5).map(_._1) === Seq(1L, 2L))
  }

  test("dupNgramStrip with minOcc = 1 keeps only first gram occurrences") {
    val sp = spark
    import sp.implicits._
    // every gram "occurs >= 1": doc 1 keeps its (first-seen) text, the
    // exact repeat in doc 2 is fully stripped
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = graft.ops.Dedup
      .dupNgramStrip(docs, "doc_id", "text", n = 3, minOcc = 1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === "a b c" && out(2L) === "")
  }

  test("packSequences with budget 1: every doc starts its own pack") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 4L).map(i => (i, 3)).toDF("id", "n")
    val packs = graft.ops.Sampling
      .packSequences(docs, "id", org.apache.spark.sql.functions.col("n"),
        budget = 1, shards = 1)
      .orderBy("id").collect().map(_.getAs[Long]("pack_id"))
    assert(packs.toSeq === Seq(0L, 3L, 6L, 9L))
  }

  test("scrubPii on empty text and pure-PII text") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, ""), (2L, "a@b.io")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.scrubPii(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean") === "")
    assert(out(0).getAs[Int]("n_emails") === 0)
    assert(out(1).getAs[String]("clean") === "<EMAIL>")
  }
}
