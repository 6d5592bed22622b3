package graft.ops

import graft.SparkSpecBase
import graft.functions.Vec
import org.apache.spark.sql.functions._

/** Operator math: distance expressions vs naive loops, BM25 vs
  * hand-computed scores, RRF permutation invariance, maxsim, kNN join
  * exactness, IVF probe behavior. */
class OpsSpec extends SparkSpecBase {

  private def naiveL2(a: Seq[Double], b: Seq[Double]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
  private def naiveCos(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    1.0 - dot / (na * nb)
  }

  test("distance expressions match naive loops") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(20)(Seq.fill(16)(rng.nextDouble() - 0.5))
    val q = Seq.fill(16)(rng.nextDouble() - 0.5)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val got = df.select(col("id"),
        Vec.l2Dist(col("vec"), typedlit(q)).as("l2"),
        Vec.cosDist(col("vec"), typedlit(q)).as("cos"),
        Vec.negDot(col("vec"), typedlit(q)).as("nd"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val (l2, cos, nd) = got(i.toLong)
      assert(math.abs(l2 - naiveL2(v, q)) < 1e-12)
      assert(math.abs(cos - naiveCos(v, q)) < 1e-12)
      assert(math.abs(nd + v.zip(q).map { case (x, y) => x * y }.sum) < 1e-12)
    }
  }

  test("maxsim equals the sum of per-query-token max dots") {
    val sp = spark
    import sp.implicits._
    val docTokens = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val qTokens = Seq(Seq(2.0, 0.0), Seq(0.0, 3.0))
    val df = Seq(Tuple1(docTokens)).toDF("vecs")
    val got = df.select(Vec.maxSimDot(typedlit(qTokens), col("vecs")))
      .head().getDouble(0)
    // token1: max(2,0,1)=2 ; token2: max(0,3,1.5)=3
    assert(got === 5.0)
  }

  test("topK returns the exact k nearest with deterministic tie-break") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)),
      (4L, Seq(2f, 2f))).toDF("id", "vec")
    val got = Ann.topK(df, "id", "vec", typedlit(Seq(0.0, 0.0)), Ann.L2, 3)
      .collect().map(_.getAs[Long]("id"))
    assert(got.toSeq === Seq(1L, 2L, 3L)) // dist 0, 1, 1 (tie by id)
  }

  test("knnJoin equals brute-force per-query ranking") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    val docs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat())))
    val queries = docs.take(4).map { case (i, v) => (i, v) }
    val docsDf = docs.toDF("d_id", "dv").repartition(5)
    val qDf = queries.toDF("q_id", "qv")
    val got = Ann.knnJoin(qDf, "q_id", "qv", docsDf, "d_id", "dv",
      Ann.L2, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("d_id")).toMap
    // brute force in scala (same rounding)
    def dist(a: Seq[Float], b: Seq[Float]): Double = {
      val d = math.sqrt(a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    queries.foreach { case (qid, qv) =>
      val expect = docs.map { case (did, dv) => (dist(dv, qv), did) }
        .sorted.take(5).map(_._2)
      val gotIds = (1 to 5).map(r => got((qid, r)))
      assert(gotIds === expect, s"query $qid")
    }
  }

  test("knnJoinIvf: all-probe equals exact knnJoin; fewer probes " +
      "restrict candidates to probed cells") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    // two well-separated blobs labeled 0/1
    def blob(cx: Double, lab: Long, base: Long) = (0 until 12).map(i =>
      (base + i, lab, Seq(cx + rng.nextGaussian() * 0.1,
        cx + rng.nextGaussian() * 0.1)))
    val rows = blob(0.0, 0L, 0L) ++ blob(8.0, 1L, 100L)
    val e = rows.toDF("id", "label", "vec")
    val model = Ann.buildIvf(e, "label", "vec")
    val assigned = Ann.assign(e, "vec", model, Ann.L2)
    val queries = e.filter(col("id").isin(0L, 100L))
      .select(col("id").as("q_id"), col("vec").as("qv"))
    val docs = assigned.select(col("id").as("d_id"),
      col("vec").as("dv"), col("centroid_id"))
    // probing every cell ⇒ identical to the exact join
    val full = Ann.knnJoinIvf(queries, "q_id", "qv", docs, "d_id", "dv",
        model, Ann.L2, probes = 2, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4))
    val exact = Ann.knnJoin(queries, "q_id", "qv",
        docs.select(col("d_id"), col("dv")), "d_id", "dv",
        Ann.L2, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4))
    assert(full.toSeq === exact.toSeq)
    // probes=1 ⇒ each query only sees its own blob's cell
    val one = Ann.knnJoinIvf(queries, "q_id", "qv", docs, "d_id", "dv",
        model, Ann.L2, probes = 1, k = 100).collect()
    assert(one.forall { r =>
      val (q, dd) = (r.getLong(0), r.getLong(1))
      (q < 100L) == (dd < 100L) // same blob only
    })
    assert(one.length === 24) // 12 candidates per query
  }

  test("bm25 matches a hand-computed two-doc corpus") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "red fish blue fish"), (2L, "red car")).toDF("id", "t")
    val idx = Bm25.build(docs, "id", "t")
    assert(idx.n === 2 && idx.avgdl === 3.0)
    val hits = Bm25.search(idx, "fish", 10).collect()
    assert(hits.length === 1 && hits(0).getAs[Long]("id") === 1L)
    // idf = ln((2-1+0.5)/(1+0.5)+1) = ln 2 ; tf=2, dl=4
    val expected = math.log(2.0) * (2 * 2.2) /
      (2 + 1.2 * (0.25 + 0.75 * 4.0 / 3.0))
    val rounded = BigDecimal(expected)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(hits(0).getAs[Double]("score") === rounded)
  }

  test("bm25 cache: rewriting the corpus dir changes dirVersion and " +
      "invalidates the cached index") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_ver").toString
    Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("id", "t")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def key() = s"$dir|${Bm25.dirVersion(sp, dir)}"
    val idx1 = Bm25.buildCached(sp.read.parquet(dir), "id", "t", key())
    assert(idx1.n === 2)
    // same content → same key → the SAME index instance comes back
    val idx1b = Bm25.buildCached(sp.read.parquet(dir), "id", "t", key())
    assert(idx1b eq idx1)
    // mutate the corpus under the same path → version changes → rebuild
    Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta"))
      .toDF("id", "t").coalesce(1).write.mode("overwrite").parquet(dir)
    val idx2 = Bm25.buildCached(sp.read.parquet(dir), "id", "t", key())
    assert(idx2.n === 3)
    assert(Bm25.dirVersion(sp, dir) !== "absent")
  }

  test("bm25 searchBatch: each query's ranking equals the single-query " +
      "search; shared terms count df once") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "red fish blue fish"), (2L, "red car fast"),
      (3L, "blue sky red sunset"), (4L, "fish market fish stew fish"))
      .toDF("id", "t")
    val idx = Bm25.build(docs, "id", "t")
    val queries = Seq((10L, "red fish"), (20L, "blue"), (30L, "fish red"))
      .toDF("qid", "qtext")
    val batch = Bm25.searchBatch(idx, queries, "qid", "qtext", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    for ((qid, qtext) <- Seq((10L, "red fish"), (20L, "blue"),
        (30L, "fish red"))) {
      val single = Bm25.search(idx, qtext, 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      single.zipWithIndex.foreach { case ((id, score), i) =>
        assert(batch((qid, i + 1)) === ((id, score)),
          s"qid $qid rank ${i + 1}")
      }
    }
    // term-order permutation of the same query set -> same scores
    assert(batch((10L, 1)) === batch((30L, 1)))
  }

  test("bm25 searchBatch keeps opaque STRING query ids distinct " +
      "(no cast-to-long collapse into one merged group)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "red fish blue fish"), (2L, "red car fast"),
      (3L, "blue sky red sunset")).toDF("id", "t")
    val idx = Bm25.build(docs, "id", "t")
    val queries = Seq(("q-red", "red"), ("q-blue", "blue"))
      .toDF("qid", "qtext")
    val batch = Bm25.searchBatch(idx, queries, "qid", "qtext", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    // both queries keep their own id and their own per-query ranking
    val byQ = batch.groupBy(_._1)
    assert(byQ.keySet === Set("q-red", "q-blue"))
    val singleRed = Bm25.search(idx, "red", 3).collect().map(_.getLong(0))
    assert(byQ("q-red").sortBy(_._3).map(_._2).toSeq ===
      singleRed.toSeq)
  }

  test("jaccardPairs memo keys on the input-file version: an in-place " +
      "rewrite misses the cache instead of serving stale pairs") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pairs-ver").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    assert(Dedup.jaccardPairs(sp.read.parquet(dir), "doc_id", "text",
      n = 3, threshold = 0.5).count() === 1)
    // rewrite IN PLACE: the duplicate pair is gone; the memo must miss
    Seq((1L, "alpha beta gamma delta"), (2L, "completely different now"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    assert(Dedup.jaccardPairs(sp.read.parquet(dir), "doc_id", "text",
      n = 3, threshold = 0.5).count() === 0,
      "stale cached pair frame served after an in-place rewrite")
  }

  test("text stats treat null text as empty (no -1 token counts)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "hello world"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = graft.ops.TextAnalysis.stats(docs, "text")
      .filter(col("doc_id") === 2).collect()(0)
    assert(st.getAs[Long]("n_tokens_ws") === 0L)
    assert(st.getAs[Long]("n_chars") === 0L)
    assert(st.getAs[Double]("alnum_ratio") === 0.0)
  }

  test("rrf is invariant to list order and matches 1/(k+rank) sums") {
    val sp = spark
    import sp.implicits._
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "rank")
    val l2 = Seq(("b", 1), ("a", 2)).toDF("id", "rank")
    val f1 = Fusion.rrf(Seq(l1, l2), k = 60, topK = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val f2 = Fusion.rrf(Seq(l2, l1), k = 60, topK = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(f1 === f2)
    def rr(ranks: Seq[Int]) = BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(f1("a") === rr(Seq(1, 2)))
    assert(f1("b") === rr(Seq(2, 1)))
    assert(f1("c") === rr(Seq(3)))
  }

  test("rrfWeighted: per-id score is sum w_i/(k+rank_i); unit weights " +
      "equal plain rrf bitwise; weight monotonicity holds") {
    val sp = spark
    import sp.implicits._
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "rank")
    val l2 = Seq(("b", 1), ("a", 2)).toDF("id", "rank")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // unit weights ≡ plain rrf (1.0·x is an FP no-op)
    assert(scores(Fusion.rrfWeighted(Seq(l1, l2), Seq(1.0, 1.0),
        k = 60, topK = 3)) ===
      scores(Fusion.rrf(Seq(l1, l2), k = 60, topK = 3)))
    // the exact formula at non-unit weights and non-default k
    val w = scores(Fusion.rrfWeighted(Seq(l1, l2), Seq(0.7, 0.3),
      k = 20, topK = 3))
    def rr(terms: Seq[(Double, Int)]) =
      BigDecimal(terms.map { case (wt, r) => wt / (20 + r) }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(w("a") === rr(Seq((0.7, 1), (0.3, 2))))
    assert(w("b") === rr(Seq((0.7, 2), (0.3, 1))))
    assert(w("c") === rr(Seq((0.7, 3))))
    // monotonicity: raising one list's weight never lowers the score
    // of any id in that list, and a zero weight silences it entirely
    val lo = scores(Fusion.rrfWeighted(Seq(l1, l2), Seq(0.2, 1.0),
      k = 20, topK = 3))
    val hi = scores(Fusion.rrfWeighted(Seq(l1, l2), Seq(0.9, 1.0),
      k = 20, topK = 3))
    Seq("a", "b", "c").foreach(id =>
      assert(hi(id) >= lo(id), s"$id: weight up, score down"))
    val only2 = scores(Fusion.rrfWeighted(Seq(l1, l2), Seq(0.0, 1.0),
      k = 20, topK = 3))
    assert(only2("a") === rr(Seq((1.0, 2))) &&
      only2("b") === rr(Seq((1.0, 1))) && only2("c") === 0.0)
    // refusals: arity mismatch, negative weight
    intercept[IllegalArgumentException] {
      Fusion.rrfWeighted(Seq(l1, l2), Seq(1.0))
    }
    intercept[IllegalArgumentException] {
      Fusion.rrfWeighted(Seq(l1, l2), Seq(1.0, -0.5))
    }
  }

  test("dedupUnion keeps first occurrence in priority order") {
    val sp = spark
    import sp.implicits._
    val l1 = Seq(("x", 1), ("y", 2)).toDF("id", "rank")
    val l2 = Seq(("y", 1), ("z", 2)).toDF("id", "rank")
    val got = Fusion.dedupUnion(Seq(l1, l2), topK = 10).collect()
      .map(r => (r.getString(0), r.getAs[Int]("rank"), r.getAs[Int]("src")))
    assert(got.toSeq === Seq(("x", 1, 0), ("y", 2, 0), ("z", 2, 1)))
  }

  test("rrfWeightedBatch / dedupUnionBatch: per-qid rows equal the " +
      "single-query forms run on that qid's slices") {
    val sp = spark
    import sp.implicits._
    // two queries with different overlap shapes
    val v = Seq((1L, "a", 1), (1L, "b", 2), (1L, "c", 3),
      (2L, "d", 1), (2L, "a", 2)).toDF("qid", "id", "rank")
    val kw = Seq((1L, "b", 1), (1L, "a", 2),
      (2L, "a", 1), (2L, "e", 2)).toDF("qid", "id", "rank")
    val batch = Fusion.rrfWeightedBatch(Seq(v, kw), Seq(0.7, 0.3),
        k = 20, topK = 3)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(x => (x._2, x._3)).toSeq).toMap
    Seq(1L, 2L).foreach { qid =>
      val want = Fusion.rrfWeighted(
          Seq(v.filter(col("qid") === qid).drop("qid"),
            kw.filter(col("qid") === qid).drop("qid")),
          Seq(0.7, 0.3), k = 20, topK = 3)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(batch(qid) == want,
        s"qid=$qid: batch ${batch(qid)} != single $want")
    }
    val dBatch = Fusion.dedupUnionBatch(Seq(v, kw), topK = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    Seq(1L, 2L).foreach { qid =>
      val want = Fusion.dedupUnion(
          Seq(v.filter(col("qid") === qid).drop("qid"),
            kw.filter(col("qid") === qid).drop("qid")), topK = 3)
        .collect().map(_.getString(0)).toSeq
      assert(dBatch(qid) == want,
        s"qid=$qid: dedup batch ${dBatch(qid)} != single $want")
    }
    intercept[IllegalArgumentException] {
      Fusion.rrfWeightedBatch(Seq(v, kw), Seq(1.0))
    }
  }

  test("ivf probes restrict the scanned cells") {
    val sp = spark
    import sp.implicits._
    // two well-separated blobs; cell = blob id
    val rng = new scala.util.Random(3)
    def blob(cx: Double, cy: Double, cell: Int, base: Int) =
      (0 until 20).map(i => (base + i.toLong, cell,
        Seq((cx + rng.nextGaussian() * 0.01).toFloat,
          (cy + rng.nextGaussian() * 0.01).toFloat)))
    val df = (blob(0, 0, 0, 0) ++ blob(10, 10, 1, 100))
      .toDF("id", "cell", "vec")
    val model = Ann.buildIvf(df, "cell", "vec")
    val assigned = Ann.assign(df, "vec", model, Ann.L2)
    // every vector must land in its own blob's cell
    assert(assigned.filter(col("centroid_id") =!= col("cell")).count() === 0)
    val hits = Ann.searchIvf(assigned, "id", "vec",
      model, typedlit(Seq(0.0, 0.0)), Ann.L2, probes = 1, k = 5)
    val ids = hits.collect().map(_.getAs[Long]("id"))
    assert(ids.forall(_ < 100)) // only blob-0 scanned
    assert(ids.length === 5)
  }

  test("planted duplicates: minhash-lsh finds them, simhash blocks them") {
    val sp = spark
    import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog while " +
      "rain falls softly on the quiet green meadow at dusk today"
    val nearDup = base.replace("dusk", "dawn")
    val other = "completely different content about database engines " +
      "and distributed query planning with shuffles and joins galore"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base))
      .toDF("doc_id", "text")
    val mh = Dedup.minHashDedupPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(mh.contains((1L, 2L)) && mh.contains((1L, 4L)) &&
      mh.contains((2L, 4L)))
    assert(!mh.exists(p => p._1 == 3L || p._2 == 3L))
    // exact pair (1,4) must have jaccard 1.0
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(exact((1L, 4L)) === 1.0)
    assert(mh === exact.keySet) // lsh+verify == exact on this corpus
    val sim = Dedup.simHash(docs, "doc_id", "text")
    val sh = Dedup.simHashPairs(sim, maxDist = 3, bands = 4).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(sh.contains((1L, 4L))) // identical docs -> hamming 0
    assert(!sh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("components: chains collapse to min id; dedupByPairs keeps canonicals") {
    val sp = spark
    import sp.implicits._
    // two chains (1-2-3, 10-11) + a pair (20,21) + untouched node 30;
    // chain edges only adjacent — transitivity must be discovered
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L).toDF("doc_id")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 10L, 20L, 30L))
  }

  test("canonicalPerCluster: best-quality member survives, ties by id, " +
      "singletons kept") {
    val sp = spark
    import sp.implicits._
    // cluster {1,2,3}: 2 has top score; cluster {10,11}: tie -> 10;
    // 30 untouched -> own singleton, kept
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7),
      (10L, 0.4), (11L, 0.4), (30L, 0.1)).toDF("doc_id", "score")
    val got = Dedup.canonicalPerCluster(scored, "doc_id", "score",
        Dedup.components(pairs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[Int]("keep")))).toMap
    assert(got(1L) === ((1L, 0)) && got(2L) === ((1L, 1)) &&
      got(3L) === ((1L, 0)))
    assert(got(10L) === ((10L, 1)) && got(11L) === ((10L, 0)))
    assert(got(30L) === ((30L, 1)))
    // exactly one keeper per component
    assert(got.values.groupBy(_._1).forall(_._2.count(_._2 == 1) == 1))
  }

  test("components: long path converges within log rounds; empty pairs ok") {
    val sp = spark
    import sp.implicits._
    // a 40-node path — naive propagation needs ~40 rounds, star-based
    // contraction must finish well inside the default round budget
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.components(path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
    assert(comp.length === 40 && comp.forall(_._2 === 0L))
    assert(Dedup.components(Seq.empty[(Long, Long)].toDF("a", "b"))
      .count() === 0)
    // force the DISTRIBUTED large/small-star path (smallGraphEdges=0)
    // and check it labels identically to the driver union-find path
    val dist = Dedup.components(path, smallGraphEdges = 0L).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
    assert(dist.sortBy(_._1) === comp.sortBy(_._1))
    val chains = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val distChains = Dedup.components(chains, smallGraphEdges = 0L)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(distChains === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("cosine-LSH near-dup finds planted noisy duplicates, no strangers") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    def unit(dim: Int): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val dim = 32
    val bases = (0 until 20).map(i => (i.toLong, unit(dim)))
    // near-dups: base + tiny noise (cos ≈ 0.9995+), ids 100+i
    val dups = bases.take(3).map { case (i, v) =>
      val noisy = v.map(x => x + rng.nextGaussian() * 0.005)
      (100L + i, noisy)
    }
    val df = (bases ++ dups).map { case (i, v) => (i, v.toSeq) }
      .toDF("id", "vec")
    val pairs = Dedup.cosinePairsLsh(df, "id", "vec", threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs === Set((0L, 100L), (1L, 101L), (2L, 102L)))
    // and all reported cos values clear the threshold
    val cosvals = Dedup.cosinePairsLsh(df, "id", "vec", threshold = 0.95)
      .collect().map(_.getAs[Double]("cos"))
    assert(cosvals.forall(_ >= 0.95))
  }

  test("semDedup: greedy within-cell pruning keeps the farthest-from-" +
      "centroid representative; exact ties break by id") {
    val sp = spark
    import sp.implicits._
    def at(deg: Double): Seq[Double] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r))
    }
    // centroids at 0° and 90°; cluster-0 chain a(0°)~b(15°)~c(30°) with
    // cos(a,c)=0.866 < tau — greedy rank (farthest first: c, b, a) drops
    // b (dominated by c) AND a (dominated by the already-dropped b):
    // dominance is by ANY earlier-ranked row, not by survivors only.
    // cluster-1: f(85°) ~ g(95°) ~ f2(85°, exact twin, id 8) all tie on
    // rounded cent_cos → id order f, g, f2 keeps f only; h(60°) lands in
    // cluster 1 (cos 0.866 vs 0.5) and is nobody's near-dup.
    val docs = Seq(
      (1L, at(0)), (2L, at(15)), (3L, at(30)),
      (4L, at(85)), (5L, at(95)), (8L, at(85)), (6L, at(60)))
      .toDF("id", "vec")
    val model = graft.ops.Ann.IvfModel(
      Seq((0L, at(0)), (1L, at(90))).toDF("centroid_id", "centroid"),
      "centroid_id", "centroid")
    val kept = Dedup.semDedup(docs, "id", "vec", model, tau = 0.95)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("centroid_id"),
        r.getAs[Double]("cent_cos")))
      .sortBy(_._1)
    assert(kept.map(k => (k._1, k._2)).toSeq ===
      Seq((3L, 0L), (4L, 1L), (6L, 1L)))
    val byId = kept.map(k => k._1 -> k._3).toMap
    assert(math.abs(byId(3L) - math.cos(math.toRadians(30))) < 1e-4)
    assert(math.abs(byId(4L) - math.cos(math.toRadians(5))) < 1e-4)
    assert(math.abs(byId(6L) - math.cos(math.toRadians(30))) < 1e-4)
  }

  test("semDedup keeps zero-norm and NaN vectors verbatim at cell -1 " +
      "instead of silently dropping them") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),      // near-dup pair
      (3L, Seq(0.0, 0.0)),                             // zero norm
      (4L, Seq(Double.NaN, 1.0)),                      // NaN component
      (5L, Seq(Double.PositiveInfinity, 0.0)),         // infinite norm
      (6L, null.asInstanceOf[Seq[Double]]))            // null vector
      .toDF("id", "vec")
    val model = graft.ops.Ann.IvfModel(
      Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid"),
      "centroid_id", "centroid")
    val kept = Dedup.semDedup(docs, "id", "vec", model, tau = 0.95)
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("centroid_id"), r.getAs[Double]("cent_cos")))
    val byId = kept.map(k => k._1 -> k).toMap
    // the near-dup pair still dedups to one keeper...
    assert(Seq(1L, 2L).count(byId.contains) === 1)
    // ...and every degenerate row survives, flagged, never deleted —
    // including the NULL vector (a three-valued-null predicate would
    // silently drop it from both filter branches)
    assert(Seq(3L, 4L, 5L, 6L).forall(byId.contains))
    assert(Seq(3L, 4L, 5L, 6L).forall(i =>
      byId(i)._2 === -1L && byId(i)._3.isNaN))
  }

  test("cosinePairsLsh: zero-norm vector pairs (NaN cosine) are never " +
      "reported as duplicates") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, Seq.fill(8)(0.0)), (2L, Seq.fill(8)(0.0)),  // two failed embeds
      (3L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (4L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("id", "vec")
    val pairs = Dedup.cosinePairsLsh(docs, "id", "vec", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the identical real vectors pair; the zero vectors (cos = 0/0 =
    // NaN, which Spark compares GREATER than any double) must not
    assert(pairs === Set((3L, 4L)))
  }

  test("semDedup over a KMeans-built model: every planted twin is " +
      "pruned by its original, strangers all survive") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    def unit(dim: Int): Seq[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val bases = (0 until 60).map(i => (i.toLong, unit(16)))
    val twins = bases.map { case (i, v) => (1000L + i, v) }
    val docs = (bases ++ twins).toDF("id", "vec")
    val model = graft.ops.Ann.buildIvfKMeans(
      docs, "vec", k = 4, metric = graft.ops.Ann.Cosine)
    val kept = Dedup.semDedup(docs, "id", "vec", model, tau = 0.95)
      .collect().map(_.getAs[Long]("id")).toSet
    // a twin and its original always share a cell (identical vector →
    // identical argmin) and have pair cos exactly 1 ≥ tau; they tie on
    // cent_cos so the id tiebreak ranks the original first and the twin
    // is dominated. Random unit vectors in 16-dim keep stranger pairs
    // far below 0.95, so the survivors are exactly the originals.
    assert(kept === (0 until 60).map(_.toLong).toSet)
  }

  test("scalar quantization: codes bounded, dequantized distance close, " +
      "search recovers exact neighbors after refine") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(13)
    val docs = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rng.nextDouble() * 4 - 2))).toDF("id", "vec")
    val model = Ann.buildSq(docs, "vec")
    assert(model.mins.length === 16)
    assert(model.mins.zip(model.maxs).forall { case (a, b) => a < b })
    val q = Ann.quantizeSq(docs, "vec", model)
    val codes = q.select("codes").collect()
      .flatMap(_.getSeq[Int](0))
    assert(codes.forall(c => c >= 0 && c <= 255))
    // quantization error per dim <= range/255/2 → bounded dist error
    val qv = typedlit(Seq.fill(16)(0.5))
    val cmp = q.withColumn("qd", Ann.sqDist(qv, col("codes"), model))
      .withColumn("xd", Ann.L2.dist(col("vec"), qv))
      .select("qd", "xd").collect()
    cmp.foreach { r =>
      // both are L2-scale; per-dim quantization error <= range/255/2
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.05)
    }
    // refine recovers the exact top-5
    val viaSq = Ann.searchSq(q, "id", "vec", "codes", model, qv,
      Ann.L2, k = 5, refine = 4).collect().map(_.getLong(0))
    val exact = Ann.topK(docs, "id", "vec", qv, Ann.L2, 5)
      .collect().map(_.getLong(0))
    assert(viaSq.toSeq === exact.toSeq)
  }

  test("knnJoinIvfSq replays per-query searchIvfSq in one job, " +
      "both metrics") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val qids = Seq(2L, 11L, 23L)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qvecs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .toMap
    Seq(Ann.L2: Ann.Metric, Ann.Cosine).foreach { metric =>
      val index = Ann.buildIvfSq(e, "embedding", model, metric)
      val got = Ann.knnJoinQuantized(queries, "q_id", "qv", index, "vec_id",
          "embedding", metric, probes = 2, k = 3, refine = 6)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap
      qids.foreach { qid =>
        val single = Ann.searchQuantized(index, "vec_id", "embedding",
            typedlit(qvecs(qid)), metric, probes = 2, k = 3, refine = 6)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got(qid).sameElements(single),
          s"$metric query $qid: batch ${got(qid).toSeq} vs " +
            s"single ${single.toSeq}")
      }
    }
  }

  test("knnJoinIvfBitq replays per-query searchIvfBitq in one job, " +
      "both metrics") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val qids = Seq(3L, 17L)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qvecs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .toMap
    Seq(Ann.L2: Ann.Metric, Ann.Cosine).foreach { metric =>
      val index = Ann.buildIvfBitq(e, "embedding", model, metric)
      val got = Ann.knnJoinQuantized(queries, "q_id", "qv", index,
          "vec_id", "embedding", metric, probes = 2, k = 3, refine = 8)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap
      qids.foreach { qid =>
        val single = Ann.searchQuantized(index, "vec_id", "embedding",
            typedlit(qvecs(qid)), metric, probes = 2, k = 3, refine = 8)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got(qid).sameElements(single),
          s"$metric query $qid: batch ${got(qid).toSeq} vs " +
            s"single ${single.toSeq}")
      }
    }
  }

  test("ivf+sq: all-probe search with generous refine equals exact topK; " +
      "per-cell bounds nest inside global bounds") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val nCells = model.centroids.count().toInt
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val q = org.apache.spark.sql.functions.typedlit(
      (0 until 64).map(i => 0.01 * i))
    // probing every cell + refine >> k makes the quantized scan a
    // recall-complete candidate stage, so the re-rank must equal exact
    val got = Ann.searchQuantized(index, "vec_id", "embedding", q, Ann.L2,
      probes = nCells, k = 5, refine = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Ann.topK(e, "vec_id", "embedding", q, Ann.L2, 5)
      .select("vec_id", "dist")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === exact)
    // per-cell bounds are at least as tight as the corpus-global model
    val g = Ann.buildSq(e, "embedding")
    index.bounds.collect().foreach { r =>
      val mins = r.getSeq[Double](1)
      val maxs = r.getSeq[Double](2)
      mins.indices.foreach { i =>
        assert(mins(i) >= g.mins(i) && maxs(i) <= g.maxs(i))
        assert(mins(i) <= maxs(i))
      }
    }
    // codes stay in the 8-bit range
    import org.apache.spark.sql.functions._
    val bad = index.quantized.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count()
    assert(bad === 0L)
  }

  test("quantized indexes at rest: write/load round-trips packed codes " +
      "and stored search prunes cell directories") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val qs = (0 until 64).map(i => 0.01 * i)
    val q = org.apache.spark.sql.functions.typedlit(qs)
    // SQ layout
    val sq = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val sqDir = java.nio.file.Files
      .createTempDirectory("graft-sq-rest").toString
    Ann.writeQuantized(sq, sqDir)
    val sqMem = Ann.searchQuantized(sq, "vec_id", "embedding", q, Ann.L2,
      probes = 3, k = 5).collect().map(_.toSeq).toSeq
    val sqStoredDf = Ann.searchStored(
      Ann.cellRoot(spark, sqDir, Some("embedding")), "vec_id", qs, 3, 5)
    assert(sqStoredDf.collect().map(_.toSeq).toSeq === sqMem)
    // probes reach the scan as PartitionFilters (directory pruning)
    assert(sqStoredDf.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [centroid_id"))
    // 1-bit layout
    val bitq = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val bDir = java.nio.file.Files
      .createTempDirectory("graft-bitq-rest").toString
    Ann.writeQuantized(bitq, bDir)
    val bMem = Ann.searchQuantized(bitq, "vec_id", "embedding", q, Ann.L2,
      probes = 3, k = 5).collect().map(_.toSeq).toSeq
    val bStoredDf = Ann.searchStored(
      Ann.cellRoot(spark, bDir, Some("embedding")), "vec_id", qs, 3, 5)
    assert(bStoredDf.collect().map(_.toSeq).toSeq === bMem)
    assert(bStoredDf.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [centroid_id"))
    // the packed code columns really are 1 byte/dim and 1 bit/dim
    val sqRow = spark.read.parquet(s"$sqDir/quantized")
      .select("codes").head().getAs[Array[Byte]](0)
    assert(sqRow.length === 64)
    val bRow = spark.read.parquet(s"$bDir/quantized")
      .select("bits").head().getAs[Array[Byte]](0)
    assert(bRow.length === 8)
  }

  test("ivf+bitq: all-probe generous-refine search equals exact topK; " +
      "bits are residual signs, rnorm the residual norm") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val nCells = model.centroids.count().toInt
    val nVecs = e.count().toInt
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val q = org.apache.spark.sql.functions.typedlit(
      (0 until 64).map(i => 0.01 * i))
    // all cells probed + refine covering the whole corpus → the
    // estimator stage is recall-complete and re-rank must equal exact
    val got = Ann.searchQuantized(index, "vec_id", "embedding", q, Ann.L2,
      probes = nCells, k = 5, refine = nVecs)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Ann.topK(e, "vec_id", "embedding", q, Ann.L2, 5)
      .select("vec_id", "dist")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === exact)
    // spot-verify bits/rnorm against a driver-side recompute
    import org.apache.spark.sql.functions._
    val cents = model.centroids
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    index.quantized.limit(20).collect().foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      val c = cents(r.getLong(r.fieldIndex("centroid_id")))
      val bits = r.getSeq[Int](r.fieldIndex("bits"))
      val res = v.zip(c).map { case (a, b) => a - b }
      assert(bits === res.map(x => if (x > 0) 1 else 0))
      val rn = math.sqrt(res.map(x => x * x).sum)
      assert(math.abs(r.getDouble(r.fieldIndex("rnorm")) - rn) < 1e-5)
    }
  }

  test("bitq: restricted refine keeps good recall on clustered data") {
    val sp = spark
    import sp.implicits._
    // 3 tight clusters; querying a member must find it (dist 0) first
    val base = Seq(Seq(0.0, 0.0, 10.0), Seq(10.0, 0.0, 0.0),
      Seq(0.0, 10.0, 0.0))
    val vecs = for (c <- 0 until 3; i <- 0 until 20) yield
      (c.toLong * 20 + i, base(c).zipWithIndex.map { case (x, j) =>
        x + 0.01 * i + 0.001 * j }, c)
    val df = vecs.toDF("vec_id", "embedding", "label")
    val model = Ann.buildIvf(df, "label", "embedding")
    val index = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    val q = org.apache.spark.sql.functions.typedlit(vecs(7)._2)
    val top = Ann.searchQuantized(index, "vec_id", "embedding", q, Ann.L2,
      probes = 1, k = 3, refine = 10).collect()
    assert(top.head.getLong(0) === 7L && top.head.getDouble(1) === 0.0)
  }

  test("packBits/unpackBits roundtrip on non-byte-aligned dims") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val dims = 13 // forces a padded final byte
    val rows = Seq.tabulate(9)(r => (r.toLong,
      Seq.tabulate(dims)(i => (r + i) % 3 match { case 0 => 1; case _ => 0 })))
    val df = rows.toDF("id", "bits")
    val packed = df.withColumn("bin", Ann.packBits(col("bits")))
    // 13 bits pack to 2 bytes
    assert(packed.select(length(col("bin"))).distinct().head().getInt(0) === 2)
    val round = packed
      .withColumn("back", Ann.unpackBits(col("bin"), dims))
      .filter(col("back") =!= col("bits")).count()
    assert(round === 0L)
  }

  test("packed SQ codes roundtrip and shrink the at-rest footprint") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildSq(e, "embedding")
    val q = Ann.quantizeSq(e, "embedding", model)
    // roundtrip: unpack(pack(codes)) == codes, including 255 (sign bit)
    val bad = q.select(col("codes"),
        Ann.unpackCodes(Ann.packCodes(col("codes"))).as("rt"))
      .filter(col("codes") =!= col("rt")).count()
    assert(bad === 0L)
    // at-rest: the packed quantized store is a small fraction of the
    // full-precision vector store (the 4×+ claim of quantization —
    // parquet already dictionary-encodes int codes, so the comparison
    // that matters is vs the float/double column)
    def sizeOf(df: org.apache.spark.sql.DataFrame): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-sq").toFile
      df.write.mode("overwrite").parquet(dir.toString)
      dir.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
    }
    val full = sizeOf(e.select(col("vec_id"),
      col("embedding").cast("array<double>")))
    val packed = sizeOf(q.select(col("vec_id"),
      Ann.packCodes(col("codes")).as("codes")))
    assert(packed < full / 4,
      s"packed $packed should be under a quarter of full-precision $full")
  }

  test("containmentPairs: quoted benchmark doc scores 1.0 against its " +
      "containing train doc, asymmetric") {
    val sp = spark
    import sp.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog"
    val bench = Seq((1L, benchText), (2L, "completely unrelated words " +
      "about distributed query engines")).toDF("id", "text")
    val train = Seq(
      (10L, s"intro paragraph $benchText closing paragraph here"),
      (11L, "nothing shared with any benchmark document at all"))
      .toDF("id", "text")
    val hits = Dedup.containmentPairs(bench, "id", "text",
        train, "id", "text", n = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // bench doc 1 fully contained in train doc 10 → containment 1.0
    assert(hits.toSeq === Seq((1L, 10L, 1.0)))
    // asymmetry: jaccard of that pair is well below the containment
    val j = Dedup.jaccardPairs(bench.unionByName(train), "id", "text",
      n = 3, threshold = 0.9).collect()
    assert(!j.exists(r => r.getAs[Long]("a") == 1L &&
      r.getAs[Long]("b") == 10L))
  }

  test("hash splits: deterministic, disjoint, stable under corpus growth") {
    val sp = spark
    import sp.implicits._
    val ids = (0L until 1000L).toDF("id")
    val w = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val s1 = graft.ops.Sampling.withSplit(ids, "id", w).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    // re-run identical
    val s2 = graft.ops.Sampling.withSplit(ids, "id", w).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(s1 === s2)
    // roughly the requested proportions (md5 is uniform)
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 160)
    assert(counts("test") > 50 && counts("test") < 160)
    // growing the corpus never moves an existing row's split
    val grown = graft.ops.Sampling
      .withSplit((0L until 2000L).toDF("id"), "id", w).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(s1.forall { case (id, sp0) => grown(id) == sp0 })
    // un-normalized weights give the same assignment
    val scaled = graft.ops.Sampling.withSplit(ids, "id",
        Seq(("train", 8.0), ("val", 1.0), ("test", 1.0))).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(scaled === s1)
  }

  test("packSequences: running cut per shard, stable under growth") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Sampling
    // one shard isolates the running-cut math: 100-token docs, 250
    // budget → packs cut where the doc's FIRST token lands
    val docs = (1L to 5L).map(i => (i, 100)).toDF("id", "n")
    val packed = Sampling.packSequences(docs, "id", col("n"),
        budget = 250, shards = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pack_id"))
      .toMap
    assert(packed === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    // growth appends: earlier docs never move packs
    val grown = Sampling.packSequences(
        (1L to 8L).map(i => (i, 100)).toDF("id", "n"), "id", col("n"),
        budget = 250, shards = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pack_id"))
      .toMap
    assert(packed.forall { case (id, p) => grown(id) == p })
    // multi-shard: every doc keeps its md5 shard, packs restart per shard
    val sharded = Sampling.packSequences(
      (1L to 200L).map(i => (i, 50)).toDF("id", "n"), "id", col("n"),
      budget = 100, shards = 4)
    val byShard = sharded.collect()
      .groupBy(_.getAs[Int]("shard"))
    assert(byShard.keySet.size === 4)
    byShard.values.foreach { rows =>
      val packs = rows.sortBy(_.getAs[Long]("id")).map(_.getAs[Long]("pack_id"))
      assert(packs.head === 0L) // each shard starts at pack 0
      assert(packs.zip(packs.tail).forall { case (a, b) => b - a <= 1 && b >= a })
    }
  }

  test("epochShuffle: pos is a permutation of 0..n-1 equal to the " +
      "single-sort reference; seeds permute; growth is not append") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Sampling
    val ids = (0L until 300L).toDF("id")
    val a = Sampling.epochShuffle(ids, "id", "s1", shards = 7)
      .select("id", "okey", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // permutation property
    assert(a.map(_._3).sorted.toSeq === (0L until 300L).toSeq)
    // the distributed shard/offset stitching equals one global sort
    val want = a.sortBy { case (id, k, _) => (k, id) }
      .zipWithIndex.map { case ((id, _, _), i) => (id, i.toLong) }.toMap
    a.foreach { case (id, _, pos) => assert(pos === want(id)) }
    // same seed replays; a different seed is a different permutation
    val a2 = Sampling.epochShuffle(ids, "id", "s1", shards = 3)
      .select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    a.foreach { case (id, _, pos) => assert(a2(id) === pos,
      "shard count must not change the permutation") }
    val b = Sampling.epochShuffle(ids, "id", "s2", shards = 7)
      .select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a.exists { case (id, _, pos) => b(id) != pos })
    assert(b.values.toSeq.sorted === (0L until 300L).toSeq)
  }

  test("sampleByProb: p=0 keeps none, p=1 keeps all, monotone in p, " +
      "decisions stable under corpus growth") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Sampling
    val ids = (0L until 1000L).toDF("id")
    assert(Sampling.sampleByProb(ids, "id", lit(0.0)).count() === 0L)
    assert(Sampling.sampleByProb(ids, "id", lit(1.0)).count() === 1000L)
    val at3 = Sampling.sampleByProb(ids, "id", lit(0.3))
      .as[Long].collect().toSet
    val at6 = Sampling.sampleByProb(ids, "id", lit(0.6))
      .as[Long].collect().toSet
    // monotone: raising p only ADDS rows
    assert(at3.subsetOf(at6))
    // roughly proportional (16-bit-free 32-bit grid: tight at n=1000)
    assert(math.abs(at3.size - 300) < 60 && math.abs(at6.size - 600) < 60)
    // growth stability: the same ids survive in a larger corpus
    val grown = Sampling.sampleByProb((0L until 2000L).toDF("id"), "id",
      lit(0.3)).as[Long].collect().toSet
    assert(grown.filter(_ < 1000L) === at3)
  }

  test("groupedTopK: per-group quota equals the naive per-group sort") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Ann
    val rng = new scala.util.Random(17)
    val docs = (0L until 50L)
      .map(i => (i, Seq.fill(4)(rng.nextDouble()), (i % 3).toInt))
      .toDF("id", "vec", "grp")
    val q = Seq.fill(4)(0.5)
    val got = Ann.groupedTopK(docs, "id", "vec", "grp", typedlit(q),
        Ann.L2, kPerGroup = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    val naive = docs.select(col("id"),
        col("vec").cast("array<double>"), col("grp"))
      .as[(Long, Seq[Double], Int)].collect()
      .map { case (id, v, g) =>
        (g, id, BigDecimal(math.sqrt(v.zip(q)
          .map { case (x, y) => (x - y) * (x - y) }.sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy { case (_, id, d) => (d, id) }.take(2).zipWithIndex
          .map { case ((_, id, d), i) => (g, id, d, i + 1) } }
      .sortBy { case (g, _, _, r) => (g, r) }
    assert(got.toSeq === naive)
    // every group got exactly its quota
    assert(got.groupBy(_._1).values.forall(_.length == 2))
  }

  test("exact dedup keeps lowest id per text") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((5L, "same"), (2L, "same"), (9L, "unique"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(docs, "doc_id", "text").collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(2L, 9L))
    val stats = Dedup.exactDedupStats(docs, "doc_id", "text").head()
    assert(stats.getAs[Long]("total_docs") === 3)
    assert(stats.getAs[Long]("distinct_texts") === 2)
    assert(stats.getAs[Long]("dup_groups") === 1)
    assert(stats.getAs[Long]("dup_rows_removed") === 1)
  }

  test("text analysis: langid identifies hand-written samples") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("en", "the cat is on the mat and it is happy with this"),
      ("de", "der hund ist nicht mit der katze und das ist auch gut"),
      ("es", "el perro es grande y la casa es blanca por la noche"),
      ("fr", "le chien est dans la maison et il est pour le chat"),
      ("und", "zzz qqq xxx www"),
      // null text = "und", not the alphabetically-first profile (a
      // size(null)=-1 artifact dodged the empty guard)
      ("und", null)).toDF("expected", "text")
    val got = df.withColumn("pred", TextAnalysis.langId(col("text")))
      .collect().map(r => r.getString(0) -> r.getString(2))
    got.foreach { case (exp, pred) => assert(exp === pred) }
  }

  test("hot-bucket cap: over-cap buckets chain instead of all-pairs, " +
      "cold buckets keep all pairs, clusters stay connected") {
    val sp = spark
    import sp.implicits._
    // one bucket of 30 members (hot at cap 8) + one of 4 (cold)
    val rows = ((1L to 30L).map(i => (i, 0, 77L)) ++
      (101L to 104L).map(i => (i, 0, 88L))).toDF("id", "band", "bh")
    val pairs = Dedup.bucketedCandidates(rows, hotCap = 8, hotWindow = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cold bucket: all 6 pairs
    for (i <- 101L to 104L; j <- (i + 1) to 104L)
      assert(pairs.contains((i, j)), s"missing cold pair ($i,$j)")
    // hot bucket: exactly the 3-successor windows (27*3 + 2 + 1 = 84)
    val hotPairs = pairs.filter(_._1 <= 30L)
    assert(hotPairs.size === 84, s"expected 84 windowed pairs: $hotPairs")
    for (i <- 1L to 29L)
      assert(pairs.contains((i, i + 1)), s"chain broken at $i")
    assert(!pairs.contains((1L, 10L)), "beyond-window pair must be capped")
    // a giant identical-doc cluster survives capped simhash end-to-end:
    // every signature identical -> one over-cap bucket per band -> the
    // chain pairs all verify at hamming 0 -> components = one cluster
    val docs = (1L to 20L).map(i => (i, "same text for everyone here"))
      .toDF("doc_id", "text")
    val sim = Dedup.simHash(docs, "doc_id", "text")
    val p = Dedup.simHashPairs(sim, maxDist = 3, bands = 4,
      hotCap = 4, hotWindow = 2)
    val comps = Dedup.components(p.select(col("a"), col("b")))
      .collect().map(r => r.getLong(1)).toSet
    assert(comps === Set(1L), s"cluster split by the cap: $comps")
  }

  test("banded candidates on empty and single-doc inputs") {
    val sp = spark
    import sp.implicits._
    val empty = sp.emptyDataset[(Long, Int, Long)]
      .toDF("id", "band", "bh")
    assert(Dedup.bucketedCandidates(empty, 8, 2).count() === 0L)
    val single = Seq((1L, 0, 7L)).toDF("id", "band", "bh")
    assert(Dedup.bucketedCandidates(single, 8, 2).count() === 0L)
    // exactly hotCap members stays all-pairs (boundary is strict >)
    val atCap = (1L to 4L).map(i => (i, 0, 7L)).toDF("id", "band", "bh")
    assert(Dedup.bucketedCandidates(atCap, 4, 1).count() === 6L)
    // hotCap + 1 switches to chaining with the given window
    val overCap = (1L to 5L).map(i => (i, 0, 7L)).toDF("id", "band", "bh")
    assert(Dedup.bucketedCandidates(overCap, 4, 1).count() === 4L)
  }

  test("bloom-prefiltered decontamination equals the exact join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    def collectPairs(fpp: Double) =
      Dedup.containmentPairs(bench, "doc_id", "text",
          train, "doc_id", "text", n = 3, threshold = 0.3, bloomFpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val exact = collectPairs(0.0)
    assert(exact.nonEmpty) // the synthetic corpus has real containment
    assert(collectPairs(0.01) === exact) // FPs never change the result
  }

  test("dupNgramStrip keeps first occurrence, strips merged later spans") {
    val sp = spark
    import sp.implicits._
    // "a b c" occurs in docs 1 (pos 0) and 2 (pos 1): doc 1 keeps it,
    // doc 2 loses positions 1..3. Doc 3 shares nothing corpus-repeated.
    val docs = Seq(
      (1L, "a b c x y z"),
      (2L, "q a b c r s"),
      (3L, "u v w m n o")).toDF("doc_id", "text")
    val out = Dedup.dupNgramStrip(docs, "doc_id", "text", n = 3, minOcc = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((6L, 0L, "a b c x y z")))
    assert(out(2L) === ((6L, 3L, "q r s")))
    assert(out(3L) === ((6L, 0L, "u v w m n o")))
  }

  test("dupNgramStrip merges overlapping removed spans within a doc") {
    val sp = spark
    import sp.implicits._
    // doc 2 repeats doc 1's 4-token run: its 3-grams at pos 0 and 1 are
    // both corpus-dups → overlapping spans [0,3) and [1,4) merge to 4
    // removed tokens, not 6.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d tail words here")).toDF("doc_id", "text")
    val out = Dedup.dupNgramStrip(docs, "doc_id", "text", n = 3, minOcc = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((0L, "a b c d")))
    assert(out(2L) === ((4L, "tail words here")))
  }

  test("dupNgramStrip: short and empty docs pass through untouched") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val out = Dedup.dupNgramStrip(docs, "doc_id", "text", n = 3, minOcc = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 0L, "a b")))
    assert(out(2L) === ((0L, 0L, "")))
    assert(out(3L) === ((2L, 0L, "a b")))
  }

  test("lengthQuantiles: interpolated per-stratum bounds, outliers cut") {
    val sp = spark
    import sp.implicits._
    // en: lengths 1..100 -> p50 = 50.5, p99 = 99.01 (interpolated),
    // one row (100) above the bound; de: a single row keeps itself
    val docs = ((1 to 100).map(i => ("en", i.toLong)) :+ ("de", 7L))
      .toDF("lang", "n_chars")
    val out = TextAnalysis.lengthQuantiles(docs, "lang", "n_chars")
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en")
    assert(en.getAs[Double]("p50") === 50.5)
    assert(en.getAs[Double]("p99") === 99.01)
    assert(en.getAs[Long]("n_total") === 100L)
    assert(en.getAs[Long]("n_kept") === 99L) // only 100 exceeds p99
    val de = out("de")
    assert(de.getAs[Double]("p50") === 7.0)
    assert(de.getAs[Long]("n_kept") === 1L)
    // a NULL stratum (uncategorized docs) must appear in the report —
    // a plain equi-join key would silently drop it
    val withNull = docs.union(
      Seq((null.asInstanceOf[String], 3L), (null.asInstanceOf[String], 9L))
        .toDF("lang", "n_chars"))
    val nr = TextAnalysis.lengthQuantiles(withNull, "lang", "n_chars")
      .filter(col("lang").isNull).collect()
    assert(nr.length === 1)
    assert(nr(0).getAs[Long]("n_total") === 2L)
    // p99 of {3, 9} interpolates to 8.94 — the 9 is the cut outlier
    assert(nr(0).getAs[Long]("n_kept") === 1L)
  }

  test("scrubPii redacts emails/ips/phones, counts before replacing") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@ex-ample.org and b@x.io from 10.0.0.7 call 555-0199"),
      (2L, "nothing sensitive here at all"),
      (3L, "ip 256.1.1.1 still matches the shape; 1.2.3 does not"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"),
          r.getAs[Int]("n_phones"), r.getAs[String]("clean")))).toMap
    assert(out(1L) === ((2, 1, 1,
      "mail <EMAIL> and <EMAIL> from <IP> call <PHONE>")))
    assert(out(2L) === ((0, 0, 0, "nothing sensitive here at all")))
    // the shape-based IPv4 rule is deliberately permissive (256 ok)
    assert(out(3L)._2 === 1)
    assert(out(3L)._4.contains("<IP>") && out(3L)._4.contains("1.2.3"))
  }

  test("scrubPii treats null text like empty text") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"),
          r.getAs[Int]("n_phones"), r.getAs[String]("clean")))).toMap
    assert(out(1L) === ((0, 0, 0, "")))
    assert(out(2L) === ((0, 0, 0, "")))
  }

  test("lengthQuantiles approx flag keeps schema and shuffle geometry, " +
      "and is exact on small strata") {
    val sp = spark
    import sp.implicits._
    import graft.ops.TextAnalysis
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else null, i.toLong * 10))
      .toDF("doc_id", "lang", "n_chars")
    val exact = TextAnalysis.lengthQuantiles(docs, "lang", "n_chars")
    val approx = TextAnalysis.lengthQuantiles(docs, "lang", "n_chars",
      approx = true)
    assert(approx.schema === exact.schema)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString).size
    assert(exchanges(approx) === exchanges(exact),
      "the approx sketch must not change the plan geometry")
    // n_total / n_kept are count-exact under both forms; the null
    // stratum survives both (null-safe joins)
    val ex = exact.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(4), r.getLong(5)))).toMap
    val ap = approx.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(4), r.getLong(5)))).toMap
    assert(ap.keySet === ex.keySet)
    assert(ap(None)._1 === ex(None)._1)
    assert(ap(Some("en"))._1 === ex(Some("en"))._1)
  }

  test("maxsimBatch equals the per-query two-phase search") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Ann
    // 12 docs in two directional blobs (cosine cells), 2 tokens each
    val docs = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.1 * i, 0.0)
                 else Seq(0.0, 0.1 * i, 1.0)
      (i.toLong, Seq(base, base.map(_ * 0.5)))
    }.toDF("id", "mv")
    val withMean = docs.withColumn("mv_mean", Ann.tokenMeanCol(col("mv"), 3))
    val model = Ann.buildIvfKMeans(withMean, "mv_mean", k = 2, iters = 3)
    val assigned = Ann.assign(withMean, "mv_mean", model, Ann.Cosine)
    val queries = Seq(
      (100L, Seq(Seq(1.0, 0.0, 0.0), Seq(0.9, 0.1, 0.0))),
      (101L, Seq(Seq(0.0, 0.0, 1.0), Seq(0.1, 0.0, 0.9))),
      (102L, Seq(Seq(0.5, 0.5, 0.5), Seq(0.0, 1.0, 0.0))))
      .toDF("qid", "qv")
    val got = Ann.maxsimBatch(queries, "qid", "qv", assigned, "id",
        "mv", "mv_mean", model, dim = 3, probes = 1, refine = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq.sortBy(t => (t._1, t._4))
    // reference: loop each query through the single-query path
    val qRows = queries.as[(Long, Seq[Seq[Double]])].collect()
    val want = qRows.flatMap { case (qid, qv) =>
      val cand = Ann.maxsimCandidatesIvf(assigned, "id", "mv_mean",
        model, qv.map(_.toSeq), n = 4, probes = 1)
      assigned.join(cand, Seq("id"), "left_semi")
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(qv), col("mv")), 6))
        .orderBy(col("score").desc, col("id").asc).limit(3)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getAs[Long]("id"), r.getAs[Double]("score"), i + 1) }
    }.toSeq.sortBy(t => (t._1, t._4))
    assert(got === want)
  }

  test("fingerprint: shared shingles give overlapping min-k sketches") {
    val sp = spark
    import sp.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, a), (2L, a + " extra words here"), (3L, "nothing alike at all whatsoever"))
      .toDF("id", "text")
    val fp = df.select(col("id"),
        TextAnalysis.fingerprint(col("text"), n = 3, k = 5).as("fp"))
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1).toSet)
      .toMap
    assert(fp(1L).intersect(fp(2L)).size >= 3)
    assert(fp(1L).intersect(fp(3L)).isEmpty)
  }

  test("leakageSafeSplit: component members share one split, " +
      "unclustered docs match withSplit verbatim") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // three components: {1,2,3}->1, {50,90}->50; everything else free
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (50L, 50L), (90L, 50L))
      .toDF("id", "component")
    val w = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val safe = Sampling.leakageSafeSplit(docs, "doc_id", comps, w)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // one split per component
    assert(Set(safe(1L), safe(2L), safe(3L)).size === 1)
    assert(safe(50L) === safe(90L))
    // clustered members inherit the REPRESENTATIVE's own-id split
    val naive = Sampling.withSplit(docs, "doc_id", w)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(safe(2L) === naive(1L) && safe(90L) === naive(50L))
    // the unclustered mass is untouched
    (1L to 200L).filterNot(Set(1L, 2L, 3L, 50L, 90L)).foreach { i =>
      assert(safe(i) === naive(i), s"doc $i moved without a component")
    }
  }

  test("dsirWeights matches an independent MD5-bucket replay; " +
      "empty docs drop out") {
    val sp = spark
    import sp.implicits._
    val raw = Seq((1L, "aa aa bb"), (2L, "cc"), (3L, "aa cc bb aa"),
        (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val target = Seq((10L, "aa aa"), (11L, "aa bb")).toDF("doc_id", "text")
    val buckets = 64
    // independent replay: java MD5, first 15 hex chars as a long, mod
    def bucket(feat: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(feat.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    def feats(text: String): Seq[String] = {
      val t = Option(text).getOrElse("").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      t ++ t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val rawFeats = Map(1L -> feats("aa aa bb"), 2L -> feats("cc"),
      3L -> feats("aa cc bb aa"))
    val tgtCnt = Seq("aa aa", "aa bb").flatMap(feats)
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val rawCnt = rawFeats.values.flatten
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val (ttot, rtot) = (tgtCnt.values.sum, rawCnt.values.sum)
    def r(v: Double, s: Int) = BigDecimal(v)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lr(b: Long): Double = r(
      (math.log(tgtCnt.getOrElse(b, 0L) + 1.0) -
        math.log(ttot + buckets.toDouble)) -
      (math.log(rawCnt(b) + 1.0) - math.log(rtot + buckets.toDouble)), 9)
    val want = rawFeats.view.mapValues { fs =>
      r(fs.groupBy(bucket).map { case (b, occ) => occ.size * lr(b) }.sum, 6)
    }.toMap
    val got = TextAnalysis.dsirWeights(raw, target, "doc_id", "text",
        buckets = buckets)
      .as[(Long, Double)].collect().toMap
    assert(got === want) // docs 4 and 5 have no features: absent
  }

  test("gumbelTopK: deterministic replay of the md5-gumbel ranking, " +
      "new seed = new draw, n past corpus returns all") {
    val sp = spark
    import sp.implicits._
    val rows = (1L to 100L).map(i => (i, (i % 7).toDouble / 10))
    val df = rows.toDF("id", "logw")
    def key(seed: String)(id: Long, logw: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      BigDecimal(logw - math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def wantTop(seed: String, n: Int): Seq[Long] =
      rows.map { case (i, w) => (i, key(seed)(i, w)) }
        .sortBy { case (i, k) => (-k, i) }.take(n).map(_._1)
    val got = Sampling.gumbelTopK(df, "id", "logw", 10, "s1")
      .select("id").as[Long].collect().toSeq
    assert(got === wantTop("s1", 10))
    val other = Sampling.gumbelTopK(df, "id", "logw", 10, "s2")
      .select("id").as[Long].collect().toSeq
    assert(other === wantTop("s2", 10))
    assert(got !== other) // fresh draw under a fresh seed
    assert(Sampling.gumbelTopK(df, "id", "logw", 500, "s1").count()
      === 100L)
  }

  test("lmLogLoss matches hand-computed bigram MLE; short docs excluded") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b"), (3L, "a c"), (4L, "solo"),
        (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmLogLoss(df, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    // c2: (a,b)=2 (b,c)=1 (a,c)=1 ; c1: a=3 b=1
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    assert(got === Map(
      1L -> r6((math.log(3.0 / 2) + 0.0) / 2),
      2L -> r6(math.log(3.0 / 2)),
      3L -> r6(math.log(3.0))))
  }

  test("domainMixTable: partitions the corpus (counts sum to N), " +
      "domains in [0,k), and reruns are identical") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    // two well-separated blobs so the 2 Lloyd iterations converge
    val embs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 5.0
      (i, Seq.fill(4)(base + rng.nextDouble() * 0.1))
    }.toDF("id", "vec")
    val docs = (0L until 40L)
      .map(i => (i, if (i < 20) "en" else "de", 100L + i))
      .toDF("id", "lang", "n_chars")
    def run() = Domains.domainMixTable(docs, "id", embs, "id", "vec",
        "lang", col("n_chars"), k = 2, iters = 2)
      .as[(Long, String, Long, Double)].collect().toSeq
      .sortBy(t => (t._1, t._2))
    val a = run()
    assert(a.map(_._3).sum === 40L)
    assert(a.forall(t => t._1 >= 0 && t._1 < 2))
    assert(a.map(_._1).distinct.size === 2) // both blobs found
    assert(a === run())
  }

  test("filtered stored IVF: pred composes with probe pruning; equals " +
      "filter-then-exact within probed cells; all-probe equals filtered topK") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(31)
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(8)(rng.nextDouble() - 0.5), if (i % 3 == 0) "en" else "de")
    }.toDF("id", "vec", "lang")
    val cells = docs.withColumn("__cell", pmod(col("id"), lit(4)))
    val model = Ann.buildIvf(cells, "__cell", "vec")
    val assigned = Ann.assign(docs, "vec", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fivf_test").toString
    Ann.writePartitioned(assigned, dir)
    val q = typedlit(Seq.fill(8)(0.1))
    val got = Ann.searchIvfStored(sp, dir, "id", "vec", model, q,
        Ann.L2, probes = 2, k = 5, pred = col("lang") === "en")
      .select("id", "dist").as[(Long, Double)].collect().toSeq
    // reference: probe the same 2 cells on the in-memory assigned table,
    // filter, exact top-k
    val probed = Ann.probeCells(model, q, Ann.L2, 2)
      .collect().map(_.getLong(0)).toSet
    val want = Ann.topK(
        assigned.filter(col("centroid_id").isin(probed.toSeq: _*))
          .filter(col("lang") === "en"),
        "id", "vec", q, Ann.L2, 5)
      .select("id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(got.nonEmpty && got.forall { case (id, _) => id % 3 == 0 })
    // probing every cell makes the stored path exactly the filtered
    // brute-force top-k (pruning can only drop, never re-rank)
    val gotAll = Ann.searchIvfStored(sp, dir, "id", "vec", model, q,
        Ann.L2, probes = 4, k = 5, pred = col("lang") === "en")
      .select("id", "dist").as[(Long, Double)].collect().toSeq
    val wantAll = Ann.topK(docs.filter(col("lang") === "en"),
        "id", "vec", q, Ann.L2, 5)
      .select("id", "dist").as[(Long, Double)].collect().toSeq
    assert(gotAll === wantAll)
  }

  test("pmiCollocations: hand-computed PMI over a tiny corpus, " +
      "minCount threshold, null/empty/one-token docs contribute " +
      "nothing") {
    val sp = spark
    import sp.implicits._
    // bigrams: "big data" x3, "data lake" x2, "big sky" x1; the
    // one-token, empty and null docs must not contribute pairs
    val docs = Seq((1L, "big data lake"), (2L, "big data lake"),
        (3L, "big data"), (4L, "big sky"), (5L, "solo"), (6L, ""),
        (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "text",
        minCount = 2, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // margins over the bigram table: N=6; cl(big)=4, cr(data)=3,
    // cl(data)=2, cr(lake)=2
    def pmi(c: Long, cl: Long, cr: Long): Double =
      math.rint(math.log(c.toDouble * 6 / (cl * cr)) * 1e6) / 1e6
    assert(got(("big", "data")) === ((3L, pmi(3, 4, 3))))
    assert(got(("data", "lake")) === ((2L, pmi(2, 2, 2))))
    // "big sky" (count 1) falls under minCount
    assert(got.size === 2)
  }

  test("tfIdfKeywords: hand-computed tf-idf, per-doc top-k with term " +
      "tiebreak, smoothed idf zeroes corpus-universal terms") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "spark spark join the"), (2L, "join the lake"),
        (3L, "the the the")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfKeywords(docs, "doc_id", "text",
        topK = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(4)),
        (r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    // N=3; df: spark 1, join 2, the 3, lake 1
    def idf(df: Long): Double =
      math.rint(math.log(4.0 / (df + 1.0)) * 1e9) / 1e9
    def sc(tf: Long, df: Long): Double =
      math.rint(tf * idf(df) * 1e6) / 1e6
    assert(got((1L, 1)) === (("spark", 2L, sc(2, 1))))
    assert(got((1L, 2)) === (("join", 1L, sc(1, 2))))
    assert(got((2L, 1)) === (("lake", 1L, sc(1, 1))))
    assert(got((2L, 2)) === (("join", 1L, sc(1, 2))))
    // doc 3: only "the" — idf ln(4/4)=0, still ranked (rank 1, score 0)
    assert(got((3L, 1)) === (("the", 3L, 0.0)))
    assert(got.size === 5)
  }

  test("kCenterAssign: hand-computed greedy trajectory on a line, " +
      "min-id seed, farthest-point rounds, assignment ties to the " +
      "earlier round") {
    val sp = spark
    import sp.implicits._
    // points on a line: greedy from min-id seed 1 at x=0 picks 5
    // (x=10), then 3 (x=4, min-dist 4 beats 2's 1 and 4's 3)
    val vecs = Seq((1L, Seq(0.0)), (2L, Seq(1.0)), (3L, Seq(4.0)),
        (4L, Seq(7.0)), (5L, Seq(10.0))).toDF("vec_id", "embedding")
    val got = graft.ops.Sampling.kCenterAssign(
        vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((1L, 1, 0.0)))
    assert(got(2L) === ((1L, 1, 1.0)))
    assert(got(3L) === ((3L, 3, 0.0)))
    assert(got(4L) === ((5L, 2, 3.0)))
    assert(got(5L) === ((5L, 2, 0.0)))
    // equidistant point: x=2 sits 2 from both center 1 (round 1) and
    // center 3 (round 3) -> the EARLIER round wins the tie
    val vecs2 = vecs.unionByName(Seq((6L, Seq(2.0)))
      .toDF("vec_id", "embedding"))
    val got2 = graft.ops.Sampling.kCenterAssign(
        vecs2, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2))))
      .toMap
    assert(got2(6L) === ((1L, 1)))
    // k=1: everything assigns to the seed
    val one = graft.ops.Sampling.kCenterAssign(
        vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one.values.toSet === Set(1L))
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.kCenterAssign(vecs, "vec_id", "embedding", 0)
    }
    // k beyond the distinct vectors refuses loudly instead of
    // silently re-selecting the seed as a duplicate center
    val dups = Seq((1L, Seq(0.0)), (2L, Seq(0.0)), (3L, Seq(5.0)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.kCenterAssign(dups, "vec_id", "embedding", 3)
    }
    assert(graft.ops.Sampling.kCenterAssign(dups, "vec_id",
      "embedding", 2).count() === 3)
  }

  test("matryoshkaTopK: refine reorders the prefix ranking, the " +
      "candidate cut is a real cut, parameter guards") {
    val sp = spark
    import sp.implicits._
    // prefix = first coord; full order (b, c, d, a) disagrees with
    // prefix order (a, b, c, d)
    val vecs = Seq(
      (1L, Seq(0.1, 5.0)),  // a: best prefix, worst full
      (2L, Seq(0.2, 0.0)),  // b: true nearest
      (3L, Seq(1.0, 0.1)),  // c
      (4L, Seq(3.0, 0.0))   // d
    ).toDF("vec_id", "embedding")
    val q = Seq(0.0, 0.0)
    val got = Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q,
        dims = 1, candidates = 3, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === Seq((2L, 0.2), (3L, 1.004988)))
    // with candidates = 2 the cut keeps only {a, b}: c is gone even
    // though its full distance beats a's — the truncation contract
    val cut = Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q,
        dims = 1, candidates = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(cut.toSeq === Seq((2L, 0.2), (1L, 5.001)))
    intercept[IllegalArgumentException] {
      Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q, 3, 10, 5)
    }
    // doc vectors longer than the query refuse (wrong space), even
    // when dims fits the query
    intercept[IllegalArgumentException] {
      Ann.matryoshkaTopK(vecs, "vec_id", "embedding", Seq(0.0), 1, 3, 2)
    }
    intercept[IllegalArgumentException] {
      Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q, 1, 3, 5)
    }
  }

  test("matryoshkaTopKStored: lands exactly on the in-memory form; " +
      "missing/tampered marker and wrong-space query refuse; phase-1 " +
      "full-vector pruning is operator-enforced") {
    val sp = spark
    import sp.implicits._
    val vecs = (0L until 40L).map { i =>
      (i, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toDouble))
    }.toDF("vec_id", "embedding")
    val q = Seq(1.0, 2.0, 3.0, 4.0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_spec").toString
    graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 2, dir)
    val stored = graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id",
        q, candidates = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val mem = graft.ops.Ann.matryoshkaTopK(vecs, "vec_id", "embedding",
        q, dims = 2, candidates = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(stored.toSeq === mem.toSeq)
    // filtered form: the predicate applies before the cut, and only
    // surviving ids can appear
    val filt = graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id",
        q, candidates = 10, k = 5, pred = col("vec_id") >= 20)
      .collect().map(_.getLong(0))
    assert(filt.nonEmpty && filt.forall(_ >= 20L))
    // wrong-space query: stored dims exceed the query's dimension
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id", Seq(1.0),
        10, 5)
    }
    // a query SHORTER than the stored full vectors must refuse too
    // (it passes the dims guard; without the full-dim probe phase 2
    // would walk past the query array)
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id",
        Seq(1.0, 2.0), 10, 5)
    }
    // non-integer dims (partial marker write) refuses as unreadable,
    // never a leaked NumberFormatException
    graft.io.Markers.write(sp, dir, "_graft_matryoshka", "dims=2x")
    intercept[IllegalStateException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id", q, 10, 5)
    }
    // tampered marker refuses loudly
    graft.io.Markers.write(sp, dir, "_graft_matryoshka", "dimz~2")
    intercept[IllegalStateException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id", q, 10, 5)
    }
    // missing marker (not a matryoshka root) refuses loudly
    val bare = java.nio.file.Files
      .createTempDirectory("graft_mrl_bare").toString
    vecs.write.parquet(s"$bare/rows")
    intercept[IllegalStateException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, bare, "vec_id", q, 10, 5)
    }
  }

  test("cosine matryoshka (r77): stored lands exactly on the " +
      "in-memory form; the phase-2 score is true cosine; metric " +
      "mismatch refuses both ways; inner product refused; streamed " +
      "root pins the metric; the L2 declarative rewrite refuses " +
      "cosine roots") {
    val sp = spark
    import sp.implicits._
    // vectors with WILDLY different norms: under cosine the near-
    // duplicate direction at 100× scale must still rank first (the
    // L2 cut would put it last) — proves the reduction is real,
    // not an L2 ranking in disguise
    val vecs = Seq(
      (1L, Seq(100.0, 1.0, 0.0, 0.0)), // same direction as q, huge
      (2L, Seq(0.9, 0.1, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),   // orthogonal-ish
      (4L, Seq(-1.0, 0.0, 0.0, 0.0)),  // opposite
      (5L, Seq(2.0, 0.3, 0.0, 0.1))
    ).toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.01, 0.0, 0.0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_cos_spec").toString
    graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 2, dir,
      metric = Ann.Cosine)
    val stored = graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id",
        q, candidates = 5, k = 3, metric = Ann.Cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val mem = graft.ops.Ann.matryoshkaTopK(vecs, "vec_id", "embedding",
        q, dims = 2, candidates = 5, k = 3, metric = Ann.Cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(stored.toSeq === mem.toSeq)
    // the top hit is the same-direction huge vector, with a genuine
    // cosine distance (≈0), not an L2 one (which would be ≈99)
    assert(stored.head._1 === 1L && stored.head._3 < 0.01)
    // metric mismatch refuses BOTH ways (wrong reduction space)
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id", q, 5, 3)
    }
    val dirL2 = java.nio.file.Files
      .createTempDirectory("graft_mrl_l2_spec").toString
    graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 2, dirL2)
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKStored(sp, dirL2, "vec_id", q, 5, 3,
        metric = Ann.Cosine)
    }
    // inner product has no prefix-cut contract — refused everywhere
    intercept[IllegalArgumentException] {
      graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 2,
        java.nio.file.Files.createTempDirectory("graft_mrl_ip").toString,
        metric = Ann.InnerProduct)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q,
        dims = 2, candidates = 5, k = 3, metric = Ann.InnerProduct)
    }
    // streamed root creation pins the metric: a cos re-ensure of an
    // L2 root (or different dims) refuses; the same geometry is
    // idempotent
    val sDir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ens").toString
    graft.ops.Ann.ensureMatryoshkaRoot(sp, sDir, 2, Ann.Cosine)
    graft.ops.Ann.ensureMatryoshkaRoot(sp, sDir, 2, Ann.Cosine)
    intercept[IllegalArgumentException] {
      graft.ops.Ann.ensureMatryoshkaRoot(sp, sDir, 2)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Ann.ensureMatryoshkaRoot(sp, sDir, 3, Ann.Cosine)
    }
    // the declarative rewrite serves l2_dist plans — a cosine root
    // must refuse at registration, not first query
    intercept[IllegalArgumentException] {
      graft.plans.AnnIndex.register(graft.plans.Binding.matryoshka("embedding",
        "vec_id", dir))
    }
  }

  test("matryoshkaTopKIvf (r78): all-cells probing lands exactly on " +
      "the flat stored form; fewer probes confine the cut to probed " +
      "cells; cosine spherical form ranks by direction; metric " +
      "mismatch refuses") {
    val sp = spark
    import sp.implicits._
    val vecs = (0L until 40L).map { i =>
      (i, i % 4, Seq.tabulate(6)(j => ((i * 7 + j * 3) % 11).toDouble))
    }.toDF("vec_id", "label", "embedding")
    val q = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val model = graft.ops.Ann.buildIvf(vecs, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_spec").toString
    graft.ops.Ann.writeMatryoshkaIvf(vecs, "vec_id", "embedding", 3,
      model, dir)
    // probing EVERY cell = no pruning = the flat layout's answer
    val all = graft.ops.Ann.searchStored(
        graft.ops.Ann.cellRoot(sp, dir, None), "vec_id", q, 4, 5,
        refine = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val flatDir = java.nio.file.Files
      .createTempDirectory("graft_mrl_flat_spec").toString
    graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 3,
      flatDir)
    val flat = graft.ops.Ann.matryoshkaTopKStored(sp, flatDir,
        "vec_id", q, candidates = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(all.toSeq === flat.toSeq)
    // fewer probes: every returned id must live in a probed cell
    val probed = graft.ops.Ann.probeCells(model,
        org.apache.spark.sql.functions.typedlit(q), graft.ops.Ann.L2, 2)
      .collect().map(_.getLong(0)).toSet
    val cut = graft.ops.Ann.searchStored(
        graft.ops.Ann.cellRoot(sp, dir, None), "vec_id", q, 2, 5,
        refine = 2)
      .collect().map(_.getLong(0))
    val cellOf = graft.ops.Ann.assign(vecs, "embedding", model,
        graft.ops.Ann.L2)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cut.nonEmpty && cut.forall(id => probed.contains(cellOf(id))))
    // cosine: same-direction vector at huge norm must win
    val cvecs = Seq(
      (1L, 0L, Seq(100.0, 1.0, 0.0, 0.0)),
      (2L, 0L, Seq(0.9, 0.1, 0.1, 0.0)),
      (3L, 1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, 1L, Seq(-1.0, 0.0, 0.0, 0.0)),
      (5L, 0L, Seq(2.0, 0.3, 0.0, 0.1))
    ).toDF("vec_id", "label", "embedding")
    val cq = Seq(1.0, 0.01, 0.0, 0.0)
    val cmodel = graft.ops.Ann.buildIvf(cvecs, "label", "embedding")
    val cdir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_cos_spec").toString
    graft.ops.Ann.writeMatryoshkaIvf(cvecs, "vec_id", "embedding", 2,
      cmodel, cdir, metric = Ann.Cosine)
    val chead = graft.ops.Ann.searchStored(
        graft.ops.Ann.cellRoot(sp, cdir, None), "vec_id", cq, 2, 3,
        refine = 2)
      .collect().head
    assert(chead.getLong(0) === 1L && chead.getDouble(2) < 0.01)
    // the single-query search takes its metric from the root; a batch
    // join naming the other metric refuses (wrong reduction space)
    val batchQ = Seq((0L, cq)).toDF("q_id", "qv")
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKIvfBatch(sp, cdir, "vec_id", batchQ,
        "q_id", "qv", probes = 2, candidates = 6, k = 3)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Ann.matryoshkaTopKIvfBatch(sp, dir, "vec_id", batchQ,
        "q_id", "qv", probes = 2, candidates = 10, k = 5,
        metric = Ann.Cosine)
    }
  }

  test("appendMatryoshkaIvf: grown root indistinguishable from a " +
      "one-shot build; kept-column and schema refusals; non-root " +
      "refuses via the marker") {
    val sp = spark
    import sp.implicits._
    val all = (0L until 40L).map { i =>
      (i, i % 4, Seq.tabulate(6)(j => ((i * 7 + j * 3) % 11).toDouble))
    }.toDF("vec_id", "label", "embedding")
    val model = graft.ops.Ann.buildIvf(all, "label", "embedding")
    val q = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    // one-shot build vs half-build + append, same full-corpus model
    val oneDir = java.nio.file.Files
      .createTempDirectory("graft_mrlivf_one").toString
    graft.ops.Ann.writeMatryoshkaIvf(all, "vec_id", "embedding", 3,
      model, oneDir)
    val twoDir = java.nio.file.Files
      .createTempDirectory("graft_mrlivf_two").toString
    graft.ops.Ann.writeMatryoshkaIvf(
      all.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 3,
      model, twoDir)
    graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, twoDir, Some("embedding")),
      all.filter(col("vec_id") % 2 === 1), "vec_id")
    def search(dir: String) =
      graft.ops.Ann.searchStored(graft.ops.Ann.cellRoot(sp, dir, None),
          "vec_id", q, 4, 5, refine = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          r.getDouble(2))).toSeq
    assert(search(twoDir) === search(oneDir))
    // a stored kept column the batch lacks refuses (mixed schema)
    val keepDir = java.nio.file.Files
      .createTempDirectory("graft_mrlivf_keep").toString
    graft.ops.Ann.writeMatryoshkaIvf(
      all.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 3,
      model, keepDir, keepCols = Seq("label"))
    intercept[IllegalArgumentException] {
      graft.ops.Ann.appendIdempotent(
        graft.ops.Ann.cellRoot(sp, keepDir, Some("embedding")),
        all.filter(col("vec_id") % 2 === 1).drop("label"), "vec_id")
    }
    // with the kept column present the append lands, label intact
    graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, keepDir, Some("embedding")),
      all.filter(col("vec_id") % 2 === 1), "vec_id")
    assert(sp.read.parquet(s"$keepDir/rows")
      .filter(col("label").isNull).count() === 0L)
    // a directory without the composed marker refuses loudly
    intercept[IllegalStateException] {
      graft.ops.Ann.appendIdempotent(
        graft.ops.Ann.cellRoot(sp, java.nio.file.Files
          .createTempDirectory("graft_mrlivf_bare").toString,
          Some("embedding")),
        all, "vec_id")
    }
  }

  test("appendMatryoshkaIvfIdempotent: redelivery appends nothing, " +
      "fresh rows append, cosine roots replay in their own space, " +
      "non-roots refuse") {
    val sp = spark
    import sp.implicits._
    val all = (0L until 20L).map { i =>
      (i, i % 2, Seq.tabulate(4)(j => ((i * 5 + j) % 7).toDouble))
    }.toDF("vec_id", "label", "embedding")
    val model = graft.ops.Ann.buildIvf(all, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrlivf_idem").toString
    graft.ops.Ann.writeMatryoshkaIvf(
      all.filter(col("vec_id") < 10), "vec_id", "embedding", 2, model,
      dir)
    val batch = all.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    assert(graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, dir, Some("embedding")),
      batch, "vec_id") === 5L)
    // redelivery: zero appended, row count unchanged
    assert(graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, dir, Some("embedding")),
      batch, "vec_id") === 0L)
    assert(sp.read.parquet(s"$dir/rows").count() === 15L)
    // a PARTIAL redelivery (3 old + 5 new) appends only the new rows
    assert(graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, dir, Some("embedding")),
      all.filter(col("vec_id") >= 12), "vec_id") === 5L)
    assert(sp.read.parquet(s"$dir/rows").count() === 20L)
    // cosine root: the idempotent path assigns in the root's space
    val cdir = java.nio.file.Files
      .createTempDirectory("graft_mrlivf_idem_cos").toString
    graft.ops.Ann.writeMatryoshkaIvf(
      all.filter(col("vec_id") < 10), "vec_id", "embedding", 2, model,
      cdir, metric = Ann.Cosine)
    assert(graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, cdir, Some("embedding")),
      batch, "vec_id") === 5L)
    assert(graft.ops.Ann.appendIdempotent(
      graft.ops.Ann.cellRoot(sp, cdir, Some("embedding")),
      batch, "vec_id") === 0L)
    // non-root refuses loudly
    intercept[IllegalStateException] {
      graft.ops.Ann.appendIdempotent(
        graft.ops.Ann.cellRoot(sp, java.nio.file.Files
          .createTempDirectory("graft_idem_bare").toString, Some("embedding")),
        batch, "vec_id")
    }
  }

  test("graduated-root maintenance refusals: BM25 append pins the " +
      "layout's tokenizer, a retrained model refuses the dense-cell " +
      "append, partial redelivery appends only the new rows, " +
      "non-layouts refuse loudly") {
    val sp = spark
    import sp.implicits._
    // BM25: tokenizer identity is part of the layout
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "gamma epsilon zeta")).toDF("doc_id", "text")
    val bdir = java.nio.file.Files
      .createTempDirectory("graft_bm25_app").toString
    graft.ops.Bm25.writePostings(docs.filter(col("doc_id") < 3),
      "doc_id", "text", bdir, buckets = 8)
    val late = Seq((3L, "gamma epsilon zeta")).toDF("doc_id", "text")
    // mismatch refuses through ensureBucketsMarker (IllegalState —
    // the one marker validator)
    intercept[IllegalStateException] {
      graft.ops.Bm25.appendPostingsIdempotent(sp, bdir, late,
        "doc_id", "text",
        graft.functions.Tokenizers.wordpiece(Seq("alpha", "beta")))
    }
    assert(graft.ops.Bm25.appendPostingsIdempotent(sp, bdir, late,
      "doc_id", "text") === 1L)
    assert(graft.ops.Bm25.appendPostingsIdempotent(sp, bdir, late,
      "doc_id", "text") === 0L)
    intercept[IllegalStateException] {
      graft.ops.Bm25.appendPostingsIdempotent(sp,
        java.nio.file.Files.createTempDirectory("graft_bm25_bare")
          .toString, late, "doc_id", "text")
    }
    // dense cells: the root's fingerprint pins its model; partial
    // redelivery
    val vecs = (0L until 20L).map { i =>
      (i, i % 2, Seq.tabulate(3)(j => ((i * 3 + j) % 7).toDouble))
    }.toDF("vec_id", "label", "embedding")
    val model = graft.ops.Ann.buildIvf(vecs, "label", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_app").toString
    graft.ops.Ann.writeDenseRoot(graft.ops.Ann.assign(
      vecs.filter(col("vec_id") < 10), "embedding", model,
      graft.ops.Ann.L2), "embedding", model, graft.ops.Ann.L2, root)
    def append(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Ann.appendIdempotent(
        graft.ops.Ann.cellRoot(sp, root, None), df, "vec_id")
    val batch = vecs.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    assert(append(batch) === 5L)
    // partial redelivery (3 old + 5 new): only the new rows land
    assert(append(vecs.filter(col("vec_id") >= 12)) === 5L)
    assert(sp.read.parquet(s"$root/rows").count() === 20L)
    // a RETRAINED model swapped in as the root's centroids refuses (two
    // geometries in one layout)
    model.centroids.withColumn("centroid",
        org.apache.spark.sql.functions.transform(col("centroid"),
          x => x + lit(1.0)))
      .write.mode("overwrite").parquet(s"$root/centroids")
    intercept[IllegalStateException](append(batch))
    // a flat writePartitioned layout is not a root: it grows only
    // after graduateDenseRoot
    val flat = java.nio.file.Files
      .createTempDirectory("graft_ivf_flat").toString
    graft.ops.Ann.writePartitioned(graft.ops.Ann.assign(vecs, "embedding",
      model, graft.ops.Ann.L2), flat)
    intercept[IllegalStateException](
      graft.ops.Ann.cellRoot(sp, flat, None))
  }

  test("matryoshkaBatch agrees with the per-query explicit form on " +
      "every query; candidate bound respected") {
    val sp = spark
    import sp.implicits._
    val vecs = (0L until 25L).map { i =>
      (i, Seq.tabulate(4)(j => ((i * 11 + j * 5) % 17).toDouble))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val docs = vecs.select(col("vec_id").as("d_id"),
      col("embedding").as("dv"))
    val batch = Ann.matryoshkaBatch(qs, "q_id", "qv", docs, "d_id",
        "dv", dims = 2, candidates = 6, k = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._4)).toMap
    (0L until 3L).foreach { qid =>
      val q = vecs.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toSeq
      val solo = Ann.matryoshkaTopK(vecs, "vec_id", "embedding", q,
          dims = 2, candidates = 6, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          r.getDouble(2)))
      assert(batch(qid).map(t => (t._1, t._2, t._3)).toSeq ===
        solo.toSeq, s"query $qid diverged")
    }
    assert(batch.values.forall(_.length == 3))
    intercept[IllegalArgumentException] {
      Ann.matryoshkaBatch(qs, "q_id", "qv", docs, "d_id", "dv", 2, 2, 5)
    }
  }

  test("deleteMatryoshka: survivors intact and doomed gone through " +
      "the stored search, null pred keeps rows, no-op delete leaves " +
      "bytes, streaming and non-root layouts refuse") {
    val sp = spark
    import sp.implicits._
    val vecs = (0L until 30L).map { i =>
      (i, Seq.tabulate(4)(j => ((i * 3 + j) % 9).toDouble))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_del_spec").toString
    graft.ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 2, dir)
    val q = Seq(0.0, 0.0, 0.0, 0.0)
    assert(graft.ops.Ann.deleteMatryoshka(sp, dir,
      col("vec_id") < 10) === 10L)
    val ids = graft.ops.Ann.matryoshkaTopKStored(sp, dir, "vec_id", q,
        candidates = 30, k = 30)
      .collect().map(_.getLong(0)).toSet
    assert(ids === (10L until 30L).toSet)
    // null pred keeps rows (deleteStored semantics)
    assert(graft.ops.Ann.deleteMatryoshka(sp, dir,
      when(col("vec_id") < 0, true)) === 0L)
    // no-op delete: the directory bytes are untouched
    val rowsDir = new java.io.File(s"$dir/rows")
    val before = rowsDir.listFiles().map(_.getName).toSet
    assert(graft.ops.Ann.deleteMatryoshka(sp, dir,
      col("vec_id") === -1) === 0L)
    assert(rowsDir.listFiles().map(_.getName).toSet === before)
    // not a matryoshka root
    val bare = java.nio.file.Files
      .createTempDirectory("graft_mrl_del_bare").toString
    vecs.write.parquet(s"$bare/rows")
    intercept[IllegalStateException] {
      graft.ops.Ann.deleteMatryoshka(sp, bare, col("vec_id") < 5)
    }
    // streaming-grown layout refuses until compacted
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_mrl_del_stream").toString
    graft.io.Markers.write(sp, sdir, "_graft_matryoshka", "dims=2")
    new java.io.File(s"$sdir/rows/_spark_metadata").mkdirs()
    vecs.limit(1)
      .select(col("vec_id"), col("embedding").as("emb_pre"),
        col("embedding").as("emb_full"))
      .write.mode("append").parquet(s"$sdir/rows")
    intercept[IllegalStateException] {
      graft.ops.Ann.deleteMatryoshka(sp, sdir, col("vec_id") < 5)
    }
  }

  test("temperatureMix: hand-computed tempered rates, rare-domain " +
      "cap at 1, sample respects per-domain rates deterministically") {
    val sp = spark
    import sp.implicits._
    // 90 "en" + 10 "fr" docs: sqrt weights 9.486832981 / 3.162277660
    val docs = (0L until 100L)
      .map(i => (i, if (i < 90) "en" else "fr")).toDF("doc_id", "lang")
    val mix = graft.ops.Domains.temperatureMix(docs, "lang",
        alpha = 0.5, budget = 50)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val wEn = math.rint(math.sqrt(90.0) * 1e9) / 1e9
    val wFr = math.rint(math.sqrt(10.0) * 1e9) / 1e9
    val t = math.rint((wEn + wFr) * 1e9) / 1e9
    def norm(w: Double) = math.rint(w / t * 1e9) / 1e9
    def rate(w: Double, n: Long) =
      math.rint(math.min(1.0, 50 * norm(w) / n) * 1e6) / 1e6
    assert(mix("en") === ((90L, norm(wEn), rate(wEn, 90))))
    // fr: 50 * 0.25 / 10 = 1.25 -> capped at 1 (rare domain keeps all)
    assert(mix("fr") === ((10L, norm(wFr), 1.0)))
    val kept = graft.ops.Domains.temperatureSample(docs, "doc_id",
        "lang", alpha = 0.5, budget = 50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // all 10 fr docs survive the capped rate
    assert(kept.count(_._2 == "fr") === 10)
    // en thins: strictly fewer than 90, and re-running is identical
    val nEn = kept.count(_._2 == "en")
    assert(nEn > 0 && nEn < 90)
    val again = graft.ops.Domains.temperatureSample(docs, "doc_id",
        "lang", alpha = 0.5, budget = 50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again === kept)
    intercept[IllegalArgumentException] {
      graft.ops.Domains.temperatureMix(docs, "lang", 0.0, 50)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Domains.temperatureMix(docs, "lang", 0.5, 0)
    }
  }
}
