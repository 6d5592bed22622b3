package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Product quantization: codebook slicing, positional-code argmin with
  * its tie rule, ADC-vs-naive reconstruction identity, the two-phase
  * search contract, and the KMeans trainer's determinism. */
class PqSpec extends SparkSpecBase {

  private val rng = new scala.util.Random(11)
  private val dim = 16
  private val m = 4

  // 3 well-separated anchors + noise: labels seed meaningful codebooks
  private val anchors = Array.fill(3)(Array.fill(dim)(rng.nextDouble() * 4))
  private lazy val corpus: Seq[(Long, Seq[Double], Int)] =
    (0 until 60).map { i =>
      val lab = i % 3
      val v = anchors(lab).map(_ + (rng.nextDouble() - 0.5) * 0.2).toSeq
      (i.toLong, v, lab)
    }

  private def df = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }

  private def naiveAdc(v: Seq[Double], codes: Seq[Int],
                       model: Ann.PqModel): Double = {
    var d = 0.0
    for (s <- 0 until model.m) {
      val cent = model.codebooks(s)(codes(s))._2
      for (j <- 0 until model.subDim) {
        val t = v(s * model.subDim + j) - cent(j)
        d += t * t
      }
    }
    math.sqrt(d)
  }

  test("buildPq slices label-mean codebooks; encode is the strict-< argmin") {
    val model = Ann.buildPq(df, "label", "embedding", m)
    assert(model.m == m && model.subDim == dim / m)
    assert(model.codebooks.forall(_.length == 3))
    val enc = Ann.encodePq(df, "embedding", model)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // tight clusters: every subspace code should equal the row's label's
    // positional slot (labels 0,1,2 are id-sorted → slot == label)
    corpus.foreach { case (id, _, lab) =>
      assert(enc(id) == Seq.fill(m)(lab),
        s"row $id (label $lab) coded ${enc(id)}")
    }
  }

  test("encode ties break to the smaller slot") {
    val sp = spark
    import sp.implicits._
    // two identical codebook entries (labels 0 and 1 share every row
    // vector) → argmin dist ties exactly → slot 0 must win
    val rows = Seq((0L, Seq.fill(dim)(1.0), 0), (1L, Seq.fill(dim)(1.0), 1))
      .toDF("vec_id", "embedding", "label")
    val model = Ann.buildPq(rows, "label", "embedding", m)
    val codes = Ann.encodePq(rows, "embedding", model)
      .select("pq_codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(_ == Seq.fill(m)(0)))
  }

  test("pqAdcDist equals the naive reconstruction distance") {
    val model = Ann.buildPq(df, "label", "embedding", m)
    val enc = Ann.encodePq(df, "embedding", model)
    val q = corpus(7)._2
    val got = enc
      .select(col("vec_id"),
        Ann.pqAdcDist(q, col("pq_codes"), model).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val codes = enc.select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    corpus.foreach { case (id, v, _) =>
      val expect = naiveAdc(q, codes(id), model)
      assert(math.abs(got(id) - expect) < 1e-9,
        s"row $id adc ${got(id)} vs naive $expect")
    }
  }

  test("searchPq re-ranks exactly and stays within the refine set") {
    val model = Ann.buildPq(df, "label", "embedding", m)
    val enc = Ann.encodePq(df, "embedding", model)
    val q = corpus(7)._2
    val res = Ann.searchPq(enc, "vec_id", "embedding", "pq_codes",
      model, q, Ann.L2, k = 5, refine = 4).collect()
    assert(res.length == 5)
    // dist column is the EXACT metric, ascending, ids break ties
    val dists = res.map(_.getDouble(1))
    assert(dists.sameElements(dists.sorted))
    // phase-1 candidates: top-20 by ADC; results must be a subset
    val adcTop = enc
      .withColumn("qdist", Ann.pqAdcDist(q, col("pq_codes"), model))
      .orderBy(col("qdist").asc, col("vec_id").asc).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(res.map(_.getLong(0)).forall(adcTop.contains))
  }

  test("query dim mismatch is refused") {
    val model = Ann.buildPq(df, "label", "embedding", m)
    intercept[IllegalArgumentException] {
      Ann.pqAdcDist(Seq(1.0, 2.0), col("pq_codes"), model)
    }
  }

  test("searchIvfPq L2: probed ADC + re-rank recovers the exact top-k") {
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.L2)
    assert(!idx.spherical)
    val q = corpus(4)._2
    val got = Ann.searchQuantized(idx, "vec_id", "embedding", typedlit(q),
      Ann.L2, probes = 2, k = 5, refine = 6).collect()
    assert(got.length == 5)
    val exact = Ann.topK(df, "vec_id", "embedding", typedlit(q),
      Ann.L2, 5).select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(r => (r.getLong(0), r.getDouble(1)))
      .sameElements(exact))
  }

  test("searchIvfPq cosine runs spherical; re-rank dist is true cosine") {
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.Cosine)
    assert(idx.spherical)
    // the raw vector column survives un-normalized for the re-rank
    assert(!idx.encoded.columns.contains("__nvec"))
    val q = corpus(4)._2
    val got = Ann.searchQuantized(idx, "vec_id", "embedding", typedlit(q),
      Ann.Cosine, probes = 3, k = 5, refine = 12).collect()
    val exact = Ann.topK(df, "vec_id", "embedding", typedlit(q),
      Ann.Cosine, 5).select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(r => (r.getLong(0), r.getDouble(1)))
      .sameElements(exact))
  }

  test("writeIvfPq/loadIvfPq round-trips geometry, codebooks and codes") {
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.Cosine)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_rt").toString
    Ann.writeQuantized(idx, dir)
    val root = Ann.cellRoot(spark, dir, Some("embedding"))
      .as[Ann.CellRoot.Quantized]("PqSpec")
    val loaded = root.readIndex.asInstanceOf[Ann.IvfPqIndex]
    assert(loaded.pq.m == idx.pq.m &&
      loaded.pq.subDim == idx.pq.subDim &&
      loaded.spherical == idx.spherical)
    for (s <- 0 until m)
      assert(loaded.pq.codebooks(s).map { case (id, v) => (id, v.toSeq) }
        .sameElements(idx.pq.codebooks(s)
          .map { case (id, v) => (id, v.toSeq) }))
    // stored search == in-memory search, and a layout without the
    // geometry marker is refused
    val q = corpus(9)._2
    val mem = Ann.searchQuantized(idx, "vec_id", "embedding", typedlit(q),
      Ann.Cosine, probes = 2, k = 5, refine = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val stored = Ann.searchStored(root, "vec_id", q, 2, 5, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(stored.sameElements(mem))
    val bare = java.nio.file.Files
      .createTempDirectory("graft_pq_bare").toString
    val e = intercept[IllegalStateException](Ann.cellRoot(spark, bare, None))
    assert(e.getMessage.contains("marker"))
  }

  test("knnJoinIvfPq replays per-query searchIvfPq in one job") {
    val sp = spark
    import sp.implicits._
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.L2)
    val qids = Seq(3L, 17L, 31L, 45L)
    val queries = df.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Ann.knnJoinQuantized(queries, "q_id", "qv", idx, "vec_id",
      "embedding", Ann.L2, probes = 2, k = 3, refine = 6)
    // the caller's qId/dId names survive into the output schema
    assert(got.columns.toSeq == Seq("q_id", "vec_id", "dist", "rank"))
    val byQ = got.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap
    qids.foreach { qid =>
      val q = corpus(qid.toInt)._2
      val single = Ann.searchQuantized(idx, "vec_id", "embedding",
        typedlit(q), Ann.L2, probes = 2, k = 3, refine = 6).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(byQ(qid).sameElements(single),
        s"query $qid: batch ${byQ(qid).toSeq} vs single ${single.toSeq}")
    }
  }

  test("knnJoinIvfPqCos replays per-query spherical searchIvfPq") {
    val sp = spark
    import sp.implicits._
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.Cosine)
    val qids = Seq(5L, 23L, 41L)
    val queries = df.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val got = Ann.knnJoinQuantized(queries, "q_id", "qv", idx, "vec_id",
        "embedding", Ann.Cosine, probes = 3, k = 3, refine = 6)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap
    qids.foreach { qid =>
      val q = corpus(qid.toInt)._2
      val single = Ann.searchQuantized(idx, "vec_id", "embedding",
        typedlit(q), Ann.Cosine, probes = 3, k = 3, refine = 6).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got(qid).sameElements(single),
        s"query $qid: batch ${got(qid).toSeq} vs single ${single.toSeq}")
    }
    // and the L2 form refuses the spherical index
    val e = intercept[IllegalArgumentException] {
      Ann.knnJoinQuantized(queries, "q_id", "qv", idx, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3)
    }
    assert(e.getMessage.contains("metric = Cosine"))
  }

  test("knnJoinIvfPq refuses a spherical index") {
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfPq(df, "embedding", model, m, Ann.Cosine)
    val sp = spark
    import sp.implicits._
    val queries = df.limit(2)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val e = intercept[IllegalArgumentException] {
      Ann.knnJoinQuantized(queries, "q_id", "qv", idx, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3)
    }
    assert(e.getMessage.contains("L2"))
  }

  test("out-of-range codes yield +Inf ADC distance, never rank first") {
    val model = Ann.buildPq(df, "label", "embedding", m)
    val sp = spark
    import sp.implicits._
    // one row whose codes point past the 3-entry codebooks — a
    // truncated-codebooks layout must sink, not float, such rows
    val rows = Seq((0L, Seq.fill(m)(0)), (1L, Seq.fill(m)(99)))
      .toDF("vec_id", "pq_codes")
    val q = corpus(0)._2
    val got = rows
      .select(col("vec_id"),
        Ann.pqAdcDist(q, col("pq_codes"), model).as("adc"))
      .orderBy(col("adc").asc)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.head._1 == 0L && !got.head._2.isInfinite)
    assert(got.last._1 == 1L && got.last._2.isPosInfinity)
  }

  test("buildPqKMeans is deterministic and recall-dominates on clusters") {
    val model1 = Ann.buildPqKMeans(df, "embedding", m, k = 3, iters = 3)
    val model2 = Ann.buildPqKMeans(df, "embedding", m, k = 3, iters = 3)
    for (s <- 0 until m) {
      val a = model1.codebooks(s).map { case (id, v) => (id, v.toSeq) }
      val b = model2.codebooks(s).map { case (id, v) => (id, v.toSeq) }
      assert(a.sameElements(b), s"subspace $s codebooks differ across runs")
    }
    // on a 3-cluster corpus the trained PQ search must recover the
    // exact top-5 (ADC phase only has to rank the right cluster first)
    val enc = Ann.encodePq(df, "embedding", model1)
    val q = corpus(10)._2
    val got = Ann.searchPq(enc, "vec_id", "embedding", "pq_codes",
      model1, q, Ann.L2, k = 5, refine = 6)
      .collect().map(_.getLong(0)).toSet
    val exact = Ann.topK(df, "vec_id", "embedding",
      typedlit(q), Ann.L2, 5).collect().map(_.getLong(0)).toSet
    assert(got == exact, s"trained-PQ top-5 $got != exact $exact")
  }
}
