package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The one quantized surface over every [[Ann.QuantFamily]], SQ / PQ /
  * 1-bit × L2 / cosine: the batch join's per-query rows equal the
  * single-query search, a stored search over a written root equals the
  * in-memory search, and a root written by `writeQuantized` alone is
  * pinned by it, detected by its marker and serves its build metric. */
class QuantFamilySpec extends SparkSpecBase {

  private val rng = new scala.util.Random(23)
  private val dim = 8
  private val anchors =
    Array.fill(4)(Array.fill(dim)(rng.nextDouble() * 4 - 2))
  private lazy val corpus: Seq[(Long, Seq[Double], Int)] =
    (0 until 80).map { i =>
      val lab = i % 4
      (i.toLong, anchors(lab).map(_ + (rng.nextDouble() - 0.5) * 0.6).toSeq,
        lab)
    }

  private def df = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }

  /** One index per family — no wildcard, so a new family does not
    * compile here until this spec covers it. */
  private def build(fam: Ann.QuantFamily,
                    metric: Ann.Metric): Ann.QuantIndex = {
    val model = Ann.buildIvf(df, "label", "embedding")
    fam match {
      case Ann.Sq => Ann.buildIvfSq(df, "embedding", model, metric)
      case Ann.Pq => Ann.buildIvfPq(df, "embedding", model, 4, metric)
      case Ann.Bitq => Ann.buildIvfBitq(df, "embedding", model, metric)
    }
  }

  private val qids = Seq(2L, 29L, 47L, 76L)
  private val probes = 2
  private val k = 3

  private def single(index: Ann.QuantIndex, metric: Ann.Metric,
                     qid: Long): Seq[(Long, Double)] =
    Ann.searchQuantized(index, "vec_id", "embedding",
        typedlit(corpus(qid.toInt)._2), metric, probes, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def root(dir: String): Ann.CellRoot.Quantized =
    Ann.cellRoot(spark, dir, Some("embedding"))
      .as[Ann.CellRoot.Quantized]("QuantFamilySpec")

  /** The stored search; its metric comes from the root. */
  private def stored(dir: String, qid: Long): Seq[(Long, Double)] =
    Ann.searchStored(root(dir), "vec_id", corpus(qid.toInt)._2, probes, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq);
       metric <- Seq[Ann.Metric](Ann.L2, Ann.Cosine)) {

    test(s"$fam $metric: batch join rows equal the single-query search") {
      val index = build(fam, metric)
      val queries = df.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val batch = Ann.knnJoinQuantized(queries, "q_id", "qv", index,
          "vec_id", "embedding", metric, probes, k)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3)).toMap
      qids.foreach { qid =>
        val want = single(index, metric, qid)
        assert(want.nonEmpty)
        assert(batch(qid).map(r => (r._1, r._2)).toSeq === want,
          s"query $qid")
        assert(batch(qid).map(_._3).toSeq === (1 to want.length))
      }
    }

    test(s"$fam $metric: stored search over write and load equals the " +
        "in-memory search") {
      val index = build(fam, metric)
      val dir = tmp(s"graft_qf_$fam")
      Ann.writeQuantized(index, dir)
      val loaded = root(dir).readIndex
      assert(loaded.family == fam)
      qids.foreach { qid =>
        val want = single(index, metric, qid)
        assert(single(loaded, metric, qid) === want, s"loaded, query $qid")
        assert(stored(dir, qid) === want, s"stored, query $qid")
      }
    }

    test(s"$fam $metric: a root written without ensure*Root is detected " +
        "by layout and searched") {
      val index = build(fam, metric)
      val dir = tmp(s"graft_qf_bare_$fam")
      assert(Ann.detectCellRoot(spark, dir, None).isEmpty)
      Ann.writeQuantized(index, dir)
      assert(Ann.detectCellRoot(spark, dir, None).collect {
        case q: Ann.CellRoot.Quantized => q.family } === Some(fam))
      // the write pins the index's own spherical flag, so every family's
      // root serves its build metric
      assert(root(dir).metric === metric)
      assert(stored(dir, qids.head) === single(index, metric, qids.head))
    }
  }

  /** (build metric, a query metric outside its space) pairs. */
  private val outOfSpace = Seq[(Ann.Metric, Ann.Metric)](
    (Ann.L2, Ann.Cosine), (Ann.Cosine, Ann.L2),
    (Ann.Cosine, Ann.InnerProduct))

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq);
       (built, queried) <- outOfSpace) {
    val ops = Seq[(String, Ann.QuantIndex => Any)](
      "searchQuantized" -> (ix => Ann.searchQuantized(ix, "vec_id",
        "embedding", typedlit(corpus(qids.head.toInt)._2), queried, probes,
        k)),
      "quantizedCandidates" -> (ix => Ann.quantizedCandidates(ix, "vec_id",
        typedlit(corpus(qids.head.toInt)._2), queried, probes, k)),
      "knnJoinQuantized" -> (ix => Ann.knnJoinQuantized(
        df.filter(col("vec_id").isin(qids: _*))
          .select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        "q_id", "qv", ix, "vec_id", "embedding", queried, probes, k)))
    test(s"$fam: a $built index refuses a $queried query in every " +
        "search operator") {
      val index = build(fam, built)
      ops.foreach { case (op, run) =>
        val e = intercept[IllegalArgumentException](run(index))
        assert(e.getMessage.contains(
          s"pins spherical=${built == Ann.Cosine} but the query metric " +
            s"is $queried"), s"$op: ${e.getMessage}")
      }
    }
  }
}
