package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ann

/** ANN recall-curve smoke: recall@10 vs probe budget for the three
  * index types (plain IVF, IVF+SQ, IVF+1-bit) against the exact
  * brute-force top-10, under BOTH metrics the quantized family
  * supports — L2 and cosine (the spherical normalize-then-L2 build).
  * This is the measured form of the engine's approximate-search
  * contract (speed is benched by graft.Bench; recall was previously
  * only unit-asserted). Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.RecallSmoke"
  *
  * Prints one JSON line per (metric, index, probes) cell; results are
  * recorded in SURVEY.md §8. The probe ladder ends at lists (all cells
  * probed), where plain IVF recall MUST be 1.0 and the quantized types
  * approach it bounded by their refine budget — a built-in sanity row.
  */
object RecallSmoke {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val lists = sys.env.getOrElse("SPARK_GRAFT_LISTS", "32").toInt
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "20").toInt
    val k = 10
    // SPARK_GRAFT_REFINE overrides BOTH index types (ladder runs);
    // unset = each type's own default (SQ 5, 1-bit per-metric auto —
    // Ann.defaultBitqRefine, sized from this smoke's measured ladder)
    val refineEnv = sys.env.get("SPARK_GRAFT_REFINE").map(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").persist()
    val n = e.count()
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .persist()
    val qVecs: Seq[(Long, Seq[Double])] = queries
      .select(col("q_id"), col("qv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      .sortBy(_._1)

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    def runMetric(metric: Ann.Metric, label: String): Unit = {
      val model = Ann.buildIvfKMeans(e, "embedding", lists, metric)
      val assigned = Ann.assign(e, "embedding", model, metric).persist()
      assigned.count()
      val sqBuilt = Ann.buildIvfSq(e, "embedding", model, metric)
      val sq = sqBuilt.copy(quantized = sqBuilt.quantized.persist(),
        bounds = sqBuilt.bounds.persist())
      val bitBuilt = Ann.buildIvfBitq(e, "embedding", model, metric)
      val bitq = bitBuilt.copy(quantized = bitBuilt.quantized.persist())

      // exact truth: one batch kNN join under this metric
      val truth: Map[Long, Set[Long]] = Ann.knnJoin(queries, "q_id", "qv",
          e.select(col("vec_id").as("d_id"), col("embedding").as("dv")),
          "d_id", "dv", metric, k)
        .select("q_id", "d_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }

      def recallOf(got: Map[Long, Set[Long]]): Double = {
        val per = truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).count(t) / k.toDouble }
        per.sum / per.size
      }

      val sqRefine = refineEnv.getOrElse(5)
      val bitqRefine = refineEnv.getOrElse(Ann.defaultBitqRefine(metric))
      val rows =
        scala.collection.mutable.ArrayBuffer[(String, Int, Double, Int)]()
      for (probes <- Seq(2, 8, lists)) {
        // plain IVF: the batch join covers all queries in one job
        val ivfGot = Ann.knnJoinIvf(queries, "q_id", "qv",
            assigned.select(col("vec_id").as("d_id"),
              col("embedding").as("dv"), col("centroid_id")),
            "d_id", "dv", model, metric, probes, k)
          .select("q_id", "d_id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        rows += (("ivf", probes, recallOf(ivfGot), 1))
        // quantized types: per-query two-phase searches
        def perQuery(search: Seq[Double] => Array[Long]):
            Map[Long, Set[Long]] =
          qVecs.map { case (q, v) => q -> search(v).toSet }.toMap
        rows += (("ivf_sq", probes, recallOf(perQuery(v =>
          Ann.searchQuantized(sq, "vec_id", "embedding", typedlit(v), metric,
              probes, k, sqRefine)
            .select("vec_id").collect().map(_.getLong(0)))), sqRefine))
        rows += (("ivf_bitq", probes, recallOf(perQuery(v =>
          Ann.searchQuantized(bitq, "vec_id", "embedding", typedlit(v),
              metric, probes, k, bitqRefine)
            .select("vec_id").collect().map(_.getLong(0)))), bitqRefine))
      }
      rows.foreach { case (ix, p, r, rf) =>
        println(s"""{"smoke":"recall","metric":"$label","index":"$ix",""" +
          s""""probes":$p,"recall_at_10":${fmt(r)},"lists":$lists,""" +
          s""""n":$n,"queries":${qVecs.length},"refine":$rf}""")
      }
      // all-probe sanity: plain IVF must be exact
      val allProbe = rows.find(r => r._1 == "ivf" && r._2 == lists).get._3
      require(allProbe == 1.0,
        s"$label IVF with probes=lists must be exact, got $allProbe")
      Seq(assigned, sq.quantized, sq.bounds, bitq.quantized)
        .foreach(_.unpersist(false))
    }

    runMetric(Ann.L2, "l2")
    runMetric(Ann.Cosine, "cos")

    // Multivec maxsim phase-1 recall: docs are per-vec_id 2-token
    // matrices [emb, reverse(emb)], the IVF is the spherical token-mean
    // build (Ann.buildMaxsimIvf). `got` runs the engine's two-phase
    // path (probed-cell candidates by persisted-mean dot, exact maxsim
    // re-rank); truth is exact maxsim over every doc. The sanity cell
    // probes ALL cells with refine=n, where the two-phase path must be
    // exact by construction.
    {
      val dim = e.select(size(col("embedding"))).head.getInt(0)
      val docs = e.select(col("vec_id"),
        array(col("embedding").cast("array<double>"),
          reverse(col("embedding")).cast("array<double>")).as("mv"))
      val (assigned0, model) = Ann.buildMaxsimIvf(docs, "mv", dim, lists)
      val assigned = assigned0.persist()
      assigned.count()
      val refine = refineEnv.getOrElse(100)
      def exactTop(q: Seq[Seq[Double]], base: DataFrame): Set[Long] =
        base.withColumn("s", org.apache.spark.sql.graft.VecExprs
            .maxSimDot(typedlit(q), col("mv")))
          .orderBy(col("s").desc, col("vec_id").asc).limit(k)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      val qsets: Seq[(Long, Seq[Seq[Double]])] =
        qVecs.map { case (id, v) => id -> Seq(v, v.reverse) }
      val truth = qsets.map { case (id, q) => id -> exactTop(q, docs) }
        .toMap
      def cell(probes: Int, rf: Int): Double = {
        val per = qsets.map { case (id, q) =>
          val cands = Ann.maxsimCandidatesIvf(assigned, "vec_id",
              "mv_mean", model, q, rf, probes)
            .withColumnRenamed("vec_id", "__cid")
          val pruned = assigned.join(broadcast(cands),
            col("vec_id") === col("__cid"), "left_semi")
          truth(id).count(exactTop(q, pruned)) / k.toDouble
        }
        per.sum / per.size
      }
      for (probes <- Seq(2, 8, lists)) {
        val r = cell(probes, refine)
        println(s"""{"smoke":"recall","metric":"maxsim","index":""" +
          s""""maxsim_ivf","probes":$probes,"recall_at_10":${fmt(r)},""" +
          s""""lists":$lists,"n":$n,"queries":${qVecs.length},""" +
          s""""refine":$refine}""")
      }
      val sanity = cell(lists, n.toInt)
      require(sanity == 1.0,
        s"maxsim IVF with probes=lists and refine=n must be exact, " +
          s"got $sanity")
      assigned.unpersist(false)
    }
    spark.stop()
  }
}
