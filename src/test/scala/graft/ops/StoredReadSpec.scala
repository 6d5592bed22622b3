package graft.ops

import graft.{JobLog, SparkSpecBase}
import graft.plans.{AnnIndex, Binding}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one stored reader over [[Ann.CellRoot]], table-driven over every
  * family: [[Ann.searchStored]] at probes 1 and at all probes equals
  * the in-memory operator over the same rows and model; a torn merge
  * makes the single-query search, the batch joins and every `Binding`
  * constructor refuse; a `centroids/` dir swapped under a pinned marker
  * refuses; a range root refuses the top-k with a typed message; a warm
  * declarative resolve runs no Spark job; and the stored range join
  * and rewrite read their radii through the listing-keyed memo. */
class StoredReadSpec extends SparkSpecBase {

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
  private def odd = docs.filter(col("vec_id") % 2 === 1)
  private val cells = 3
  private val k = 5
  private val queries = Seq(Seq(5.2, 1.3, 0.2, 1.0), Seq(0.3, 0.1, 0.4, 1.1))

  /** Quantized roots hold the even half and take the odd half as fresh
    * rows. */
  private def quantized(index: Ann.QuantIndex)(dir: String): Unit = {
    Ann.writeQuantized(index.withRows(index.rows
      .filter(col("vec_id") % 2 === 0)), dir)
    Ann.appendIdempotent(Ann.cellRoot(spark, dir, Some("embedding")), odd,
      "vec_id")
  }

  /** (name, build). */
  private val roots: Seq[(String, String => Unit)] = Seq(
    "dense L2" -> ((d: String) => Ann.writeDenseRoot(
      Ann.assign(docs, "embedding", model, Ann.L2), "embedding", model,
      Ann.L2, d)),
    "dense cosine" -> ((d: String) => Ann.writeDenseRoot(
      Ann.assign(docs, "embedding", model, Ann.Cosine), "embedding", model,
      Ann.Cosine, d)),
    "composed L2" -> ((d: String) => Ann.writeMatryoshkaIvf(docs, "vec_id",
      "embedding", dims = 2, model, d)),
    "composed cosine" -> ((d: String) => Ann.writeMatryoshkaIvf(docs,
      "vec_id", "embedding", dims = 2, model, d, metric = Ann.Cosine)),
    "SQ pinned" -> quantized(
      Ann.buildIvfSq(docs, "embedding", model, Ann.L2)),
    "PQ pinned cosine" -> quantized(
      Ann.buildIvfPq(docs, "embedding", model, m = 2, Ann.Cosine)),
    "1-bit pinned" -> quantized(
      Ann.buildIvfBitq(docs, "embedding", model, Ann.L2)),
    "SQ writeQuantized-only" -> ((d: String) => Ann.writeQuantized(
      Ann.buildIvfSq(docs, "embedding", model, Ann.L2), d)),
    "range" -> ((d: String) => Ann.writeRangeIndex(
      Ann.assign(docs, "embedding", model, Ann.L2), "embedding", model, d))
  )

  private def build(name: String, f: String => Unit): Ann.CellRoot = {
    val dir = tmp(s"graft-stored-${name.replace(' ', '-')}")
    f(dir)
    Ann.cellRoot(spark, dir, Some("embedding"))
  }

  private def rows(df: DataFrame, n: Int): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.take(n)).toSeq

  /** The in-memory operator over the same rows and model, probed by the
    * job form [[Ann.probeCells]] — (id, dist) rows; the composed root
    * adds pre_dist in the middle. */
  private def reference(root: Ann.CellRoot, q: Seq[Double],
                        probes: Int): Seq[Seq[Any]] = {
    val model = root.readModel
    def probed(m: Ann.IvfModel, qp: Seq[Double], metric: Ann.Metric) =
      Ann.probeCells(m, typedlit(qp), metric, probes)
        .collect().map(_.getLong(0))
    root match {
      case r: Ann.CellRoot.Dense =>
        val in = probed(model, q, r.metric)
        rows(Ann.topK(spark.read.parquet(s"${r.dir}/rows")
            .filter(col("centroid_id").isin(in: _*)), "vec_id",
          "embedding", typedlit(q), r.metric, k)
          .select("vec_id", "dist"), 2)
      case r: Ann.CellRoot.MrlIvf =>
        val cos = r.metric == Ann.Cosine
        val in = probed(if (cos) Ann.normalizeModel(model) else model,
          if (cos) Ann.normalizeSeq(q) else q, Ann.L2)
        rows(Ann.matryoshkaTopK(spark.read.parquet(s"${r.dir}/rows")
            .filter(col("centroid_id").isin(in: _*)), "vec_id", "emb_full",
          q, dims = r.dims, candidates = k * 5, k = k, metric = r.metric)
          .select("vec_id", "pre_dist", "dist"), 3)
      case r: Ann.CellRoot.Quantized =>
        val art = r.family.artifacts(spark, r.dir, model, r.spherical)
        val main = art.unpack(spark.read.parquet(s"${r.dir}/${r.dataSub}"))
        val fresh = new java.io.File(s"${r.dir}/fresh")
        val all = if (!fresh.exists()) main else main.unionByName(
          art.unpack(art.encode(spark.read.parquet(s"${r.dir}/fresh")
            .drop("centroid_id"), "embedding", r.metric))
            .select(main.columns.map(col): _*))
        rows(Ann.searchQuantized(art.withRows(all), "vec_id", "embedding",
          typedlit(q), r.metric, probes, k), 2)
      case _: Ann.CellRoot.Range => fail("a range root has no top-k")
    }
  }

  private def stored(root: Ann.CellRoot, q: Seq[Double],
                     probes: Int): Seq[Seq[Any]] = {
    val df = Ann.searchStored(root, "vec_id", q, probes, k)
    root match {
      case _: Ann.CellRoot.MrlIvf =>
        rows(df.select("vec_id", "pre_dist", "dist"), 3)
      case _ => rows(df.select("vec_id", "dist"), 2)
    }
  }

  /** Every reader of `root` that must refuse a torn or swapped root. */
  private def readers(root: Ann.CellRoot): Seq[(String, () => Any)] = {
    val (sp, dir) = (spark, root.dir)
    val qs = {
      import sp.implicits._
      Seq((0L, queries.head)).toDF("q_id", "qv")
    }
    val single = "searchStored" -> (() =>
      Ann.searchStored(root, "vec_id", queries.head, cells, k).collect())
    root match {
      case _: Ann.CellRoot.Dense => Seq(single,
        "denseRoot" -> (() => Binding.denseRoot(sp, dir, cells)),
        "denseRootDistributed" -> (() =>
          Binding.denseRootDistributed(sp, dir, cells)))
      case r: Ann.CellRoot.MrlIvf => Seq(single,
        "matryoshkaTopKIvfBatch" -> (() => Ann.matryoshkaTopKIvfBatch(sp,
          dir, "vec_id", qs, "q_id", "qv", cells, 10, k,
          metric = r.metric).collect())) ++
        (if (r.metric == Ann.L2) Seq("matryoshkaIvf" -> (() =>
          Binding.matryoshkaIvf("embedding", "vec_id", dir, cells)))
        else Nil)
      case r: Ann.CellRoot.Quantized => Seq(single,
        "knnJoinQuantizedFresh" -> (() => Ann.knnJoinQuantizedFresh(sp,
          dir, qs, "q_id", "qv", "vec_id", "embedding", r.metric, cells,
          k).collect()),
        "quantizedRoot" -> (() =>
          Binding.quantizedRoot(sp, dir, "embedding", "vec_id", cells)))
      case _: Ann.CellRoot.Range => Seq(
        "rangeSearchStoredSelf" -> (() => Ann.rangeSearchStoredSelf(sp,
          dir, "vec_id", "embedding", typedlit(queries.head), 1.0)
          .collect()),
        "rangeJoinIvfStored" -> (() => Ann.rangeJoinIvfStored(sp, dir,
          qs.withColumn("eps", lit(1.0)), "q_id", "qv", "eps", "vec_id",
          "embedding").collect()),
        "rangeRoot" -> (() => Binding.rangeRoot(sp, dir, "embedding")),
        "rangeRootDistributed" -> (() =>
          Binding.rangeRootDistributed(sp, dir, "embedding")))
    }
  }

  for ((name, f) <- roots if name != "range") {
    test(s"$name: searchStored equals the in-memory operator at probes " +
        "1 and at all probes") {
      val root = build(name, f)
      for (q <- queries; probes <- Seq(1, cells)) {
        val want = reference(root, q, probes)
        assert(want.nonEmpty)
        assert(stored(root, q, probes) === want, s"probes=$probes q=$q")
      }
    }
  }

  for ((name, f) <- roots) {
    test(s"$name: a torn merge and a swapped centroids dir refuse every " +
        "reader") {
      val root = build(name, f)
      readers(root).foreach { case (_, read) => read() }
      graft.io.Markers.write(spark, root.dir, "_graft_merge_pending", "")
      readers(root).foreach { case (who, read) =>
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains("torn cell merge"), who)
      }
      graft.io.Markers.remove(spark, root.dir, "_graft_merge_pending")
      // a retrained model swapped in under the pinned fingerprint
      Ann.buildIvf(docs.withColumn("label", (col("label") + 1) % 3),
          "label", "embedding")
        .centroids.write.mode("overwrite").parquet(s"${root.dir}/centroids")
      readers(root).foreach { case (who, read) =>
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains("different IVF model"), who)
      }
    }
  }

  test("range: searchStored refuses with the typed message") {
    val root = build("range", roots.toMap.apply("range"))
    val e = intercept[IllegalStateException](
      Ann.searchStored(root, "vec_id", queries.head, cells, k))
    assert(e.getMessage.contains("range root") &&
      e.getMessage.contains("rangeSearchStoredSelf"))
  }

  test("a warm declarative resolve over a dense and a composed root " +
      "launches no Spark job") {
    val dense = build("dense L2", roots.toMap.apply("dense L2"))
    val probe = Binding.denseRoot(spark, dense.dir, cells)
    val composed = build("composed L2", roots.toMap.apply("composed L2"))
    val mrl = Binding.matryoshkaIvf("embedding", "vec_id", composed.dir,
      cells)
    // and a range root: its radii come from the listing-keyed memo
    // without a parquet frame, so no schema-inference job either
    val range = Binding.rangeRoot(spark,
      build("range", roots.toMap.apply("range")).dir, "embedding")
    for (resolve <- Seq(() => probe.cents(), () => mrl.cents(),
        () => range.cents())) {
      assert(resolve().length === cells) // cold: collects the centroids
      val (warm, jobs) = JobLog.of(spark)(resolve())
      assert(warm.length === cells)
      assert(jobs.isEmpty, JobLog.render(jobs))
    }
  }

  test("a warm stored range join collects no radii: the join reads them " +
      "through the listing-keyed memo") {
    val root = build("range", roots.toMap.apply("range"))
    val qs = {
      val sp = spark
      import sp.implicits._
      queries.zipWithIndex.map { case (q, i) => (i.toLong, q, 1.0) }
        .toDF("q_id", "qv", "eps")
    }
    def join() = Ann.rangeJoinIvfStored(spark, root.dir, qs, "q_id", "qv",
      "eps", "vec_id", "embedding").collect()
    val cold = join()
    val (warm, jobs) = JobLog.of(spark)(join())
    assert(warm.toSeq === cold.toSeq && cold.nonEmpty)
    // the rows read's schema inference and the join's four jobs; a
    // radii frame per call would add its schema inference, a radii
    // collect per call one more
    assert(jobs.length <= 5, JobLog.render(jobs))
  }

  test("rangeRoot rewrite returns a row an append placed beyond its " +
      "cell's old radius") {
    val root = build("range", roots.toMap.apply("range"))
    val dir = root.dir
    val sp = spark
    import sp.implicits._
    val far = Seq(4.0, 0.0, 0.0, 30.0)
    def declarative() = spark.read.parquet(s"$dir/rows")
      .filter(round(org.apache.spark.sql.graft.VecExprs.l2Dist(
        col("embedding"), typedlit(far)), 6) <= 0.5)
      .select("vec_id")
    AnnIndex.install(spark)
    AnnIndex.register(Binding.rangeRoot(spark, dir, "embedding"))
    try {
      // warm: the radii memo holds the pre-append radii
      assert(declarative().count() === 0L)
      assert(Ann.appendIdempotent(root, Seq((900L, far, 0))
        .toDF("vec_id", "embedding", "label"), "vec_id") === 1L)
      val plan = declarative().queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        plan.contains("centroid_id"), plan)
      assert(declarative().as[Long].collect().toSeq === Seq(900L))
    } finally AnnIndex.unregister("embedding")
  }
}
