package graft.plans

import graft.SparkSpecBase
import graft.functions.{Md5SparseEmbedder, Sparse}
import org.apache.spark.sql.functions._

case class SparseDoc(doc_id: Long, si: Seq[Int], sv: Seq[Float],
                     tag: String)

/** The declarative sparse rewrite — sparse top-k as a plain
  * `orderBy(sparse_dot_q.desc).limit(k)` plan ([[Sparse.scoreColumn]]
  * + [[Binding.Sparse]]), completing the declarative layer's
  * fourth search modality. */
class SparseRewriteSpec extends SparkSpecBase {

  private val emb = Md5SparseEmbedder(dim = 512)

  private def storedCorpus() = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_rw").toString
    Seq(
      (1L, "spark shuffle join filter scan"),
      (2L, "sort merge join shuffle shuffle"),
      (3L, "hash aggregate group by plan"),
      (4L, "merge sort spill to disk sort"),
      (5L, "broadcast join small table"),
      (6L, "window partition order frame"),
      (7L, "shuffle sort merge join exchange"),
      (8L, "catalyst optimizer rule batch"))
      .toDF("doc_id", "text")
      .withColumn("__sv", udf((t: String) => emb.embed(t)).apply(col("text")))
      .select(col("doc_id"), col("__sv.indices").as("si"),
        col("__sv.values").as("sv"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def topk(df: org.apache.spark.sql.DataFrame,
                   q: graft.functions.SparseVec, k: Int) =
    df.withColumn("score",
        round(Sparse.scoreColumn(col("si"), col("sv"), q), 6))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score")

  test("SparseDotQ equals the builtin sparseDot column exactly") {
    val stored = storedCorpus()
    val q = emb.embed("shuffle join window")
    val both = stored.withColumn("a",
        Sparse.scoreColumn(col("si"), col("sv"), q))
      .withColumn("b", Sparse.sparseDot(col("si"), col("sv"),
        typedlit(q.indices), typedlit(q.values)))
      .select("doc_id", "a", "b")
      .collect()
    both.foreach(r => assert(r.getDouble(1) === r.getDouble(2),
      s"expression/builtin divergence on doc ${r.getLong(0)}"))
  }

  test("rewrite result equals the exact full-scan result") {
    val stored = storedCorpus()
    val q = emb.embed("shuffle join window")
    val exact = topk(stored, q, 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Sparse("si", "sv", "doc_id",
      () => Sparse.invertedPostings(stored, "doc_id", "si", "sv"),
      refine = 2))
    try {
      val df = topk(stored, q, 4)
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "rewrite did not engage")
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq === exact.toSeq)
    } finally AnnIndex.unregister("si")
  }

  test("a user filter between sort and leaf bails to the exact plan") {
    val stored = storedCorpus()
    val q = emb.embed("shuffle join window")
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Sparse("si", "sv", "doc_id",
      () => Sparse.invertedPostings(stored, "doc_id", "si", "sv"),
      refine = 2))
    try {
      val df = stored.filter(col("doc_id") > 4L)
        .withColumn("score",
          round(Sparse.scoreColumn(col("si"), col("sv"), q), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(3)
        .select("doc_id", "score")
      assert(!df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "k-limited candidate budgets are unsound under a user filter")
      assert(df.collect().forall(_.getLong(0) > 4L))
    } finally AnnIndex.unregister("si")
  }

  test("a score over a DIFFERENT values column does not rewrite") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_valmix").toString
    Seq((1L, "spark shuffle join"), (2L, "shuffle join window"),
        (3L, "hash aggregate plan"))
      .toDF("doc_id", "text")
      .withColumn("__sv", udf((t: String) => emb.embed(t)).apply(col("text")))
      .select(col("doc_id"), col("__sv.indices").as("si"),
        col("__sv.values").as("sv"),
        // a second, DOUBLED weights column sharing the indices
        transform(col("__sv.values"), v => v * 2f).as("sv2"))
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = emb.embed("shuffle join")
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Sparse("si", "sv", "doc_id",
      () => Sparse.invertedPostings(stored, "doc_id", "si", "sv"),
      refine = 2))
    try {
      val df = stored.withColumn("score",
          round(Sparse.scoreColumn(col("si"), col("sv2"), q), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(2).select("doc_id", "score")
      assert(!df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "a score over unregistered weights must stay the exact plan")
      // and the exact plan's scores really use sv2 (doubled)
      val viaSv = stored.withColumn("score",
          round(Sparse.scoreColumn(col("si"), col("sv"), q), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(2).select("doc_id", "score")
        .collect().map(_.getDouble(1))
      val viaSv2 = df.collect().map(_.getDouble(1))
      assert(viaSv2.toSeq === viaSv.map(_ * 2).toSeq)
    } finally AnnIndex.unregister("si")
  }

  test("Engine: a SparseIndex table searches imperatively AND " +
      "declaratively with identical results") {
    val sp = spark
    import sp.implicits._
    val reg = new graft.core.Registry(spark, java.nio.file.Files
      .createTempDirectory("graft_sparse_eng").toString)
    implicit val enc: org.apache.spark.sql.Encoder[SparseDoc] =
      org.apache.spark.sql.Encoders.product[SparseDoc]
    val td = graft.core.Spec.TableDef[SparseDoc]("sdocs",
      primaryKey = Some("doc_id"),
      indexes = Seq(graft.core.Spec.SparseIndex("si", "sv")))
    reg.register(td)
    val texts = Seq(
      (1L, "spark shuffle join filter scan"),
      (2L, "sort merge join shuffle shuffle"),
      (3L, "hash aggregate group by plan"),
      (4L, "window partition order frame"),
      (5L, "shuffle sort merge join exchange"))
    reg.copyBulk(td, texts.map { case (id, t) =>
      val v = emb.embed(t)
      SparseDoc(id, v.indices, v.values, s"t$id")
    }.toDF())
    val eng = new graft.core.Engine(reg)
    val q = emb.embed("shuffle join window")
    val imp = eng.searchBySparse(td, q, topk = 3)
    // default projection excludes both sparse payload columns
    assert(imp.columns.toSeq === Seq("doc_id", "tag", "score"))
    val impPairs = imp.select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // filtered form: the predicate thins returns before the cut, and
    // surviving scores are identical to the unfiltered search (a pure
    // dot has no corpus stats — the r59 contract on the engine)
    val allScores = eng.searchBySparse(td, q, topk = 5)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val filt = eng.searchBySparse(td, q, topk = 3,
        filter = Some(col("doc_id") > 2))
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(filt.nonEmpty && filt.forall(_._1 > 2))
    filt.foreach { case (id, sc) => assert(allScores(id) === sc) }
    eng.installDeclarative(td)
    try {
      val df = reg.table(td)
        .withColumn("score", eng.sparseScoreColumn(td, q))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(3)
        .select("doc_id", "score")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "Engine-registered sparse rewrite did not engage")
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq === impPairs)
    } finally AnnIndex.unregister("si")
  }

  test("attachStoredIndex wires registry deletes to a sparse layout") {
    val sp = spark
    import sp.implicits._
    val reg = new graft.core.Registry(spark, java.nio.file.Files
      .createTempDirectory("graft_sparse_att").toString)
    implicit val enc: org.apache.spark.sql.Encoder[SparseDoc] =
      org.apache.spark.sql.Encoders.product[SparseDoc]
    val td = graft.core.Spec.TableDef[SparseDoc]("sdocs",
      primaryKey = Some("doc_id"),
      indexes = Seq(graft.core.Spec.SparseIndex("si", "sv")))
    reg.register(td)
    reg.copyBulk(td, Seq(
      (1L, "spark shuffle join"), (2L, "shuffle join window"),
      (3L, "hash aggregate plan")).map { case (id, t) =>
      val v = emb.embed(t)
      SparseDoc(id, v.indices, v.values, s"t$id")
    }.toDF())
    val eng = new graft.core.Engine(reg)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_att_ix").toString
    Sparse.writePostings(eng.sparsePostings(td), dir, buckets = 8)
    eng.attachStoredIndex(td, dir)
    try {
      val q = emb.embed("shuffle join")
      assert(Sparse.searchStored(spark, dir, q, 10).collect()
        .map(_.getLong(0)).contains(2L))
      reg.removeBy(td, Map("doc_id" -> 2L))
      val after = Sparse.searchStored(spark, dir, q, 10).collect()
        .map(_.getLong(0))
      assert(!after.contains(2L) && after.contains(1L))
    } finally eng.detachStoredIndex(td, dir)
  }

  test("registration collisions across owners are refused") {
    AnnIndex.register(Binding.Sparse("si_x", "sv_x", "doc_id",
      () => storedCorpus(), owner = "tableA"))
    try {
      intercept[IllegalStateException] {
        AnnIndex.register(Binding.Sparse("si_x", "sv_x", "doc_id",
          () => storedCorpus(), owner = "tableB"))
      }
      // same owner re-registers in place
      AnnIndex.register(Binding.Sparse("si_x", "sv_x", "doc_id",
        () => storedCorpus(), owner = "tableA"))
    } finally AnnIndex.unregister("si_x")
  }
}
