package graft.plans

import graft.{JobLog, SparkSpecBase}
import graft.ops.Bm25
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._

/** The declarative BM25 rewrite — keyword search as a plain
  * `orderBy(bm25_score.desc).limit(k)` plan ([[Bm25.scoreColumn]] +
  * [[Binding.Bm25]]), the fourth query shape of the
  * declarative layer. */
class Bm25RewriteSpec extends SparkSpecBase {

  private def corpus = {
    val sp = spark
    import sp.implicits._
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
  }

  test("scoreColumn brute evaluation matches the operator path's scores") {
    val docs = corpus
    val idx = Bm25.build(docs, "doc_id", "text")
    val brute = docs
      .withColumn("score", Bm25.scoreColumn(idx, "shuffle sort merge",
        col("text")))
      .filter(col("score") > 0)
      .select("doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val op = Bm25.search(idx, "shuffle sort merge", k = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(brute === op) // same docs, same rounded scores
    idx.postings.unpersist(false)
  }

  test("registered text column: sort+limit rewrites to the postings " +
      "semi-join, result equals brute top-k, fixpoint holds") {
    val docs = corpus.localCheckpoint(true) // stable leaf for the rule
    val idx = Bm25.build(docs, "doc_id", "text")
    val scoreCol = Bm25.scoreColumn(idx, "shuffle sort merge", col("text"))
    def plan(k: Int) = docs
      .withColumn("score", scoreCol)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "score")
    // brute answer BEFORE registration (no rewrite installed)
    val brute = plan(3).collect().map(_.toSeq).toSeq
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Bm25("text", "doc_id", () => idx, refine = 2))
    try {
      val df = plan(3)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.toString.contains("LeftSemi"),
        s"bm25 rewrite did not engage:\n$opt")
      assert(df.collect().map(_.toSeq).toSeq === brute)
      // idempotence on the rule's own output
      val once = AnnTopKRule()(df.queryExecution.analyzed)
      val twice = AnnTopKRule()(once)
      assert(once.fastEquals(twice),
        s"bm25 rewrite not idempotent:\nonce: $once\ntwice: $twice")
    } finally {
      AnnIndex.unregister("text")
      idx.postings.unpersist(false)
    }
  }

  test("planning a rewritten BM25 plan runs one job, the df count: " +
      "optimizedPlan and explain each run it, collect adds the scan") {
    val docs = corpus.localCheckpoint(true)
    val idx = Bm25.build(docs, "doc_id", "text")
    val scoreCol = Bm25.scoreColumn(idx, "shuffle sort merge", col("text"))
    def plan = docs
      .withColumn("score", scoreCol)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(3)
      .select("doc_id", "score")
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Bm25("text", "doc_id", () => idx, refine = 2))
    try {
      plan.collect() // the postings memo and codegen
      val (_, optimized) = JobLog.of(spark)(plan.queryExecution.optimizedPlan)
      assert(optimized.length == 1, JobLog.render(optimized))
      val (_, explained) = JobLog.of(spark)(
        plan.queryExecution.explainString(SimpleMode))
      assert(explained.length == 1, JobLog.render(explained))
      val (_, collected) = JobLog.of(spark)(plan.collect())
      assert(collected.length == 3, JobLog.render(collected))
    } finally {
      AnnIndex.unregister("text")
      idx.postings.unpersist(false)
    }
  }

  test("same-named text columns on two tables: each plan resolves its " +
      "own registration via its id column") {
    val sp = spark
    import sp.implicits._
    val a = corpus.localCheckpoint(true)
    val b = Seq((10L, "shuffle everywhere shuffle again"),
        (11L, "nothing relevant here at all"))
      .toDF("cid", "text").localCheckpoint(true)
    val idxA = Bm25.build(a, "doc_id", "text")
    val idxB = Bm25.build(b, "cid", "text")
    AnnIndex.install(spark)
    AnnIndex.register(Binding.Bm25("text", "doc_id", () => idxA,
      refine = 2, owner = "tableA"))
    AnnIndex.register(Binding.Bm25("text", "cid", () => idxB, refine = 2,
      owner = "tableB"))
    try {
      def top(docs: org.apache.spark.sql.DataFrame, idx: Bm25.Bm25Index,
              id: String, k: Int) = docs
        .withColumn("score", Bm25.scoreColumn(idx, "shuffle", col("text")))
        .orderBy(col("score").desc, col(id).asc)
        .limit(k).select(id, "score")
      val dfA = top(a, idxA, "doc_id", 3)
      val dfB = top(b, idxB, "cid", 1)
      assert(dfA.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      assert(dfB.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      // each table's hits come from ITS OWN corpus, not the other's
      val idsA = dfA.collect().map(_.getLong(0)).toSet
      assert(idsA.nonEmpty && idsA.subsetOf((1L to 8L).toSet))
      assert(dfB.collect().map(_.getLong(0)).toSeq === Seq(10L))
      // removing one table's registration leaves the other's live
      AnnIndex.unregister("text", "tableB")
      assert(top(a, idxA, "doc_id", 3).queryExecution.optimizedPlan
        .toString.contains("LeftSemi"))
    } finally {
      AnnIndex.unregister("text")
      idxA.postings.unpersist(false)
      idxB.postings.unpersist(false)
    }
  }

  test("identical (textCol, idCol) from a different owner collides " +
      "loudly; same owner re-registers in place") {
    val docs = corpus
    val idx = Bm25.build(docs, "doc_id", "text")
    AnnIndex.register(Binding.Bm25("text", "doc_id", () => idx, refine = 2,
      owner = "tableA"))
    try {
      // same owner: replace in place, no error
      AnnIndex.register(Binding.Bm25("text", "doc_id", () => idx, refine = 3,
        owner = "tableA"))
      // different owner, same column names: silent "latest wins" would
      // serve tableA's queries from tableB's postings — throw instead
      val ex = intercept[IllegalStateException] {
        AnnIndex.register(Binding.Bm25("text", "doc_id", () => idx, refine = 2,
          owner = "tableB"))
      }
      assert(ex.getMessage.contains("tableA") &&
        ex.getMessage.contains("tableB"))
    } finally {
      AnnIndex.unregister("text")
      idx.postings.unpersist(false)
    }
  }

  test("candidate resolution fails loudly when the postings id column " +
      "is not 'id'") {
    val docs = corpus
    val idx = Bm25.build(docs, "doc_id", "text")
    val broken = idx.copy(postings =
      idx.postings.withColumnRenamed("id", "doc"))
    AnnIndex.register(Binding.Bm25("text", "doc_id", () => broken, refine = 2))
    try {
      val ex = intercept[IllegalArgumentException] {
        AnnIndex.lookup("text").collectFirst { case b: Binding.Bm25 => b }
          .get.candidateIds(Seq("shuffle"), 5)
      }
      assert(ex.getMessage.contains("'id'"))
    } finally {
      AnnIndex.unregister("text")
      idx.postings.unpersist(false)
    }
  }

  test("deleteStoredPostings: a stored delete equals a rebuild without " +
      "the removed docs (stats re-derived at load)") {
    val sp = spark
    import sp.implicits._
    val docs = corpus
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-del").toString
    Bm25.writePostings(docs, "doc_id", "text", dir, buckets = 8)
    val removed = Bm25.deleteStoredPostings(spark, dir,
      Seq(2L, 7L).toDF("doc_id"))
    assert(removed > 0)
    val after = Bm25.loadStoredPostings(spark, dir)
    val rebuilt = Bm25.build(docs.filter(!col("doc_id").isin(2L, 7L)),
      "doc_id", "text")
    assert(after.n === rebuilt.n && after.avgdl === rebuilt.avgdl)
    def hits(ix: Bm25.Bm25Index) =
      Bm25.search(ix, "shuffle sort merge", k = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = hits(after)
    assert(got === hits(rebuilt))
    assert(!got.exists(h => h._1 == 2L || h._1 == 7L))
    rebuilt.postings.unpersist(false)
  }

  test("null text scores null and does not break the rewrite") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, Option("shuffle sort")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val idx = Bm25.build(docs, "doc_id", "text")
    val scored = docs
      .withColumn("score", Bm25.scoreColumn(idx, "shuffle", col("text")))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1 + 1)) null else r.getDouble(2))).toMap
    assert(scored(2L) === null)
    assert(scored(1L).asInstanceOf[Double] > 0)
    idx.postings.unpersist(false)
  }
}
