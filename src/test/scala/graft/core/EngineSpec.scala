package graft.core

import java.nio.file.Files

import graft.SparkSpecBase
import graft.core.Spec._
import graft.eval.{Judged, OverlapJudge}
import graft.ops.Ann
import graft.text.LocalAugmenter

/** Typed search surface (registry.py:190-302 twins) + judged metrics +
  * augmenters. */
case class EChunk(cid: Long, text: String, vec: Seq[Float],
                  mv: Seq[Seq[Float]])

class EngineSpec extends SparkSpecBase {

  private def fresh(lists: Int) = {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunk", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = lists),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong,
        if (i % 2 == 0) s"spark joins row $i" else s"cats meow row $i",
        Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    (reg, td, new Engine(reg))
  }

  test("searchByVector exact: nonVec projection + ranked dists") {
    val (_, td, eng) = fresh(lists = 0)
    val hits = eng.searchByVector(td, Seq(0.0, 0.0), topk = 5).collect()
    assert(hits.length === 5)
    // default projection excludes vec/mv/keyword-indexed text
    assert(hits(0).schema.fieldNames.toSeq === Seq("cid", "dist"))
    assert(hits.map(_.getAs[Long]("cid")).head === 0L)
    // all near the origin blob (even ids)
    assert(hits.forall(_.getAs[Long]("cid") % 2 === 0))
  }

  test("searchByVector with a quantized IVF index matches the plain " +
      "IVF ranking after re-rank") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunkq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, quantized = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-q").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i",
        Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    // generous refine => the quantized candidate phase is recall-complete
    // within the probed cells, so the exact re-rank equals plain IVF
    val q = eng.searchByVector(td, Seq(0.0, 0.0), topk = 5, probes = 2,
        refine = 40).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    val tdPlain = TableDef[EChunk]("echunkq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    reg.register(tdPlain)
    val plain = new Engine(reg).searchByVector(tdPlain, Seq(0.0, 0.0),
        topk = 5, probes = 2).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    assert(q === plain)
    // tight probes still return from the probed cell only
    val one = eng.searchByVector(td, Seq(10.0, 10.0), topk = 3, probes = 1)
      .collect().map(_.getAs[Long]("cid"))
    assert(one.forall(_ % 2 === 1))
  }

  test("searchByVector filter: every index path (exact, IVF, " +
      "quantized) returns only allowed rows, slots go to allowed ones") {
    // exact: filter thins the base before top-k — odd cids only, even
    // though the query sits in the even blob
    val (_, td, eng) = fresh(lists = 0)
    val odd = eng.searchByVector(td, Seq(0.0, 0.0), topk = 5,
        filter = Some(org.apache.spark.sql.functions.col("cid") % 2 === 1))
      .collect().map(_.getAs[Long]("cid"))
    assert(odd.length === 5 && odd.forall(_ % 2 === 1))
    // IVF: same contract within probed cells
    val (_, td2, eng2) = fresh(lists = 2)
    eng2.buildIndex(td2)
    val ivfOdd = eng2.searchByVector(td2, Seq(0.0, 0.0), topk = 3,
        probes = 2,
        filter = Some(org.apache.spark.sql.functions.col("cid") % 2 === 1))
      .collect().map(_.getAs[Long]("cid"))
    assert(ivfOdd.length === 3 && ivfOdd.forall(_ % 2 === 1))
    // unfiltered returns evens here — the filter changed the result
    val ivfAll = eng2.searchByVector(td2, Seq(0.0, 0.0), topk = 3,
      probes = 2).collect().map(_.getAs[Long]("cid"))
    assert(ivfAll.forall(_ % 2 === 0))
    // quantized: the pk semi-join reaches the codes frame; generous
    // refine keeps the re-rank recall-complete within allowed rows
    val sp = spark
    import sp.implicits._
    val tdq = TableDef[EChunk]("echunkfq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, quantized = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-fq").toString).register(tdq)
    reg.insert(tdq, (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    })
    val engq = new Engine(reg)
    engq.buildIndex(tdq)
    val got = engq.searchByVector(tdq, Seq(0.0, 0.0), topk = 4,
        probes = 2, refine = 40,
        filter = Some(org.apache.spark.sql.functions.col("cid") >= 10))
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist")))
    assert(got.length === 4 && got.forall(_._1 >= 10))
    // equals the exact filtered ranking (all cells probed, big refine)
    val tdExact = TableDef[EChunk]("echunkfq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2), MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val exact = engq.searchByVector(tdExact,
      Seq(0.0, 0.0), topk = 4,
      filter = Some(org.apache.spark.sql.functions.col("cid") >= 10))
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist")))
    assert(got.toSeq === exact.toSeq)
  }

  test("searchByVector with a oneBit IVF index matches the plain IVF " +
      "ranking after re-rank") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunkb", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, oneBit = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-b").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i",
        Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    // refine spanning the probed cells => the 1-bit estimator phase is
    // recall-complete and the exact re-rank equals plain IVF
    val q = eng.searchByVector(td, Seq(0.0, 0.0), topk = 5, probes = 2,
        refine = 40).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    val tdPlain = TableDef[EChunk]("echunkb", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    reg.register(tdPlain)
    val plain = new Engine(reg).searchByVector(tdPlain, Seq(0.0, 0.0),
        topk = 5, probes = 2).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    assert(q === plain)
  }

  test("installDeclarative: a plain orderBy(dist).limit(k) DataFrame " +
      "over a oneBit-indexed table hits the two-phase quantized path") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkd", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, oneBit = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-d").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i",
        Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    eng.installDeclarative(td, probes = 2, refine = 40)
    try {
      val q = Seq(0.0, 0.0)
      val df = reg.table(td)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("vec"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("cid").asc)
        .limit(5)
        .select("cid", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected the quantized semi-join:\n$optimized")
      val declarative = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaEngine = eng.searchByVector(td, q, topk = 5, probes = 2,
          refine = 40).collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
      assert(declarative === viaEngine)
    } finally eng.uninstallDeclarative(td)
  }

  test("installDeclarative keyword: a plain orderBy(bm25_score.desc)" +
      ".limit(k) plan hits the postings semi-join and matches " +
      "searchByKeyword") {
    import org.apache.spark.sql.functions._
    val (reg, td, eng) = fresh(lists = 0)
    eng.installDeclarative(td)
    try {
      val df = reg.table(td)
        .withColumn("score", eng.keywordScoreColumn(td, "spark joins"))
        .orderBy(col("score").desc, col("cid").asc)
        .limit(5)
        .select("cid", "score")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected the postings semi-join:\n$optimized")
      val declarative = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaEngine = eng.searchByKeyword(td, "spark joins", topk = 5)
        .collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("score"))).toSeq
      assert(declarative === viaEngine)
      // every hit is from the "spark joins" half of the corpus
      assert(declarative.forall(_._1 % 2 == 0))
    } finally eng.uninstallDeclarative(td)
  }

  test("cosine quantized index on the Engine surface: spherical build, " +
      "recall-complete settings equal plain exact cosine") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunkcos", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.Cosine, lists = 2, quantized = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-cos").toString).register(td)
    val rows = (0 until 40).map { i =>
      // distinct directions (cosine cares about angle, not magnitude)
      val a = 0.1 + (i % 7) * 0.2
      EChunk(i.toLong, s"row $i",
        Seq(math.cos(a).toFloat * (1 + i), math.sin(a).toFloat * (1 + i)),
        Seq(Seq(1f, 0f)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    // probes = all cells, refine spanning the table: phase 1 is
    // recall-complete, so the exact re-rank equals brute-force cosine
    val got = eng.searchByVector(td, Seq(1.0, 0.2), topk = 5, probes = 2,
        refine = 40).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    val tdPlain = TableDef[EChunk]("echunkcos2", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.Cosine),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    reg.register(tdPlain)
    reg.insert(tdPlain, rows)
    val brute = new Engine(reg).searchByVector(tdPlain, Seq(1.0, 0.2),
        topk = 5).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    assert(got === brute)
    // distances are cosine (angle-only): in [0, 2]
    assert(got.forall { case (_, d) => d >= 0.0 && d <= 2.0 })
  }

  test("installDeclarative resolves the index per query: rows inserted " +
      "AFTER install surface in later declarative plans (advisor r6)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkw", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, quantized = true),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-w").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1f else 10f
      EChunk(i.toLong, s"row $i", Seq(base + i * 0.01f, base),
        Seq(Seq(base, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    eng.installDeclarative(td, probes = 2, refine = 50)
    try {
      def top = {
        val df = reg.table(td)
          .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("vec"), typedlit(Seq(0.0, 0.0))), 6))
          .orderBy(col("dist").asc, col("cid").asc)
          .limit(3)
          .select("cid", "dist")
        assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
          "declarative quantized rewrite did not engage")
        df.collect().map(_.getLong(0)).toSeq
      }
      assert(!top.contains(100L))
      // write AFTER install: the next declarative query must see it
      // (the registration resolves the version-keyed index, it does
      // not freeze a snapshot)
      reg.insert(td, Seq(
        EChunk(100L, "late closest row", Seq(0.01f, 0.0f),
          Seq(Seq(0f, 0f)))))
      assert(top.head === 100L)
    } finally eng.uninstallDeclarative(td)
  }

  test("installDeclarative registers the multivector column: a plain " +
      "orderBy(maxsim desc).limit(k) plan hits the two-phase refine " +
      "and matches searchByMultivec") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkmv", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 0),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-mv").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base, base),
        Seq(Seq(base + i * 0.01f, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.installDeclarative(td, maxsimRefine = 10)
    try {
      val q = Seq(Seq(10.0, 10.0))
      val df = reg.table(td)
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(q), col("mv")), 6))
        .orderBy(col("score").desc, col("cid").asc)
        .limit(5)
        .select("cid", "score")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected the maxsim candidate semi-join:\n$optimized")
      val declarative = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaEngine = eng.searchByMultivec(td, q, topk = 5, refine = 10)
        .collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("score"))).toSeq
      assert(declarative === viaEngine)
      // all from the far blob (odd ids): phase 1 must rank correctly
      assert(declarative.forall(_._1 % 2 === 1))
    } finally eng.uninstallDeclarative(td)
  }

  test("searchByMultivec and searchByKeyword filters: the predicate " +
      "thins returns BEFORE the cut (no starvation), scores of " +
      "survivors identical to the unfiltered search") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkfilt", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 0),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-filt").toString)
      .register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row token$i shared", Seq(base, base),
        Seq(Seq(base + i * 0.01f, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    val q = Seq(Seq(10.0, 10.0))
    // UNFILTERED top-5 is all odd (the far blob); a filter allowing
    // only EVEN ids must return evens — with a small refine this
    // proves disallowed docs don't consume the candidate slots
    // (post-cut filtering would starve to zero)
    val filt = eng.searchByMultivec(td, q, topk = 5, refine = 8,
        filter = Some(col("cid") % 2 === 0))
      .collect().map(r => (r.getAs[Long]("cid"),
        r.getAs[Double]("score")))
    assert(filt.length === 5 && filt.forall(_._1 % 2 === 0))
    // surviving scores identical to the unfiltered scoring of the
    // same ids (scoring is never filter-dependent)
    val all = eng.searchByMultivec(td, q, topk = 40, refine = 40)
      .collect().map(r => r.getAs[Long]("cid") ->
        r.getAs[Double]("score")).toMap
    filt.foreach { case (id, sc) => assert(all(id) === sc) }
    // keyword: whole-corpus stats, thinned returns
    val kwAll = eng.searchByKeyword(td, "shared", topk = 40)
      .collect().map(r => r.getAs[Long]("cid") ->
        r.getAs[Double]("score")).toMap
    val kwFilt = eng.searchByKeyword(td, "shared", topk = 5,
        filter = Some(col("cid") < 4))
      .collect().map(r => (r.getAs[Long]("cid"),
        r.getAs[Double]("score")))
    assert(kwFilt.nonEmpty && kwFilt.forall(_._1 < 4))
    kwFilt.foreach { case (id, sc) => assert(kwAll(id) === sc) }
  }

  test("searchByMultivec with a LISTS-built multivec IVF: recall-" +
      "complete settings equal brute-force maxsim; tight probes prune " +
      "to the query's cell") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunkmvi", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 0),
        MultiVectorIndex("mv", lists = 2),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2, "mv" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-mvi").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base, base),
        Seq(Seq(base + i * 0.01f, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td) // KMeans over token means, spherical (cosine)
    val q = Seq(Seq(10.0, 10.0))
    // probes = all cells + refine spanning the table: phase 1 is
    // recall-complete, so the IVF path equals brute-force maxsim
    val ivf = eng.searchByMultivec(td, q, topk = 5, refine = 40,
        probes = 2).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("score"))).toSeq
    val tdPlain = TableDef[EChunk]("echunkmvi", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 0),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    reg.register(tdPlain)
    val brute = new Engine(reg).searchByMultivec(tdPlain, q, topk = 5,
        refine = 40).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("score"))).toSeq
    assert(ivf === brute)
    // a single probe near the far blob returns only its cell's docs
    val one = eng.searchByMultivec(td, q, topk = 3, refine = 40,
      probes = 1).collect().map(_.getAs[Long]("cid"))
    assert(one.length === 3)
    assert(one.forall(_ % 2 === 1))
  }

  test("installDeclarative with a LISTS-built multivec IVF: the plain " +
      "orderBy(maxsim desc).limit(k) plan takes the IVF-pruned phase-1 " +
      "and matches searchByMultivec") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkmvd", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 0),
        MultiVectorIndex("mv", lists = 2),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2, "mv" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-mvd").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base, base),
        Seq(Seq(base + i * 0.01f, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    eng.installDeclarative(td, probes = 1, maxsimRefine = 10)
    try {
      val q = Seq(Seq(10.0, 10.0))
      val df = reg.table(td)
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(q), col("mv")), 6))
        .orderBy(col("score").desc, col("cid").asc)
        .limit(5)
        .select("cid", "score")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected the IVF-pruned maxsim semi-join:\n$optimized")
      val declarative = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaEngine = eng.searchByMultivec(td, q, topk = 5, refine = 10,
          probes = 1).collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("score"))).toSeq
      assert(declarative === viaEngine)
      // one probed cell near the far blob: only odd ids can surface
      assert(declarative.forall(_._1 % 2 === 1))
    } finally eng.uninstallDeclarative(td)
  }

  test("buildIndex REBUILD invalidates the cached assignment: a new " +
      "model with different lists is not probed against stale cell ids") {
    val sp = spark
    import sp.implicits._
    val mk = (lists: Int) => TableDef[EChunk]("echunkrb",
      primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = lists),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val td2 = mk(2)
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-rb").toString).register(td2)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base + i * 0.01f, base),
        Seq(Seq(base, base)))
    }
    reg.insert(td2, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td2)
    // populate the assignment cache under the 2-cell model
    assert(eng.searchByVector(td2, Seq(10.0, 10.0), topk = 3, probes = 1)
      .collect().forall(_.getAs[Long]("cid") % 2 === 1))
    // REBUILD with lists=4: the table segments are unchanged, but the
    // model's id space is new — a stale cached assignment would be
    // filtered against new-model probe cells (wrong or empty results)
    val td4 = mk(4)
    reg.register(td4)
    eng.buildIndex(td4)
    val hits = eng.searchByVector(td4, Seq(10.0, 10.0), topk = 3,
      probes = 1).collect()
    assert(hits.length === 3)
    assert(hits.forall(_.getAs[Long]("cid") % 2 === 1))
  }

  test("searchByVector with an IVF index prunes and still finds the blob") {
    val (_, td, eng) = fresh(lists = 2)
    eng.buildIndex(td)
    val hits = eng.searchByVector(td, Seq(10.0, 10.0), topk = 3, probes = 1)
      .collect()
    assert(hits.length === 3)
    assert(hits.forall(_.getAs[Long]("cid") % 2 === 1))
  }

  test("searchByMultivec with refine returns maxsim-ranked rows") {
    val (_, td, eng) = fresh(lists = 0)
    val hits = eng.searchByMultivec(td, Seq(Seq(10.0, 10.0)), topk = 3,
      refine = 10).collect()
    assert(hits.length === 3)
    assert(hits.forall(_.getAs[Long]("cid") % 2 === 1))
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("searchByMultivec accepts varying query widths (test_table.py:236-258)") {
    val (_, td, eng) = fresh(lists = 0)
    // 1, 2, and 3 query tokens against the same table: maxsim is a sum
    // over query tokens, so more tokens never lowers a doc's score and
    // every width returns a full, sorted top-k
    val widths = Seq(
      Seq(Seq(10.0, 10.0)),
      Seq(Seq(10.0, 10.0), Seq(0.0, 0.0)),
      Seq(Seq(10.0, 10.0), Seq(0.0, 0.0), Seq(0.0, 0.0)))
    val scoresByWidth = widths.map { q =>
      val hits = eng.searchByMultivec(td, q, topk = 3, refine = 10).collect()
      assert(hits.length === 3)
      val s = hits.map(_.getAs[Double]("score"))
      assert(s.sameElements(s.sorted.reverse))
      hits.map(r => r.getAs[Long]("cid") -> r.getAs[Double]("score")).toMap
    }
    // zero tokens contribute max_d(0·d) = 0 exactly: every width ranks
    // identically with identical scores — the width axis is exercised
    // end-to-end without perturbing the oracle ordering
    assert(scoresByWidth(1) === scoresByWidth(0))
    assert(scoresByWidth(2) === scoresByWidth(0))
  }

  test("searchByKeyword ranks by bm25 over the declared tokenizer") {
    val (_, td, eng) = fresh(lists = 0)
    val hits = eng.searchByKeyword(td, "spark joins", topk = 4).collect()
    assert(hits.length === 4)
    assert(hits.forall(_.getAs[Long]("cid") % 2 === 0))
  }

  test("evaluate_with_estimation port: precision@k / AP@k / MRR") {
    val m = Judged.evaluateWithEstimation(
      "spark joins",
      Seq("spark joins are great", "cats", "about spark joins", "dogs"),
      OverlapJudge(), kValues = Seq(3))
    assert(m("precision@3") === 2.0 / 3)
    // relevant at ranks 1 and 3: AP = (1/1 + 2/3)/2
    assert(math.abs(m("AP@3") - (1.0 + 2.0 / 3) / 2) < 1e-12)
    assert(m("MRR") === 1.0)
    intercept[IllegalArgumentException] {
      Judged.evaluateWithEstimation("q", Seq("", "  "), OverlapJudge())
    }
  }

  test("augmenter: deterministic context, query, summary") {
    val a = LocalAugmenter()
    val doc = "Spark is a compute engine. It runs joins. It scales well."
    val ctx = a.augmentContext(doc, "It runs joins.")
    assert(ctx.contains("Spark is a compute engine"))
    assert(a.augmentContext(doc, "It runs joins.") === ctx)
    val q = a.augmentQuery("distributed shuffle joins with big partitions")
    assert(q.nonEmpty && q.split(" ").length <= 5)
    assert(a.summarizeDoc(doc) === "Spark is a compute engine")
  }

  test("searchByVector on quantized and oneBit indexes returns non-pk " +
      "payload columns in ranked order (join-back past the (pk, dist) " +
      "searcher output)") {
    val sp = spark
    import sp.implicits._
    Seq(false, true).foreach { useBit =>
      val name = if (useBit) "pchunkbit" else "pchunksq"
      val td = TableDef[PChunk](name, primaryKey = Some("pid"),
        indexes = Seq(VectorIndex("vec", Ann.L2, lists = 2,
          quantized = !useBit, oneBit = useBit)),
        vectorDims = Map("vec" -> 2))
      val reg = new Registry(spark,
        Files.createTempDirectory("graft-engine-pay").toString)
        .register(td)
      val rows = (0 until 20).map { i =>
        val base = if (i % 2 == 0) 0f else 10f
        PChunk(i.toLong, s"title-$i", Seq(base + i * 0.01f, base))
      }
      reg.insert(td, rows)
      val eng = new Engine(reg)
      eng.buildIndex(td)
      val hits = eng.searchByVector(td, Seq(0.0, 0.0), topk = 3,
        probes = 2, refine = 20).collect()
      assert(hits.head.schema.fieldNames.toSeq ===
        Seq("pid", "title", "dist"))
      assert(hits.forall(r =>
        r.getAs[String]("title") === s"title-${r.getAs[Long]("pid")}"))
      val dists = hits.map(_.getAs[Double]("dist")).toSeq
      assert(dists === dists.sorted, "join-back must preserve rank order")
    }
  }

  test("searchByMultivec: refine below topk still yields topk rows; " +
      "empty and ragged queries fail with descriptive errors") {
    val (_, td, eng) = fresh(lists = 0)
    assert(eng.searchByMultivec(td, Seq(Seq(0.0, 0.0)), topk = 10,
      refine = 3).count() === 10)
    val e1 = intercept[IllegalArgumentException](
      eng.searchByMultivec(td, Seq.empty))
    assert(e1.getMessage.contains("empty query"))
    val e2 = intercept[IllegalArgumentException](
      eng.searchByMultivec(td, Seq(Seq(1.0, 2.0), Seq(3.0))))
    assert(e2.getMessage.contains("ragged"))
  }

  test("plain declarative registration follows a buildIndex re-run: " +
      "probe selection uses the REBUILT centroids without re-install") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[PChunk]("pchunkreb", primaryKey = Some("pid"),
      indexes = Seq(VectorIndex("vec", Ann.L2, lists = 2)),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-reb").toString)
      .register(td)
    reg.insert(td, (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      PChunk(i.toLong, s"t$i", Seq(base, base + i * 0.01f))
    })
    val eng = new Engine(reg)
    eng.buildIndex(td)
    eng.installDeclarative(td, probes = 1)
    try {
      def declarative(k: Int) = reg.table(td)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("vec"), typedlit(Seq(100.0, 100.0))), 6))
        .orderBy(col("dist").asc, col("pid").asc)
        .limit(k).select("pid", "dist")
      def declarativeTop(k: Int) =
        declarative(k).collect().map(_.getLong(0)).toSeq
      // dominate the corpus with a far blob and REBUILD: the new
      // KMeans centroids move; frozen install-time centroids would
      // keep probing the stale cell and miss the new blob entirely
      reg.insert(td, (100 until 160).map(i =>
        PChunk(i.toLong, s"t$i", Seq(100f + (i - 100) * 0.01f, 100f))))
      eng.buildIndex(td)
      val imperative = eng.searchByVector(td, Seq(100.0, 100.0),
        topk = 5, probes = 1).collect().map(_.getAs[Long]("pid")).toSeq
      assert(declarativeTop(5) === imperative,
        "declarative probe selection must track the rebuilt model")
      assert(declarativeTop(5).forall(_ >= 100L))
      // the table carries no cell column: the probe cut is an id
      // semi-join against the assigned layout's probed cells
      val optimized = declarative(5).queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected the probe cut:\n$optimized")
    } finally eng.uninstallDeclarative(td)
  }

  test("searchByVector with a PQ IVF index matches the plain IVF " +
      "ranking after re-rank; declarative twin engages the semi-join") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkpq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, pq = 2),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-pq").toString).register(td)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i",
        Seq(base + i * 0.01f, base),
        Seq(Seq(base, base), Seq(base + 1, base)))
    }
    reg.insert(td, rows)
    val eng = new Engine(reg)
    eng.buildIndex(td)
    // generous refine => the ADC candidate phase is recall-complete
    // within the probed cells, so the exact re-rank equals plain IVF
    val q = eng.searchByVector(td, Seq(0.0, 0.0), topk = 5, probes = 2,
        refine = 40).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    val tdPlain = TableDef[EChunk]("echunkpq", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2),
        MultiVectorIndex("mv"),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    reg.register(tdPlain)
    val plain = new Engine(reg).searchByVector(tdPlain, Seq(0.0, 0.0),
        topk = 5, probes = 2).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Double]("dist"))).toSeq
    assert(q === plain)
    // declarative: a plain orderBy(dist).limit(k) plan over the
    // pq-indexed table rewrites into the candidate semi-join and
    // matches the imperative path
    eng.installDeclarative(td, probes = 2, refine = 40)
    try {
      val df = reg.table(td)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("vec"), typedlit(Seq(0.0, 0.0))), 6))
        .orderBy(col("dist").asc, col("cid").asc)
        .limit(5).select("cid", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "declarative pq rewrite did not engage")
      val decl = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(decl === q)
    } finally eng.uninstallDeclarative(td)
  }

  test("searchByVectorBatch: per-query rows equal searchByVector on " +
      "exact AND IVF tables; collisions refuse; the " +
      "keyword twin equals searchByKeyword per query") {
    val sp = spark
    import sp.implicits._
    for (lists <- Seq(0, 2)) {
      val (_, td, eng) = fresh(lists = lists)
      if (lists > 0) eng.buildIndex(td)
      val qs = Seq((100L, Seq(0.0, 0.0)), (101L, Seq(10.0, 10.0)))
      val got = eng.searchByVectorBatch(td, qs.toDF("q_id", "qv"),
          "q_id", "qv", topk = 3,
          probes = if (lists > 0) 2 else 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // sort by (dist, id) — the operators' own tie rule; dist alone
        // would make the comparison collect-order-dependent on ties
        .groupBy(_._1).view.mapValues(_.sortBy(x => (x._3, x._2))
          .map(x => (x._2, x._3)).toSeq).toMap
      qs.foreach { case (qid, qv) =>
        val want = eng.searchByVector(td, qv, topk = 3,
            probes = if (lists > 0) 2 else 0)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got(qid) == want,
          s"lists=$lists qid=$qid: batch ${got(qid)} != per-query $want")
      }
      // query columns must not collide with the table's own
      intercept[IllegalArgumentException] {
        eng.searchByVectorBatch(td, qs.toDF("cid", "qv"), "cid", "qv")
      }
      // keyword twin: per-qid rows equal the single-query search
      val kq = Seq((1L, "spark joins"), (2L, "cats meow"))
      val kwGot = eng.searchByKeywordBatch(td, kq.toDF("qid", "qtext"),
          "qid", "qtext", topk = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2))
          .map(x => (x._2, x._3)).toSeq).toMap
      kq.foreach { case (qid, text) =>
        val want = eng.searchByKeyword(td, text, topk = 3,
            returnFields = Seq("cid"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(kwGot(qid) == want,
          s"qid=$qid: keyword batch ${kwGot(qid)} != per-query $want")
      }
    }
  }

  test("searchByVectorBatch matryoshka + composed matryoshka-IVF: " +
      "per-query rows equal searchByVector under L2 AND cosine") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i",
        Seq(base + i * 0.01f, base + (i % 7) * 0.1f + 0.1f),
        Seq(Seq(base, base)))
    }
    for {
      metric <- Seq(Ann.L2, Ann.Cosine)
      lists <- Seq(0, 2)
    } {
      val name = s"emrlb_${metric.toString.toLowerCase}_$lists"
      val td = TableDef[EChunk](name, primaryKey = Some("cid"),
        indexes = Seq(
          VectorIndex("vec", metric, lists = lists, mrlDims = 1)),
        vectorDims = Map("vec" -> 2))
      val reg = new Registry(spark,
        Files.createTempDirectory("graft-emrlb").toString).register(td)
      reg.insert(td, rows)
      val eng = new Engine(reg)
      if (lists > 0) eng.buildIndex(td)
      val p = if (lists > 0) 2 else 0
      val qs = Seq((100L, Seq(0.05, 0.3)), (101L, Seq(10.0, 10.2)))
      val got = eng.searchByVectorBatch(td, qs.toDF("q_id", "qv"),
          "q_id", "qv", topk = 5, probes = p, refine = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(x => (x._3, x._2))
          .map(x => (x._2, x._3)).toSeq).toMap
      qs.foreach { case (qid, qv) =>
        val want = eng.searchByVector(td, qv, topk = 5, probes = p,
            refine = 4, returnFields = Seq("cid"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          .sortBy(x => (x._2, x._1))
        assert(got(qid) == want,
          s"$name qid=$qid: batch ${got(qid)} != per-query $want")
      }
    }
  }

  test("a vector index refuses two quantizations") {
    intercept[IllegalArgumentException] {
      VectorIndex("vec", Ann.L2, lists = 2, quantized = true, pq = 2)
    }
    intercept[IllegalArgumentException] {
      VectorIndex("vec", Ann.L2, lists = 2, oneBit = true,
        quantized = true)
    }
  }

  /** A built PChunk table named `name` with the given vector index —
    * every such table shares the `vec` / `pid` column names. */
  private def pchunkTable(name: String, ix: VectorIndex) = {
    val sp = spark
    import sp.implicits._
    val td = TableDef[PChunk](name, primaryKey = Some("pid"),
      indexes = Seq(ix), vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory(s"graft-engine-$name").toString)
      .register(td)
    reg.insert(td, (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      PChunk(i.toLong, s"t$i", Seq(base, base + i * 0.01f))
    })
    val eng = new Engine(reg)
    eng.buildIndex(td)
    (reg, td, eng)
  }

  test("installDeclarative refuses a second table's binding on shared " +
      "column names even in another index family") {
    val (_, tdA, engA) = pchunkTable("pcolplain",
      VectorIndex("vec", Ann.L2, lists = 2))
    val (_, tdB, engB) = pchunkTable("pcolsq",
      VectorIndex("vec", Ann.L2, lists = 2, quantized = true))
    engA.installDeclarative(tdA, probes = 1)
    try {
      // B's SQ candidate semi-join would otherwise hijack A's
      // declarative orderBy(l2_dist(vec, q)).limit(k) plans
      val ex = intercept[IllegalStateException] {
        engB.installDeclarative(tdB, probes = 1)
      }
      assert(ex.getMessage.contains("collision") &&
        ex.getMessage.contains("pcolplain"))
    } finally {
      engA.uninstallDeclarative(tdA)
      engB.uninstallDeclarative(tdB)
    }
  }

  test("installDeclarative is all or none: a collision on a later " +
      "binding leaves none of the table's rewrites live") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val td = TableDef[EChunk]("echunkatomic", primaryKey = Some("cid"),
      indexes = Seq(
        VectorIndex("vec", Ann.L2, lists = 2, quantized = true),
        KeywordIndex("text", model = "simple")),
      vectorDims = Map("vec" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-atomic").toString)
      .register(td)
    reg.insert(td, (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      EChunk(i.toLong, s"row $i", Seq(base + i * 0.01f, base),
        Seq(Seq(base, base)))
    })
    val eng = new Engine(reg)
    eng.buildIndex(td)
    graft.plans.AnnIndex.install(spark)
    graft.plans.AnnIndex.register(graft.plans.Binding.Bm25("text", "cid",
      () => eng.keywordIndex(td), owner = "another.table"))
    try {
      val ex = intercept[IllegalStateException] {
        eng.installDeclarative(td, probes = 1)
      }
      assert(ex.getMessage.contains("collision"))
      val optimized = reg.table(td)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("vec"), typedlit(Seq(0.0, 0.0))), 6))
        .orderBy(col("dist").asc, col("cid").asc)
        .limit(5).select("cid", "dist")
        .queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LeftSemi"),
        s"a failed install must leave no rewrite live:\n$optimized")
    } finally {
      graft.plans.AnnIndex.unregister("text", "another.table")
      eng.uninstallDeclarative(td)
    }
  }

  test("installMultivecIndexModel refuses a model whose column types " +
      "the catalog cannot read back, like installIndexModel") {
    val sp = spark
    import sp.implicits._
    val td = TableDef[EChunk]("echunkmvtypes", primaryKey = Some("cid"),
      indexes = Seq(MultiVectorIndex("mv", lists = 2)),
      vectorDims = Map("mv" -> 2))
    val reg = new Registry(spark,
      Files.createTempDirectory("graft-engine-mvtypes").toString)
      .register(td)
    val eng = new Engine(reg)
    val model = Ann.IvfModel(
      Seq(("0", Seq(0.0, 0.0)), ("1", Seq(10.0, 10.0)))
        .toDF("centroid_id", "centroid"), "centroid_id", "centroid")
    val ex = intercept[IllegalArgumentException] {
      eng.installMultivecIndexModel(td, model)
    }
    assert(ex.getMessage.contains("centroid_id: bigint"))
  }

  test("uninstallDeclarative of one table keeps another table's " +
      "bindings on the same column names") {
    import org.apache.spark.sql.functions._
    val (regA, tdA, engA) = pchunkTable("pcolkeep",
      VectorIndex("vec", Ann.L2, lists = 2, quantized = true))
    val (_, tdB, engB) = pchunkTable("pcoldrop",
      VectorIndex("vec", Ann.L2, lists = 2, quantized = true))
    engA.installDeclarative(tdA, probes = 1)
    try {
      engB.uninstallDeclarative(tdB)
      val df = regA.table(tdA)
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("vec"), typedlit(Seq(0.0, 0.0))), 6))
        .orderBy(col("dist").asc, col("pid").asc)
        .limit(5).select("pid", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"table A's quantized rewrite must survive B's uninstall:\n" +
          optimized)
    } finally engA.uninstallDeclarative(tdA)
  }
}

/** Payload-bearing fixture: a non-pk, non-vector column the projection
  * must carry through every index family. */
case class PChunk(pid: Long, title: String, vec: Seq[Float])
