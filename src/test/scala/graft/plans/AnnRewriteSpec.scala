package graft.plans

import java.nio.file.Files

import graft.SparkSpecBase
import graft.ops.Ann
import org.apache.spark.sql.functions._

/** The ANN top-k rewrite rule: a plain orderBy(dist).limit(k) over a
  * registered IVF table gets probe-pruned (partition pruning on disk);
  * unregistered queries are untouched. */
class AnnRewriteSpec extends SparkSpecBase {

  private def setup() = {
    AnnIndex.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = Files.createTempDirectory("graft-rewrite").toString
    Ann.writePartitioned(assigned, dir)
    (e, model, dir)
  }

  private def q64: Seq[Double] = (0 until 64).map(_ => 0.1)

  test("registered index: sort+limit is rewritten to a probed scan") {
    val (_, model, dir) = setup()
    AnnIndex.register(Binding.Probe("embedding", model.idCol,
        () => model.collectedCentroids.toSeq, Ann.L2, probes = 3))
    try {
      val stored = spark.read.parquet(dir)
      val df = stored
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("centroid_id"),
        s"expected injected probe filter:\n$optimized")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("PartitionFilters: [centroid_id"),
        s"expected partition pruning:\n$physical")
      // and the result equals the explicit IVF search path
      val viaOp = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(q64), Ann.L2, probes = 3, k = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally AnnIndex.unregister("embedding")
  }

  test("registerDistributed: probe cells from a semi-joined centroid " +
      "subplan — no driver-collected centroid literals in the plan") {
    val (_, model, dir) = setup()
    AnnIndex.register(Binding.ProbeDist("embedding", model.idCol,
      () => model.centroids, model.idCol, model.vecCol, Ann.L2, probes = 3))
    try {
      val stored = spark.read.parquet(dir)
      val df = stored
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val opt = df.queryExecution.optimizedPlan
      assert(opt.toString.contains("LeftSemi"),
        s"expected injected probe semi-join:\n$opt")
      // the fallback's whole point: NO literal probe-cell filter (the
      // driver never collected the centroids)
      val hasLiteralProbe = opt.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists {
            case _: org.apache.spark.sql.catalyst.expressions.In => true
            case _: org.apache.spark.sql.catalyst.expressions.InSet => true
            case _ => false
          }
        case _ => false
      }
      assert(!hasLiteralProbe,
        s"expected no literal cell filter:\n$opt")
      // IO contract: the injected DynamicPruningSubquery must surface
      // as runtime partition pruning on the stored layout — without it
      // the semi-join reads every cell directory (Spark's own
      // PartitionPruning heuristic never fires for a Sort+Limit build
      // side, so the rule plants the subquery itself)
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.toLowerCase.contains("dynamicpruning"),
        s"expected runtime partition pruning on the stored scan:\n$phys")
      // result equals the driver-side probe path
      val viaOp = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(q64), Ann.L2, probes = 3, k = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
      // fixpoint: the injected semi-join is not re-injected
      val once = AnnTopKRule()(df.queryExecution.analyzed)
      val twice = AnnTopKRule()(once)
      assert(once.fastEquals(twice))
    } finally AnnIndex.unregister("embedding")
  }

  test("registerDistributed decouples the layout's cell column name: " +
      "a renamed column engages via the explicit-cellCol overload; " +
      "the name-mismatched default stays (exact) brute force") {
    val (e, model, dir) = setup()
    // same assignment, but the layout names its cell column "cell"
    val dir2 = Files.createTempDirectory("graft-rewrite-cell").toString
    Ann.assign(e, "embedding", model, Ann.L2)
      .withColumnRenamed("centroid_id", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(dir2)
    val stored = spark.read.parquet(dir2)
    def query() = stored
      .withColumn("dist", round(
        org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
          typedlit(q64)), 6))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "dist")
    // default registration assumes cellCol == centroid id col: the
    // mismatch means NO rewrite (the documented silent fallback —
    // semantics stay exact brute force, just unpruned)
    AnnIndex.register(Binding.ProbeDist("embedding", model.idCol,
      () => model.centroids, model.idCol, model.vecCol, Ann.L2, probes = 3))
    try assert(!query().queryExecution.optimizedPlan.toString
        .contains("LeftSemi"))
    finally AnnIndex.unregister("embedding")
    // the explicit-cellCol overload closes the gap: pruned plan
    // engages and equals the driver-side probe path over the same data
    AnnIndex.register(Binding.ProbeDist("embedding", "cell",
      () => model.centroids, model.idCol, model.vecCol, Ann.L2,
      probes = 3))
    try {
      val df = query()
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "explicit cellCol registration did not engage")
      val got = df.localCheckpoint(true).collect().map(_.toSeq).toSeq
      val viaOp = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(q64), Ann.L2, probes = 3, k = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(got === viaOp)
    } finally AnnIndex.unregister("embedding")
  }

  test("maxsim-IVF phase-2 DPP only engages when the re-rank leaf IS " +
      "the assigned layout: a user column merely NAMED centroid_id is " +
      "never filtered against probe ids") {
    val sp = spark
    import sp.implicits._
    // user table with an UNRELATED centroid_id column (all 999): docs
    // keyed by id with 2-token matrices
    val docs = (0 until 20).map { i =>
      (i.toLong, Seq(Seq(i * 1.0, 1.0), Seq(1.0, i * 1.0)), 999L)
    }.toDF("id", "vecs", "centroid_id")
    // a SEPARATE assigned layout + centroids for the IVF registration
    val assigned = (0 until 20).map { i =>
      (i.toLong, Seq(i * 1.0, i * 1.0), (i % 2).toLong)
    }.toDF("id", "mv_mean", "centroid_id")
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("centroid_id", "centroid")
    AnnIndex.install(spark)
    val qts = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    def query() = docs
      .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
        .maxSimDot(typedlit(qts), col("vecs")), 6))
      .orderBy(col("score").desc, col("id").asc)
      .limit(5)
      .select("id", "score")
    // probes = all cells: the IVF candidate set equals the plain
    // refine top-20 — so the IVF registration must return exactly what
    // the no-IVF registration returns. Pre-guard, the rule planted the
    // probe DPP on the USER's centroid_id (all 999, never a probe id)
    // and the re-rank silently returned zero rows.
    AnnIndex.register(Binding.Maxsim("vecs", "id", () => assigned,
      refine = 20, Some(Binding.ProbeDist("mv_mean", "centroid_id",
        () => cents, "centroid_id", "centroid", Ann.Cosine, probes = 2))))
    val withIvf =
      try query().localCheckpoint(true).collect().map(_.toSeq).toSeq
      finally AnnIndex.unregister("vecs")
    AnnIndex.register(Binding.Maxsim("vecs", "id", () => docs,
      refine = 20))
    val without =
      try query().localCheckpoint(true).collect().map(_.toSeq).toSeq
      finally AnnIndex.unregister("vecs")
    assert(withIvf.nonEmpty)
    assert(withIvf === without)
  }

  test("registerDistributed over an IN-MEMORY leaf: the planted " +
      "DynamicPruningSubquery cleans up gracefully, results exact") {
    val (e, model, _) = setup()
    // persisted: the InMemoryRelation LEAF exposes centroid_id (the
    // rewrite's leaf contract); an unpersisted assign is a Project over
    // the raw parquet relation and is correctly left untouched
    val assigned = Ann.assign(e, "embedding", model, Ann.L2).persist()
    assigned.count()
    AnnIndex.register(Binding.ProbeDist("embedding", model.idCol,
      () => model.centroids, model.idCol, model.vecCol, Ann.L2, probes = 3))
    try {
      val df = assigned
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      // no partitioned file scan to prune — CleanupDynamicPruningFilters
      // must drop the planted subquery instead of failing the plan
      val viaOp = Ann.searchIvf(assigned, "vec_id", "embedding", model,
        typedlit(q64), Ann.L2, probes = 3, k = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally {
      AnnIndex.unregister("embedding")
      assigned.unpersist(false)
    }
  }

  test("rule is a fixpoint: re-applying to a rewritten plan is a no-op") {
    val (_, model, dir) = setup()
    AnnIndex.register(Binding.Probe("embedding", model.idCol,
        () => model.collectedCentroids.toSeq, Ann.L2, probes = 3))
    try {
      val stored = spark.read.parquet(dir)
      val df = stored
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val once = AnnTopKRule()(df.queryExecution.analyzed)
      val twice = AnnTopKRule()(once)
      assert(once.fastEquals(twice),
        s"rule not idempotent:\nonce: $once\ntwice: $twice")
    } finally AnnIndex.unregister("embedding")
  }

  test("injectOptimizerRule path reaches fixpoint with probes > InSet threshold") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // A fresh session (same SparkContext) with the config-driven
    // GraftExtensions install: the rule then runs INSIDE the operator-
    // optimization fixpoint, where OptimizeIn turns the injected In into
    // InSet (probes > spark.sql.optimizer.inSetConversionThreshold = 10)
    // and ColumnPruning inserts Projects — the exact interleavings that
    // defeat a purely structural idempotence guard.
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions rather than the spark.sql.extensions conf: the conf
    // is static and cannot attach to the suite's pre-existing
    // SparkContext; both feed the same injectOptimizerRule path.
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      val docs = s2.range(0, 320).select(
        col("id").as("vec_id"),
        array((0 until 8).map(j =>
          (col("id") % 16).cast("double") + lit(j * 0.001)): _*)
          .as("embedding"),
        (col("id") % 16).as("cell"))
      val model = Ann.buildIvf(docs, "cell", "embedding")
      val assigned = Ann.assign(docs, "embedding", model, Ann.L2)
      val dir = Files.createTempDirectory("graft-rewrite-ext").toString
      Ann.writePartitioned(assigned, dir)
      AnnIndex.register(Binding.Probe("embedding", model.idCol,
        () => model.collectedCentroids.toSeq, Ann.L2, probes = 12))
      val q8 = (0 until 8).map(_ => 0.1)
      val df = s2.read.parquet(dir)
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q8)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan
      // exactly ONE injected probe predicate: per-iteration re-injection
      // (the broken-guard failure mode) stacks duplicates and runs the
      // batch to "Max iterations (100) reached"
      val nProbePredicates = optimized.collect { case f: Filter =>
        var n = 0
        f.condition.foreach {
          case In(c: AttributeReference, _) if c.name == "centroid_id" =>
            n += 1
          case InSet(c: AttributeReference, _) if c.name == "centroid_id" =>
            n += 1
          case _ => ()
        }
        n
      }.sum
      assert(nProbePredicates === 1,
        s"expected exactly one probe predicate:\n$optimized")
      assert(df.count() === 5)
      // the injected SQL functions compose with the rewrite: a pure-SQL
      // ORDER BY l2_dist(...) LIMIT plan (array literal folded by
      // ConstantFolding) hits the probe filter too
      s2.read.parquet(dir).createOrReplaceTempView("stored_vecs")
      val sqlDf = s2.sql(
        "SELECT vec_id, round(l2_dist(embedding, array(" +
          q8.map(_.toString).mkString(", ") +
          ")), 6) AS dist FROM stored_vecs " +
          "ORDER BY dist ASC, vec_id ASC LIMIT 5")
      assert(sqlDf.queryExecution.optimizedPlan.toString
        .contains("centroid_id"),
        "expected the SQL-function plan to be probe-rewritten")
      assert(sqlDf.collect().map(_.toSeq).toSeq ===
        df.collect().map(_.toSeq).toSeq)
    } finally {
      AnnIndex.unregister("embedding")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("a Filter between sort and leaf DISABLES the k-limited rewrite " +
      "(corpus-wide candidate budgets would starve filtered results)") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val index = built.copy(quantized = built.quantized.persist(),
      bounds = built.bounds.persist())
    // tight refine: were the rewrite to engage, the global top-10
    // candidates would shrink to ~1-2 rows under the 1-in-7 filter
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.L2, probes = 3, refine = 2))
    try {
      val df = e.filter(col("vec_id") % 7 === 0)
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LeftSemi"),
        s"k-limited rewrite must bail under a user Filter:\n$optimized")
      assert(df.count() === 5,
        "the exact (unrewritten) plan returns the full k")
      // the UNfiltered twin still rewrites — the guard is filter-scoped
      val bare = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5).select("vec_id", "dist")
      assert(bare.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
      index.bounds.unpersist(false)
    }
  }

  test("resolver-backed plain registration re-resolves centroids per " +
      "plan; registration collisions across owners fail loudly") {
    var cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(100.0, 100.0)))
    AnnIndex.register(Binding.Probe("embedding", "centroid_id", () => cents,
      Ann.L2, probes = 1, owner = "tableA"))
    try {
      // swapping the resolved centroids swaps the probed cell — no
      // re-register (the round-10 frozen-snapshot fix for plain IVF);
      // exercised through the public Probe binding the rule consumes
      // at plan time
      def probe(): Seq[Long] =
        Binding.Probe("embedding", "centroid_id", () => cents, Ann.L2,
          1).probeCells(Array(90.0, 90.0))
      assert(probe() === Seq(1L))
      cents = Seq((0L, Array(90.0, 90.0)), (1L, Array(0.0, 0.0)))
      assert(probe() === Seq(0L))
      // a SECOND table claiming the same column name must not silently
      // steal the registration (its candidates would hijack tableA's
      // declarative queries)
      val ex = intercept[IllegalStateException] {
        AnnIndex.register(Binding.Probe("embedding", "centroid_id", () => cents,
          Ann.L2, probes = 1, owner = "tableB"))
      }
      assert(ex.getMessage.contains("collision") &&
        ex.getMessage.contains("tableA"))
      // same owner = legitimate re-install, no error
      AnnIndex.register(Binding.Probe("embedding", "centroid_id", () => cents,
        Ann.L2, probes = 2, owner = "tableA"))
    } finally AnnIndex.unregister("embedding")
  }

  test("quantized and maxsim registries collide loudly across owners") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val index = built
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.L2, probes = 3, refine = 5, owner = "tabA"))
    try {
      val ex = intercept[IllegalStateException] {
        AnnIndex.register(Binding.Quantized("embedding", "vec_id",
          () => Ann.buildIvfBitq(e, "embedding", model, Ann.L2),
          Ann.L2, probes = 3, refine = 5, owner = "tabB"))
      }
      assert(ex.getMessage.contains("collision"))
    } finally AnnIndex.unregister("embedding")
    AnnIndex.register(Binding.Maxsim("vecs", "id", () => e, refine = 10, None,
      owner = "tabA"))
    try {
      val ex = intercept[IllegalStateException] {
        AnnIndex.register(Binding.Maxsim("vecs", "id", () => e, refine = 10,
          None, owner = "tabB"))
      }
      assert(ex.getMessage.contains("collision"))
    } finally AnnIndex.unregister("vecs")
  }

  test("registration collisions span families: another owner's SQ " +
      "binding on a probe-bound column refuses") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    AnnIndex.register(Binding.Probe("embedding", "centroid_id",
      () => model.collectedCentroids.toSeq, Ann.L2, probes = 3,
      owner = "tableA"))
    try {
      // tableB's candidate semi-join would hijack tableA's
      // orderBy(l2_dist(embedding, q)).limit(k) plans
      val ex = intercept[IllegalStateException] {
        AnnIndex.register(Binding.Quantized("embedding", "vec_id",
          () => built, Ann.L2, probes = 3, owner = "tableB"))
      }
      assert(ex.getMessage.contains("collision") &&
        ex.getMessage.contains("tableA"))
      assert(AnnIndex.lookup("embedding").map(_.owner) === List("tableA"))
      // the same owner may bind a second family on its own column
      AnnIndex.register(Binding.Quantized("embedding", "vec_id",
        () => built, Ann.L2, probes = 3, owner = "tableA"))
      assert(AnnIndex.lookup("embedding").size === 2)
    } finally AnnIndex.unregister("embedding")
  }

  test("quantized (SQ) index: sort+limit becomes the two-phase " +
      "semi-join, scanning codes instead of full vectors") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    // persisted = the index at rest: phase-1 scans the materialized
    // codes, never the full-precision vector column
    val index = built.copy(quantized = built.quantized.persist(),
      bounds = built.bounds.persist())
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.L2, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected injected candidate semi-join:\n$optimized")
      assert(optimized.contains("qdist"),
        s"expected quantized phase-1 under the semi-join:\n$optimized")
      // the candidate scan reads the materialized codes (in-memory
      // index), not a second full-vector parquet pass
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("InMemoryTableScan"),
        s"expected code-table scan:\n$physical")
      val viaOp = Ann.searchQuantized(index, "vec_id", "embedding",
        typedlit(q64), Ann.L2, probes = 3, k = 5, refine = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
      index.bounds.unpersist(false)
    }
  }

  test("quantized (1-bit RaBitQ-style) index: declarative plan hits the " +
      "two-phase path and matches the explicit operator") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val index = built.copy(quantized = built.quantized.persist())
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.L2, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"),
        s"expected injected candidate semi-join:\n$optimized")
      val viaOp = Ann.searchQuantized(index, "vec_id", "embedding",
        typedlit(q64), Ann.L2, probes = 3, k = 5, refine = 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
    }
  }

  test("1-bit refine auto-resolves per metric at registration " +
      "(spherical codes need the larger measured budget)") {
    assert(Ann.defaultBitqRefine(Ann.L2) === 5)
    assert(Ann.defaultBitqRefine(Ann.Cosine) === 40)
    val (e, model, _) = setup()
    val built = Ann.buildIvfBitq(e, "embedding", model, Ann.Cosine)
    val index = built.copy(quantized = built.quantized.persist())
    // the candidate multiplier the rewrite uses for the bound index
    def refine = AnnIndex.lookup("embedding").collectFirst {
      case b: Binding.Quantized => b.refineFor(b.resolve()) }
    try {
      AnnIndex.register(Binding.Quantized("embedding", "vec_id",
        () => index, Ann.Cosine, probes = 3)) // refine unset = auto
      assert(refine === Some(40))
      AnnIndex.register(Binding.Quantized("embedding", "vec_id",
        () => index, Ann.Cosine, probes = 3, refine = 7)) // explicit wins
      assert(refine === Some(7))
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
    }
  }

  test("quantized rewrite is a fixpoint on its own output") {
    val (e, model, _) = setup()
    val built = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val index = built.copy(quantized = built.quantized.persist(),
      bounds = built.bounds.persist())
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => index,
      Ann.L2, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val once = AnnTopKRule()(df.queryExecution.analyzed)
      val twice = AnnTopKRule()(once)
      assert(once.fastEquals(twice),
        s"quantized rewrite not idempotent:\nonce: $once\ntwice: $twice")
    } finally {
      AnnIndex.unregister("embedding")
      index.quantized.unpersist(false)
      index.bounds.unpersist(false)
    }
  }

  test("unregistered queries keep exact brute-force semantics") {
    val (_, model, dir) = setup()
    AnnIndex.unregister("embedding")
    val stored = spark.read.parquet(dir)
    val df = stored
      .withColumn("dist", round(
        org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
          typedlit(q64)), 6))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "dist")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("PartitionFilters: [centroid_id"))
    // exact result == brute force over the raw table
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.topK(e, "vec_id", "embedding", typedlit(q64),
      Ann.L2, 5).select("vec_id", "dist").collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === brute)
  }

  test("metric mismatch does not rewrite") {
    val (_, model, dir) = setup()
    AnnIndex.register(Binding.Probe("embedding", model.idCol,
        () => model.collectedCentroids.toSeq, Ann.L2, probes = 2))
    try {
      val stored = spark.read.parquet(dir)
      val df = stored
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.cosDist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("PartitionFilters: [centroid_id"))
    } finally AnnIndex.unregister("embedding")
  }

  test("probe rewrite composes with a user filter (both prunings on one " +
      "scan); k-limited quantized rewrite bails out under a filter") {
    val (e, model, dir) = setup()
    // plain IVF registration: filter + orderBy + limit → probe filter
    // injected ON TOP of the user predicate, result equals the explicit
    // filtered stored search
    AnnIndex.register(Binding.Probe("embedding", model.idCol,
        () => model.collectedCentroids.toSeq, Ann.L2, probes = 3))
    try {
      val df = spark.read.parquet(dir)
        .filter(col("vec_id") >= 100)
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("PartitionFilters: [centroid_id"),
        s"probe pruning missing under user filter:\n$phys")
      assert("""PushedFilters: \[[^\]]*GreaterThanOrEqual\(vec_id"""
          .r.findFirstIn(phys).isDefined,
        s"user predicate not pushed:\n$phys")
      val viaOp = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(q64), Ann.L2, probes = 3, k = 5,
        pred = col("vec_id") >= 100)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === viaOp)
    } finally AnnIndex.unregister("embedding")
    // quantized (k-limited) registration: a user filter must DISABLE
    // the candidate injection (budgets are unfiltered-corpus-sized) and
    // the untouched exact plan must return the true filtered top-k
    val idx = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    AnnIndex.register(Binding.Quantized("embedding", "vec_id", () => idx,
      Ann.L2, probes = 3, refine = 5))
    try {
      val df = e.filter(col("vec_id") >= 100)
        .withColumn("dist", round(
          org.apache.spark.sql.graft.VecExprs.l2Dist(col("embedding"),
            typedlit(q64)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(5)
        .select("vec_id", "dist")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LeftSemi"),
        s"quantized rewrite must bail out under a user filter:\n$optimized")
      val exact = Ann.topK(e.filter(col("vec_id") >= 100), "vec_id",
          "embedding", typedlit(q64), Ann.L2, 5)
        .select("vec_id", "dist").collect().map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq === exact)
    } finally AnnIndex.unregister("embedding")
  }

  test("matryoshka rewrite: LeftSemi against the prefix cut, result " +
      "equals the explicit two-phase form; bad roots refuse to " +
      "register; unregistered plans untouched") {
    val sp = spark
    import sp.implicits._
    AnnIndex.install(sp)
    val e = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-mrl-rw").toString
    Ann.writeMatryoshka(e, "vec_id", "embedding", dims = 8, dir)
    val q = e.filter(col("vec_id") === 2)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    AnnIndex.register(Binding.matryoshka("embedding", "vec_id", dir,
      refine = 4))
    try {
      val df = e.withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(5)
        .select("vec_id", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      val want = Ann.matryoshkaTopK(e, "vec_id", "embedding", q,
          dims = 8, candidates = 20, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(got.toSeq === want.toSeq)
    } finally AnnIndex.unregister("embedding")
    // after unregister the same plan is untouched
    val plain = e.withColumn("dist",
        round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), typedlit(q)), 6))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(5)
    assert(!plain.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    // a dir with no marker refuses at REGISTER time, not first query
    val bare = Files.createTempDirectory("graft-mrl-bare").toString
    e.limit(1).write.parquet(s"$bare/rows")
    intercept[IllegalStateException] {
      AnnIndex.register(Binding.matryoshka("embedding", "vec_id", bare))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.register(Binding.matryoshka("embedding", "vec_id", dir,
        refine = 0))
    }
  }

  test("matryoshka-IVF rewrite (r83): LeftSemi against the probed " +
      "prefix cut, result equals the explicit composed operator; " +
      "cosine and bare roots refuse to register") {
    val sp = spark
    import sp.implicits._
    AnnIndex.install(sp)
    val e = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = Files.createTempDirectory("graft-mrlivf-rw").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", 8, model, dir)
    val q = e.filter(col("vec_id") === 2)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    AnnIndex.register(Binding.matryoshkaIvf("embedding", "vec_id", dir,
      probes = 2, refine = 4))
    try {
      val df = e.withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), typedlit(q)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(5)
        .select("vec_id", "dist")
      assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      val want = Ann.searchStored(Ann.cellRoot(sp, dir, None), "vec_id", q, 2,
          5, refine = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(got.toSeq === want.toSeq)
    } finally AnnIndex.unregister("embedding")
    // a cosine root refuses at REGISTER time (wrong reduction space
    // for an l2_dist plan)
    val cdir = Files.createTempDirectory("graft-mrlivf-rw-cos").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", 8, model, cdir,
      metric = Ann.Cosine)
    intercept[IllegalArgumentException] {
      AnnIndex.register(Binding.matryoshkaIvf("embedding", "vec_id", cdir))
    }
    // a dir with no composed marker refuses at register time too
    intercept[IllegalStateException] {
      AnnIndex.register(Binding.matryoshkaIvf("embedding", "vec_id",
        Files.createTempDirectory("graft-mrlivf-rw-bare").toString))
    }
  }
}
