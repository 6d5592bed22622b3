package graft.queries

import graft.SparkSpecBase
import graft.ops.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the design-for-100× review
  * (VERDICT r01 asked for explain-based evidence):
  *  - top-k never full-sorts (TakeOrderedAndProject);
  *  - tight filters reach the parquet scan (PushedFilters);
  *  - the fact side of q03 is never broadcast;
  *  - the kNN join materializes no cartesian product.
  */
class PlanSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("ann topK compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(Retrieval.annTopkL2(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("top-k relational queries avoid a full Sort + CollectLimit") {
    assert(plan(Relational.q02TopkOrders(spark, sf))
      .contains("TakeOrderedAndProject"))
  }

  test("sparse top-k (r27) is a map-only scan into TakeOrderedAndProject") {
    val p = plan(Retrieval.sparseTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"sparse scoring must not shuffle the corpus:\n$p")
  }

  test("inverted sparse top-k (r29) broadcasts the query buckets and " +
      "aggregates map-side") {
    val p = plan(Retrieval.sparseInvertedTopk(spark, sf))
    // query buckets are the broadcast side; postings never broadcast
    assert(p.contains("BroadcastHashJoin"))
    // per-doc sum is a partial-then-final hash aggregate (map-side
    // combine), topped by the bounded-heap top-k
    assert(p.contains("HashAggregate"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"query-bucket join must stay broadcast:\n$p")
  }

  test("batch maxsim (r33) phase-1 scan is partition-pruned at runtime " +
      "by the broadcast probe join") {
    val p = plan(Retrieval.maxsimBatch(spark, sf))
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("mv_mean") && !l.contains("vecs")
        && l.toLowerCase.contains("dynamicpruning")),
      s"phase-1 stored scan should carry runtime partition pruning on " +
        s"centroid_id:\n${scans.mkString("\n")}")
  }

  test("salted join (q17) plans no cartesian and keeps the partial agg") {
    val p = plan(Relational.q17SaltedJoin(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"salting must stay an equi-join on (key, salt):\n$p")
    // revenue aggregation keeps map-side combine
    assert(p.contains("HashAggregate"))
  }

  test("stored sparse search (r30) prunes bucket partition dirs") {
    val p = plan(Retrieval.sparseStored(spark, sf))
    assert(p.contains("PartitionFilters") && p.contains("__b"),
      s"stored sparse scan must carry a __b partition filter:\n$p")
  }

  test("q06 pushes its filters into the parquet scan") {
    val p = plan(Relational.q06FilterSum(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // and prunes columns: quantity/discount/price/date only
    assert(!p.contains("l_comment"))
  }

  test("q03 hints exactly one broadcast (the dimension), facts shuffle-join") {
    // disable size-based auto-broadcast so only explicit hints remain —
    // at test scale Catalyst would legitimately broadcast the small fact
    // side too, which says nothing about the 100× plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan(Relational.q03JoinTopkRevenue(spark, sf))
      val broadcasts = "BroadcastExchange".r.findAllIn(p).length
      assert(broadcasts === 1, s"expected exactly 1 broadcast:\n$p")
      // lineitem joins orders via a non-broadcast join
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    } finally spark.conf.set(key, old)
  }

  test("hot-bucket cap is GATED: no Window machinery in the candidate " +
      "plan when no bucket is over-cap; chaining appears when one is") {
    val sp = spark
    import sp.implicits._
    val docs = (0 until 30)
      .map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta $i"))
      .toDF("doc_id", "text")
    // distinct texts, default cap (4096): the plain self-join path —
    // no window rank/count anywhere in the candidate plan
    val cold = graft.ops.Dedup.simHashPairs(
      graft.ops.Dedup.simHash(docs, "doc_id", "text"),
      maxDist = 3, bands = 4)
    assert(!plan(cold).contains("Window"),
      s"expected the gated plain path (no Window):\n${plan(cold)}")
    // 30 identical docs with hotCap=4: over-cap buckets → the windowed
    // chaining path engages
    val dup = (0 until 30)
      .map(i => (i.toLong, "the very same text in every copy"))
      .toDF("doc_id", "text")
    val hot = graft.ops.Dedup.simHashPairs(
      graft.ops.Dedup.simHash(dup, "doc_id", "text"),
      maxDist = 3, bands = 4, hotCap = 4, hotWindow = 2)
    assert(plan(hot).contains("Window"),
      s"expected the chaining path (Window present):\n${plan(hot)}")
    // and the chained candidates still connect the identical cluster
    assert(hot.count() > 0)
  }

  test("dedup verify joins are shuffle joins, not forced broadcasts") {
    // with auto-broadcast off, no BroadcastExchange may remain on the
    // per-doc set tables: a forced broadcast of |docs|×~2KB of shingle
    // hashes is an executor-OOM at corpus scale (VERDICT r03 #1). AQE
    // may still SIZE-gate a broadcast in production — the assertion is
    // that no unconditional hint exists.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val docs = Tables.documents(spark, sf)
      for (df <- Seq(
        graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5),
        graft.ops.Dedup.minHashDedupPairs(docs, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.5))) {
        val p = plan(df)
        assert(!p.contains("BroadcastExchange"),
          s"verify stage must not force-broadcast the set table:\n$p")
        assert(p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"))
      }
    } finally spark.conf.set(key, old)
  }

  test("knnJoinIvf: candidates come from an equi-join on centroid_id, " +
      "no cartesian, probe explode is map-only") {
    val p = plan(Retrieval.knnJoinIvfL2(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the cell join keys on centroid_id
    assert(p.contains("centroid_id"), p)
  }

  test("decontamination joins shingles without forcing a broadcast of " +
      "the train side") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan(DataOps.decontaminate(spark, sf))
      // with auto-broadcast off no unconditional broadcast remains —
      // the bench side is broadcast only when AQE's size gate says so
      assert(!p.contains("BroadcastExchange"), p)
      assert(!p.contains("CartesianProduct"))
    } finally spark.conf.set(key, old)
  }

  test("text-analysis queries carry no UDF barrier in their plans") {
    // the docsPar parallelism barrier is a typed mapPartitions stage,
    // not a nondeterministic identity UDF (VERDICT r04 hygiene item)
    for (df <- Seq(DataOps.tokenStats(spark, sf),
        DataOps.qualityTopk(spark, sf), DataOps.langidCounts(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("UDF"), s"UDF found in plan:\n$p")
      assert(p.contains("MapPartitions"), p)
    }
  }

  test("hash-split assignment is map-only (no exchange before the agg)") {
    val df = graft.ops.Sampling.withSplit(
      Tables.documents(spark, sf), "doc_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"split must not shuffle:\n$p")
  }

  test("bm25 query plans prune postings by the query's literal terms: " +
      "no join, no broadcast, never the full vocabulary stats table") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val docs = Tables.documents(spark, sf)
    val idx = graft.ops.Bm25.build(docs, "doc_id", "text")
    val df = graft.ops.Bm25.search(idx, "minhash dedup spark corpus", 10)
    val lp = df.queryExecution.optimizedPlan
    // df is bound into the scoring expression as literals, so nothing
    // is joined — and so nothing is broadcast
    assert(lp.collect { case j: Join => j }.isEmpty,
      s"a join in the BM25 query plan:\n$lp")
    // the postings reach scoring only through the query's own literal
    // term list
    assert(lp.exists {
      case Filter(cond, _) => cond.exists {
        case e: In => e.value.references.exists(_.name == "term")
        case e: InSet => e.child.references.exists(_.name == "term")
        case _ => false
      }
      case _ => false
    }, s"no literal term filter on the postings:\n$lp")
    // the full-vocabulary stats table (a df aggregate grouped by term)
    // never enters the plan — 10⁸-10⁹ rows at web scale (VERDICT r04 #1)
    assert(lp.collect { case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(
          _.name == "term")) => a }.isEmpty,
      s"a per-term aggregate in the BM25 query plan:\n$lp")
  }

  test("ivf knnJoin/assign plans embed no centroid literal") {
    // the centroid table must travel as a broadcast VARIABLE (one copy
    // per executor), not a typedlit plan literal that Catalyst
    // serializes into every task (VERDICT r04 #2): at 10⁵ cells × 768
    // dims a literal is a driver/plan bomb. Detectable at any scale: no
    // array-of-struct literal may appear in the optimized plan.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val e = Tables.embeddings(spark, sf)
    val model = Ann.buildIvf(e, "label", "embedding")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val join = Ann.knnJoinIvf(q, "q_id", "qv", assigned, "vec_id",
      "embedding", model, Ann.L2, probes = 2, k = 3)
    for (df <- Seq(assigned, join)) {
      val lits = df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.flatMap(_.collect {
          case l @ Literal(_, ArrayType(_: StructType, _)) => l
        })
      }.flatten
      assert(lits.isEmpty, s"centroid plan literal found: $lits")
    }
  }

  test("knnJoin plan contains no cartesian/broadcast nested loop join") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val d = e.select(col("vec_id").as("d_id"), col("embedding").as("dv"))
    val p = plan(Ann.knnJoin(q, "q_id", "qv", d, "d_id", "dv", Ann.L2, 2))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("ivf search prunes by centroid via a broadcast semi/hash join") {
    val e = Tables.embeddings(spark, sf)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    // assignment itself is map-only: no shuffle exchange in its plan
    val ap = plan(assigned)
    assert(!ap.contains("Exchange"), s"assign must be map-only:\n$ap")
  }

  test("dup-ngram strip: per-gram stats are a combinable aggregate, " +
      "never a window over gram") {
    val p = plan(DataOps.dupNgrams(spark, sf))
    // the stats stage must be HashAggregate (partial+final, map-side
    // combinable on hot grams); a Window keyed on gram would serialize
    // every occurrence of a hot gram through one partition
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
    val windows = p.split("\n").filter(_.contains("Window"))
    assert(!windows.exists(_.contains("gram")),
      s"found a gram-keyed window:\n${windows.mkString("\n")}")
  }

  test("pack-sequences: the shard window's exchange is reused by the " +
      "pack aggregation (one shuffle total)") {
    val p = plan(DataOps.packSeqs(spark, sf))
    // hashpartitioning(shard) satisfies the (shard, pack_id) grouping,
    // so the groupBy must NOT re-exchange after the window
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("ivf-bitq search: probed centroids enter as a broadcast of " +
      "query-derived rows, codes join without a literal") {
    val p = plan(Retrieval.ivfBitqTopk(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // no array-of-struct centroid literal anywhere in the plan
    assert(!p.contains("[[0.0,"), "centroid table leaked as a plan literal")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("stratified mix + splits share the map-only exchange-free scan") {
    val p = plan(DataOps.stratifiedMix(spark, sf))
    // the sample filter is map-side: exactly the aggregation's own
    // exchange, nothing before it
    val pre = p.split("HashAggregate")(p.split("HashAggregate").length - 1)
    assert(!pre.contains("Exchange"),
      s"sampling should not shuffle before aggregating:\n$p")
  }

  test("stored IVF table: probes become disk partition pruning") {
    val e = Tables.embeddings(spark, sf)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ann.writePartitioned(assigned, dir)
    // one directory per cell on disk
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(cellDirs.length === 10)
    val q = typedlit((0 until 64).map(_ => 0.0))
    val hits = Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
      model, q, Ann.L2, probes = 2, k = 5)
    val p = plan(hits)
    assert(p.contains("PartitionFilters:") &&
      p.contains("centroid_id#") , s"expected partition pruning:\n$p")
    assert(hits.count() === 5)
  }

  test("semDedup plans ONE cell-keyed shuffle: map-only assignment, " +
      "MapGroups prune, no self-join machinery") {
    val p = plan(DataOps.semDedup(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"want exactly the one cell shuffle, got $hashExchanges:\n$p")
    assert(p.contains("MapGroups"), s"per-cell greedy prune missing:\n$p")
    // the declarative window+self-join+anti-join form this replaced
    // planned 3 subtree recomputes — make sure none of it returns
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"self-join/window machinery crept back in:\n$p")
  }

  test("q12 pushes the base-column date predicate into the scan") {
    val p = plan(Relational.q12DateScalar(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"),
      s"expected the pushable date twin in PushedFilters:\n$p")
  }

  test("stored IVF+SQ layout keeps partition pruning AFTER a " +
      "cell-rewrite delete") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan-del").toString
    Ann.writeQuantized(index, dir)
    val removed = Ann.deleteStored(spark, s"$dir/quantized",
      col("vec_id") % 3 === 0)
    assert(removed > 0)
    val hits = Ann.searchStored(Ann.cellRoot(spark, dir, Some("embedding")),
        "vec_id", Seq.fill(64)(0.0), 2, 5)
    val p = plan(hits)
    assert(p.contains("PartitionFilters:") && p.contains("centroid_id#"),
      s"expected partition pruning on the rewritten layout:\n$p")
    assert(hits.count() === 5)
  }
}
