package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.ops.{Ann, Bm25, Fusion}
import Tables._

/** Oracle-gated retrieval queries: one per operator family (dense top-k,
  * IVF-pruned ANN, batch kNN join, BM25 keyword, multi-vector maxsim,
  * RRF fusion, hybrid ordered dedup-union).
  *
  * Each `queries` entry has a DuckDB `oracles` twin that recomputes the
  * same semantics in ANSI-ish SQL over the same parquet tables — mirroring
  * the reference's behavior contract (vector ops /root/reference/vechord/
  * client.py:294-380, fusion rerank.py:95-113) without its engine.
  *
  * Determinism rules shared with the oracle: all vector math in double
  * with sequential left-to-right folds, scores rounded to 6 decimals,
  * ties broken by id ascending before every LIMIT.
  */
object Retrieval {

  /** Collect one embedding as a double-array literal (a query parameter —
    * driver-side by design, like the reference's client-supplied vector). */
  private def qvecSeq(s: SparkSession, d: String, id: Long): Seq[Double] =
    embeddings(s, d).filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq

  private def qvec(s: SparkSession, d: String, id: Long): Column =
    typedlit(qvecSeq(s, d, id))

  /** The quantized index of the stored root at `dir`. */
  private def storedIndex(s: SparkSession, dir: String): Ann.QuantIndex =
    Ann.cellRoot(s, dir, None).as[Ann.CellRoot.Quantized]("storedIndex")
      .readIndex

  /** Dense exact top-k, L2 — reference `<->` (client.py:294-321). */
  def annTopkL2(s: SparkSession, d: String): DataFrame =
    Ann.topK(embeddings(s, d), "vec_id", "embedding", qvec(s, d, 0),
      Ann.L2, 10).select("vec_id", "dist")

  /** Dense exact top-k, cosine — reference `<=>`. */
  def annTopkCos(s: SparkSession, d: String): DataFrame =
    Ann.topK(embeddings(s, d), "vec_id", "embedding", qvec(s, d, 7),
      Ann.Cosine, 10).select("vec_id", "dist")

  /** Dense exact top-k, inner product — reference `<#>` (negated dot,
    * spec.py:426-435): the third and last distance operator of the
    * reference's query_vec surface, completing the metric family's
    * gate coverage (L2 = r01, cosine = r02). */
  def annTopkIp(s: SparkSession, d: String): DataFrame =
    Ann.topK(embeddings(s, d), "vec_id", "embedding", qvec(s, d, 19),
      Ann.InnerProduct, 10).select("vec_id", "dist")

  /** IVF build (cells = label) → assign → probe 3 cells → exact top-k
    * within probed cells. The full index lifecycle under one oracle. */
  def annIvfL2(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    Ann.searchIvf(assigned, "vec_id", "embedding", model, qvec(s, d, 3),
      Ann.L2, probes = 3, k = 10).select("vec_id", "dist")
  }

  /** Batch kNN join: 5 query vectors × top-3 docs each. */
  def knnJoinL2(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val docs = e.select(col("vec_id").as("d_id"), col("embedding").as("dv"))
    Ann.knnJoin(queries, "q_id", "qv", docs, "d_id", "dv", Ann.L2, 3)
  }

  /** IVF batch ANN join: 5 query vectors × top-3 docs each, probing the
    * 2 nearest label-centroid cells — [[Ann.knnJoinIvf]], the
    * both-sides-large scale path, under the oracle. */
  def knnJoinIvfL2(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    Ann.knnJoinIvf(queries, "q_id", "qv",
      assigned.select(col("vec_id").as("d_id"),
        col("embedding").as("dv"), col("centroid_id")),
      "d_id", "dv", model, Ann.L2, probes = 2, k = 3)
  }

  /** r36: [[knnJoinIvfL2]] with the assigned table AT REST — the batch
    * kNN join replayed against a [[Ann.writePartitioned]] layout. The
    * per-query probe relation (Q·probes rows) joins the stored scan on
    * the partition column, so Spark plants a DynamicPruningExpression
    * on the cell-partitioned read: each BATCH reads only the union of
    * its queries' probed cell dirs (pinned in-query), and results are
    * byte-identical to r10's in-memory form — the oracle is shared. */
  def knnJoinStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_knn_store").toString
    Ann.writePartitioned(assigned, dir)
    val stored = s.read.parquet(dir)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinIvf(queries, "q_id", "qv", stored,
      "d_id", "dv", model, Ann.L2, probes = 2, k = 3)
    val phys = df.queryExecution.executedPlan.toString
    require(phys.toLowerCase.contains("dynamicpruning"),
      s"stored batch kNN join must runtime-prune cell dirs:\n$phys")
    df
  }

  /** r37: product-quantized search ([[Ann.searchPq]]) — the third
    * member of the quantization family (SQ r11, 1-bit r14): 8
    * subspaces × label-seeded codebooks, positional codes, ADC
    * phase-1 over a query LUT (codegen'd, no per-row vector math),
    * exact re-rank top-10. The plan pin asserts phase-1 never reads
    * the full-precision vector column. */
  def pqAdc(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildPq(e, "label", "embedding", m = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_store").toString
    Ann.encodePq(e, "embedding", model)
      .select(col("vec_id"), col("embedding"), col("pq_codes"))
      .write.mode("overwrite").parquet(dir)
    val stored = s.read.parquet(dir)
    val df = Ann.searchPq(stored, "vec_id", "embedding", "pq_codes",
      model, qvecSeq(s, d, 9), Ann.L2, k = 10, refine = 5)
    // the ADC phase must scan codes WITHOUT the fp vector column —
    // one parquet scan reads (vec_id, pq_codes) only, the other
    // fetches (vec_id, embedding) for the k·refine survivors
    val phys = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(phys).map(_.group(1)).toSeq
    require(schemas.exists(sc =>
        sc.contains("pq_codes") && !sc.contains("embedding")),
      s"ADC phase read the full-precision column:\n$phys")
    df
  }

  /** r38: IVF + PQ composed ([[Ann.buildIvfPq]]/[[Ann.searchQuantized]]) —
    * probe 3 cells, ADC over (id, codes, cell) within them only, exact
    * re-rank of the top-50 survivors fetched by id. The quantization
    * family's third member at the index level (SQ r12, 1-bit r14). */
  def ivfPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    Ann.searchQuantized(idx, "vec_id", "embedding", typedlit(qvecSeq(s, d, 5)),
      Ann.L2, probes = 3, k = 10, refine = 5)
  }

  /** r40: r38 with the index AT REST ([[Ann.writeQuantized]] →
    * [[Ann.searchStored]]) — probe cells become literal partition
    * filters on the cell-partitioned layout, so BOTH the codes-only
    * ADC scan and the survivor vector fetch read only probed cell
    * directories (pinned in-query); geometry pinned by marker; results
    * byte-identical to r38 (shared oracle). */
  def ivfPqStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_store").toString
    Ann.writeQuantized(idx, dir)
    val df = Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")),
        "vec_id", qvecSeq(s, d, 5), 3, 10, refine = 5)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "stored ivf-pq search")
    df
  }

  /** r39: the DECLARATIVE plan over a registered PQ index — a plain
    * `orderBy(l2Dist).limit(10)` rewritten into the codes-only ADC
    * candidate semi-join with the plan's own Sort+Limit as the exact
    * re-rank. Runs r38's exact parameters, so the optimizer rewrite
    * must reproduce the explicit operator bit-for-bit (shared oracle —
    * the r12/r16 pattern for the PQ family). */
  def pqRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Quantized(
      "embedding", "vec_id", () => index, Ann.L2, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), qvec(s, d, 5)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "pq rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r41: batch IVF+PQ kNN join ([[Ann.knnJoinQuantized]]) — the PQ member
    * of the batch query-log-replay family (dense r10/r36, BM25 r13/r35,
    * sparse r32/r34, maxsim r33): five queries replayed in ONE job over
    * a [[Ann.writeQuantized]] layout. Per-query ADC lookup tables travel as
    * ONE broadcast beside the (qid, cell) probe relation, so phase-1 is
    * a single codes-only scan of the probed cell dirs (ReadSchema must
    * exclude the fp vector column AND the batch's probed-cell union —
    * known on the driver — plants literal PartitionFilters on the
    * cell-partitioned layout; both pinned), and
    * phase-2 re-ranks only the k·refine survivors per query. The L2
    * `require` is the index's contract: cosine batch joins normalize
    * inputs and run an L2 index ([[Ann.buildIvfPq]] spherical). The
    * oracle replays r38's codebook construction in r10's batch shape. */
  def knnJoinPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_knnpq_store").toString
    Ann.writeQuantized(idx, dir)
    val stored = storedIndex(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantized(queries, "q_id", "qv", stored, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    val phys = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(phys).map(_.group(1)).toSeq
    require(schemas.exists(sc =>
        sc.contains("pq_codes") && !sc.contains("embedding")),
      s"batch ADC phase read the full-precision column:\n$phys")
    assertPartitionPruned(phys, "centroid_id", "batch ADC scan")
    df
  }

  /** r43: SPHERICAL IVF+PQ ([[Ann.buildIvfPq]] cosine — the reference
    * pins `spherical_centroids` for cos/dot vchordrq indexes,
    * spec.py:458-464): assignment, codebooks, codes and the codes-only
    * ADC scan all run as L2 on the unit sphere over normalized vectors,
    * and the exact re-rank is TRUE cosine distance on the raw vectors
    * (the stored vecCol stays un-normalized — [[Ann.IvfPqIndex]]'s
    * spherical contract). Completes the PQ family's metric coverage:
    * r38/r40/r41 gate the L2 members; the spherical path was only
    * PqSpec-tested until now. */
  def ivfPqCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.Cosine)
    Ann.searchQuantized(idx, "vec_id", "embedding", typedlit(qvecSeq(s, d, 17)),
      Ann.Cosine, probes = 3, k = 10, refine = 5)
  }

  /** r48: batch IVF+SQ kNN join ([[Ann.knnJoinQuantized]]) — the batch
    * query-log replay over the reference's DEFAULT quantization
    * (residual 8-bit codes, spec.py:437-444), with a FULLY DECLARATIVE
    * phase-1: the broadcast probe relation carries each query's vector,
    * so the asymmetric distance is pure builtin columns over (codes,
    * per-cell bounds, per-query vector) — zero UDFs in the whole job
    * (pinned: no ScalaUDF in the plan, query relations join broadcast,
    * no cartesian product). Five queries, probes=2, per-query exact
    * re-rank top-3. */
  def knnJoinSq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantized(queries, "q_id", "qv", index, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    val phys = df.queryExecution.executedPlan.toString
    require(!phys.contains("ScalaUDF"),
      s"batch SQ join must stay in codegen (no UDFs):\n$phys")
    require(phys.contains("BroadcastHashJoin") &&
        !phys.contains("CartesianProduct"),
      s"query relations must join broadcast:\n$phys")
    df
  }

  /** r50: r48 with the SQ index AT REST ([[Ann.writeQuantized]] →
    * [[Ann.CellRoot.Quantized.readIndex]] → [[Ann.knnJoinQuantized]]) —
    * the at-rest batch
    * story for the quantized family: the batch's probed-cell union
    * plants literal PartitionFilters on the cell-partitioned layout
    * AND phase-1 reads (id, packed codes) ONLY — the full-precision
    * vector column never loads during the asymmetric scan (both
    * pinned). Results byte-identical to r48 (packCodes/unpackCodes is
    * lossless; pruning changes IO, never results — shared oracle). */
  def knnJoinSqStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_knnsq_store").toString
    Ann.writeQuantized(index, dir)
    val stored = storedIndex(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantized(queries, "q_id", "qv", stored, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    val phys = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(phys).map(_.group(1)).toSeq
    require(schemas.exists(sc =>
        sc.contains("codes") && !sc.contains("embedding")),
      s"batch asymmetric phase read the full-precision column:\n$phys")
    assertPartitionPruned(phys, "centroid_id", "stored batch SQ join")
    df
  }

  /** r49: batch IVF+1-bit kNN join ([[Ann.knnJoinQuantized]]) —
    * completes the QUANTIZED batch trio (PQ r41/r44, SQ r48): the
    * sign-bit residual estimator over (bits, rnorm, cell centroid,
    * per-query vector) as pure builtin columns — zero UDFs (pinned),
    * per-query keep-15, exact re-rank top-3. */
  def knnJoinBitq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantized(queries, "q_id", "qv", index, "vec_id",
        "embedding", Ann.L2, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    val phys = df.queryExecution.executedPlan.toString
    require(!phys.contains("ScalaUDF"),
      s"batch 1-bit join must stay in codegen (no UDFs):\n$phys")
    require(phys.contains("BroadcastHashJoin") &&
        !phys.contains("CartesianProduct"),
      s"query relations must join broadcast:\n$phys")
    df
  }

  /** r47: stored delete on a PQ layout — r19's S6 maintenance contract
    * for the PQ family: [[Ann.deleteStored]] stage-and-swaps the
    * affected `encoded/` cell dirs (every vec_id % 7 == 0 removed),
    * codebooks and centroids stay TRAINED on the full corpus (the
    * codes-outlive-rows contract r19 pinned for SQ bounds), and the
    * stored search never surfaces a removed row. The oracle is r38's
    * replay with deleted ids excluded from the CANDIDATE scan only. */
  def pqStoredDelete(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_del").toString
    Ann.writeQuantized(idx, dir)
    val removed = Ann.deleteStored(s, s"$dir/encoded",
      col("vec_id") % 7 === 0)
    require(removed > 0, "stored delete removed nothing — gate is vacuous")
    Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")), "vec_id",
        qvecSeq(s, d, 5), 3, 10, refine = 5)
  }

  /** r46: r43 with the spherical index AT REST ([[Ann.writeQuantized]] →
    * [[Ann.searchStored]] — r40's cosine twin): geometry
    * including the spherical flag pinned by marker, probe cells as
    * literal partition filters on BOTH phases, results byte-identical
    * to r43 (shared oracle). */
  def ivfPqCosStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.Cosine)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpqc_store").toString
    Ann.writeQuantized(idx, dir)
    val df = Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")),
        "vec_id", qvecSeq(s, d, 17), 3, 10, refine = 5)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "stored spherical ivf-pq search")
    df
  }

  /** r45: the DECLARATIVE plan over a registered SPHERICAL PQ index —
    * r39's rewrite gate in r43's metric: a plain
    * `orderBy(cosDist).limit(10)` rewritten into the normalized
    * codes-only ADC candidate semi-join, the plan's own Sort+Limit
    * re-ranking in true cosine. Runs r43's exact parameters, so the
    * optimizer rewrite must reproduce the explicit operator
    * bit-for-bit (shared oracle — the r17/r18 pattern, now for PQ). */
  def pqRewriteCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.Cosine)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Quantized(
      "embedding", "vec_id", () => index, Ann.Cosine, probes = 3,
      refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .cosDist(col("embedding"), qvec(s, d, 17)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "spherical pq rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r44: the COSINE batch IVF+PQ kNN join ([[Ann.knnJoinQuantized]])
    * over an at-rest spherical layout — r41's batch replay with r43's
    * spherical semantics: probes and per-query ADC LUTs on the unit
    * sphere, TRUE-cosine exact re-rank on raw vectors, one job for the
    * whole query log. Same plan pins as r41 (codes-only phase-1
    * ReadSchema + literal PartitionFilters from the probed-cell
    * union). */
  def knnJoinPqCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val idx = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.Cosine)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_knnpqc_store").toString
    Ann.writeQuantized(idx, dir)
    val stored = storedIndex(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantized(queries, "q_id", "qv", stored,
        "vec_id", "embedding", Ann.Cosine, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    val phys = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(phys).map(_.group(1)).toSeq
    require(schemas.exists(sc =>
        sc.contains("pq_codes") && !sc.contains("embedding")),
      s"batch ADC phase read the full-precision column:\n$phys")
    assertPartitionPruned(phys, "centroid_id", "batch ADC scan")
    df
  }

  /** r42: the KMeans PQ TRAINER faces the oracle ([[Ann.buildPqKMeans]]
    * — per-subspace [[Ann.buildIvfKMeans]]: portable-md5 seed draw +
    * Lloyd's iterations). r37-r40 exercised the label-mean `buildPq`
    * seed while the production trainer was only spec-tested for
    * determinism — and the round-10 lesson (the KMeans seed collapse
    * surfaced only when a gate faced the oracle) says trainers need
    * oracles too. The seeding is [[Ann.portableVecHash]] — canonical
    * scaled-BIGINT string, md5, first 15 hex chars — which DuckDB
    * replays verbatim, then 2 unrolled Lloyd iterations per subspace
    * (cosine-free L2 path: argmin assignment with (dist, cid) ties,
    * per-(cell, pos) mean rounded to 5). Output: the full codebook
    * geometry (s, code, pos, c) hash-compared entry by entry. */
  def pqKmeansOracle(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildPqKMeans(e, "embedding", m = 8, k = 4,
      iters = 2)
    val rows = for {
      sub <- model.codebooks.indices
      (code, cent) <- model.codebooks(sub).toSeq.zipWithIndex
        .map { case ((_, cent), i) => (i, cent) }
      (c, pos) <- cent.toSeq.zipWithIndex
    } yield (sub, code, pos, c)
    val sp = s
    import sp.implicits._
    rows.toDF("s", "code", "pos", "c")
  }

  /** Scalar-quantized search: 8-bit codes → asymmetric-distance top-50
    * → exact re-rank top-10 ([[Ann.searchSq]] — the quantized-index
    * two-phase the reference's vchordrq uses internally). */
  def sqTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildSq(e, "embedding")
    val q = Ann.quantizeSq(e, "embedding", model)
    Ann.searchSq(q, "vec_id", "embedding", "codes", model,
      qvec(s, d, 9), Ann.L2, k = 10, refine = 5)
  }

  /** IVF + per-cell scalar quantization composed ([[Ann.buildIvfSq]] /
    * [[Ann.searchQuantized]] — the actual vchordrq shape: quantized codes
    * inside probed IVF cells, asymmetric scan, exact re-rank). */
  def ivfSqTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    Ann.searchQuantized(index, "vec_id", "embedding", qvec(s, d, 11), Ann.L2,
      probes = 3, k = 10, refine = 5)
  }

  /** IVF + 1-bit RaBitQ-style quantization: sign-bit residual codes,
    * asymmetric estimator scan within probed cells, exact re-rank —
    * the vchordrq default index shape at 32× vector compression. */
  def ivfBitqTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    Ann.searchQuantized(index, "vec_id", "embedding", qvec(s, d, 13), Ann.L2,
      probes = 3, k = 10, refine = 5)
  }

  /** MMR-diversified rerank over a cosine top-20 candidate list:
    * greedy λ·rel − (1−λ)·max-sim selection ([[graft.rank.Rerank.mmr]],
    * executor-side per query group). Fully oracle-gated: everything
    * derives from stored float embeddings in exact double arithmetic,
    * so the DuckDB twin replays the greedy loop as a recursive CTE
    * (state = picked ids; each step an argmax LATERAL with the same
    * strictly-greater / id-asc tie-break) and matches bit-for-bit. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cand = Ann.topK(e, "vec_id", "embedding", qvec(s, d, 5),
        Ann.Cosine, 20)
      .withColumn("rel", lit(1.0) - col("dist"))
    graft.rank.Rerank.mmr(cand, "vec_id", "embedding", "rel", k = 10)
      .orderBy("mmr_rank")
  }

  val Bm25Query = "spark filter join"

  /** BM25 keyword top-k over documents.text (index built once per
    * corpus dir — create_index vs query separation). The cache key
    * carries the dir's content version ([[Bm25.dirVersion]]), so
    * rewriting files under the same path invalidates the index — same
    * pattern as Engine's catalog-versioned keyword key. */
  def bm25Topk(s: SparkSession, d: String): DataFrame = {
    val idx = Bm25.buildCached(documents(s, d), "doc_id", "text",
      s"$d|${Bm25.dirVersion(s, s"$d/documents.parquet")}")
    Bm25.search(idx, Bm25Query, 10)
  }

  /** The three fixed query strings of the batch-BM25 gate (shared with
    * its oracle). */
  val BatchQueries: Seq[(Long, String)] = Seq(
    (1L, "spark filter join"),
    (2L, "group hash join"),
    (3L, "window partition order"))

  /** Batch BM25: top-5 docs for every query row in ONE job
    * ([[Bm25.searchBatch]] — the keyword twin of the batch kNN join;
    * what an eval loop runs at scale instead of per-query driver
    * round-trips). */
  def bm25Batch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = Bm25.buildCached(documents(s, d), "doc_id", "text",
      s"$d|${Bm25.dirVersion(s, s"$d/documents.parquet")}")
    Bm25.searchBatch(idx, BatchQueries.toDF("qid", "qtext"),
      "qid", "qtext", k = 5)
  }

  /** r35: [[bm25Batch]] with the postings AT REST — the batch keyword
    * replay over a [[Bm25.writePostings]] layout. The batch's distinct
    * terms become literal bucket partition filters on BOTH the stats
    * aggregation and the scoring join (the [[Bm25.searchBatch]]
    * stored-pruning path, pinned in-query), and scores equal the
    * in-memory r13 form exactly — the oracle is shared. */
  def bm25StoredBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_store_b").toString
    Bm25.writePostings(documents(s, d), "doc_id", "text", dir,
      buckets = 16)
    val idx = Bm25.loadStoredPostings(s, dir)
    val df = Bm25.searchBatch(idx, BatchQueries.toDF("qid", "qtext"),
      "qid", "qtext", k = 5)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "bucket", "stored batch bm25 search")
    df
  }

  /** BM25 top-k under a REAL trained-vocab WordPiece tokenizer
    * ([[graft.functions.Tokenizers.wordpiece]] — greedy longest-match,
    * `##` continuations, the reference's `bert_base_uncased` PG
    * tokenizer registered per-column, client.py:130-144, spec.py:265).
    *
    * The vocab here is DERIVED from the corpus so the oracle can replay
    * it: every ≤4-char word as a whole piece, longer words as a 4-char
    * stem + their full `##`-continuation. Standalone pieces are thus
    * ≤4 chars and every word's own continuation is in the vocab, so
    * greedy longest-match provably tokenizes each word to
    * `[take(4), ##drop(4)]` (or itself) — exactly the CASE expression
    * in the DuckDB twin. The vocab is DATA, not a scan: bounded by the
    * corpus vocabulary (a production deployment loads a fixed 30k-piece
    * `vocab.txt` via [[graft.functions.Tokenizers.wordpieceFromFile]]
    * instead; the driver-side distinct-collect here is the gate's
    * determinism device, same contract as the POS lexicon). */
  /** r24's corpus-derived WordPiece vocab (and the punctuation-free
    * precondition scan), memoized per (session, corpus version): the
    * postings were already [[Bm25.buildCached]], but every call still
    * paid a full tokenize+distinct+collect to re-derive the SAME vocab
    * — the last uncached per-call build in the retrieval family (the
    * round-11 warm-drift audit). Same key discipline as the postings
    * cache: content version, so a rewritten corpus re-derives. Same
    * EVICTION discipline too ([[graft.core.LruCache]], access-ordered
    * — the round-13 FIFO memos thrashed under a working set one entry
    * over their cap); plain Seqs, nothing to unpersist. */
  private val wpVocabMemo = new graft.core.LruCache[String, Seq[String]](8)

  def bm25WordpieceTopk(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val ver = Bm25.dirVersion(s, s"$d/documents.parquet")
    // getOrElseUpdate computes under a PER-KEY latch (LruCache's
    // single-flight contract), so this full-Spark-job derivation never
    // blocks warm lookups for other corpora
    val vocab = wpVocabMemo.getOrElseUpdate(
      s"${graft.core.SessionId.of(s)}|$d|$ver") {
      val derived = {
        // The oracle replays WordPiece as simple-tokens + 4-char split,
        // which equals REAL WordPiece (BERT basic tokenization + greedy
        // match) only on a punctuation-free lowercase corpus — on
        // punctuated text, basic tokenization emits punct chars as
        // their own (vocab-less → [UNK]) tokens, shifting dl and df.
        // Fail LOUDLY if the fixture ever grows punctuation instead of
        // hash-mismatching mysteriously. (Punctuated behavior itself is
        // covered against reference fixtures in ComponentsSpec.)
        require(docs.filter(col("text").rlike("[^a-z0-9 ]")).isEmpty,
          "r24's oracle models punctuation-free corpora; " +
            "documents.parquet now contains punctuation/uppercase — " +
            "widen the oracle")
        docs.select(explode(
            graft.functions.Tokenizers.Simple.column(col("text"))).as("w"))
          .distinct().collect().map(_.getString(0)).toSeq
          .flatMap(w =>
            if (w.length > 4) Seq(w.take(4), "##" + w.drop(4)) else Seq(w))
          .distinct
      }
      derived
    }
    val tok = graft.functions.Tokenizers.wordpiece(vocab,
      name = "bert_corpus4")
    val idx = Bm25.buildCached(docs, "doc_id", "text",
      s"$d|wp4|$ver", tok)
    Bm25.search(idx, Bm25Query, 10)
  }

  /** Multi-vector maxsim: docs = per-label vector bags, query = 2 tokens
    * (vec_id 0,1); score = Σ_q max_d dot — reference `@#`
    * (client.py:323-354). */
  def maxsimLabel(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val qts: Seq[Seq[Double]] = e.filter(col("vec_id").isin(0, 1))
      .orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val docs = e.groupBy(col("label").cast("long").as("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("vecs"))
    docs
      .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
        .maxSimDot(typedlit(qts), col("vecs")), 6))
      .select("label", "score")
      .orderBy(col("score").desc, col("label").asc)
      .limit(5)
  }

  /** The Catalyst ANN-rewrite rule under the oracle: the IVF-assigned
    * table is stored `partitionBy(centroid_id)`, the index is registered
    * with the optimizer, and the query is a PLAIN brute-force
    * sort-by-distance + limit — [[graft.plans.AnnTopKRule]] injects the
    * probe filter (which becomes disk partition pruning), so the result
    * must equal the explicitly-probed r03 semantics. The plan is forced
    * while the registration is live, then the index is unregistered so
    * no other declared query is affected. */
  def annRewriteStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_store").toString
    Ann.writePartitioned(assigned, path)
    graft.plans.AnnIndex.install(s)
    val cents = model.collectedCentroids.toSeq
    graft.plans.AnnIndex.register(graft.plans.Binding.Probe("embedding",
      model.idCol, () => cents, Ann.L2, probes = 3))
    try {
      val q = qvec(s, d, 5)
      val df = s.read.parquet(path)
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      // materialize while the registration is live: downstream actions
      // (.write/.count) build fresh QueryExecutions, which would plan
      // after the unregister below and lose the rewrite
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r72: the PURE-SQL surface — r09's declarative rewrite driven
    * entirely from `spark.sql`: the vector functions are the
    * session-registered SQL names ([[org.apache.spark.sql.graft
    * .VecExprs.register]], the same codegen'd expressions
    * GraftExtensions injects via config), the data is a temp view
    * over the cell-partitioned store, and the query text is the
    * plain `ORDER BY l2_dist(...) LIMIT k` a SQL-only user writes.
    * The optimizer must treat it exactly like the Column-API plan:
    * probe-cell partition pruning pinned in-query, and the oracle is
    * r09's IVF replay — a plan the rewrite missed would return the
    * exact answer and FAIL the oracle, so green means the rewrite
    * fired on a SQL-authored plan. */
  def sqlSurfaceTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_sql_surface").toString
    Ann.writePartitioned(assigned, path)
    org.apache.spark.sql.graft.VecExprs.register(s)
    graft.plans.AnnIndex.install(s)
    val cents = model.collectedCentroids.toSeq
    graft.plans.AnnIndex.register(graft.plans.Binding.Probe("embedding",
      model.idCol, () => cents, Ann.L2, probes = 3))
    try {
      s.read.parquet(path).createOrReplaceTempView("graft_sql_emb")
      val qarr = qvecSeq(s, d, 5)
        .map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
      val df = s.sql(
        s"""SELECT vec_id, round(l2_dist(embedding, $qarr), 6) AS dist
            FROM graft_sql_emb
            ORDER BY dist ASC, vec_id ASC LIMIT 10""")
      assertPartitionPruned(df.queryExecution.executedPlan.toString,
        "centroid_id", "SQL-authored top-k")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** Declarative DISTRIBUTED-probe rewrite gate: r09's semantics with
    * the probe cells computed by a semi-joined subplan over the
    * centroids table ([[graft.plans.Binding.ProbeDist]])
    * instead of driver-side literals — the registration form that keeps
    * the rewrite available past the driver's centroid budget
    * (AnnRewrite.scala's documented ~10⁵-cell collect ceiling; at 10⁶
    * cells the probe selection must stay a distributed subplan).
    * LeftSemi asserted in-query AND the plan must carry NO
    * centroid-literal IN filter, so a silent fall-through to the
    * driver-literal path (or no rewrite at all) cannot fake green. */
  def annRewriteDist(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_dist").toString
    Ann.writePartitioned(assigned, path)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.ProbeDist(
      "embedding", model.idCol, () => model.centroids, model.idCol,
      model.vecCol, Ann.L2, probes = 3))
    try {
      val df = s.read.parquet(path)
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), qvec(s, d, 9)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"distributed probe rewrite did not engage:\n$plan")
      require(!plan.contains(" IN ("),
        s"expected subplan probe selection, found centroid literals:\n$plan")
      // IO contract: the rule's DynamicPruningSubquery must become
      // runtime partition pruning on the stored layout (the semi-join
      // alone bounds compute, not the scan)
      require(df.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        "expected runtime partition pruning on the stored scan")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** Declarative QUANTIZED rewrite gate: a plain orderBy(dist).limit(k)
    * DataFrame over a registered IVF+SQ index, with r12's exact
    * parameters — the optimizer must inject the two-phase code-scan
    * semi-join AND the result must equal the explicit operator
    * (shared oracle). The plan shape is asserted here, so a silent
    * non-rewrite cannot slide through as a brute-force false green. */
  def annRewriteQuant(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Quantized(
      "embedding", "vec_id", () => index, Ann.L2, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), qvec(s, d, 11)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "quantized rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** IVF + per-cell SQ on a COSINE index — the spherical build
    * ([[Ann.buildIvfSq]] normalize-then-L2, the reference's
    * `spherical_centroids` default for cos/dot indexes,
    * spec.py:437-444): assignment, probes, bounds, codes and the
    * asymmetric scan all live on the unit sphere; the exact re-rank is
    * true cosine distance on the raw vectors. */
  def ivfSqCosTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.Cosine)
    Ann.searchQuantized(index, "vec_id", "embedding", qvec(s, d, 17),
      Ann.Cosine, probes = 3, k = 10, refine = 5)
  }

  /** Declarative COSINE quantized rewrite: r17's exact parameters
    * behind a plain `orderBy(cos_dist).limit(k)` DataFrame — the
    * optimizer must inject the spherical two-phase semi-join and
    * reproduce the explicit operator bit-for-bit (shared oracle).
    * LeftSemi asserted in-query so a silent non-rewrite cannot fake
    * green (the r16 pattern, extended to the cosine metric). */
  def annRewriteCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.Cosine)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Quantized(
      "embedding", "vec_id", () => index, Ann.Cosine, probes = 3,
      refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .cosDist(col("embedding"), qvec(s, d, 17)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "cosine quantized rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** Index maintenance on the AT-REST layout: write the r12 IVF+SQ
    * index to disk ([[Ann.writeQuantized]]), DELETE every vec_id divisible
    * by 7 via the cell-rewrite delete ([[Ann.deleteStored]] — only
    * affected cell directories are rewritten), then run the stored
    * search: removed vectors must never surface, while codes/bounds
    * built before the delete stay valid for the survivors. */
  def storedDelete(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfsq_del").toString
    Ann.writeQuantized(index, dir)
    val removed = Ann.deleteStored(s, s"$dir/quantized",
      col("vec_id") % 7 === 0)
    require(removed > 0, "stored delete removed nothing — gate is vacuous")
    Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")), "vec_id",
        qvecSeq(s, d, 11), 3, 10, refine = 5)
  }

  /** r84: r19's delete-maintenance gate over a root WITH a fresh
    * side table — the full incremental lifecycle under one oracle:
    * the r12 index trains on the FULL corpus, the root is written
    * from the even half, the odd half appends RAW into `fresh/`
    * ([[Ann.appendIdempotent]]), then every vec_id
    * divisible by 7 deletes from BOTH the main layout
    * ([[Ann.deleteStoredIds]]) and the side table
    * ([[Ann.deleteQuantizedFreshIds]] — without which a doomed
    * fresh-resident row would resurrect), and the fresh-aware search
    * runs r19's exact parameters: grown-then-pruned must equal
    * built-then-pruned (r19's oracle verbatim). */
  def sqFreshDelete(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sqfresh_del").toString
    Ann.writeQuantized(index.copy(quantized =
      index.quantized.filter(col("vec_id") % 2 === 0)), dir)
    val appended = Ann.appendIdempotent(
      Ann.cellRoot(s, dir, Some("embedding")),
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"), col("label")),
      "vec_id")
    require(appended > 0, "r84: no fresh rows appended — gate is vacuous")
    val doomed = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val removedMain = Ann.deleteStoredIds(s, s"$dir/quantized",
      "vec_id", doomed)
    val removedFresh = Ann.deleteQuantizedFreshIds(s, dir, "vec_id",
      doomed)
    require(removedMain > 0 && removedFresh > 0,
      s"r84 vacuous: removed $removedMain main / $removedFresh fresh")
    Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")), "vec_id",
        qvecSeq(s, d, 11), 3, 10, refine = 5)
  }

  /** r87: fresh-aware BATCH kNN join over a quantized root
    * ([[Ann.knnJoinQuantizedFresh]]) — the intersection the family was
    * missing: a streaming-maintained root (s25-s28's lifecycle) is
    * exactly what an eval loop replays a query log against, yet the
    * fresh-aware searches were single-query only. The r12 SQ index
    * trains on the FULL corpus (the offline-model seat), the root is
    * written from the even half, the odd half appends RAW into
    * `fresh/`, and the whole r48 query batch runs as ONE distributed
    * job over main + encode-on-read fresh — landing on r48's batch
    * oracle VERBATIM (grown equals built: the full-corpus per-qid SQ
    * replay cannot tell which rows arrived by stream). In-gate pins:
    * appended > 0 and ≥1 fresh-resident (odd) doc in the top-k (the
    * union carried — a silently-dropped fresh slice would still pass
    * a weaker rows>0 check), and `fresh/` survives the search (the
    * read path must never compact). */
  def quantizedFreshBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qfresh_batch").toString
    Ann.writeQuantized(index.copy(quantized =
      index.quantized.filter(col("vec_id") % 2 === 0)), dir)
    val appended = Ann.appendIdempotent(
      Ann.cellRoot(s, dir, Some("embedding")),
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"), col("label")),
      "vec_id")
    require(appended > 0, "r87: no fresh rows appended — gate is vacuous")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantizedFresh(s, dir, queries, "q_id", "qv",
        "vec_id", "embedding", Ann.L2, probes = 2, k = 3, refine = 5)
      .withColumnRenamed("vec_id", "d_id")
    require(df.filter(col("d_id") % 2 === 1).count() > 0,
      "r87 vacuous: no fresh-resident doc surfaced in the batch top-k")
    require(new java.io.File(dir, "fresh").exists(),
      "r87: fresh/ must still exist — the batch search must not compact")
    df
  }

  /** r92: FILTERED fresh-aware batch kNN join — the composition round
    * 15 named as silently missing: the filtered story (c20-c25's
    * metadata predicates) and the fresh story (s25-s28's live
    * quantized roots) each worked alone, but a *filtered* eval loop
    * over a *live* root had no operator. r87's even/odd SQ root
    * replays the r48 query batch under `label IN (1,3,5)` with the
    * r82 placement — the predicate thins the main codes scan AND the
    * encode-on-read fresh slice BEFORE every per-query cut, so
    * disallowed rows never consume refine slots — and lands on the
    * parameterized r48 oracle (the same full-corpus SQ replay with
    * the filter inside the candidate window; grown equals built).
    * In-gate pins: appended > 0, ≥1 fresh-resident (odd) doc in the
    * filtered top-k, NO disallowed label in the results (the no-leak
    * assert), and `fresh/` survives the search. */
  def quantizedFreshFilteredBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qfresh_fbatch").toString
    Ann.writeQuantized(index.copy(quantized =
      index.quantized.filter(col("vec_id") % 2 === 0)), dir)
    val appended = Ann.appendIdempotent(
      Ann.cellRoot(s, dir, Some("embedding")),
      e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"), col("label")),
      "vec_id")
    require(appended > 0, "r92: no fresh rows appended — gate is vacuous")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinQuantizedFresh(s, dir, queries, "q_id", "qv",
        "vec_id", "embedding", Ann.L2, probes = 2, k = 3, refine = 5,
        pred = col("label").isin(1, 3, 5))
      .withColumnRenamed("vec_id", "d_id").localCheckpoint(true)
    require(df.filter(col("d_id") % 2 === 1).count() > 0,
      "r92 vacuous: no fresh-resident doc in the filtered top-k")
    // no-leak: a result outside the predicate means a disallowed row
    // consumed a slot somewhere past the filter seat
    val leaked = df.join(
      e.filter(!col("label").isin(1, 3, 5))
        .select(col("vec_id").as("d_id")),
      Seq("d_id"), "left_semi").count()
    require(leaked == 0L, s"r92: $leaked disallowed docs leaked")
    require(new java.io.File(dir, "fresh").exists(),
      "r92: fresh/ must still exist — the batch search must not compact")
    df
  }

  /** Declarative MAXSIM rewrite — the third query shape joins the
    * declarative layer: a plain `orderBy(maxsim_dot(q, mv).desc)
    * .limit(k)` plan over a registered multivector table rewrites into
    * the two-phase `maxsim_refine` (client.py:337-343): a semi-join
    * against the top-`refine` docs by the cheap token-mean dot
    * ([[Ann.maxsimCandidates]]), with the plan's own Sort+Limit as the
    * exact maxsim re-rank. refine=3 < #labels makes the gate
    * PHASE-SENSITIVE (the oracle replays both phases — a silent
    * non-rewrite returns 5 rows where the oracle has 3, and a wrong
    * phase-1 ranking picks different candidates). LeftSemi asserted
    * in-query per the r16/r18 pattern. */
  def maxsimRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val qts: Seq[Seq[Double]] = e.filter(col("vec_id").isin(0, 1))
      .orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val docs = e.groupBy(col("label").cast("long").as("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("vecs"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_rw").toString
    docs.write.mode("overwrite").parquet(dir)
    val stored = s.read.parquet(dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Maxsim("vecs",
      "label", () => stored, refine = 3))
    try {
      val df = stored
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(qts), col("vecs")), 6))
        .orderBy(col("score").desc, col("label").asc)
        .limit(3) // k == refine: exactly 3 candidates, all phase-1-chosen
        .select("label", "score")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "maxsim rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("vecs")
  }

  /** Declarative INDEX-PRUNED maxsim — the multivec index's read path
    * (the reference's `vector_maxsim_ops` index with `lists`,
    * spec.py:447-464, built by create_index_if_not_exists,
    * client.py:146-174, probed per query, client.py:323-354) behind a
    * plain `orderBy(maxsim_dot.desc).limit(k)` DataFrame. Docs are one
    * per vec_id with a 2-token matrix [emb, reverse(emb)]; the IVF is
    * the deterministic label-mean model over the PERSISTED token-means
    * ([[Ann.tokenMeanCol]]), assigned and probed under cosine (the
    * reference pins `spherical_centroids` for `vector_maxsim_ops`),
    * stored `partitionBy(centroid_id)`. The rewrite must produce:
    * phase-1 over ONLY the 3 probed cells — with the self-planted
    * DynamicPruningSubquery making that runtime PARTITION pruning on
    * the stored layout — reading ONLY the persisted mean (the token
    * matrix column-pruned out of the phase-1 scan), a LeftSemi
    * candidate join, and the plan's own Sort+Limit as the exact maxsim
    * re-rank over refine=20 candidates. All three asserted in-query;
    * the oracle replays assignment, probe selection, and both phases
    * from first principles, so a silent fall-through to the unpruned
    * phase-1 (whose top-20 differs whenever an unprobed cell holds a
    * high-mean-dot doc) cannot fake green. */
  def maxsimIvfRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val qts: Seq[Seq[Double]] = e.filter(col("vec_id").isin(0, 1))
      .orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val docs = e.select(col("vec_id"), col("label"),
      array(col("embedding").cast("array<double>"),
        reverse(col("embedding")).cast("array<double>")).as("vecs"))
    val withMean = docs.withColumn("mv_mean",
      Ann.tokenMeanCol(col("vecs"), dim))
    val model = Ann.buildIvf(withMean, "label", "mv_mean")
    val assigned = Ann.assign(withMean, "mv_mean", model, Ann.Cosine)
      .drop("label")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_ivf").toString
    Ann.writePartitioned(assigned, dir)
    val stored = s.read.parquet(dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Maxsim("vecs",
      "vec_id", () => stored, refine = 20,
      Some(graft.plans.Binding.ProbeDist("mv_mean", "centroid_id",
        () => model.centroids, "centroid_id", "centroid", Ann.Cosine,
        probes = 3))))
    try {
      val df = stored
        .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
          .maxSimDot(typedlit(qts), col("vecs")), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "score")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"maxsim IVF rewrite did not engage:\n$plan")
      val phys = df.queryExecution.executedPlan.toString
      require(phys.toLowerCase.contains("dynamicpruning"),
        "expected runtime partition pruning on the phase-1 scan")
      // phase-1 reads the persisted mean, NEVER the token matrix: a
      // scan must carry mv_mean without vecs in its ReadSchema
      val scanLines =
        phys.linesIterator.filter(_.contains("ReadSchema")).toSeq
      require(scanLines.exists(l =>
          l.contains("mv_mean") && !l.contains("vecs")),
        s"phase-1 scan read the token matrix:\n${scanLines.mkString("\n")}")
      // phase-2 (the exact re-rank over the token matrix) must ALSO be
      // cell-pruned — candidates only come from probed cells, so the
      // rule plants the probe DPP on the re-rank leaf too; without it
      // the token-matrix read is corpus-sized
      require(scanLines.exists(l => l.contains("vecs") &&
          l.toLowerCase.contains("dynamicpruning")),
        s"phase-2 re-rank scan is not cell-pruned:\n" +
          scanLines.mkString("\n"))
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("vecs")
  }

  /** r33: batch maxsim query-log replay ([[Ann.maxsimBatch]]) — the
    * multivec modality's batch form, closing the family (dense r04/r10,
    * BM25 r13, sparse r32). Docs, model, and stored layout are r26's
    * exact shape (vecs = [emb, reverse(emb)], label-mean centroids over
    * persisted token-means, cosine assignment, partitionBy(centroid_id));
    * queries are FOUR token bags (vec_ids 0..3, each [emb,
    * reverse(emb)]) replayed in ONE job: per-query cosine probe
    * selection (3 cells), phase-1 top-20 by persisted-mean dot within
    * probed cells, phase-2 exact maxsim — both phases shared scans with
    * rank windows, never a per-query loop. In-query pins: the phase-1
    * scan reads the persisted mean and NEVER the token matrix, the
    * query relation joins broadcast, and no cartesian product appears.
    * The oracle replays assignment, per-query probes, and both phases
    * from first principles. */
  def maxsimBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val docs = e.select(col("vec_id"), col("label"),
      array(col("embedding").cast("array<double>"),
        reverse(col("embedding")).cast("array<double>")).as("vecs"))
    val withMean = docs.withColumn("mv_mean",
      Ann.tokenMeanCol(col("vecs"), dim))
    val model = Ann.buildIvf(withMean, "label", "mv_mean")
    val assigned = Ann.assign(withMean, "mv_mean", model, Ann.Cosine)
      .drop("label")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_batch").toString
    Ann.writePartitioned(assigned, dir)
    val stored = s.read.parquet(dir)
    val queries = e.filter(col("vec_id").isin(0, 1, 2, 3))
      .select(col("vec_id").as("qid"),
        array(col("embedding").cast("array<double>"),
          reverse(col("embedding")).cast("array<double>")).as("qvecs"))
    val df = Ann.maxsimBatch(queries, "qid", "qvecs", stored, "vec_id",
        "vecs", "mv_mean", model, dim, probes = 3, refine = 20, k = 10)
      .orderBy("qid", "rank")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("BroadcastHashJoin"),
      s"query relation must join broadcast:\n$phys")
    require(!phys.contains("CartesianProduct"),
      "batch maxsim must never cross-join the corpus")
    val scanLines =
      phys.linesIterator.filter(_.contains("ReadSchema")).toSeq
    // phase-1 reads only the persisted mean AND is partition-pruned at
    // RUNTIME: Spark plants a DynamicPruningExpression on the stored
    // scan from the broadcast probe join on centroid_id, so each query
    // batch reads only the union of its queries' probed cell dirs
    require(scanLines.exists(l =>
        l.contains("mv_mean") && !l.contains("vecs") &&
          l.toLowerCase.contains("dynamicpruning")),
      s"phase-1 scan must be mean-only AND runtime-pruned:\n" +
        scanLines.mkString("\n"))
    // phase-2 (the token-matrix re-rank read) must be cell-pruned too:
    // the candidate join carries centroid_id, so the vecs scan gets its
    // own DynamicPruningExpression — without it the matrix read is
    // corpus-sized (r26's contract)
    require(scanLines.exists(l => l.contains("vecs") &&
        l.toLowerCase.contains("dynamicpruning")),
      s"phase-2 re-rank scan is not cell-pruned:\n" +
        scanLines.mkString("\n"))
    df
  }

  /** Declarative BM25 rewrite — keyword search joins the declarative
    * layer (the FOURTH query shape, completing the reference's search
    * triad: vector, multivec, keyword): a plain
    * `orderBy(bm25_score.desc).limit(k)` plan over a registered text
    * column ([[Bm25.scoreColumn]] binds the index's corpus stats into
    * the scalar) rewrites into a semi-join against the top-(k·refine)
    * ids of the postings-index search — the declarative
    * `kw <&> to_bm25query` (client.py:356-380) — with the plan's own
    * Sort+Limit as the exact re-rank. Both phases share one total
    * order (score desc, id asc), so the result equals the global BM25
    * top-k over term-matching docs; the oracle replays that global
    * ranking, and the in-query LeftSemi require proves the candidates
    * actually came through the index path. */
  def bm25Rewrite(s: SparkSession, d: String): DataFrame = {
    val idx = Bm25.buildCached(documents(s, d), "doc_id", "text",
      s"$d|${Bm25.dirVersion(s, s"$d/documents.parquet")}")
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Bm25("text",
      "doc_id", () => idx, refine = 2))
    try {
      val df = documents(s, d)
        .withColumn("score",
          Bm25.scoreColumn(idx, "shuffle sort merge", col("text")))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(5)
        .select("doc_id", "score")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "bm25 rewrite did not engage")
      // materialize while the registration is live (see annRewriteStored)
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("text")
  }

  /** BM25 over the AT-REST term-bucketed postings layout — the full
    * write→load→search index lifecycle in one gate
    * ([[Bm25.writePostings]] / [[Bm25.loadStoredPostings]], the layout
    * [[graft.streaming.Stream.ingestBm25]] grows continuously): the
    * loaded index re-derives N/avgdl/df from the stored rows, and the
    * query scan prunes to the query terms' own bucket partitions
    * (literal PartitionFilters, asserted in-query — the keyword twin
    * of centroid-cell pruning). Scores must equal the from-text
    * replay, proving the stored postings are a lossless index form. */
  def bm25Stored(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_store").toString
    Bm25.writePostings(documents(s, d), "doc_id", "text", dir,
      buckets = 16)
    val idx = Bm25.loadStoredPostings(s, dir)
    val df = Bm25.search(idx, "window partition order", 10)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "bucket", "stored bm25 search")
    df
  }

  /** The two hybrid input lists: dense cosine top-20 over embeddings and
    * BM25 top-20 over documents, fused on the shared id space
    * (doc_id == vec_id in the testdata). */
  private def hybridLists(s: SparkSession, d: String): Seq[DataFrame] = {
    val vecList = Ann.topK(embeddings(s, d), "vec_id", "embedding",
      qvec(s, d, 7), Ann.Cosine, 20).select("vec_id", "dist")
    val idx = Bm25.buildCached(documents(s, d), "doc_id", "text",
      s"$d|${Bm25.dirVersion(s, s"$d/documents.parquet")}")
    val kwList = Bm25.search(idx, "group hash join", 20)
    Seq(
      Fusion.ranked(vecList, "vec_id", "dist", asc = true),
      Fusion.ranked(kwList, "id", "score", asc = false))
  }

  /** Hybrid reciprocal-rank fusion (rerank.py:95-113, k=60). */
  def rrfHybrid(s: SparkSession, d: String): DataFrame =
    Fusion.rrf(hybridLists(s, d), k = Fusion.RrfK, topK = 10)

  /** Hybrid order-preserving union + first-occurrence dedup
    * (model/web.py:87-93). */
  def hybridDedup(s: SparkSession, d: String): DataFrame =
    Fusion.dedupUnion(hybridLists(s, d), topK = 10)

  /** Sparse (SPLADE-seat) dot-product top-k — the sparse embedding
    * surface (reference embedding.py:413-441 SpladePP client,
    * model/internal.py:43-46 SparseEmbedding) under the DuckDB oracle:
    * every document and the query embed through the engine-portable
    * md5-bucketed sparse embedder ([[graft.functions.Md5SparseEmbedder]]
    * — bucket = md5-derived, value = term frequency), score =
    * [[graft.functions.Sparse.sparseDot]] between the doc's
    * (indices, values) columns and the query literal. The oracle
    * replays tokenization, bucketing, tf and the dot from first
    * principles. */
  def sparseTopk(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val q = emb.embed(SparseQueryText)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    documents(s, d)
      .withColumn("__sv", sv(col("text")))
      .withColumn("score", round(graft.functions.Sparse.sparseDot(
        col("__sv.indices"), col("__sv.values"),
        typedlit(q.indices), typedlit(q.values)), 6))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .select("doc_id", "score")
  }

  /** `private[queries]`: Events' s10 streamed-sparse twin queries the
    * same text its shared oracle replays. */
  private[queries] val SparseQueryText = "spark merge hash window"

  /** The SCALE path of r27 under the SAME oracle: the sparse corpus
    * inverted into postings (one row per non-zero,
    * [[graft.functions.Sparse.invertedPostings]]) and searched by
    * joining the broadcast query buckets + one map-side-combinable
    * per-doc sum ([[graft.functions.Sparse.invertedTopK]]) — a query
    * touches only its buckets' posting lists, never the corpus rows.
    * Score-identical to the row-scan form (small-integer tf products
    * are exact in double), so the r27 oracle gates both shapes. */
  def sparseInvertedTopk(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val postings = graft.functions.Sparse.invertedPostings(
      documents(s, d).withColumn("__sv", sv(col("text")))
        .select(col("doc_id"), col("__sv.indices").as("__i"),
          col("__sv.values").as("__v")),
      "doc_id", "__i", "__v")
    graft.functions.Sparse.invertedTopK(postings,
        emb.embed(SparseQueryText), 10)
      .select(col("id").as("doc_id"), col("score"))
  }

  /** r27's oracle over the AT-REST layout
    * ([[graft.functions.Sparse.writePostings]]): the inverted postings
    * persisted into bucket-mod partition dirs and searched by
    * [[graft.functions.Sparse.searchStored]], whose `isin` over the
    * recorded modulus prunes every unprobed directory at the scan
    * (`PartitionFilters`, asserted in-query) — a stored query's IO
    * scales with its posting lists, not the corpus. Score-identical to
    * the r27 row scan and the r29 in-memory inverted form, so the ONE
    * oracle gates all three plan shapes. */
  def sparseStored(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val postings = graft.functions.Sparse.invertedPostings(
      documents(s, d).withColumn("__sv", sv(col("text")))
        .select(col("doc_id"), col("__sv.indices").as("__i"),
          col("__sv.values").as("__v")),
      "doc_id", "__i", "__v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_store").toString
    graft.functions.Sparse.writePostings(postings, dir, buckets = 16)
    val df = graft.functions.Sparse.searchStored(s, dir,
      emb.embed(SparseQueryText), 10)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "__b", "stored sparse search")
    df.select(col("id").as("doc_id"), col("score"))
  }

  /** r31: the DECLARATIVE sparse search — the fourth and last search
    * modality's rewrite (dense r16/r18, maxsim r21/r26, BM25 r22 are
    * the other three): the sparse vectors live in a STORED table, the
    * query is a plain `orderBy(score.desc).limit(k)` over the
    * codegen'd [[org.apache.spark.sql.graft.SparseDotQ]] scalar, and
    * the registered rewrite must inject the inverted-postings
    * candidate semi-join (LeftSemi asserted in-query) with the scalar
    * surviving as the exact re-rank — scores identical to r27/r29/r30,
    * so the ONE oracle now gates four plan shapes. */
  def sparseRewrite(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_tbl").toString
    documents(s, d).withColumn("__sv", sv(col("text")))
      .select(col("doc_id"), col("__sv.indices").as("si"),
        col("__sv.values").as("sv"))
      .write.mode("overwrite").parquet(dir)
    val stored = s.read.parquet(dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.Sparse("si", "sv",
      "doc_id", () => graft.functions.Sparse.invertedPostings(
        stored, "doc_id", "si", "sv"),
      refine = 2))
    try {
      val q = emb.embed(SparseQueryText)
      val df = stored.withColumn("score",
          round(graft.functions.Sparse.scoreColumn(
            col("si"), col("sv"), q), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "sparse rewrite did not engage")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("si")
  }

  /** r32: BATCH sparse search under the oracle — the query-log-replay
    * form ([[graft.functions.Sparse.invertedTopKBatch]], the sparse
    * twin of r13's BM25 batch and r04/r10's kNN joins): the first 4
    * documents' own sparse vectors are the query set, every query's
    * top-5 comes out of ONE job (broadcast exploded queries, one
    * combinable (qid, id) aggregation, per-qid rank window), and
    * DuckDB replays embedding, bucket join, per-query scoring and
    * ranking from first principles. */
  def sparseBatch(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val docs = documents(s, d).withColumn("__sv", sv(col("text")))
      .select(col("doc_id"), col("__sv.indices").as("__i"),
        col("__sv.values").as("__v"))
    val postings = graft.functions.Sparse.invertedPostings(
      docs, "doc_id", "__i", "__v")
    val queries = docs.filter(col("doc_id") < 4)
    graft.functions.Sparse.invertedTopKBatch(postings, queries,
        "doc_id", "__i", "__v", k = 5)
      .select(col("qid"), col("id").as("doc_id"), col("score"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** r34: the BATCH replay against the AT-REST sparse layout
    * ([[graft.functions.Sparse.searchStoredBatch]]) — r32's query set
    * over a [[graft.functions.Sparse.writePostings]] dir. The batch's
    * distinct buckets become a literal isin on the partition column,
    * so the scan prunes every bucket directory no query touches (the
    * broadcast bucket join alone cannot prune disk partitions — the
    * modulus does not derive through runtime pruning); scores are
    * byte-identical to r32 (shared oracle), and the in-query pin
    * proves the pruning engaged. */
  def sparseStoredBatch(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val docs = documents(s, d).withColumn("__sv", sv(col("text")))
      .select(col("doc_id"), col("__sv.indices").as("__i"),
        col("__sv.values").as("__v"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_store_b").toString
    graft.functions.Sparse.writePostings(
      graft.functions.Sparse.invertedPostings(docs, "doc_id", "__i",
        "__v"), dir, buckets = 16)
    val queries = docs.filter(col("doc_id") < 4)
    val df = graft.functions.Sparse.searchStoredBatch(s, dir, queries,
      "doc_id", "__i", "__v", k = 5)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "__b", "stored batch sparse search")
    df.select(col("qid"), col("id").as("doc_id"), col("score"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** Reranker application under the oracle (R2/R5: the cross-encoder
    * seat rerank.py:28-63 + the `reorder` application web.py:95-96):
    * the BM25 top-10 feeds [[graft.rank.Rerank.apply]] with the
    * deterministic [[graft.rank.OverlapReranker]] — re-rank by
    * |query ∩ doc| DISTINCT tokens descending, ties by the incoming
    * (BM25) rank. DuckDB replays the BM25 phase, the overlap count
    * over distinct doc tokens, and the stable re-sort. */
  def overlapRerank(s: SparkSession, d: String): DataFrame = {
    val idx = Bm25.buildCached(documents(s, d), "doc_id", "text",
      s"$d|${Bm25.dirVersion(s, s"$d/documents.parquet")}")
    val hits = Bm25.search(idx, Bm25Query, 10)
    val ranked = Fusion.ranked(hits, "id", "score", asc = false)
      .join(documents(s, d).select(col("doc_id").as("id"), col("text")),
        "id")
    graft.rank.Rerank.apply(ranked, "id", "text", Bm25Query,
        graft.rank.OverlapReranker())
      .select(col("id"), col("rank"))
  }

  /** r51: FILTERED exact vector search — top-k under a metadata
    * predicate, the WHERE clause the reference's `query_vec`
    * (client.py:294-321) does not take but every corpus-curation query
    * needs ("nearest English web documents", not "nearest rows"). The
    * Spark form is the declarative composition `filter(pred)` →
    * [[Ann.topK]]; the 100 TB property is that the predicate reaches
    * the parquet scan as a `PushedFilters` entry (row-group min/max
    * skipping BEFORE any vector is materialized), pinned in-query —
    * the filter runs in the scan, not after it. */
  def annFilteredTopk(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val df = Ann.topK(e.filter(col("label").isin(1, 3, 5)),
        "vec_id", "embedding", qvec(s, d, 0), Ann.L2, 10)
      .select("vec_id", "dist")
    val phys = df.queryExecution.executedPlan.toString
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"filtered top-k did not push the label predicate to parquet:\n$phys")
    df
  }

  /** r52: filtered IVF search AT REST — [[Ann.searchIvfStored]] with
    * `pred`: the index is built over the WHOLE corpus (cells =
    * vec_id % 8, deliberately independent of the filter column so the
    * predicate cannot degenerate into partition pruning), the layout is
    * cell-partitioned on disk, and the query composes BOTH prunings on
    * ONE scan: probed cells prune whole directories
    * (`PartitionFilters` on centroid_id) while the label predicate
    * prunes row groups inside them (`PushedFilters`) — pinned
    * together in-query. Filtering thins probed cells rather than
    * re-scanning the corpus; a selective predicate is compensated by
    * `probes`, the same knob the reference exposes per query
    * (client.py:285-292). */
  def annIvfFilteredStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cells = e.withColumn("__cell", pmod(col("vec_id"), lit(8)))
    val model = Ann.buildIvf(cells, "__cell", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fann_store").toString
    Ann.writePartitioned(assigned, dir)
    val df = Ann.searchIvfStored(s, dir, "vec_id", "embedding", model,
        qvec(s, d, 11), Ann.L2, probes = 3, k = 10,
        pred = col("label").isin(1, 3, 5))
      .select("vec_id", "dist")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "filtered stored IVF")
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"filtered stored IVF did not push the label predicate:\n$phys")
    df
  }

  /** r53: the DECLARATIVE form of r52 — a plain
    * `filter(pred).orderBy(l2Dist).limit(10)` over the stored layout,
    * with the probe pruning injected by [[graft.plans.AnnTopKRule]].
    * The k-limited (quantized/maxsim/bm25/sparse) rewrites bail out
    * under a user Filter by design (candidate budgets are computed
    * over the unfiltered corpus — a selective predicate would starve
    * them); the probe-filter rewrite COMPOSES instead: it prunes
    * cells, never truncates to a candidate count, so the user's
    * predicate and the injected probe filter land on ONE scan as
    * PushedFilters and PartitionFilters respectively — both pinned
    * in-query. Same model geometry, query and predicate as r52:
    * shared oracle, so the rewrite must reproduce the explicit
    * operator bit-for-bit. */
  def annRewriteFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cells = e.withColumn("__cell", pmod(col("vec_id"), lit(8)))
    val model = Ann.buildIvf(cells, "__cell", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_fann_rw").toString
    Ann.writePartitioned(assigned, path)
    graft.plans.AnnIndex.install(s)
    val cents = model.collectedCentroids.toSeq
    graft.plans.AnnIndex.register(graft.plans.Binding.Probe("embedding",
      model.idCol, () => cents, Ann.L2, probes = 3))
    try {
      val df = s.read.parquet(path)
        .filter(col("label").isin(1, 3, 5))
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), qvec(s, d, 11)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      val phys = df.queryExecution.executedPlan.toString
      assertPartitionPruned(phys, "centroid_id",
        "declarative filtered IVF")
      require("""PushedFilters: \[[^\]]*In\(label""".r
          .findFirstIn(phys).isDefined,
        s"declarative filtered IVF did not push the label predicate:\n$phys")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r54: FILTERED batch kNN join over the at-rest layout — the batch
    * query-log replay (r36) under a metadata predicate: five queries
    * in ONE job against the cell-partitioned store, where the probe
    * relation's join plants DynamicPruningExpression (batch reads only
    * its queries' probed cell dirs) AND the label predicate reaches
    * the same scan as PushedFilters — the full filtered-search
    * composition (r51-r53) in the both-sides-large shape. Cells are
    * vec_id % 8 (independent of the filter column, as in r52). */
  def knnJoinFilteredStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cells = e.withColumn("__cell", pmod(col("vec_id"), lit(8)))
    val model = Ann.buildIvf(cells, "__cell", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fknn_store").toString
    Ann.writePartitioned(assigned, dir)
    val stored = s.read.parquet(dir)
      .filter(col("label").isin(1, 3, 5))
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.knnJoinIvf(queries, "q_id", "qv", stored,
      "d_id", "dv", model, Ann.L2, probes = 2, k = 3)
    val phys = df.queryExecution.executedPlan.toString
    require(phys.toLowerCase.contains("dynamicpruning"),
      s"filtered stored batch join must runtime-prune cell dirs:\n$phys")
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"filtered stored batch join did not push the predicate:\n$phys")
    df
  }

  /** r55: EXACT range search — every row within eps of the query
    * (pgvector's `embedding <-> q < eps` WHERE shape; the reference's
    * fixed-top-k `query_vec` client.py:294-321 cannot ask it), rounded
    * distance so the cut is engine-portable, (dist, id)-ordered. The
    * map-only scan distributes with the corpus; the sort sees only the
    * eps-few matches. */
  def rangeSearchExact(s: SparkSession, d: String): DataFrame =
    Ann.rangeSearch(embeddings(s, d), "vec_id", "embedding",
        qvec(s, d, 0), Ann.L2, eps = 1.26)
      .select("vec_id", "dist")

  /** r56: range search over the at-rest IVF layout — EXACT, not
    * probes-approximate: per-cell covering radii
    * ([[Ann.cellRadii]], one combinable max-agg built beside the
    * layout) let the triangle inequality prove which cell DIRECTORIES
    * a radius-eps ball can intersect; the literal isin prunes them
    * (`PartitionFilters` pinned) and the label predicate pushes into
    * the survivors (`PushedFilters` pinned). Because no true match can
    * live in a pruned cell, the ORACLE IS THE PLAIN EXACT SQL — no
    * IVF replay, which is the whole point of the radii contract. On
    * this corpus (random unit-scale Gaussians) every cell's radius ≈
    * the query's cell distance so nothing prunes at sf0.01 — the
    * clustered-data pruning behavior is pinned in AnnRangeSpec. */
  def rangeIvfStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_store").toString
    Ann.writePartitioned(assigned, dir)
    val radii = Ann.cellRadii(assigned, "embedding", model, Ann.L2)
    val df = Ann.rangeSearchIvfStored(s, dir, "vec_id", "embedding",
        model, radii, qvec(s, d, 9), Ann.L2, eps = 1.3,
        pred = col("label").isin(1, 3, 5))
      .select("vec_id", "dist")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "stored range search")
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"stored range search did not push the label predicate:\n$phys")
    df
  }

  /** r57: ε-similarity join — ALL pairs within eps, the corpus-scale
    * embedding near-dup shape (self-join form: a < b). EXACT under the
    * r56 radii contract: each left row replicates only to cells its
    * eps-ball can intersect (map-only explode over the broadcast
    * (centroid, radius) table), candidates from ONE equi-join on
    * centroid_id, rounded-distance cut. Shuffle is Σ_q |intersecting
    * cells|·(cell size), never |Q|·|N| — and the oracle is the plain
    * quadratic SQL because exactness is part of the contract. */
  def rangeJoinSelf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = e.select(col("vec_id").as("q_id"),
      col("embedding").as("qv"))
    Ann.rangeJoinIvf(queries, "q_id", "qv", assigned, "d_id", "dv",
        model, radii, Ann.L2, eps = 1.2)
      .filter(col("q_id") < col("d_id"))
      .select(col("q_id").as("qid"), col("d_id").as("did"), col("dist"))
  }

  /** r88: PER-QUERY-radius range join ([[Ann.rangeJoinIvfPerEps]]) —
    * the calibrated form of r57: each query row carries its OWN eps
    * (0.8 / 1.1 / 1.4 by vec_id mod 3 — the per-item threshold a
    * calibrated dedup or entity-match workload assigns), the
    * triangle-inequality cell cut runs against that radius row-wise,
    * and the final cut compares each pair's distance to its query's
    * eps. EXACT per query (the r55 soundness argument applied
    * row-wise), so the oracle is the index-free scan with the same
    * per-query radius arithmetic. 40 query rows against the full
    * corpus; q_id < d_id dedups mirror pairs under the QUERY's
    * radius, r57's convention. */
  def rangeJoinPerEps(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.8) + (col("vec_id") % 3).cast("double") * lit(0.3))
          .as("eps"))
    Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps", assigned,
        "d_id", "dv", model, radii, Ann.L2)
      .filter(col("q_id") < col("d_id"))
      .select(col("q_id").as("qid"), col("d_id").as("did"),
        col("dist"))
  }

  /** r94: the PER-QUERY-radius range join under COSINE
    * ([[Ann.rangeJoinIvfPerEps]] under Cosine) — r88 replayed on the metric
    * real text embeddings ship, closing round 15's "manual
    * reduction" gap: the operator folds the normalized-L2 reduction
    * in per row (cell cut as L2 on the unit sphere with each query's
    * own eps_l2 = sqrt(2·eps + slack); output filter true cosine on
    * the raw vectors), over r63's spherical layout (normalized
    * model + radii over the normalized column, raw vectors at rest).
    * EXACT, so the oracle is the index-free per-query cosine scan —
    * each query's own threshold replayed in plain SQL. */
  def rangeJoinPerEpsCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val withN = e.withColumn("__nvec", Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "label", "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    val radii = Ann.cellRadii(assigned, "__nvec", model, Ann.L2)
    val docs = assigned.drop("__nvec")
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.65) + (col("vec_id") % 3).cast("double") * lit(0.05))
          .as("eps"))
    Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps", docs, "d_id", "dv",
        model, radii, Ann.Cosine)
      .filter(col("q_id") < col("d_id"))
      .select(col("q_id").as("qid"), col("d_id").as("did"),
        (col("dist") + lit(0.0)).as("dist"))
  }

  /** r89: r88 over a STORED range root ([[Ann.rangeJoinIvfStored]])
    * — the at-rest batch form: the same 40-query per-radius log
    * against a [[Ann.writeRangeIndex]] root, where the union of each
    * query's ADMITTED cells (stored radii under its own eps) lands as
    * a literal isin on the cell-partitioned rows/ scan — whole
    * unadmitted cell directories never read; the operator asserts the
    * PartitionFilters on every call (the matryoshka discipline).
    * Pruning changes IO, never results, so r88's index-free oracle is
    * shared verbatim. */
  def rangeJoinPerEpsStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rjoin_stored").toString
    Ann.writeRangeIndex(Ann.assign(e, "embedding", model, Ann.L2),
      "embedding", model, dir)
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.8) + (col("vec_id") % 3).cast("double") * lit(0.3))
          .as("eps"))
    Ann.rangeJoinIvfStored(s, dir, queries, "q_id", "qv", "eps",
        "vec_id", "embedding")
      .filter(col("q_id") < col("vec_id"))
      .select(col("q_id").as("qid"), col("vec_id").as("did"),
        col("dist"))
  }

  /** r96: the PER-QUERY-radius COSINE range join over a STORED
    * spherical root ([[Ann.rangeJoinIvfStored]] under Cosine) — r94's
    * workload with the at-rest pruning r89 gave the L2 form, closing round
    * 16's asymmetry (the calibrated-cosine dedup case — per-document
    * duplicate radii over text embeddings — read whole unadmitted
    * cell directories): each query's admitted cells come from the
    * stored radii under its OWN reduced radius (eps_l2 =
    * sqrt(2·eps + slack) on the unit sphere), the union lands as
    * PartitionFilters on the cell-partitioned rows/ scan (asserted
    * in-operator per call), and the per-eps cosine join runs over
    * the pruned frame unchanged. Pruning changes IO, never results:
    * r94's index-free per-query cosine oracle is shared VERBATIM. */
  def rangeJoinPerEpsCosStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val withN = e.withColumn("__nvec", Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "label", "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rjoin_cos_stored").toString
    Ann.writeRangeIndex(assigned, "__nvec", model, dir)
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.65) + (col("vec_id") % 3).cast("double") * lit(0.05))
          .as("eps"))
    Ann.rangeJoinIvfStored(s, dir, queries, "q_id", "qv", "eps", "vec_id",
        "embedding", metric = Ann.Cosine)
      .filter(col("q_id") < col("vec_id"))
      .select(col("q_id").as("qid"), col("vec_id").as("did"),
        (col("dist") + lit(0.0)).as("dist"))
  }

  /** r97: FILTERED per-query-radius range join — r88's calibrated
    * workload under a metadata predicate (`label % 2 = 1` — dedup
    * within one slice of the corpus, the c20-c25 curation story on
    * the range-join family): `pred` thins the ASSIGNED frame BEFORE
    * the cell join (the r82 placement), so disallowed rows never
    * reach the distance cut — where the round-16 surface had to
    * post-filter pairs, paying full candidate generation for rows
    * the predicate would have thinned. EXACT per query, so the
    * oracle is r88's index-free scan with the predicate as one extra
    * conjunct on the doc side; the in-gate no-leak pin catches a
    * placement that filters after pair emission only if it LEAKS —
    * the hash comparison catches everything else. */
  def rangeJoinPerEpsFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("label"), col("centroid_id"))
    val radii = Ann.cellRadii(
      assigned.withColumnRenamed("dv", "embedding"), "embedding",
      model, Ann.L2)
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.8) + (col("vec_id") % 3).cast("double") * lit(0.3))
          .as("eps"))
    val df = Ann.rangeJoinIvfPerEps(queries, "q_id", "qv", "eps",
        assigned, "d_id", "dv", model, radii, Ann.L2,
        pred = col("label") % 2 === 1)
      .filter(col("q_id") < col("d_id"))
      .select(col("q_id").as("qid"), col("d_id").as("did"),
        col("dist"))
      .localCheckpoint(true)
    val leaked = df.join(
        e.filter(col("label") % 2 =!= 1)
          .select(col("vec_id").as("did")), Seq("did"), "left_semi")
      .count()
    require(leaked == 0L, s"r97: $leaked disallowed docs leaked " +
      "through the range-join predicate")
    df
  }

  /** r98: SPLIT of an overfull cell on a COSINE dense root
    * ([[Ann.splitOverfull]]) — the round-17 closure of the
    * actuator matrix: the plain cell-partitioned layout was the last
    * family whose hot cells nothing bounded (VERDICT r16 #1). The full corpus lands as a
    * self-contained dense root under the SPHERICAL geometry (cosine
    * assignment — the maxsim family's by construction), the
    * observed-occupancy threshold flags exactly the hottest cell(s),
    * the flagged cells retrain ON THE UNIT SPHERE and dissolve
    * through the shared merge protocol (every parent row re-homes to
    * its true global cosine argmin). At all-probe the search is the
    * exact cosine top-k regardless of cell homes, so r02's oracle
    * lands verbatim — a split that drops, duplicates or mis-homes
    * one row hash-fails. In-gate pins: policy fired (cells grew),
    * rows conserved, occupancy bounded. */
  def denseCellSplit(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val lists = model.centroids.count()
    val assigned = Ann.assign(e, "embedding", model, Ann.Cosine)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dense_split").toString
    Ann.writeDenseRoot(assigned, "embedding", model, Ann.Cosine, dir)
    val total = e.count()
    val maxOcc = assigned.groupBy(col("centroid_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val maxRows = math.max(1L, maxOcc - 1)
    val split = Ann.splitOverfull(Ann.cellRoot(s, dir, None), maxRows)
    require(split.nonEmpty, "r98 vacuous: no cell split")
    val cellsNow = s.read.parquet(s"$dir/centroids").count()
    require(cellsNow > lists,
      s"r98: split left $cellsNow cells, trained $lists")
    require(s.read.parquet(s"$dir/rows").count() == total,
      "r98: split lost or duplicated rows")
    Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id", qvecSeq(s, d, 7),
        cellsNow.toInt, 10)
      .select(col("vec_id"), (col("dist") + lit(0.0)).as("dist"))
  }

  /** r99: MERGE of underfull cells on a dense root
    * ([[Ann.mergeUnderfull]]) — r90's drain-and-dissolve
    * recipe on the fourth family: an S6 delete drains assigned cell
    * 4 to a third of its size, the half-average threshold flags it,
    * its centroid leaves the root's OWN on-disk model (the flat
    * layout had no disk model for an actuator to shrink — the reason
    * this family needed the dense-root promotion) and its surviving
    * rows re-assign to their true nearest survivors. The oracle is
    * the post-delete exact top-10 over the label-IVF assignment
    * replay; the gate also pins row conservation at all-probe with a
    * corpus-covering k. */
  def denseCellMerge(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dense_merge").toString
    Ann.writeDenseRoot(assigned, "embedding", model, Ann.L2, dir)
    val lists = model.centroids.count()
    val cell4 = assigned.filter(col("centroid_id") === 4)
      .select(col("vec_id")).localCheckpoint(true)
    val doomed = cell4.filter(col("vec_id") % 3 =!= 0)
    val removed = Ann.deleteStoredIds(s, s"$dir/rows", "vec_id", doomed)
    require(removed > 0, "r99 vacuous: the S6 delete removed nothing")
    val minRows = math.max(3L,
      s.read.parquet(s"$dir/rows").count() / lists / 2)
    val merged = Ann.mergeUnderfull(Ann.cellRoot(s, dir, None), minRows)
    require(merged.contains(4L),
      s"r99: the drained cell 4 did not merge, got ${merged.keySet}")
    require(!new java.io.File(s"$dir/rows/centroid_id=4").exists(),
      "r99: the dissolved cell's directory survived")
    val cellsNow = s.read.parquet(s"$dir/centroids").count()
    require(cellsNow == lists - merged.size,
      s"r99: merge left $cellsNow cells, wanted ${lists - merged.size}")
    // row conservation: every survivor reachable at all-probe
    val remaining = s.read.parquet(s"$dir/rows").count()
    require(Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id",
        qvecSeq(s, d, 9), cellsNow.toInt, remaining.toInt).count()
      == remaining, "r99: a surviving row went dark after the merge")
    Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id", qvecSeq(s, d, 9),
        cellsNow.toInt, 10)
      .select("vec_id", "dist")
  }

  /** r100: the r66 INDEX-HEALTH signal on a COSINE dense root
    * ([[Ann.indexHealth]]) — the audit an operator feeds the
    * dense split/merge actuators (r98/r99), on the family's spherical
    * arm: per cell, row count and mean COSINE distance to the
    * root-owned centroid (no radii — the dense layout has none to
    * certify). The oracle replays the label-mean centroids, the raw-
    * cosine argmin assignment (the dense Cosine convention — scale-
    * invariant in the centroid), and the per-cell aggregate from
    * first principles. The payload-pruning pin (vec_id/label never
    * read by the rows scan) is asserted in-gate, r66's discipline. */
  def denseIndexHealth(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dense_health").toString
    Ann.writeDenseRoot(Ann.assign(e, "embedding", model, Ann.Cosine),
      "embedding", model, Ann.Cosine, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("label"),
      s"dense index-health audit must not read payload columns:\n$phys")
    df
  }

  /** r101: MAINTENANCE-AWARE declarative rewrite over a dense root
    * ([[graft.plans.Binding.denseRoot]]) — the declarative
    * path made safe under the round's actuators: a frozen r09-style
    * registration snapshots centroids at install, so after a SPLIT it
    * keeps injecting the dissolved parent's cell id (an empty pruned
    * scan — silent recall loss); the dense-root registration resolves
    * through the root's model-fingerprint marker per rewrite, so the
    * same installed plan shape probes the post-split geometry with no
    * re-install. In-gate pins: the rewrite fires (PartitionFilters on
    * the rows scan), and after the split a probes=1 declarative query
    * AT A DISSOLVED-PARENT ROW'S OWN VECTOR returns that row (a stale
    * snapshot would probe the dead parent and return nothing). The
    * oracled result is the all-probe declarative read — exact top-10,
    * r01's scan verbatim, split boundaries invisible. */
  def denseRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dense_rw").toString
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    Ann.writeDenseRoot(assigned, "embedding", model, Ann.L2, dir)
    graft.plans.AnnIndex.install(s)
    def declarative(q: org.apache.spark.sql.Column) =
      s.read.parquet(s"$dir/rows")
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
    try {
      // split the hottest cell(s): the root re-pins its fingerprint
      val maxOcc = assigned.groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      // a dissolved parent's member row, fetched BEFORE the split
      val hotCell = assigned.groupBy(col("centroid_id")).count()
        .orderBy(col("count").desc, col("centroid_id").asc)
        .head().getLong(0)
      val parentRow = assigned
        .filter(col("centroid_id") === hotCell)
        .select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      graft.plans.AnnIndex.register(graft.plans.Binding.denseRoot(s, dir,
        probes = 4096, owner = "r101"))
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, None),
        math.max(1L, maxOcc - 1))
      require(splits.contains(hotCell),
        s"r101 vacuous: hottest cell $hotCell did not split " +
          s"(got ${splits.keySet})")
      // freshness pin: probes=1 at the dissolved parent's own row —
      // a frozen snapshot injects the dead parent cell and returns
      // nothing; the fingerprint-keyed resolver probes the live
      // sub-cell that now holds the row
      graft.plans.AnnIndex.register(graft.plans.Binding.denseRoot(s, dir,
        probes = 1, owner = "r101"))
      val near = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq))
        .localCheckpoint(true)
      require(near.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r101: probes=1 declarative query after the split missed the " +
          "dissolved parent's row — the registration resolved a " +
          "STALE geometry")
      // oracled read: all-probe (4096 >= any cell count) = exact
      graft.plans.AnnIndex.register(graft.plans.Binding.denseRoot(s, dir,
        probes = 4096, owner = "r101"))
      val df = declarative(qvec(s, d, 0))
      val phys = df.queryExecution.executedPlan.toString
      assertPartitionPruned(phys, "centroid_id",
        "dense-root declarative rewrite")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r102: the r66 INDEX-HEALTH signal on the COMPOSED matryoshka-IVF
    * root ([[Ann.indexHealth]]) — the north-star layout gained
    * split/merge actuators in rounds 15-16 but exposed no
    * operator-visible per-cell numbers to justify pulling them; this
    * audit reports count + mean distance in the root's ASSIGNMENT
    * space (L2 here; cosine roots audit the normalized geometry —
    * specced). The oracle replays the label-mean centroids, the L2
    * argmin assignment and the per-cell aggregate from first
    * principles; the gate pins that the scan reads NEITHER the
    * prefix column nor the id payload (emb_pre/vec_id pruned). */
  def mrlIvfIndexHealth(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_health").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("emb_pre") &&
        !phys.contains("vec_id"),
      s"composed health audit must not read emb_pre/payload:\n$phys")
    df
  }

  /** r103: MAINTENANCE-AWARE declarative rewrite over a RANGE root
    * ([[graft.plans.Binding.rangeRoot]]) — r101's recipe on
    * the family where a frozen snapshot is sharpest: the range
    * rewrite is the ONE rewrite documented as never changing results
    * (the injected cell filter removes provably-empty directories
    * only), but a frozen r62-style [[graft.plans.Binding.Range]]
    * snapshot taken before an out-of-band
    * [[Ann.splitOverfull]] keeps admitting the dissolved
    * parent's cell id — whose directory is GONE — while the live
    * sub-cells holding its rows are absent from the frozen list:
    * silent row LOSS, not merely recall loss. The root-backed
    * registration resolves centroids + radii through the root's
    * model-fingerprint marker, so the same installed plan prunes the
    * post-split geometry with no re-install. In-gate pins: the
    * rewrite fires post-split (PartitionFilters), and a tiny-eps
    * declarative query AT A DISSOLVED-PARENT ROW'S OWN VECTOR
    * returns that row (the frozen snapshot admits only the dead
    * parent's id — an empty pruned scan). The oracled result is
    * r62's declarative plan shape post-split — exact by the family's
    * invariance contract, so r62's plain-SQL oracle is shared
    * verbatim. */
  def rangeRewriteMaintained(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_rw_maint").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.rangeRoot(s, dir,
      "embedding", owner = "r103"))
    def declarative(q: org.apache.spark.sql.Column, eps: Double) =
      s.read.parquet(s"$dir/rows")
        .filter(col("label").isin(1, 3, 5) &&
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6) <= eps)
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .select("vec_id", "dist")
    try {
      // freshness pin 1: APPEND-grown radii without a model re-pin —
      // the range append grows the receiving cell's stored radius but
      // the quantizer didn't change, so a fingerprint-cached radius
      // would keep pruning the ONLY cell that can hold the new row
      // (silent row loss via append, the split hazard's quiet twin).
      // The far row is deleted again before the oracled read (deletes
      // leave radii conservative — over-admission, never wrongness).
      val far = e.filter(col("vec_id") === 0)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(100.0))
            .cast(e.schema("embedding").dataType).as("embedding"),
          lit(1).cast(e.schema("label").dataType).as("label"))
        .localCheckpoint(true)
      Ann.appendIdempotent(Ann.cellRoot(s, dir, Some("embedding")), far,
        "vec_id")
      val farVec = far.select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val pin1 = declarative(typedlit(farVec), 1e-4)
        .localCheckpoint(true)
      require(pin1.filter(col("vec_id") === 10000000L).count() == 1L,
        "r103: post-append declarative range query missed the row " +
          "that grew its cell's radius — the registration served a " +
          "STALE radii snapshot")
      require(Ann.deleteStoredIds(s, s"$dir/rows", "vec_id",
        far.select("vec_id")) == 1L, "r103: far-row cleanup failed")
      // the pin row must pass the plan's label predicate, so pick the
      // cell holding the most label-1/3/5 rows — and flag on that
      // cell's TOTAL occupancy so it provably splits (assignment is
      // argmin, not label: the globally hottest cell might hold none)
      val hotCell = assigned.filter(col("label").isin(1, 3, 5))
        .groupBy(col("centroid_id")).count()
        .orderBy(col("count").desc, col("centroid_id").asc)
        .head().getLong(0)
      val hotTotal = assigned
        .filter(col("centroid_id") === hotCell).count()
      val parentRow = assigned
        .filter(col("centroid_id") === hotCell &&
          col("label").isin(1, 3, 5))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, Some("embedding")),
        math.max(1L, hotTotal - 1))
      require(splits.contains(hotCell),
        s"r103 vacuous: hottest label-filtered cell $hotCell did not " +
          s"split (got ${splits.keySet})")
      // freshness pin: a self-query whose ball only the parent's OLD
      // cell could admit — the frozen snapshot prunes the live
      // sub-cell directory and silently loses the row
      val near = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq), 1e-4)
        .localCheckpoint(true)
      require(near.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r103: post-split declarative range query lost the dissolved " +
          "parent's row — the registration resolved a STALE geometry")
      // oracled read: r62's plan shape over the split root (exact —
      // the rewrite's invariance contract survives maintenance)
      val df = declarative(qvec(s, d, 9), 1.3)
      val phys = df.queryExecution.executedPlan.toString
      assertPartitionPruned(phys, "centroid_id",
        "maintained declarative range")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r104: the r66 INDEX-HEALTH signal on a QUANTIZED root
    * ([[Ann.indexHealth]]) — the last signal-less family
    * (range r66, dense r100, composed r102): per cell, row count and
    * mean DEQUANTIZED distance to the centroid — the main layout
    * stores codes, not vectors, so the audit measures what the index
    * itself can know, through the same asymmetric expression the
    * search scan runs with the CENTROID as the query. The oracle
    * replays the r12 dequantization CTEs (label-mean centroids,
    * argmin assignment, per-cell min/max bounds, 0..255 codes) and
    * takes each code's reconstruction distance to its own centroid
    * from first principles. The payload-pruning pin (vec_id /
    * embedding / label never read by the codes scan) is asserted
    * in-gate, r100's discipline. */
  def quantizedIndexHealth(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_health").toString
    Ann.writeQuantized(index, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("embedding") && !phys.contains("label"),
      s"quantized health audit must not read payload columns:\n$phys")
    df
  }

  /** r109: [[quantizedIndexHealth]]'s SPHERICAL arm — a cosine SQ
    * root's codes and stored centroids both live on the unit sphere
    * (the spherical-centroids build), so the audit's dequantized
    * distance is L2 THERE: normalized label-mean centroids, argmin
    * and bounds and codes all in the normalized space, each code's
    * reconstruction distance to its own UNIT centroid. Closes the
    * health audit's metric matrix (r104 gated L2 only; the geometry
    * dispatch was code-live but unpinned). Same payload-pruning pin. */
  def quantizedIndexHealthCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.Cosine)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_health_cos").toString
    Ann.writeQuantized(index, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("embedding") && !phys.contains("label"),
      s"spherical quantized health audit read payload columns:\n$phys")
    df
  }

  /** r112: the MAINTENANCE-AWARE declarative rewrite at EXECUTOR-SIDE
    * probe scale ([[graft.plans.Binding.denseRootDistributed]])
    * — r101's staleness story on the registration that survives past
    * the driver's centroid-collect budget (~10⁵ cells): probe
    * selection is a semi-joined Sort+Limit subplan over the root's own
    * centroids table, re-read through the guarded loader at every
    * resolve, so an out-of-band split reaches the installed plan with
    * no re-install AND no driver-side collect to go stale. In-gate
    * pins: LeftSemi with NO centroid-literal IN (the r73 discipline —
    * a fall-through to driver literals cannot fake green), runtime
    * partition pruning (DynamicPruningSubquery), and the probes=1
    * post-split self-query at a dissolved parent's row. Oracled read
    * at all-probe = r01's exact top-10. */
  def denseRewriteDistributed(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dense_rw_dist").toString
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    Ann.writeDenseRoot(assigned, "embedding", model, Ann.L2, dir)
    graft.plans.AnnIndex.install(s)
    def reg(probes: Int): Unit =
      graft.plans.AnnIndex.register(graft.plans.Binding
        .denseRootDistributed(s, dir, probes = probes, owner = "r112"))
    def declarative(q: org.apache.spark.sql.Column) = {
      val df = s.read.parquet(s"$dir/rows")
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"r112: distributed dense rewrite did not engage:\n$plan")
      require(!plan.contains(" IN ("),
        s"r112: expected subplan probes, found centroid literals:\n$plan")
      require(df.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        "r112: expected runtime partition pruning on the rows scan")
      df
    }
    try {
      reg(4096)
      val maxOcc = assigned.groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      val hotCell = assigned.groupBy(col("centroid_id")).count()
        .orderBy(col("count").desc, col("centroid_id").asc)
        .head().getLong(0)
      val parentRow = assigned
        .filter(col("centroid_id") === hotCell)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, None),
        math.max(1L, maxOcc - 1))
      require(splits.contains(hotCell),
        s"r112 vacuous: hottest cell $hotCell did not split " +
          s"(got ${splits.keySet})")
      // freshness pin: probes=1 at the dissolved parent's own row —
      // the probe SUBPLAN must rank the post-split centroids table
      reg(1)
      val near = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq))
        .localCheckpoint(true)
      require(near.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r112: probes=1 distributed query after the split missed the " +
          "dissolved parent's row — the probe subplan read a STALE " +
          "centroids listing")
      reg(4096)
      declarative(qvec(s, d, 0)).localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r113: the EXECUTOR-SIDE range rewrite
    * ([[graft.plans.Binding.rangeRootDistributed]]) — r103's
    * maintained story past the driver's collect budget: the admitted
    * cells come from a SUBPLAN over the root's own (centroid, radius)
    * side tables (`l2_dist(centroid, q) <= radius + eps + slack` —
    * the same triangle-inequality proof, evaluated where the table
    * lives), semi-joined into the plan with a hand-planted
    * DynamicPruningSubquery, and the side tables are re-read through
    * the guarded loader at every resolve — no driver collect, no
    * cache to go stale. In-gate pins: LeftSemi with NO cell-literal
    * IN, runtime partition pruning, the APPEND staleness pin (a far
    * row grows its cell's radius; the subplan must read the grown
    * value), and the post-split dissolved-parent pin. Exact by the
    * family's contract, so r62's plain-SQL oracle is shared
    * verbatim. */
  def rangeRewriteDistributed(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_rw_dist").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding
      .rangeRootDistributed(s, dir, "embedding", owner = "r113"))
    def declarative(q: org.apache.spark.sql.Column, eps: Double) = {
      val df = s.read.parquet(s"$dir/rows")
        .filter(col("label").isin(1, 3, 5) &&
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6) <= eps)
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .select("vec_id", "dist")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"r113: distributed range rewrite did not engage:\n$plan")
      require(!"""centroid_id#\d+L? IN \(""".r.findFirstIn(plan)
          .isDefined,
        s"r113: expected subplan admitted-cells, found literals:\n$plan")
      require(df.queryExecution.executedPlan.toString.toLowerCase
          .contains("dynamicpruning"),
        "r113: expected runtime partition pruning on the rows scan")
      df
    }
    try {
      // append pin: the subplan must see the GROWN radius (r103's
      // hazard, executor-side form)
      val far = e.filter(col("vec_id") === 0)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(100.0))
            .cast(e.schema("embedding").dataType).as("embedding"),
          lit(1).cast(e.schema("label").dataType).as("label"))
        .localCheckpoint(true)
      Ann.appendIdempotent(Ann.cellRoot(s, dir, Some("embedding")), far,
        "vec_id")
      val farVec = far.select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val pin1 = declarative(typedlit(farVec), 1e-4)
        .localCheckpoint(true)
      require(pin1.filter(col("vec_id") === 10000000L).count() == 1L,
        "r113: post-append distributed range query missed the row " +
          "that grew its cell's radius")
      require(Ann.deleteStoredIds(s, s"$dir/rows", "vec_id",
        far.select("vec_id")) == 1L, "r113: far-row cleanup failed")
      // split pin: the dissolved parent's row via the live subplan
      val hotCell = assigned.filter(col("label").isin(1, 3, 5))
        .groupBy(col("centroid_id")).count()
        .orderBy(col("count").desc, col("centroid_id").asc)
        .head().getLong(0)
      val hotTotal = assigned
        .filter(col("centroid_id") === hotCell).count()
      val parentRow = assigned
        .filter(col("centroid_id") === hotCell &&
          col("label").isin(1, 3, 5))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, Some("embedding")),
        math.max(1L, hotTotal - 1))
      require(splits.contains(hotCell),
        s"r113 vacuous: cell $hotCell did not split (${splits.keySet})")
      val pin2 = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq), 1e-4)
        .localCheckpoint(true)
      require(pin2.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r113: post-split distributed range query lost the dissolved " +
          "parent's row")
      declarative(qvec(s, d, 9), 1.3).localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r110: [[quantizedIndexHealth]]'s PQ arm — the audit reconstructs
    * each row from the codebooks ([[Ann.pqReconstructCol]]) and
    * measures L2 to its cell centroid; the oracle replays r38's
    * codebook construction (per-(cell, subspace) mean slices,
    * positional argmin codes) and takes each code's reconstruction
    * distance to the CENTROID'S OWN SLICES from first principles —
    * with the PQ family the only quantizer whose dequantized geometry
    * is piecewise (m sub-vectors), this pins the slice assembly, not
    * just the aggregate. Same payload-pruned-scan pin. */
  def quantizedIndexHealthPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfPq(e, "embedding", model, m = 8, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_health_g").toString
    Ann.writeQuantized(index, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("embedding") && !phys.contains("label"),
      s"PQ health audit read payload columns:\n$phys")
    df
  }

  /** r111: [[quantizedIndexHealth]]'s 1-BIT arm — the family needs no
    * reconstruction at all: a sign-code row's dequantized vector is
    * centroid + r̂ with ‖r̂‖ = the stored `rnorm`, so the mean
    * dequantized distance IS the mean residual norm — which equals
    * the mean distance-to-centroid the dense audit measures. The
    * oracle is therefore r66's assignment replay minus the radius
    * column: the audit reads ONE stored double per row where every
    * other family computes, and the gate pins that the numbers agree
    * with the from-scratch geometry. */
  def quantizedIndexHealthBitq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bitq_health_g").toString
    Ann.writeQuantized(index, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, None)).orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("embedding") && !phys.contains("label") &&
        !phys.contains("bits"),
      s"1-bit health audit must read rnorm + cell only:\n$phys")
    df
  }

  /** r105: MAINTENANCE-AWARE declarative rewrite over a QUANTIZED
    * root ([[graft.plans.Binding.quantizedRoot]]) — r101's
    * recipe for the SQ/PQ/1-bit family: the frozen r16-style
    * `() => index` [[graft.plans.Binding.Quantized]] form holds
    * the INSTALL-TIME FILE LISTING, so after an out-of-band
    * [[Ann.splitOverfull]] the dissolved parent's
    * files are gone (the probed scan dies on FileNotFound at best,
    * serves stale bytes at worst); the root-backed registration
    * re-loads the index artifacts keyed by the model-fingerprint
    * marker, so the same installed plan probes the post-split
    * geometry with no re-install. In-gate pins: LeftSemi fires, and
    * a probes=1 declarative query AT A DISSOLVED-PARENT ROW'S OWN
    * VECTOR returns that row. The oracled read is the all-probe
    * declarative plan: split inheritance keeps codes AND bounds
    * bit-identical, so the all-probe phase-1 cut equals the
    * pre-split one and the r12-style SQ replay (probes dropped)
    * lands verbatim. */
  def quantizedRewriteMaintained(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_rw_maint").toString
    Ann.writeQuantized(index, dir)
    graft.plans.AnnIndex.install(s)
    def reg(probes: Int): Unit =
      graft.plans.AnnIndex.register(graft.plans.Binding.quantizedRoot(s,
        dir, "embedding", "vec_id", probes = probes, refine = 5,
        owner = "r105"))
    def declarative(q: org.apache.spark.sql.Column) = {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString
          .contains("LeftSemi"),
        "r105: quantized rewrite did not engage")
      df
    }
    try {
      reg(4096)
      val quant = index.quantized
      val maxOcc = quant.groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      val hotCell = quant.groupBy(col("centroid_id")).count()
        .orderBy(col("count").desc, col("centroid_id").asc)
        .head().getLong(0)
      val parentRow = quant
        .filter(col("centroid_id") === hotCell)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, Some("embedding")),
        math.max(1L, maxOcc - 1))
      require(splits.contains(hotCell),
        s"r105 vacuous: hottest cell $hotCell did not split " +
          s"(got ${splits.keySet})")
      // freshness pin: probes=1 at the dissolved parent's own row —
      // the frozen file listing has no sub-cell files to scan
      reg(1)
      val near = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq))
        .localCheckpoint(true)
      require(near.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r105: probes=1 declarative query after the split missed the " +
          "dissolved parent's row — the registration resolved a " +
          "STALE index")
      // freshness pin 2: fresh APPEND + COMPACTION without a model
      // re-pin — compaction writes encoded rows into the main layout
      // but the quantizer didn't change, so a fingerprint-cached file
      // listing would exclude them from phase-1 forever. The plan
      // scans the root's OWN frame (the appended row is index-only);
      // the row is deleted again before the oracled read.
      val dup = e.filter(col("vec_id") === 11)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint(true)
      val root = Ann.cellRoot(s, dir, Some("embedding"))
        .as[Ann.CellRoot.Quantized]("r105")
      require(Ann.appendIdempotent(root, dup, "vec_id") == 1L,
        "r105: fresh append lost the row")
      require(Ann.compactQuantizedFresh(root, "vec_id") == 1L,
        "r105: compaction lost the row")
      reg(1)
      val pin2 = {
        val scanRoot = s.read.parquet(s"$dir/quantized")
        val df = scanRoot
          .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), qvec(s, d, 11)), 6))
          .orderBy(col("dist").asc, col("vec_id").asc)
          .limit(10)
          .select("vec_id", "dist")
        require(df.queryExecution.optimizedPlan.toString
            .contains("LeftSemi"),
          "r105: quantized rewrite did not engage on the root scan")
        df.localCheckpoint(true)
      }
      require(pin2.filter(col("vec_id") === 10000011L).count() == 1L,
        "r105: post-compaction declarative query missed the compacted " +
          "row — the registration served a STALE file listing")
      require(Ann.deleteStoredIds(s, s"$dir/quantized", "vec_id",
        dup.select("vec_id")) == 1L, "r105: dup-row cleanup failed")
      // oracled read: all probes — split-invariant by code/bounds
      // inheritance
      reg(4096)
      declarative(qvec(s, d, 11)).localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r106: MAINTENANCE-AWARE declarative rewrite over the COMPOSED
    * matryoshka-IVF root — the round's recipe completing the
    * declarative-registration matrix (dense r101, range r103,
    * quantized r105): [[graft.plans.Binding.matryoshkaIvf]]
    * now opens the root through its reader seat per rewrite
    * ([[Ann.CellRoot.readModel]]: centroids collected once per
    * maintenance re-pin, not once per rewrite, torn roots refused), so an
    * out-of-band [[Ann.splitOverfull]] reaches
    * declarative probe selection with no re-install. In-gate pins:
    * LeftSemi fires, and a probes=1 declarative query at a
    * dissolved-parent row's own vector returns that row (a frozen
    * centroid snapshot would probe the dead parent's empty
    * directory). The oracled read is the all-probe declarative plan:
    * at all-probe the composed cut equals the FLAT prefix cut (r91's
    * argument), so r74's plain matryoshka oracle lands verbatim. */
  def mrlIvfRewriteMaintained(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_rw_maint").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    graft.plans.AnnIndex.install(s)
    def reg(probes: Int): Unit =
      graft.plans.AnnIndex.register(graft.plans.Binding.matryoshkaIvf(
        "embedding", "vec_id", dir, probes = probes, refine = 5,
        owner = "r106"))
    def declarative(q: org.apache.spark.sql.Column) = {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), q), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString
          .contains("LeftSemi"),
        "r106: composed rewrite did not engage")
      df
    }
    try {
      reg(4096)
      val rows0 = s.read.parquet(s"$dir/rows")
      val maxOcc = rows0.groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      val hotCell = rows0.groupBy(col("centroid_id").cast("long")
          .as("cid")).count()
        .orderBy(col("count").desc, col("cid").asc)
        .head().getLong(0)
      val parentRow = rows0
        .filter(col("centroid_id").cast("long") === hotCell)
        .select(col("vec_id"), col("emb_full").cast("array<double>"))
        .orderBy(col("vec_id")).head()
      val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, None),
        math.max(1L, maxOcc - 1))
      require(splits.contains(hotCell),
        s"r106 vacuous: hottest cell $hotCell did not split " +
          s"(got ${splits.keySet})")
      // freshness pin: probes=1 at the dissolved parent's own row
      reg(1)
      val near = declarative(
          typedlit(parentRow.getSeq[Double](1).toSeq))
        .localCheckpoint(true)
      require(near.filter(col("vec_id") === parentRow.getLong(0))
          .count() == 1L,
        "r106: probes=1 declarative query after the split missed the " +
          "dissolved parent's row — the registration resolved a " +
          "STALE geometry")
      // oracled read: all probes = the flat prefix cut (r91)
      reg(4096)
      declarative(qvec(s, d, 3)).localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  final case class EmbT(vec_id: Long, embedding: Seq[Double],
                        label: Long)
  private implicit val embTEnc: org.apache.spark.sql.Encoder[EmbT] =
    org.apache.spark.sql.Encoders.product[EmbT]

  /** r107: the ENGINE health seat ([[graft.core.Engine
    * .indexHealthFor]]) — the read side of the maintenance triad,
    * exercised over TWO families in one run: the actuator seats
    * dispatch split/merge by the root's own marker precisely so an
    * operator need not know the family, but the SIGNALS that justify
    * pulling them still had to be matched to the root by hand. One
    * call against a RANGE root (L2) and one against a DENSE root
    * (cosine) must land on each family's own audit (r66's / r100's
    * numbers — the shared-column projection of both, tagged and
    * unioned; the oracle is the two first-principles replays
    * unioned). */
  def engineIndexHealth(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dirR = java.nio.file.Files
      .createTempDirectory("graft_eng_health_r").toString
    Ann.writeRangeIndex(Ann.assign(e, "embedding", model, Ann.L2),
      "embedding", model, dirR)
    val dirD = java.nio.file.Files
      .createTempDirectory("graft_eng_health_d").toString
    Ann.writeDenseRoot(Ann.assign(e, "embedding", model, Ann.Cosine),
      "embedding", model, Ann.Cosine, dirD)
    val reg = new graft.core.Registry(s, java.nio.file.Files
      .createTempDirectory("graft_eng_health").toString)
    val td = graft.core.Spec.TableDef[EmbT]("emb",
      primaryKey = Some("vec_id"),
      indexes = Seq(graft.core.Spec.VectorIndex("embedding")))
    val eng = new graft.core.Engine(reg)
    def arm(dir: String, family: String) =
      eng.indexHealthFor(td, dir)
        .select(col("centroid_id"), col("n_rows"), col("mean_dist"))
        .withColumn("family", lit(family))
    arm(dirR, "range").unionByName(arm(dirD, "dense"))
      .orderBy(col("family").asc, col("centroid_id").asc)
  }

  /** r108: the STORED cosine per-eps range join FILTERED — r96's
    * workload under r97's metadata predicate, closing the last cell
    * of the range-join matrix (stored × cosine × pred): `pred`
    * reaches the SAME pruned scan as the admitted-cells isin
    * (PushedFilters beside PartitionFilters, asserted in-operator),
    * so disallowed docs never consume candidate generation. EXACT
    * per query; the oracle is r94's index-free cosine scan with the
    * predicate as one extra conjunct on the doc side, and the
    * in-gate no-leak pin catches a placement that merely
    * post-filters pairs only if it LEAKS — the hash catches
    * everything else. */
  def rangeJoinPerEpsCosStoredFiltered(s: SparkSession,
                                       d: String): DataFrame = {
    val e = embeddings(s, d)
    val withN = e.withColumn("__nvec", Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "label", "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rjoin_cos_stored_f").toString
    Ann.writeRangeIndex(assigned, "__nvec", model, dir)
    val queries = e.filter(col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (lit(0.65) + (col("vec_id") % 3).cast("double") * lit(0.05))
          .as("eps"))
    val df = Ann.rangeJoinIvfStored(s, dir, queries, "q_id", "qv", "eps",
        "vec_id", "embedding", pred = col("label") % 2 === 1,
        metric = Ann.Cosine)
      .filter(col("q_id") < col("vec_id"))
      .select(col("q_id").as("qid"), col("vec_id").as("did"),
        (col("dist") + lit(0.0)).as("dist"))
      .localCheckpoint(true)
    val leaked = df.join(
        e.filter(col("label") % 2 =!= 1)
          .select(col("vec_id").as("did")), Seq("did"), "left_semi")
      .count()
    require(leaked == 0L, s"r108: $leaked disallowed docs leaked " +
      "through the stored cosine range-join predicate")
    df
  }

  /** r58: FILTERED keyword search — BM25 top-k under a metadata
    * predicate (`lang = 'en'`), the keyword member of the filtered
    * family (r51-r54 dense): corpus statistics stay WHOLE-corpus (a
    * WHERE over a full-text index thins results, never retrains
    * weights — [[graft.ops.Bm25.searchFiltered]]), the allowed-id set
    * comes from a documents scan whose predicate reaches parquet
    * (`PushedFilters` pinned), and the at-rest postings still prune to
    * the query terms' bucket partitions (`PartitionFilters` pinned) —
    * the two prunings compose across the semi-join. */
  def bm25Filtered(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_filt").toString
    Bm25.writePostings(documents(s, d), "doc_id", "text", dir,
      buckets = 16)
    val idx = Bm25.loadStoredPostings(s, dir)
    val allowed = documents(s, d).filter(col("lang") === "en")
    val df = Bm25.searchFiltered(idx, "window partition order", 10,
      allowed, "doc_id")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "bucket", "filtered bm25 search")
    require("""PushedFilters: \[[^\]]*EqualTo\(lang,en\)""".r
        .findFirstIn(phys).isDefined,
      s"filtered bm25 did not push the lang predicate:\n$phys")
    df
  }

  /** r59: FILTERED sparse search — the sparse member of the filtered
    * family: at-rest postings prune to the query's own bucket
    * partitions (`PartitionFilters`) while the allowed-id set comes
    * from a documents scan whose `lang = 'en'` predicate reaches
    * parquet (`PushedFilters`); the semi-join thins postings BEFORE
    * scoring — a pure dot has no corpus statistics to protect, so
    * placement is free and surviving scores are byte-identical to the
    * unfiltered r30's. */
  def sparseFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = graft.functions.Md5SparseEmbedder(4096)
    val sv = udf((t: String) => emb.embed(if (t == null) "" else t))
    val postings = graft.functions.Sparse.invertedPostings(
      documents(s, d).withColumn("__sv", sv(col("text")))
        .select(col("doc_id"), col("__sv.indices").as("__i"),
          col("__sv.values").as("__v")),
      "doc_id", "__i", "__v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_filt").toString
    graft.functions.Sparse.writePostings(postings, dir, buckets = 16)
    val allowed = documents(s, d).filter(col("lang") === "en")
    val df = graft.functions.Sparse.searchStoredFiltered(s, dir,
      emb.embed(SparseQueryText), 10, allowed, "doc_id")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "__b", "filtered sparse search")
    require("""PushedFilters: \[[^\]]*EqualTo\(lang,en\)""".r
        .findFirstIn(phys).isDefined,
      s"filtered sparse did not push the lang predicate:\n$phys")
    df.select(col("id").as("doc_id"), col("score"))
  }

  /** r60: FILTERED maxsim — the multivec member of the filtered
    * family: a BAG-level predicate (each bag is the retrievable doc)
    * thins phase-1, so a disallowed doc can neither consume a
    * candidate slot nor appear in the exact re-rank — the same
    * filter-then-search semantics as r51-r54, in the two-phase maxsim
    * shape (phase-1 token-mean dot over allowed bags, phase-2 exact
    * maxsim over the survivors). */
  def maxsimFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val qts: Seq[Seq[Double]] = e.filter(col("vec_id").isin(0, 1))
      .orderBy("vec_id").select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val docs = e.groupBy(col("label").cast("long").as("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("vecs"))
    val allowed = docs.filter(col("label") % 3 =!= 0)
    val cand = Ann.maxsimCandidates(allowed, "label", "vecs", qts, n = 4)
    allowed.join(cand, Seq("label"), "left_semi")
      .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
        .maxSimDot(typedlit(qts), col("vecs")), 6))
      .orderBy(col("score").desc, col("label").asc)
      .limit(3)
      .select("label", "score")
  }

  /** r61: grouped top-k — the k nearest PER label for one query
    * ([[Ann.groupedTopK]]): per-stratum retrieval quotas ("2 nearest
    * per domain"), the faceted twin of stratified sampling. One group-
    * partitioned rank window; no global sort. */
  def groupedTopk(s: SparkSession, d: String): DataFrame =
    Ann.groupedTopK(embeddings(s, d), "vec_id", "embedding", "label",
      qvec(s, d, 13), Ann.L2, kPerGroup = 2)

  /** r62: the DECLARATIVE range search — a plain
    * `filter(round(l2Dist(embedding, q), 6) <= eps AND label IN …)`
    * over the stored layout with a registered RANGE index
    * ([[graft.plans.Binding.Range]]): the optimizer injects
    * the radii-based cell filter (EXACT — the one rewrite with no
    * approximation contract), which becomes `PartitionFilters` on the
    * cell directories, while the user predicate pushes into the same
    * scan — r56's semantics reached from a declarative plan, so r56's
    * plain-SQL oracle is shared verbatim. */
  def annRewriteRange(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_range_rw").toString
    Ann.writePartitioned(assigned, path)
    val radii = Ann.cellRadii(assigned, "embedding", model, Ann.L2)
    graft.plans.AnnIndex.install(s)
    val rad = Ann.collectRadiiMap(model, radii)
    val cents = model.collectedCentroids.toSeq
      .map { case (id, c) => (id, c, rad.getOrElse(id, 0.0)) }
    graft.plans.AnnIndex.register(graft.plans.Binding.Range("embedding",
      model.idCol, Ann.L2, () => cents))
    try {
      val df = s.read.parquet(path)
        .filter(col("label").isin(1, 3, 5) &&
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), qvec(s, d, 9)), 6) <= 1.3)
        .withColumn("dist",
          round(org.apache.spark.sql.graft.VecExprs
            .l2Dist(col("embedding"), qvec(s, d, 9)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .select("vec_id", "dist")
      val phys = df.queryExecution.executedPlan.toString
      assertPartitionPruned(phys, "centroid_id", "declarative range")
      require("""PushedFilters: \[[^\]]*In\(label""".r
          .findFirstIn(phys).isDefined,
        s"declarative range did not push the label predicate:\n$phys")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r63: COSINE range search at rest — the normalized-L2 reduction
    * ([[Ann.rangeSearchIvfStored]] under Cosine): cosine distance is
    * not a metric (no triangle inequality), so the radii cut runs as L2 on the
    * unit sphere (‖â−b̂‖² = 2·cosDist) with eps_l2 = sqrt(2·eps +
    * slack), while the output filter is TRUE cosine on the raw
    * vectors. Exact like r56, so the oracle is the plain cosine
    * threshold scan; `PartitionFilters` pinned. */
  def rangeCosStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val withN = e.withColumn("__nvec", Ann.l2Normalize(col("embedding")))
    val model = Ann.normalizeModel(Ann.buildIvf(withN, "label", "__nvec"))
    val assigned = Ann.assign(withN, "__nvec", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_cos").toString
    Ann.writePartitioned(assigned.drop("__nvec"), dir)
    val radii = Ann.cellRadii(assigned, "__nvec", model, Ann.L2)
    val df = Ann.rangeSearchIvfStored(s, dir, "vec_id", "embedding", model,
        radii, qvec(s, d, 7), Ann.Cosine, eps = 0.78)
      .select(col("vec_id"), (col("dist") + lit(0.0)).as("dist"))
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "stored cosine range")
    df
  }

  /** r64: the SELF-CONTAINED at-rest range index
    * ([[Ann.writeRangeIndex]]): rows, centroids, radii, and the model
    * fingerprint in one root — a reader needs nothing driver-resident
    * ([[Ann.rangeSearchStoredSelf]]). Same parameters as r56, so the
    * plain-SQL oracle is shared; the delete-conservativeness of stale
    * radii is pinned in AnnRangeSpec. */
  def rangeStoredSelf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_self").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val df = Ann.rangeSearchStoredSelf(s, dir, "vec_id", "embedding",
        qvec(s, d, 9), eps = 1.3, pred = col("label").isin(1, 3, 5))
      .select("vec_id", "dist")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "self-contained range")
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"self-contained range did not push the label predicate:\n$phys")
    df
  }

  /** r70: matryoshka (MRL) adaptive two-phase top-k
    * ([[Ann.matryoshkaTopK]]) — the DIMENSION-truncation compression
    * axis, completing the picture next to the value-quantization
    * families (SQ r11, 1-bit r12, PQ r37-r46): phase 1 ranks the
    * corpus on the first 8 of 32 coordinates (map-only slice, no
    * index), keeps 50 candidates, phase 2 re-scores them at full
    * precision. The phase-1 score is IN the output (pre_dist), so
    * the oracle re-derives the candidate cut, not just the final
    * ranking. In-query pin: the truncated and full orders must
    * actually differ on this corpus (refine does real work) — else
    * the gate degenerates to r01. */
  def matryoshkaTopk(s: SparkSession, d: String): DataFrame = {
    val out = Ann.matryoshkaTopK(embeddings(s, d), "vec_id",
      "embedding", qvecSeq(s, d, 3), dims = 8, candidates = 50, k = 10)
    require(out.filter(
        col("pre_dist") =!= col("dist")).limit(1).count() > 0,
      "r70 is vacuous: truncated and full distances agree everywhere " +
        "— the refine phase is doing no work on this corpus")
    out
  }

  /** r71: matryoshka AT REST ([[Ann.writeMatryoshka]] +
    * [[Ann.matryoshkaTopKStored]]) — r70's truncation made real at
    * the storage layer: the prefix is its own parquet column, the
    * phase-1 scan reads (vec_id, emb_pre) ONLY (asserted inside the
    * operator on every call), and the phase-2 fetch pushes the
    * candidate ids as an In filter into the scan. Same parameters as
    * r70 and a lossless layout, so the gate shares r70's oracle
    * verbatim. In-query pin: the returned plan must push In(vec_id)
    * — a fall-through to a full second scan cannot fake green. */
  def matryoshkaStored(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl").toString
    Ann.writeMatryoshka(embeddings(s, d), "vec_id", "embedding",
      dims = 8, dir)
    val df = Ann.matryoshkaTopKStored(s, dir, "vec_id",
      qvecSeq(s, d, 3), candidates = 50, k = 10)
    val phys = df.queryExecution.executedPlan.toString
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r71 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r76: FILTERED matryoshka search — the truncation modality joins
    * the filtered-search family (c08, r51-r54, r58-r60: metadata
    * predicates compose with EVERY index form): the layout carries
    * `label` as a kept column, the predicate applies BEFORE the
    * prefix cut (the family's no-starvation contract) and pushes
    * into the phase-1 scan next to emb_pre — the full vector still
    * never read in phase 1 (operator-enforced), the predicate
    * PushedFilters pinned here. Oracle: the family cut replay with
    * the same WHERE. */
  def matryoshkaFiltered(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_filt").toString
    Ann.writeMatryoshka(embeddings(s, d), "vec_id", "embedding",
      dims = 8, dir, keepCols = Seq("label"))
    val df = Ann.matryoshkaTopKStored(s, dir, "vec_id",
      qvecSeq(s, d, 3), candidates = 50, k = 10,
      pred = col("label").isin(1, 3, 5))
    val phys = df.queryExecution.executedPlan.toString
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r76 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r77: COSINE matryoshka — the truncation family under the metric
    * real truncatable embedding models actually ship (the reference's
    * Gemini/OpenAI/Voyage truncatable-dims providers are
    * cosine-normalized, embedding.py:114-160,267-308), via the r63
    * normalize-then-L2 reduction: the root's `emb_pre` is the prefix
    * of the L2-NORMALIZED vector (on the unit sphere ‖â−b̂‖² =
    * 2·cosDist, so the prefix cut keeps its neighborhood contract),
    * `emb_full` stays raw, and phase 2 is TRUE cosine — the
    * user-facing score matches every other cosine searcher. Two
    * refusals pinned in-query: an L2 read of the cosine root (wrong
    * reduction space) and the phase-2 In(vec_id) pushdown; the
    * operator's own emb_pre-only phase-1 assert runs on every call.
    * Oracle: the family cut replay with DuckDB normalizing exactly
    * like the spherical-IVF oracles (x / sqrt(list_inner_product)),
    * final dist cosine (+ 0 for DuckDB's IEEE −0.0, the r44/r63
    * lesson). */
  def matryoshkaCos(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_cos").toString
    Ann.writeMatryoshka(embeddings(s, d), "vec_id", "embedding",
      dims = 8, dir, metric = Ann.Cosine)
    require(scala.util.Try(Ann.matryoshkaTopKStored(s, dir, "vec_id",
        qvecSeq(s, d, 5), candidates = 50, k = 10)).isFailure,
      "r77: querying a cosine root as L2 did not refuse — emb_pre " +
        "would be read in the wrong reduction space")
    val df = Ann.matryoshkaTopKStored(s, dir, "vec_id",
      qvecSeq(s, d, 5), candidates = 50, k = 10, metric = Ann.Cosine)
    val phys = df.queryExecution.executedPlan.toString
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r77 phase-2 fetch did not push the candidate In filter:\n$phys")
    df.select(col("vec_id"), col("pre_dist"),
      (col("dist") + lit(0.0)).as("dist"))
  }

  /** r78: matryoshka COMPOSED with IVF cell pruning
    * ([[Ann.writeMatryoshkaIvf]] + [[Ann.searchStored]]) — the
    * 100 TB closure of the truncation family: the flat r71 root's
    * phase 1 is a full-corpus prefix scan; here the prefix column
    * lives INSIDE the cell layout, so phase 1 reads probed cell
    * DIRECTORIES only (partition pruning) and within them emb_pre
    * only (column pruning) — the reference's own index runs IVF and
    * quantization together (vchordrq, spec.py:437-444). The
    * operator asserts BOTH phase-1 pins (centroid_id
    * PartitionFilters + an emb_pre-only read) on every call; the
    * gate additionally pins the phase-2 plan: cell partition pruning
    * AND the candidate In(vec_id) pushdown in ONE plan. Oracle: the
    * r09 label-IVF probe replay composed with the family's prefix
    * cut — cut and re-rank confined to probed cells. */
  def matryoshkaIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    val df = Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id",
        qvecSeq(s, d, 5), 3, 10)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "matryoshka-IVF phase 2")
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r78 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r91: MERGE of underfull cells on the COMPOSED matryoshka-IVF
    * root ([[Ann.mergeUnderfull]]) — r90's actuator
    * reaches the north-star layout: delete maintenance drains its
    * cells exactly like the range family's. An S6 delete drains
    * ASSIGNED cell 4 to its `vec_id % 3` survivors, the threshold is
    * set one above the drained count (flagging it definitionally —
    * naturally tiny siblings may dissolve with it at small SFs,
    * which the oracle tolerates by construction), rows re-home under
    * the root's own geometry with `emb_pre` moving verbatim, and the
    * post-merge search probes EVERY cell — at all-probe the composed
    * two-phase equals the flat prefix cut over the surviving rows
    * regardless of cell homes, so ONE oracle (the post-delete flat
    * replay) is exact no matter which cells dissolved, while the
    * search still exercises the merged layout's partition pruning
    * and emb_pre-only phase 1 (operator-asserted). */
  def mrlIvfCellMerge(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_merge").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    val lists = model.centroids.count().toInt
    val cell4 = s.read.parquet(s"$dir/rows")
      .filter(col("centroid_id") === 4).select(col("vec_id"))
      .localCheckpoint(true)
    val doomed = cell4.filter(col("vec_id") % 3 =!= 0)
    val removed = Ann.deleteStoredIds(s, s"$dir/rows", "vec_id", doomed)
    require(removed > 0, "r91 vacuous: the S6 delete removed nothing")
    val drained = s.read.parquet(s"$dir/rows")
      .filter(col("centroid_id") === 4).count()
    val merged = Ann.mergeUnderfull(Ann.cellRoot(s, dir, None), drained + 1)
    require(merged.contains(4L),
      s"r91: the drained cell 4 did not merge, got ${merged.keySet}")
    require(!new java.io.File(s"$dir/rows/centroid_id=4").exists(),
      "r91: the dissolved cell's directory survived")
    Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id", qvecSeq(s, d, 5),
        lists, 10)
  }

  /** r79: the composed matryoshka-IVF layout under COSINE — r77's
    * reduction and r78's cell pruning together, the full vchordrq
    * shape for the metric real truncatable embeddings ship:
    * assignment, probes and the prefix cut all live on the unit
    * sphere (spherical cells, normalized emb_pre), the re-rank is
    * true cosine on the raw vectors; the metric comes from the root's
    * marker. Phase-1 partition + column pruning asserted
    * in-operator; phase-2 cell pruning + In pushdown pinned here.
    * Oracle: the spherical replay (DuckDB normalizes exactly like
    * the r17/r43 spherical oracles) + prefix cut + cosine re-rank. */
  def matryoshkaIvfCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_cos").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir, metric = Ann.Cosine)
    val df = Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id",
        qvecSeq(s, d, 7), 3, 10)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "cosine matryoshka-IVF phase 2")
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r79 phase-2 fetch did not push the candidate In filter:\n$phys")
    df.select(col("vec_id"), col("pre_dist"),
      (col("dist") + lit(0.0)).as("dist"))
  }

  /** r80: DELETE maintenance on the composed root — the cell-rewrite
    * form ([[Ann.deleteStored]] over `rows/`, r19's machinery): only
    * cells holding doomed rows are rewritten (never the whole
    * directory — the flat r75 swap's cell-confined twin), centroids
    * stay (codes-outlive-rows), and the search behaves as if the
    * doomed rows never existed. Vacuity pinned. */
  def matryoshkaIvfDelete(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_del").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    val removed = Ann.deleteStored(s, s"$dir/rows",
      col("vec_id") % 7 === 0)
    require(removed > 0, "r80 is vacuous: the delete removed nothing")
    Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id", qvecSeq(s, d, 5),
        3, 10)
  }

  /** r81: batch APPEND into the composed root
    * ([[Ann.appendIdempotent]]): half the corpus is written at
    * build time, the other half appended under the root's OWN pinned
    * geometry (marker dims+metric, loaded centroids — the rule every
    * cell root's append keeps) through the same row builder, landing
    * cell-partitioned so searches prune it like day-one rows. The
    * model is the full-corpus label-means, so the grown root is
    * indistinguishable from a one-shot build and r78's replay lands
    * verbatim. Growth pinned in-query. */
  def matryoshkaIvfAppend(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_app").toString
    Ann.writeMatryoshkaIvf(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dims = 8, model, dir)
    Ann.appendIdempotent(
      Ann.cellRoot(s, dir, Some("embedding")),
      e.filter(col("vec_id") % 2 === 1), "vec_id")
    val grown = s.read.parquet(s"$dir/rows").count()
    require(grown == e.count(),
      s"r81: grown root holds $grown rows, corpus has ${e.count()}")
    Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id", qvecSeq(s, d, 5),
        3, 10)
  }

  /** r82: FILTERED composed search — the matryoshka-IVF layout joins
    * the filtered-search family (c08, r51-r54, r58-r60, r76): the
    * metadata column rides the cell layout as a kept column, the
    * predicate applies BEFORE the prefix cut (no-starvation) and
    * reaches the phase-1 scan as a parquet filter NEXT TO the cell
    * partition pruning — three prunings in one scan (cells ×
    * row-groups × emb_pre columns). In-query pins follow the r76
    * precedent: cell pruning + the candidate In pushdown on the
    * returned plan (the operator asserts phase 1's own pins; a
    * pred applied after the cut instead of before would hash-fail
    * the oracle, which restricts the cut). */
  def matryoshkaIvfFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_filt").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir, keepCols = Seq("label"))
    val df = Ann.searchStored(Ann.cellRoot(s, dir, None), "vec_id",
        qvecSeq(s, d, 5), 3, 10, pred = col("label").isin(1, 3, 5))
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "filtered matryoshka-IVF phase 2")
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r82 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r83: the composed DECLARATIVE rewrite
    * ([[graft.plans.Binding.matryoshkaIvf]]) — r74's twin
    * over the r78 layout: a plain `orderBy(l2_dist(embedding, q))
    * .limit(10)` plan rewrites into a LeftSemi against the
    * top-(k·refine) prefix-distance candidates read from the probed
    * cells ONLY (partition + emb_pre pruning both live inside the
    * candidate scan), the plan's own Sort+Limit as the exact
    * re-rank. probes=3, refine=5 ⇒ r78's cut, so the oracle is the
    * composed replay minus pre_dist. LeftSemi pinned in-query. */
  def matryoshkaIvfRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_rw").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.matryoshkaIvf(
      "embedding", "vec_id", dir, probes = 3, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), qvec(s, d, 5)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "matryoshka-IVF rewrite did not engage")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r85: the composed matryoshka-IVF root's BATCH join form
    * ([[Ann.matryoshkaTopKIvfBatch]]) — the query-log replay shape
    * over the family's north-star layout (r78's root): three query
    * vectors probe their own 3 cells each, phase 1 reads the UNION
    * of probed cell directories and within them emb_pre ONLY (both
    * pins asserted in-operator on every call), the prefix cut runs
    * per query id, and phase 2 re-reads only the candidate ids at
    * full precision — the gate pins the phase-2 plan like r78: cell
    * partition pruning AND the candidate In(vec_id) pushdown in ONE
    * plan. pre_dist rides the output, so the oracle re-derives each
    * query's candidate cut, not just its final ranking. Oracle: the
    * composed replay per query id (the factored batch fragment —
    * c18's oracle with the phase-1 column kept). */
  def matryoshkaIvfBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_batch").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir)
    val qs = e.filter(col("vec_id").isin(0, 1, 5))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.matryoshkaTopKIvfBatch(s, dir, "vec_id", qs, "q_id",
      "qv", probes = 3, candidates = 50, k = 10)
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "matryoshka-IVF batch phase 2")
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r85 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r86: FILTERED composed batch — r85's metadata-filter form,
    * closing the symmetry with the single-query r82 (every filtered
    * single form should have its batch twin, the engine batch
    * surfaces' own argument): the layout keeps `label`, the predicate
    * applies BEFORE each query's prefix cut on the SAME cell-pruned
    * emb_pre-only scan (the operator's in-call pins still run), and
    * the r78/r82 phase-2 pins hold on the returned plan. Oracle: the
    * per-qid composed replay with the cut's corpus restricted. */
  def matryoshkaIvfBatchFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_ivf_bf").toString
    Ann.writeMatryoshkaIvf(e, "vec_id", "embedding", dims = 8, model,
      dir, keepCols = Seq("label"))
    val qs = e.filter(col("vec_id").isin(0, 1, 5))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.matryoshkaTopKIvfBatch(s, dir, "vec_id", qs, "q_id",
      "qv", probes = 3, candidates = 50, k = 10,
      pred = col("label").isin(1, 3, 5))
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id",
      "filtered matryoshka-IVF batch phase 2")
    require("""PushedFilters: \[[^\]]*In\(vec_id""".r
        .findFirstIn(phys).isDefined,
      s"r86 phase-2 fetch did not push the candidate In filter:\n$phys")
    df
  }

  /** r75: matryoshka DELETE maintenance ([[Ann.deleteMatryoshka]]) —
    * the S6 stored-index contract for the flat truncation layout
    * (r19 dense cells, r47 PQ codes — now the whole-directory swap
    * form): every seventh row is removed from the root, and the
    * stored two-phase search must behave as if those rows never
    * existed — the oracle is the family's cut replay with the doomed
    * ids excluded from the CORPUS (both the candidate cut and the
    * re-rank see only survivors). Vacuity pinned: the delete must
    * remove rows. */
  def matryoshkaDelete(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_del").toString
    Ann.writeMatryoshka(embeddings(s, d), "vec_id", "embedding",
      dims = 8, dir)
    val removed = Ann.deleteMatryoshka(s, dir, col("vec_id") % 7 === 0)
    require(removed > 0, "r75 is vacuous: the delete removed nothing")
    Ann.matryoshkaTopKStored(s, dir, "vec_id", qvecSeq(s, d, 3),
      candidates = 50, k = 10)
  }

  /** r74: the matryoshka DECLARATIVE rewrite — the truncation member
    * of the quantized-rewrite family (r39 PQ, sq/bitq twins): a plain
    * `orderBy(l2_dist(embedding, q)).limit(10)` plan over the
    * registered [[Ann.writeMatryoshka]] root rewrites into a LeftSemi
    * against the top-(k·refine) PREFIX-distance candidates (read from
    * the root's column-pruned `emb_pre`), with the plan's own
    * Sort+Limit as the exact re-rank. refine=5 ⇒ the 50-candidate cut
    * of r70, so the oracle is the shared cut replay (minus pre_dist,
    * which the user's plan never computes). LeftSemi pinned in-query:
    * an un-rewritten plan would return the exact answer and could
    * still pass this oracle only if the cut lost nothing — the plan
    * pin closes that hole. */
  def matryoshkaRewrite(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mrl_rw").toString
    Ann.writeMatryoshka(e, "vec_id", "embedding", dims = 8, dir)
    graft.plans.AnnIndex.install(s)
    graft.plans.AnnIndex.register(graft.plans.Binding.matryoshka(
      "embedding", "vec_id", dir, refine = 5))
    try {
      val df = e
        .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
          .l2Dist(col("embedding"), qvec(s, d, 3)), 6))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "dist")
      require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "matryoshka rewrite did not engage")
      df.localCheckpoint(true)
    } finally graft.plans.AnnIndex.unregister("embedding")
  }

  /** r73: the matryoshka BATCH query-log replay
    * ([[Ann.matryoshkaBatch]]) — the family's batch form next to
    * explicit r70 / at-rest r71 / streamed s18, the r04 pattern:
    * queries vec_id < 5 each take a 20-candidate prefix cut and a
    * full-precision top-3, in ONE broadcast-exploded job whose
    * phase-1 shuffle is partitions × Q × candidates (corpus-size-
    * independent). Both phases' scores ride in the output; the
    * oracle unrolls cut and re-score per query. */
  def matryoshkaBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val docs = e.select(col("vec_id").as("d_id"),
      col("embedding").as("dv"))
    Ann.matryoshkaBatch(qs, "q_id", "qv", docs, "d_id", "dv",
        dims = 8, candidates = 20, k = 3)
      .orderBy(col("q_id").asc, col("rank").asc)
  }

  /** r69: cell split — the ACTUATOR for r66's retrain signal
    * ([[Ann.splitOverfull]]): a deliberately coarse 2-cell model
    * (label parity) leaves both cells ~10× overfull; the operator
    * locally retrains each into sub-cells, replacing ONLY their
    * directories (sibling-staged, radii-before-centroids commit,
    * marker re-pinned). The gate pins (a) the split actually fired
    * and occupancy strictly dropped, (b) the post-split search still
    * partition-prunes and pushes the metadata predicate, and (c) —
    * the contract — results are IDENTICAL to the index-free scan:
    * the oracle is r64's, shared verbatim, because a re-partitioning
    * that changes any result is not a split, it's corruption. */
  def rangeCellSplit(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val coarse = e.withColumn("__par", pmod(col("label"), lit(2)))
    val model = Ann.buildIvf(coarse, "__par", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_split").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val beforeMax = Ann.indexHealth(Ann.cellRoot(s, dir, Some("embedding")))
      .agg(max(col("n_rows"))).head().getLong(0)
    val splits = Ann.splitOverfull(Ann.cellRoot(s, dir, Some("embedding")),
      maxRows = 150L)
    require(splits.nonEmpty,
      "r69 is vacuous: no cell was overfull — the split never fired")
    val afterMax = Ann.indexHealth(Ann.cellRoot(s, dir, Some("embedding")))
      .agg(max(col("n_rows"))).head().getLong(0)
    require(afterMax < beforeMax,
      s"r69: split did not reduce max occupancy ($beforeMax -> " +
        s"$afterMax)")
    val df = Ann.rangeSearchStoredSelf(s, dir, "vec_id", "embedding",
        qvec(s, d, 9), eps = 1.3, pred = col("label").isin(1, 3, 5))
      .select("vec_id", "dist")
    val phys = df.queryExecution.executedPlan.toString
    assertPartitionPruned(phys, "centroid_id", "post-split range")
    require("""PushedFilters: \[[^\]]*In\(label""".r
        .findFirstIn(phys).isDefined,
      s"post-split range did not push the label predicate:\n$phys")
    df
  }

  /** r90: MERGE of underfull cells ([[Ann.mergeUnderfull]]) —
    * the complement actuator to r69's split for the r66 health
    * signal's other tail: an S6 delete drains ASSIGNED cell 4 to a
    * third of its size (cell membership, not labels — the synthetic
    * embeddings don't cluster by label, the smoke-row lesson), the
    * half-average threshold flags exactly that cell, its centroid
    * dissolves and its surviving rows RE-ASSIGN to their true
    * nearest surviving cells (the IVF invariant holds row-wise,
    * never blanket-absorbed into one neighbor). The oracle is the
    * post-delete exact scan at an everything-admitting eps over the
    * label-IVF assignment replay — every surviving row, the moved
    * ones included, must reappear at its exact distance, so a merge
    * that drops, duplicates, or mis-homes even one row hash-fails.
    * In-gate pins: exactly cell 4 merged, cell count shrank, ≥1
    * moved (cell-4 survivor) row in the result, doomed dir gone. */
  def rangeCellMerge(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_merge").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val lists = model.centroids.count()
    val cell4 = assigned.filter(col("centroid_id") === 4)
      .select(col("vec_id")).localCheckpoint(true)
    val doomed = cell4.filter(col("vec_id") % 3 =!= 0)
    val removed = Ann.deleteStoredIds(s, s"$dir/rows", "vec_id", doomed)
    require(removed > 0, "r90 vacuous: the S6 delete removed nothing")
    // SF-relative threshold (half-average, floor 3 so the drained
    // cell is flagged even at sf0.001's ~2 survivors); cell 4 must be
    // among the flagged — a naturally tiny sibling cell may merge
    // with it at small SFs, which only strengthens the oracle pin
    val minRows = math.max(3L,
      s.read.parquet(s"$dir/rows").count() / lists / 2)
    val merged = Ann.mergeUnderfull(
      Ann.cellRoot(s, dir, Some("embedding")), minRows)
    require(merged.contains(4L),
      s"r90: the drained cell 4 did not merge, got ${merged.keySet}")
    val cellsNow = Ann.indexHealth(
      Ann.cellRoot(s, dir, Some("embedding"))).count()
    require(cellsNow == lists - merged.size,
      s"r90: merge left $cellsNow cells, wanted ${lists - merged.size}")
    require(!new java.io.File(s"$dir/rows/centroid_id=4").exists(),
      "r90: the dissolved cell's directory survived")
    val df = Ann.rangeSearchStoredSelf(s, dir, "vec_id", "embedding",
        qvec(s, d, 9), eps = 10.0)
      .select("vec_id", "dist")
    require(df.join(cell4.filter(col("vec_id") % 3 === 0),
        Seq("vec_id"), "left_semi").limit(1).count() > 0,
      "r90 vacuous: no moved (cell-4 survivor) row in the result")
    df
  }

  /** r93: MERGE of underfull cells on a QUANTIZED root
    * ([[Ann.mergeUnderfull]]) — the r66 health
    * actuators reach the compressed families: S6 deletes drain SQ/PQ/
    * 1-bit cells exactly like the range family's (r84's own story),
    * and round 15 left them with neither split nor merge. The r12 SQ
    * root is drained at its assigned cell 4 (the r90 recipe), the
    * merge dissolves every cell below the SF-relative threshold, and
    * moved rows RE-ENCODE under the receiving cells' frozen bounds
    * (the compactQuantizedFresh transform — bit-identical to a
    * fresh-append-then-compact of the same rows; bounds stay frozen
    * so the root's digest pins survive). Because codes change homes,
    * results at small refine are not invariant by construction — the
    * truth is the index-free post-delete replay, which the gate pins
    * EXACTLY by probing every surviving cell with a corpus-covering
    * refine (phase-1 keeps everything ⇒ the exact re-rank IS the
    * oracle's scan). In-gate pins: cell 4 dissolved and its dir gone,
    * every surviving row reachable (moved rows included — a dropped
    * or double-moved row changes the count), and ≥1 moved (cell-4
    * survivor) row in the reachable set. */
  def quantizedCellMerge(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_merge").toString
    Ann.writeQuantized(index, dir)
    val lists = model.centroids.count()
    val cell4 = s.read.parquet(s"$dir/quantized")
      .filter(col("centroid_id") === 4).select(col("vec_id"))
      .localCheckpoint(true)
    val doomed = cell4.filter(col("vec_id") % 3 =!= 0)
    val removed = Ann.deleteStoredIds(s, s"$dir/quantized", "vec_id",
      doomed)
    require(removed > 0, "r93 vacuous: the S6 delete removed nothing")
    val minRows = math.max(3L,
      s.read.parquet(s"$dir/quantized").count() / lists / 2)
    val merged = Ann.mergeUnderfull(
      Ann.cellRoot(s, dir, Some("embedding")), minRows)
    require(merged.contains(4L),
      s"r93: the drained cell 4 did not merge, got ${merged.keySet}")
    require(!new java.io.File(s"$dir/quantized/centroid_id=4").exists(),
      "r93: the dissolved cell's directory survived")
    val remaining = s.read.parquet(s"$dir/quantized").count()
    val cellsNow = (lists - merged.size).toInt
    // reachability: every surviving row (moved included) surfaces
    // under all-probe — row conservation through the re-encode
    val all = Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")),
        "vec_id", qvecSeq(s, d, 5), cellsNow, remaining.toInt, refine = 1)
    require(all.count() == remaining,
      "r93: merged root lost or duplicated rows under all-probe")
    require(all.join(cell4.filter(col("vec_id") % 3 === 0),
        Seq("vec_id"), "left_semi").limit(1).count() > 0,
      "r93 vacuous: no moved (cell-4 survivor) row reachable")
    // the oracle cut: all-probe + corpus-covering refine makes the
    // exact re-rank the index-free post-delete top-10
    Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")), "vec_id",
        qvecSeq(s, d, 5), cellsNow, 10, refine = (remaining / 10 + 1).toInt)
  }

  /** r95: SPLIT of an overfull cell on a QUANTIZED root
    * ([[Ann.splitOverfull]]) — r93's complement,
    * completing the actuator matrix: every cell-partitioned layout
    * now has both directions. On the SQ family the split is
    * code-preserving BY CONSTRUCTION (sub-cells inherit the parent's
    * frozen bounds, so codes stay bit-identical and rows merely
    * change directories — the spec pins the bytes); the hottest cell
    * is flagged via the observed occupancy (the s29 recipe), and the
    * post-split search probes every cell with a corpus-covering
    * refine so the exact re-rank IS the index-free oracle. In-gate
    * pins: the policy fired (cells grew), rows conserved, and the
    * bounds table carries a row for every new sub-cell. */
  def quantizedCellSplit(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfSq(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq_split").toString
    Ann.writeQuantized(index, dir)
    val lists = model.centroids.count()
    val total = s.read.parquet(s"$dir/quantized").count()
    val maxOcc = s.read.parquet(s"$dir/quantized")
      .groupBy(col("centroid_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val split = Ann.splitOverfull(
      Ann.cellRoot(s, dir, Some("embedding")),
      maxRows = math.max(1L, maxOcc - 1))
    require(split.nonEmpty, "r95: split never fired on the hot cell")
    val cellsNow = s.read.parquet(s"$dir/centroids").count()
    require(cellsNow > lists,
      s"r95: $cellsNow cells after split, trained $lists")
    require(s.read.parquet(s"$dir/quantized").count() == total,
      "r95: split lost or duplicated rows")
    // every new sub-cell inherited a bounds row (codes stay valid)
    val newIds = split.values.flatten.toSeq
    val bounded = s.read.parquet(s"$dir/bounds")
      .filter(col("centroid_id").cast("long").isin(newIds: _*))
      .select(col("centroid_id").cast("long")).distinct().count()
    require(bounded == newIds.size,
      s"r95: $bounded of ${newIds.size} sub-cells carry bounds")
    Ann.searchStored(Ann.cellRoot(s, dir, Some("embedding")), "vec_id",
        qvecSeq(s, d, 7), cellsNow.toInt, 10, refine = (total / 10 + 1).toInt)
  }

  /** r65: the eps-join AT REST — r57's batch shape over a
    * self-contained [[Ann.writeRangeIndex]] root: each query explodes
    * to its ball-intersecting cells (broadcast (centroid, radius)
    * table), and the equi-join against the cell-partitioned `rows/`
    * scan plants DynamicPruningExpression — the batch reads only the
    * union of its queries' intersecting cell DIRECTORIES (pinned —
    * meaningful because the query side is the r36-style selective
    * query log; the whole-corpus self-join r57 probes every cell by
    * construction). Exact like r57: plain quadratic oracle over the
    * same query subset, self-pairs included (dist 0). */
  def rangeJoinStored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val root = java.nio.file.Files
      .createTempDirectory("graft_range_join_store").toString
    Ann.writeRangeIndex(assigned, "embedding", model, root)
    val range = Ann.cellRoot(s, root, None)
      .as[Ann.CellRoot.Range]("rangeJoinStored")
    val stored = s.read.parquet(s"$root/rows")
      .select(col("vec_id").as("d_id"), col("embedding").as("dv"),
        col("centroid_id"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val df = Ann.rangeJoinIvf(queries, "q_id", "qv", stored, "d_id",
        "dv", range.readModel, range.radii, Ann.L2, eps = 1.2)
      .select(col("q_id").as("qid"), col("d_id").as("did"), col("dist"))
    val phys = df.queryExecution.executedPlan.toString
    require(phys.toLowerCase.contains("dynamicpruning"),
      s"stored eps-join must runtime-prune cell dirs:\n$phys")
    df
  }

  /** r66: index-health audit ([[Ann.indexHealth]]) over a
    * self-contained range root — per cell, row count, stored pruning
    * radius, mean centroid distance: the retrain/rebalance signal an
    * index operator reads instead of probing blind. The gate pins that
    * the audit's rows scan reads ONLY the vector + partition columns
    * (payload columns pruned — at 100 TB the audit must not read the
    * corpus). Oracle: full first-principles replay (label-mean
    * centroids, argmin assignment, per-cell count/max/mean). */
  def indexHealthStats(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val assigned = Ann.assign(e, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_health").toString
    Ann.writeRangeIndex(assigned, "embedding", model, dir)
    val df = Ann.indexHealth(Ann.cellRoot(s, dir, Some("embedding")))
      .orderBy("centroid_id")
    val phys = df.queryExecution.executedPlan.toString
    require(phys.contains("ReadSchema") && !phys.contains("vec_id") &&
        !phys.contains("label"),
      s"index-health audit must not read payload columns:\n$phys")
    df
  }

  /** r67: sound range-root APPEND ([[Ann.appendIdempotent]]) — the
    * root is built from the vec_id<400 prefix only, the tail appends
    * through the radii-first grow path, and the stored search must
    * equal the plain FULL-corpus range scan: exactly the rows a
    * stale-radii append would hide (the s15 late-outlier
    * counterfactual, now closed by an operator instead of a caller
    * recipe). Exact semantics — the oracle needs no index machinery. */
  def rangeAppendGrow(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val head = e.filter(col("vec_id") < 400)
    val model = Ann.buildIvf(head, "label", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_range_append").toString
    Ann.writeRangeIndex(Ann.assign(head, "embedding", model, Ann.L2),
      "embedding", model, dir)
    Ann.appendIdempotent(Ann.cellRoot(s, dir, Some("embedding")),
      e.filter(col("vec_id") >= 400), "vec_id")
    Ann.rangeSearchStoredSelf(s, dir, "vec_id", "embedding",
        qvec(s, d, 7), eps = 1.25)
      .select("vec_id", "dist")
  }

  /** r68: the 1-BIT refine-recall CURVE as oracle-gated data (e16's
    * pattern for the quantized path) — ALL cells probed, so the
    * sign-bit estimator error is the ONLY recall knob: recall@10 of
    * the batch 1-bit join vs the exact top-10 at refine ∈ {1, 2, 5}
    * (budget = k·refine candidates), averaged over 10 queries. The
    * ScaleSmoke ladders measure this informally; here every rung
    * hash-matches a full first-principles replay. (The SQ path was
    * measured recall-complete at refine 1 on this corpus — a flat
    * curve pins less; the 32×-lossier sign codes have a real knee.) */
  def bitqRecallCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val model = Ann.buildIvf(e, "label", "embedding")
    val index = Ann.buildIvfBitq(e, "embedding", model, Ann.L2)
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val docs = e.select(col("vec_id").as("d_id"), col("embedding").as("dv"))
    val exact = Ann.knnJoin(qs, "q_id", "qv", docs, "d_id", "dv",
        Ann.L2, 10)
      .select(col("q_id"), col("d_id")).localCheckpoint(true)
    val rows = Seq(1, 2, 5).map { p =>
      val approx = Ann.knnJoinQuantized(qs, "q_id", "qv", index, "vec_id",
          "embedding", Ann.L2, probes = 10, k = 10, refine = p)
        .select(col("q_id"), col("vec_id").as("d_id"))
      val hits = exact.join(approx, Seq("q_id", "d_id"), "left_semi")
        .count()
      (p, BigDecimal(hits.toDouble / 100)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.toDF("refine", "recall")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r68_bitq_recall_curve" -> bitqRecallCurve,
    "r67_range_append" -> rangeAppendGrow,
    "r66_index_health" -> indexHealthStats,
    "r65_range_join_stored" -> rangeJoinStored,
    "r64_range_stored_self" -> rangeStoredSelf,
    "r69_cell_split" -> rangeCellSplit,
    "r90_cell_merge" -> rangeCellMerge,
    "r93_quantized_cell_merge" -> quantizedCellMerge,
    "r95_quantized_cell_split" -> quantizedCellSplit,
    "r70_matryoshka_topk" -> matryoshkaTopk,
    "r71_matryoshka_stored" -> matryoshkaStored,
    "r72_sql_surface" -> sqlSurfaceTopk,
    "r73_matryoshka_batch" -> matryoshkaBatch,
    "r74_matryoshka_rewrite" -> matryoshkaRewrite,
    "r75_matryoshka_delete" -> matryoshkaDelete,
    "r76_matryoshka_filtered" -> matryoshkaFiltered,
    "r77_matryoshka_cos" -> matryoshkaCos,
    "r78_matryoshka_ivf" -> matryoshkaIvf,
    "r91_mrl_ivf_cell_merge" -> mrlIvfCellMerge,
    "r79_matryoshka_ivf_cos" -> matryoshkaIvfCos,
    "r80_matryoshka_ivf_delete" -> matryoshkaIvfDelete,
    "r81_matryoshka_ivf_append" -> matryoshkaIvfAppend,
    "r82_matryoshka_ivf_filtered" -> matryoshkaIvfFiltered,
    "r83_matryoshka_ivf_rewrite" -> matryoshkaIvfRewrite,
    "r85_matryoshka_ivf_batch" -> matryoshkaIvfBatch,
    "r86_matryoshka_ivf_batch_filtered" -> matryoshkaIvfBatchFiltered,
    "r63_range_cos_stored" -> rangeCosStored,
    "r62_range_rewrite" -> annRewriteRange,
    "r61_grouped_topk" -> groupedTopk,
    "r59_sparse_filtered" -> sparseFiltered,
    "r60_maxsim_filtered" -> maxsimFiltered,
    "r58_bm25_filtered" -> bm25Filtered,
    "r55_range_search" -> rangeSearchExact,
    "r56_range_ivf_stored" -> rangeIvfStored,
    "r57_range_join" -> rangeJoinSelf,
    "r88_range_join_per_eps" -> rangeJoinPerEps,
    "r89_range_join_per_eps_stored" -> rangeJoinPerEpsStored,
    "r94_range_join_per_eps_cos" -> rangeJoinPerEpsCos,
    "r96_range_join_cos_stored" -> rangeJoinPerEpsCosStored,
    "r97_range_join_filtered" -> rangeJoinPerEpsFiltered,
    "r98_dense_cell_split" -> denseCellSplit,
    "r99_dense_cell_merge" -> denseCellMerge,
    "r100_dense_index_health" -> denseIndexHealth,
    "r101_dense_rewrite" -> denseRewrite,
    "r102_mrl_ivf_index_health" -> mrlIvfIndexHealth,
    "r103_range_rewrite_maintained" -> rangeRewriteMaintained,
    "r104_quantized_index_health" -> quantizedIndexHealth,
    "r105_quantized_rewrite_maintained" -> quantizedRewriteMaintained,
    "r106_mrl_ivf_rewrite_maintained" -> mrlIvfRewriteMaintained,
    "r107_engine_index_health" -> engineIndexHealth,
    "r108_range_join_cos_stored_filtered" ->
      rangeJoinPerEpsCosStoredFiltered,
    "r109_quantized_index_health_cos" -> quantizedIndexHealthCos,
    "r110_quantized_index_health_pq" -> quantizedIndexHealthPq,
    "r111_quantized_index_health_bitq" -> quantizedIndexHealthBitq,
    "r112_dense_rewrite_distributed" -> denseRewriteDistributed,
    "r113_range_rewrite_distributed" -> rangeRewriteDistributed,
    "r01_ann_topk_l2" -> annTopkL2,
    "r02_ann_topk_cos" -> annTopkCos,
    "r03_ann_ivf_l2" -> annIvfL2,
    "r04_knn_join_l2" -> knnJoinL2,
    "r05_bm25_topk" -> bm25Topk,
    "r06_maxsim_label" -> maxsimLabel,
    "r07_rrf_hybrid" -> rrfHybrid,
    "r08_hybrid_dedup" -> hybridDedup,
    "r09_ann_rewrite_stored" -> annRewriteStored,
    "r10_knn_join_ivf" -> knnJoinIvfL2,
    "r11_sq_topk" -> sqTopk,
    "r12_ivf_sq_topk" -> ivfSqTopk,
    "r13_bm25_batch" -> bm25Batch,
    "r14_ivf_bitq_topk" -> ivfBitqTopk,
    "r15_mmr_rerank" -> mmrRerank,
    "r16_ann_rewrite_quant" -> annRewriteQuant,
    "r17_ivf_sq_cos" -> ivfSqCosTopk,
    "r18_ann_rewrite_cos" -> annRewriteCos,
    "r19_stored_delete" -> storedDelete,
    "r84_sq_fresh_delete" -> sqFreshDelete,
    "r87_quantized_fresh_batch" -> quantizedFreshBatch,
    "r92_quantized_fresh_filtered" -> quantizedFreshFilteredBatch,
    "r20_ann_topk_ip" -> annTopkIp,
    "r21_maxsim_rewrite" -> maxsimRewrite,
    "r22_bm25_rewrite" -> bm25Rewrite,
    "r23_bm25_stored" -> bm25Stored,
    "r24_bm25_wordpiece" -> bm25WordpieceTopk,
    "r25_ann_rewrite_dist" -> annRewriteDist,
    "r26_maxsim_ivf" -> maxsimIvfRewrite,
    "r33_maxsim_batch" -> maxsimBatch,
    "r27_sparse_topk" -> sparseTopk,
    "r28_overlap_rerank" -> overlapRerank,
    "r29_sparse_inverted" -> sparseInvertedTopk,
    "r30_sparse_stored" -> sparseStored,
    "r31_sparse_rewrite" -> sparseRewrite,
    "r32_sparse_batch" -> sparseBatch,
    "r34_sparse_stored_batch" -> sparseStoredBatch,
    "r35_bm25_stored_batch" -> bm25StoredBatch,
    "r36_knn_join_stored" -> knnJoinStored,
    "r37_pq_adc" -> pqAdc,
    "r38_ivf_pq" -> ivfPq,
    "r39_pq_rewrite" -> pqRewrite,
    "r40_ivf_pq_stored" -> ivfPqStored,
    "r41_knn_join_pq" -> knnJoinPq,
    "r42_pq_kmeans" -> pqKmeansOracle,
    "r43_ivf_pq_cos" -> ivfPqCos,
    "r44_knn_join_pq_cos" -> knnJoinPqCos,
    "r45_pq_rewrite_cos" -> pqRewriteCos,
    "r46_ivf_pq_cos_stored" -> ivfPqCosStored,
    "r47_pq_stored_delete" -> pqStoredDelete,
    "r48_knn_join_sq" -> knnJoinSq,
    "r49_knn_join_bitq" -> knnJoinBitq,
    "r50_knn_join_sq_stored" -> knnJoinSqStored,
    "r51_ann_filtered" -> annFilteredTopk,
    "r52_ann_ivf_filtered_stored" -> annIvfFilteredStored,
    "r53_ann_rewrite_filtered" -> annRewriteFiltered,
    "r54_knn_join_filtered" -> knnJoinFilteredStored)

  /** Shared oracle fragment: BM25 scoring CTEs over documents (k1=1.2,
    * b=0.75, Okapi idf with +1; same double formula as Bm25.search).
    * `private[queries]`: Events' s07 streamed-compaction twin replays
    * the same scoring over its own query terms. */
  private[queries] def bm25Cte(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (
        SELECT doc_id AS id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                  x -> x != '')) AS term
        FROM documents),
      tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      g AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      qterms AS (SELECT unnest([$termList]) AS term),
      scored AS (
        SELECT tf.id,
               ln((g.n - s.df + 0.5) / (s.df + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1)) /
                 (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / g.avgdl)) AS w
        FROM tf
        JOIN qterms USING (term)
        JOIN stats s USING (term)
        JOIN dl USING (id)
        CROSS JOIN g)"""
  }

  /** The label-mean IVF index fragment (centroids from per-label
    * means rounded to 5, nearest-centroid assignment with (dist, cid)
    * ties) WITHOUT a probe choice — shared by the single-query probe
    * fragment below and the per-query BATCH probe fragments, so a
    * one-sided edit cannot de-sync the family. */
  private lazy val LabelIvfCtes =
    s"""dims AS (
          SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                 round(avg(CAST(x AS DOUBLE)), 5) AS c
          FROM (SELECT label, unnest(embedding) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM embeddings)
          GROUP BY 1, 2),
        cents AS (
          SELECT centroid_id, list(c ORDER BY pos) AS centroid
          FROM dims GROUP BY 1),
        assigned AS (
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                              c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)"""

  /** The label-mean IVF replay with 3 probes for query vec 5 — the
    * single-query fragment shared by r09/r72 and the r78
    * matryoshka-IVF composition. */
  private lazy val LabelIvfProbeCtes =
    s"""$LabelIvfCtes,
        probes AS (
          SELECT centroid_id FROM cents
          ORDER BY list_distance(centroid, $qv5) ASC, centroid_id ASC
          LIMIT 3)"""

  /** r09/r72 shared IVF-rewrite oracle: the full index replay, scan
    * confined to probed cells. Shared because r72 is r09 authored in
    * pure SQL over the same index. */
  private lazy val IvfRewriteOracleSql =
    s"""WITH $LabelIvfProbeCtes
        SELECT a.vec_id,
               round(list_distance(a.embedding::DOUBLE[], $qv5), 6) AS dist
        FROM assigned a JOIN probes USING (centroid_id)
        ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** The composed matryoshka-IVF replay (r78 family): the label-IVF
    * probe CTEs + the prefix cut confined to probed cells + the
    * full-precision re-rank. `where` restricts the cut's corpus
    * (r80's delete maintenance: survivors only — centroids stay, the
    * codes-outlive-rows contract). */
  private[queries] def matryoshkaIvfOracleSql(where: String = "TRUE",
                                     withPre: Boolean = true) =
    s"""WITH $LabelIvfProbeCtes,
        p1 AS (
          SELECT a.vec_id, a.embedding::DOUBLE[] AS v,
                 round(list_distance((a.embedding::DOUBLE[])[1:8],
                   ($qv5)[1:8]), 6) AS pre_dist
          FROM assigned a JOIN probes USING (centroid_id)
          WHERE $where
          ORDER BY pre_dist ASC, vec_id ASC LIMIT 50)
        SELECT vec_id,${if (withPre) " pre_dist," else ""}
               round(list_distance(v, $qv5), 6) AS dist
        FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** The composed matryoshka-IVF replay, BATCH form (the c18/r85
    * family): the shared label-IVF index CTEs + PER-QUERY 3-probe
    * choice, the prefix cut confined to each query's probed cells,
    * the full-precision re-rank per query id. `qidList` inlines the
    * query vector ids; `withPre` carries the phase-1 score (the
    * stored operator returns it, the engine surface does not — the
    * c09/c10 convention). */
  private[queries] def matryoshkaIvfBatchOracleSql(
      qidList: String, withPre: Boolean,
      where: String = "TRUE"): String = {
    val pre = if (withPre) " pre_dist," else ""
    s"""WITH $LabelIvfCtes,
        q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id IN ($qidList)),
        bprobes AS (
          SELECT q_id, centroid_id FROM (
            SELECT q.q_id, c.centroid_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY list_distance(c.centroid, q.qv) ASC,
                              c.centroid_id ASC) AS rn
            FROM cents c CROSS JOIN q) WHERE rn <= 3),
        s1 AS (
          SELECT p.q_id, a.vec_id, a.embedding::DOUBLE[] AS v, q.qv,
                 round(list_distance((a.embedding::DOUBLE[])[1:8],
                   (q.qv)[1:8]), 6) AS pre_dist
          FROM assigned a JOIN bprobes p USING (centroid_id)
          JOIN q ON q.q_id = p.q_id
          WHERE $where),
        p1 AS (
          SELECT * FROM (
            SELECT s1.*, row_number() OVER (PARTITION BY q_id
              ORDER BY pre_dist ASC, vec_id ASC) AS prn FROM s1)
          WHERE prn <= 50),
        rer AS (
          SELECT q_id, vec_id, pre_dist,
                 round(list_distance(v, qv), 6) AS dist
          FROM p1),
        rnk AS (
          SELECT q_id, vec_id, pre_dist, dist,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dist ASC, vec_id ASC) AS rank
          FROM rer)
        SELECT q_id, vec_id,$pre dist, CAST(rank AS INTEGER) AS rank
        FROM rnk WHERE rank <= 10 ORDER BY q_id ASC, rank ASC"""
  }

  /** The FLAT matryoshka replay, BATCH form (c19): the family's
    * phase-1 prefix cut and full-precision re-rank replayed per
    * query id over the whole corpus (no cells — r70's parameters). */
  private[queries] def matryoshkaBatchOracleSql(qidList: String): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id IN ($qidList)),
        s1 AS (
          SELECT q.q_id, e.vec_id, e.embedding::DOUBLE[] AS v, q.qv,
                 round(list_distance((e.embedding::DOUBLE[])[1:8],
                   (q.qv)[1:8]), 6) AS pre_dist
          FROM embeddings e CROSS JOIN q),
        p1 AS (
          SELECT * FROM (
            SELECT s1.*, row_number() OVER (PARTITION BY q_id
              ORDER BY pre_dist ASC, vec_id ASC) AS prn FROM s1)
          WHERE prn <= 50),
        rer AS (
          SELECT q_id, vec_id,
                 round(list_distance(v, qv), 6) AS dist
          FROM p1),
        rnk AS (
          SELECT q_id, vec_id, dist,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dist ASC, vec_id ASC) AS rank
          FROM rer)
        SELECT q_id, vec_id, dist, CAST(rank AS INTEGER) AS rank
        FROM rnk WHERE rank <= 10 ORDER BY q_id ASC, rank ASC"""

  /** The matryoshka phase-1 cut (top-50 by 8-dim-prefix L2, ties id
    * asc) — shared by every form of the family's oracle. `where`
    * restricts the corpus (r75's delete maintenance: the cut runs
    * over the survivors only). */
  private def matryoshkaP1Sql(where: String = "TRUE") =
    s"""p1 AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 round(list_distance((embedding::DOUBLE[])[1:8],
                   ($qv3)[1:8]), 6) AS pre_dist
          FROM embeddings WHERE $where
          ORDER BY pre_dist ASC, vec_id ASC LIMIT 50)"""
  private lazy val MatryoshkaP1Sql = matryoshkaP1Sql()

  /** r70/r71/s18 shared matryoshka oracle (the stored and streamed
    * layouts are lossless, so all forms must land on the identical
    * two-phase result). */
  private lazy val MatryoshkaOracleSql =
    s"""WITH $MatryoshkaP1Sql
        SELECT vec_id, pre_dist,
               round(list_distance(v, $qv3), 6) AS dist
        FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** r74: the rewritten plan computes only the final distance (the
    * user's plan never sees pre_dist), so the declarative form's
    * oracle is the same cut without the phase-1 column. */
  private lazy val MatryoshkaRewriteOracleSql =
    s"""WITH $MatryoshkaP1Sql
        SELECT vec_id, round(list_distance(v, $qv3), 6) AS dist
        FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  private val qv0 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"
  private val qv3 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 3)"
  private val qv5 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 5)"
  private val qv7 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7)"
  private val qv9 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 9)"
  private val qv11 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 11)"
  private val qv13 =
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 13)"

  /** The exact label-filtered range scan — the SHARED oracle of every
    * lossless range-layout variant (r56 radii-pruned at-rest, r64
    * self-contained root, r69 post-cell-split): one plain threshold
    * scan, no index machinery, because each of those operators claims
    * "the index changes the plan, never the rows". */
  private val RangeExactOracleSql: String =
    s"""SELECT vec_id,
               round(list_distance(embedding::DOUBLE[], $qv9), 6) AS dist
        FROM embeddings
        WHERE label IN (1, 3, 5)
          AND round(list_distance(embedding::DOUBLE[], $qv9), 6) <= 1.3
        ORDER BY dist ASC, vec_id ASC"""

  /** Filtered stored IVF from first principles — cells are vec_id % 8
    * means (round 5), assignment argmin with (dist, cid) ties, 3 probed
    * cells, the label predicate applied WITHIN the probed cells (index
    * built over the whole corpus; the filter thins candidates, never
    * re-ranks them). Shared by r52 (explicit operator) and r53 (the
    * declarative plan the optimizer rewrite produces). */
  private val FilteredIvfOracleSql =
    s"""WITH dims AS (
          SELECT CAST(vec_id % 8 AS BIGINT) AS centroid_id, pos,
                 round(avg(CAST(x AS DOUBLE)), 5) AS c
          FROM (SELECT vec_id, unnest(embedding) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM embeddings)
          GROUP BY 1, 2),
        cents AS (
          SELECT centroid_id, list(c ORDER BY pos) AS centroid
          FROM dims GROUP BY 1),
        assigned AS (
          SELECT vec_id, embedding, label, centroid_id FROM (
            SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                              c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        probes AS (
          SELECT centroid_id FROM cents
          ORDER BY list_distance(centroid, $qv11) ASC, centroid_id ASC
          LIMIT 3)
        SELECT a.vec_id,
               round(list_distance(a.embedding::DOUBLE[], $qv11), 6) AS dist
        FROM assigned a JOIN probes USING (centroid_id)
        WHERE a.label IN (1, 3, 5)
        ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** Cosine distance written as the exact double formula Vec.cosDist uses
    * (1 - dot/(sqrt(n2a)*sqrt(n2b))) — list_cosine_similarity may divide
    * by sqrt(n2a*n2b), which differs in the last ulp. */
  /** Non-vacuous partition-pruning pin: FileSourceScanExec prints
    * `PartitionFilters: [...]` (possibly `[]`) for EVERY partitioned
    * scan and the cell column's name appears all over a probe plan, so
    * two independent substring checks prove nothing — the filter list
    * ITSELF must reference the partition column. */
  private[queries] def assertPartitionPruned(phys: String,
                                             cellCol: String,
                                             what: String): Unit =
    require(("""PartitionFilters: \[[^\]]*""" +
        java.util.regex.Pattern.quote(cellCol)).r
        .findFirstIn(phys).isDefined,
      s"$what did not prune $cellCol partitions:\n$phys")

  /** r07's hybrid replay with PARAMETERIZED RRF — the factored
    * fragment behind the weighted engine hybrid (c15): same dense
    * top-20 / BM25 top-20 CTEs, score = Σ w_src/(k + rank) with the
    * per-source weights inlined as SQL literals. r07's own oracle
    * stays the fixed k=60 unit-weight string (1.0·x is an FP no-op,
    * so the two agree at unit weights by construction). */
  private[queries] def rrfHybridOracleSql(k: Int, wVec: String,
                                          wKw: String): String =
    s"""WITH vecl AS (
          SELECT vec_id AS id,
                 round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) AS dist
          FROM embeddings ORDER BY dist ASC, id ASC LIMIT 20),
        vecr AS (SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC)
                   AS rank FROM vecl),
        ${bm25Cte(Seq("group", "hash", "join"))},
        bml AS (SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
                ORDER BY score DESC, id ASC LIMIT 20),
        bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC)
                  AS rank FROM bml),
        u AS (SELECT id, rank, CAST($wVec AS DOUBLE) AS wt FROM vecr
              UNION ALL SELECT id, rank, CAST($wKw AS DOUBLE) AS wt FROM bmr)
        SELECT id, round(sum(wt / ($k + rank)), 6) AS rrf_score FROM u
        GROUP BY id ORDER BY rrf_score DESC, id ASC LIMIT 10"""

  private def cosDistSql(a: String, b: String): String =
    s"""(1 - list_inner_product($a, $b) /
        (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"""

  /** IVF+SQ two-phase search from first principles (label-mean
    * centroids rounded to 5, per-cell min/max bounds, 8-bit codes,
    * asymmetric qdist over the 3 probed cells, exact re-rank of the
    * top-50) — shared by r12 (the explicit operator) and r16 (the
    * declarative plan the optimizer rewrite produces). r19 passes a
    * `candFilter` excluding the rows its stored-layout delete removed:
    * bounds/codes stay the PRE-delete ones (codes were built against
    * them — exactly the stored layout's post-delete state). */
  private def ivfSqOracle(candFilter: String): String =
    ivfSqOracleW(candFilter, probed = true)

  /** [[ivfSqOracle]] with the probe cut optional: `probed = false` is
    * the ALL-PROBE replay (r105 — probes >= every cell, so the
    * phase-1 cut ranks the whole codes table; split inheritance keeps
    * codes and bounds bit-identical, which is what makes one oracle
    * exact across out-of-band splits). */
  private def ivfSqOracleW(candFilter: String, probed: Boolean): String =
    s"""WITH dims AS (
          SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                 round(avg(CAST(x AS DOUBLE)), 5) AS c
          FROM (SELECT label, unnest(embedding) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM embeddings)
          GROUP BY 1, 2),
        cents AS (
          SELECT centroid_id, list(c ORDER BY pos) AS centroid
          FROM dims GROUP BY 1),
        assigned AS (
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                              c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        q AS (SELECT $qv11 AS qv),
        probes AS (
          SELECT centroid_id FROM cents CROSS JOIN q
          ${if (probed)
      "ORDER BY list_distance(centroid, q.qv) ASC, centroid_id ASC LIMIT 3"
    else ""}),
        mm AS (
          SELECT centroid_id, pos, min(x) AS mn, max(x) AS mx
          FROM (SELECT centroid_id, unnest(embedding::DOUBLE[]) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM assigned)
          GROUP BY 1, 2),
        bounds AS (
          SELECT centroid_id, list(mn ORDER BY pos) AS mins,
                 list(mx ORDER BY pos) AS maxs
          FROM mm GROUP BY 1),
        codes AS (
          SELECT a.vec_id, a.embedding, a.centroid_id,
            list_transform(range(len(a.embedding)), i ->
              CASE WHEN b.maxs[i+1] > b.mins[i+1]
                THEN CAST(least(greatest(round(
                  (a.embedding[i+1]::DOUBLE - b.mins[i+1]) /
                  (b.maxs[i+1] - b.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                  AS INTEGER)
                ELSE 0 END) AS codes
          FROM assigned a JOIN bounds b USING (centroid_id)),
        cand AS (
          SELECT c.vec_id, c.embedding,
            round(sqrt(list_sum(list_transform(range(len(c.codes)), i ->
              (q.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                 (b.maxs[i+1] - b.mins[i+1]))) *
              (q.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                 (b.maxs[i+1] - b.mins[i+1])))))), 6) AS qdist
          FROM codes c
          JOIN bounds b USING (centroid_id)
          JOIN probes USING (centroid_id)
          CROSS JOIN q
          $candFilter
          ORDER BY qdist ASC, vec_id ASC LIMIT 50)
        SELECT cand.vec_id,
          round(list_distance(cand.embedding::DOUBLE[], q.qv), 6) AS dist
        FROM cand CROSS JOIN q
        ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** Spherical (cosine) IVF+SQ from first principles — the
    * normalize-then-L2 twin of [[ivfSqOracle]]: label-mean centroids
    * rounded to 5 then unit-normalized, docs and query normalized the
    * same way (x / sqrt(Σx²), sequential folds), assignment / probes /
    * bounds / codes / asymmetric scan all as L2 on the unit sphere,
    * exact re-rank as TRUE cosine distance on the raw vectors. Shared
    * by r17 (explicit operator) and r18 (declarative rewrite). */
  private val ivfSqCosOracle: String =
    s"""WITH dims AS (
          SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                 round(avg(CAST(x AS DOUBLE)), 5) AS c
          FROM (SELECT label, unnest(embedding) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM embeddings)
          GROUP BY 1, 2),
        cents0 AS (
          SELECT centroid_id, list(c ORDER BY pos) AS centroid
          FROM dims GROUP BY 1),
        cents AS (
          SELECT centroid_id,
                 list_transform(centroid, x ->
                   x / sqrt(list_inner_product(centroid, centroid)))
                   AS centroid
          FROM cents0),
        nv AS (
          SELECT vec_id, embedding,
                 list_transform(embedding::DOUBLE[], x ->
                   x / sqrt(list_inner_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])))
                   AS nvec
          FROM embeddings),
        assigned AS (
          SELECT vec_id, embedding, nvec, centroid_id FROM (
            SELECT n.vec_id, n.embedding, n.nvec, c.centroid_id,
                   row_number() OVER (PARTITION BY n.vec_id
                     ORDER BY list_distance(n.nvec, c.centroid) ASC,
                              c.centroid_id ASC) AS rn
            FROM nv n CROSS JOIN cents c) WHERE rn = 1),
        q AS (SELECT embedding::DOUBLE[] AS qraw,
                     list_transform(embedding::DOUBLE[], x ->
                       x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[])))
                       AS qv
              FROM embeddings WHERE vec_id = 17),
        probes AS (
          SELECT centroid_id FROM cents CROSS JOIN q
          ORDER BY list_distance(centroid, q.qv) ASC, centroid_id ASC
          LIMIT 3),
        mm AS (
          SELECT centroid_id, pos, min(x) AS mn, max(x) AS mx
          FROM (SELECT centroid_id, unnest(nvec) AS x,
                       unnest(range(len(nvec))) AS pos
                FROM assigned)
          GROUP BY 1, 2),
        bounds AS (
          SELECT centroid_id, list(mn ORDER BY pos) AS mins,
                 list(mx ORDER BY pos) AS maxs
          FROM mm GROUP BY 1),
        codes AS (
          SELECT a.vec_id, a.embedding, a.centroid_id,
            list_transform(range(len(a.nvec)), i ->
              CASE WHEN b.maxs[i+1] > b.mins[i+1]
                THEN CAST(least(greatest(round(
                  (a.nvec[i+1] - b.mins[i+1]) /
                  (b.maxs[i+1] - b.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                  AS INTEGER)
                ELSE 0 END) AS codes
          FROM assigned a JOIN bounds b USING (centroid_id)),
        cand AS (
          SELECT c.vec_id, c.embedding,
            round(sqrt(list_sum(list_transform(range(len(c.codes)), i ->
              (q.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                 (b.maxs[i+1] - b.mins[i+1]))) *
              (q.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                 (b.maxs[i+1] - b.mins[i+1])))))), 6) AS qdist
          FROM codes c
          JOIN bounds b USING (centroid_id)
          JOIN probes USING (centroid_id)
          CROSS JOIN q
          ORDER BY qdist ASC, vec_id ASC LIMIT 50)
        SELECT cand.vec_id,
          round(${cosDistSql("cand.embedding::DOUBLE[]", "q.qraw")}, 6)
            + 0 AS dist
        FROM cand CROSS JOIN q
        ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** r27's DuckDB replay — the Md5SparseEmbedder recipe from first
    * principles: tokens are lowercase alnum runs, bucket =
    * (first-8-md5-hex as 32-bit) / 2 mod 4096, value = the bucket's
    * term frequency; the dot is the sum of doc_tf * query_tf over
    * shared buckets (small integers — exact in double, sum order
    * irrelevant). Shared verbatim with r29: the inverted-postings form
    * must produce byte-identical scores. */
  /** `private[queries]`: Events' s10 streamed-sparse twin replays the
    * same scoring over the same query. */
  private[queries] def sparseOracle: String = SparseOracleSql

  /** r38's DuckDB replay, shared verbatim by r39 (explicit operator vs
    * declarative rewrite): IVF assignment, per-(cell, subspace) mean
    * codebooks, positional codes, probed ADC, exact re-rank.
    * `candCond` filters the CANDIDATE rows only (r47's stored delete:
    * removed rows vanish from the scan, codebooks stay trained on the
    * full corpus — the codes-outlive-rows contract r19 pinned for
    * SQ). */
  private def ivfPqOracle(candCond: String): String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[],
                                              c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          asub AS (
            SELECT vec_id, centroid_id,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, centroid_id,
                         unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM assigned)),
          cbdim AS (
            SELECT centroid_id AS cid, s, pos, round(avg(x), 5) AS c
            FROM asub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM asub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          q AS (SELECT $qv5 AS qv),
          probes AS (
            SELECT centroid_id FROM (
              SELECT c.centroid_id,
                     row_number() OVER (
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM cents c CROSS JOIN q) WHERE rn <= 3),
          qsub AS (
            SELECT s, list(x ORDER BY pos) AS qsv
            FROM (SELECT CAST(pos AS INTEGER) // 8 AS s, pos, x
                  FROM (SELECT unnest(qv) AS x,
                               unnest(range(len(qv))) AS pos FROM q))
            GROUP BY 1),
          adc AS (
            SELECT c.vec_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(qs.qsv)), i ->
                       (qs.qsv[i+1] - cb.cent[i+1]) *
                       (qs.qsv[i+1] - cb.cent[i+1]))))), 6) AS qdist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN probes p ON p.centroid_id = a.centroid_id
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN qsub qs ON qs.s = c.s
            WHERE $candCond
            GROUP BY c.vec_id),
          cand AS (SELECT vec_id FROM adc
                   ORDER BY qdist ASC, vec_id ASC LIMIT 50)
          SELECT e.vec_id,
                 round(list_distance(e.embedding::DOUBLE[], q.qv), 6)
                   AS dist
          FROM cand JOIN embeddings e USING (vec_id) CROSS JOIN q
          ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  private val IvfPqOracleSql: String = ivfPqOracle("1=1")

  /** r43's DuckDB replay — the normalize-then-L2 twin of
    * [[IvfPqOracleSql]] (the [[ivfSqCosOracle]] pattern): label-mean
    * centroids rounded to 5 then unit-normalized, docs and query
    * normalized the same way, assignment / probes / per-(cell,
    * subspace) codebooks / codes / ADC all as L2 on the unit sphere,
    * exact re-rank as TRUE cosine distance on the raw vectors. */
  private val IvfPqCosOracleSql: String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents0 AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          cents AS (
            SELECT centroid_id,
                   list_transform(centroid, x ->
                     x / sqrt(list_inner_product(centroid, centroid)))
                     AS centroid
            FROM cents0),
          nv AS (
            SELECT vec_id, embedding,
                   list_transform(embedding::DOUBLE[], x ->
                     x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                 embedding::DOUBLE[])))
                     AS nvec
            FROM embeddings),
          assigned AS (
            SELECT vec_id, nvec, centroid_id FROM (
              SELECT n.vec_id, n.nvec, c.centroid_id,
                     row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_distance(n.nvec, c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM nv n CROSS JOIN cents c) WHERE rn = 1),
          asub AS (
            SELECT vec_id, centroid_id,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, centroid_id,
                         unnest(nvec) AS x,
                         unnest(range(len(nvec))) AS pos
                  FROM assigned)),
          cbdim AS (
            SELECT centroid_id AS cid, s, pos, round(avg(x), 5) AS c
            FROM asub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM asub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          q AS (SELECT embedding::DOUBLE[] AS qraw,
                       list_transform(embedding::DOUBLE[], x ->
                         x / sqrt(list_inner_product(
                           embedding::DOUBLE[], embedding::DOUBLE[])))
                         AS qv
                FROM embeddings WHERE vec_id = 17),
          probes AS (
            SELECT centroid_id FROM cents CROSS JOIN q
            ORDER BY list_distance(centroid, q.qv) ASC, centroid_id ASC
            LIMIT 3),
          qsub AS (
            SELECT s, list(x ORDER BY pos) AS qsv
            FROM (SELECT CAST(pos AS INTEGER) // 8 AS s, pos, x
                  FROM (SELECT unnest(qv) AS x,
                               unnest(range(len(qv))) AS pos FROM q))
            GROUP BY 1),
          adc AS (
            SELECT c.vec_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(qs.qsv)), i ->
                       (qs.qsv[i+1] - cb.cent[i+1]) *
                       (qs.qsv[i+1] - cb.cent[i+1]))))), 6) AS qdist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN probes p ON p.centroid_id = a.centroid_id
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN qsub qs ON qs.s = c.s
            GROUP BY c.vec_id),
          cand AS (SELECT vec_id FROM adc
                   ORDER BY qdist ASC, vec_id ASC LIMIT 50)
          SELECT e.vec_id,
                 round(${cosDistSql("e.embedding::DOUBLE[]", "q.qraw")},
                   6) + 0 AS dist
          FROM cand JOIN embeddings e USING (vec_id) CROSS JOIN q
          ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** r44's DuckDB replay — [[IvfPqCosOracleSql]]'s spherical codebook
    * chain in [[KnnJoinPqOracleSql]]'s batch shape: per-query probes
    * and ADC on the unit sphere, per-query TRUE-cosine re-rank on raw
    * vectors. */
  private val KnnJoinPqCosOracleSql: String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents0 AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          cents AS (
            SELECT centroid_id,
                   list_transform(centroid, x ->
                     x / sqrt(list_inner_product(centroid, centroid)))
                     AS centroid
            FROM cents0),
          nv AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x ->
                     x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                 embedding::DOUBLE[])))
                     AS nvec
            FROM embeddings),
          assigned AS (
            SELECT vec_id, nvec, centroid_id FROM (
              SELECT n.vec_id, n.nvec, c.centroid_id,
                     row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_distance(n.nvec, c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM nv n CROSS JOIN cents c) WHERE rn = 1),
          asub AS (
            SELECT vec_id, centroid_id,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, centroid_id,
                         unnest(nvec) AS x,
                         unnest(range(len(nvec))) AS pos
                  FROM assigned)),
          cbdim AS (
            SELECT centroid_id AS cid, s, pos, round(avg(x), 5) AS c
            FROM asub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM asub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qraw,
                       list_transform(embedding::DOUBLE[], x ->
                         x / sqrt(list_inner_product(
                           embedding::DOUBLE[], embedding::DOUBLE[])))
                         AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, centroid_id FROM (
              SELECT q.q_id, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          qsub AS (
            SELECT q_id, s, list(x ORDER BY pos) AS qsv
            FROM (SELECT q_id, CAST(pos AS INTEGER) // 8 AS s, pos, x
                  FROM (SELECT q_id, unnest(qv) AS x,
                               unnest(range(len(qv))) AS pos FROM q))
            GROUP BY 1, 2),
          adc AS (
            SELECT p.q_id, c.vec_id AS d_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(qs.qsv)), i ->
                       (qs.qsv[i+1] - cb.cent[i+1]) *
                       (qs.qsv[i+1] - cb.cent[i+1]))))), 6) AS qdist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN qprobes p ON p.centroid_id = a.centroid_id
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN qsub qs ON qs.s = c.s AND qs.q_id = p.q_id
            GROUP BY 1, 2),
          cand AS (
            SELECT q_id, d_id FROM (
              SELECT q_id, d_id,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY qdist ASC, d_id ASC) AS rn
              FROM adc) WHERE rn <= 15),
          rr AS (
            -- + 0 normalizes -0.0 → 0.0: a self-pair's cosine residual
            -- can round to DuckDB's -0.0, but Spark's round runs
            -- through BigDecimal, which has no signed zero
            SELECT c.q_id, c.d_id,
                   round(${cosDistSql("e.embedding::DOUBLE[]", "q.qraw")},
                     6) + 0 AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.d_id
            JOIN q ON q.q_id = c.q_id),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM rr)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3"""

  /** r41's DuckDB replay: r38's codebook construction (IVF assignment,
    * per-(cell, subspace) mean codebooks, positional codes) replayed in
    * r10's batch shape — per-query probes, per-query ADC keep-15, exact
    * per-query re-rank top-3. */
  private val KnnJoinPqOracleSql: String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[],
                                              c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          asub AS (
            SELECT vec_id, centroid_id,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, centroid_id,
                         unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM assigned)),
          cbdim AS (
            SELECT centroid_id AS cid, s, pos, round(avg(x), 5) AS c
            FROM asub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM asub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, centroid_id FROM (
              SELECT q.q_id, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          qsub AS (
            SELECT q_id, s, list(x ORDER BY pos) AS qsv
            FROM (SELECT q_id, CAST(pos AS INTEGER) // 8 AS s, pos, x
                  FROM (SELECT q_id, unnest(qv) AS x,
                               unnest(range(len(qv))) AS pos FROM q))
            GROUP BY 1, 2),
          adc AS (
            SELECT p.q_id, c.vec_id AS d_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(qs.qsv)), i ->
                       (qs.qsv[i+1] - cb.cent[i+1]) *
                       (qs.qsv[i+1] - cb.cent[i+1]))))), 6) AS qdist
            FROM codes c
            JOIN assigned a ON a.vec_id = c.vec_id
            JOIN qprobes p ON p.centroid_id = a.centroid_id
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN qsub qs ON qs.s = c.s AND qs.q_id = p.q_id
            GROUP BY 1, 2),
          cand AS (
            SELECT q_id, d_id FROM (
              SELECT q_id, d_id,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY qdist ASC, d_id ASC) AS rn
              FROM adc) WHERE rn <= 15),
          rr AS (
            SELECT c.q_id, c.d_id,
                   round(list_distance(e.embedding::DOUBLE[], q.qv), 6)
                     AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.d_id
            JOIN q ON q.q_id = c.q_id),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM rr)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3"""

  /** The r48 SQ batch-join replay, PARAMETERIZED by a doc predicate —
    * `docPred` (over `c.vec_id` / `c.label`) thins the codes scan
    * BEFORE the per-query rank window, exactly where the operator
    * family applies its metadata filter (a post-cut filter would
    * starve the result set). `TRUE` reproduces the unfiltered r48/r50/
    * r87 fragment verbatim. */
  private def knnJoinSqOracleSqlPred(docPred: String): String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, label, embedding, centroid_id FROM (
              SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[],
                                              c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, qv, centroid_id FROM (
              SELECT q.q_id, q.qv, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          mm AS (
            SELECT centroid_id, pos, min(x) AS mn, max(x) AS mx
            FROM (SELECT centroid_id, unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM assigned)
            GROUP BY 1, 2),
          bounds AS (
            SELECT centroid_id, list(mn ORDER BY pos) AS mins,
                   list(mx ORDER BY pos) AS maxs
            FROM mm GROUP BY 1),
          codes AS (
            SELECT a.vec_id, a.label, a.centroid_id,
              list_transform(range(len(a.embedding)), i ->
                CASE WHEN b.maxs[i+1] > b.mins[i+1]
                  THEN CAST(least(greatest(round(
                    (a.embedding[i+1]::DOUBLE - b.mins[i+1]) /
                    (b.maxs[i+1] - b.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                    AS INTEGER)
                  ELSE 0 END) AS codes
            FROM assigned a JOIN bounds b USING (centroid_id)),
          cand AS (
            SELECT q_id, vec_id AS d_id FROM (
              SELECT p.q_id, c.vec_id,
                row_number() OVER (PARTITION BY p.q_id ORDER BY
                  round(sqrt(list_sum(list_transform(range(len(c.codes)),
                    i -> (p.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                            (b.maxs[i+1] - b.mins[i+1]))) *
                         (p.qv[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                            (b.maxs[i+1] - b.mins[i+1])))))), 6) ASC,
                  c.vec_id ASC) AS rn
              FROM codes c
              JOIN bounds b USING (centroid_id)
              JOIN qprobes p USING (centroid_id)
              WHERE $docPred) WHERE rn <= 15),
          rr AS (
            SELECT c.q_id, c.d_id,
                   round(list_distance(e.embedding::DOUBLE[], q.qv), 6)
                     AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.d_id
            JOIN q ON q.q_id = c.q_id),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM rr)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3"""

  private val KnnJoinSqOracleSql: String = knnJoinSqOracleSqlPred("TRUE")

  private val KnnJoinIvfOracleSql: String =
    s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, qv, centroid_id FROM (
              SELECT q.q_id, q.qv, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          cand AS (
            SELECT p.q_id, a.vec_id AS d_id,
                   round(list_distance(a.embedding::DOUBLE[], p.qv), 6)
                     AS dist
            FROM qprobes p JOIN assigned a USING (centroid_id)),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM cand)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3"""

  private lazy val Bm25BatchOracleSql: String = bm25BatchOracleSqlW()

  /** The qid-carrying batch BM25 scoring CTEs (whole-corpus tf/df/dl/
    * avgdl + per-(qid, id, term) weights in `scored`) — the ONE recipe
    * behind the r13/r35/c14/c20 batch oracles AND the per-qid hybrid
    * fusion's keyword arm, so the forms cannot de-sync. */
  private def bm25BatchScoredCtes(qs: Seq[(Long, String)]): String = {
      val qtValues = qs.flatMap { case (qid, text) =>
        graft.functions.Tokenizers.Simple.scala(text).distinct
          .map(t => s"($qid, '$t')")
      }.mkString(", ")
      s"""toks AS (
            SELECT doc_id AS id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x != '')) AS term
            FROM documents),
          tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
          stats AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          g AS (SELECT count(*) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
          qt AS (SELECT * FROM (VALUES $qtValues) AS t(qid, term)),
          scored AS (
            SELECT qt.qid, tf.id,
                   ln((g.n - s.df + 0.5) / (s.df + 0.5) + 1.0) *
                     (tf.tf * (1.2 + 1)) /
                     (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / g.avgdl)) AS w
            FROM tf
            JOIN qt USING (term)
            JOIN stats s USING (term)
            JOIN dl USING (id)
            CROSS JOIN g)"""
  }

  /** The batch BM25 replay with an optional metadata predicate — the
    * r13 fragment parameterized for the filtered batch family (c20):
    * stats CTEs stay WHOLE-corpus, the predicate thins the scored
    * candidates BEFORE the per-query rank window (the r58 contract,
    * batch form). `where = TRUE` is r13/r35/c14's oracle verbatim. */
  private[queries] def bm25BatchOracleSqlW(
      where: String = "TRUE"): String =
      s"""WITH ${bm25BatchScoredCtes(BatchQueries)},
          agg AS (SELECT qid, id, round(sum(w), 6) AS score
                  FROM scored
                  WHERE id IN (SELECT doc_id FROM documents
                               WHERE $where)
                  GROUP BY 1, 2),
          r AS (SELECT qid, id, score,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, id ASC) AS rank
                FROM agg)
          SELECT CAST(qid AS BIGINT) AS qid, id, score,
                 CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 5"""

  /** The per-query-id hybrid queries of the batch fusion gate (c22):
    * qid doubles as the query VECTOR id (the dense arm) while the
    * text is the keyword arm — the per-question hybrid shape of the
    * reference's strategy matrix (examples/anthropic.py:244-253).
    * qid 7 + 'group hash join' is exactly r07's single hybrid. */
  val HybridBatchQueries: Seq[(Long, String)] = Seq(
    (1L, "spark filter join"),
    (3L, "window partition order"),
    (7L, "group hash join"))

  /** The per-qid WEIGHTED RRF replay (c22) — r07's fused oracle
    * replayed per query id: per-qid dense cosine top-20 + per-qid
    * batch BM25 top-20 (the factored scored CTEs), score =
    * Σ w_src/(k + rank) per (qid, id), ranked per qid. `where`
    * ("TRUE" = unfiltered, c22 verbatim) is c25's metadata predicate
    * over the documents table, thinning BOTH arms before their
    * per-qid top-20 cuts — the c20/c21 placements composed: BM25
    * stats stay whole-corpus, the dense scored set is thinned, so no
    * disallowed doc consumes either arm's rank slots. */
  private[queries] def rrfHybridBatchOracleSql(k: Int, wVec: String,
                                               wKw: String,
                                               where: String = "TRUE")
      : String = {
    val qids = HybridBatchQueries.map(_._1).mkString(", ")
    s"""WITH ${bm25BatchScoredCtes(HybridBatchQueries)},
        bagg AS (SELECT qid, id, round(sum(w), 6) AS score
                 FROM scored
                 WHERE id IN (SELECT doc_id FROM documents
                              WHERE $where)
                 GROUP BY 1, 2),
        bml AS (SELECT qid, id, score,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, id ASC) AS rank
                FROM bagg),
        bmr AS (SELECT CAST(qid AS BIGINT) AS qid, id, rank
                FROM bml WHERE rank <= 20),
        q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id IN ($qids)),
        vs AS (SELECT q.qid, e.vec_id AS id,
                      round(${cosDistSql("e.embedding::DOUBLE[]",
                        "q.qv")}, 6) AS dist
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id IN (SELECT doc_id FROM documents
                                  WHERE $where)),
        vr AS (SELECT qid, id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY dist ASC, id ASC) AS rank
               FROM vs),
        vecr AS (SELECT qid, id, rank FROM vr WHERE rank <= 20),
        u AS (SELECT qid, id, rank, CAST($wVec AS DOUBLE) AS wt
              FROM vecr
              UNION ALL
              SELECT qid, id, rank, CAST($wKw AS DOUBLE) AS wt
              FROM bmr),
        f AS (SELECT qid, id, round(sum(wt / ($k + rank)), 6)
                       AS rrf_score
              FROM u GROUP BY 1, 2),
        fr AS (SELECT qid, id, rrf_score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY rrf_score DESC, id ASC) AS rank
               FROM f)
        SELECT CAST(qid AS BIGINT) AS qid, id, rrf_score,
               CAST(rank AS INTEGER) AS rank
        FROM fr WHERE rank <= 10 ORDER BY qid ASC, rank ASC"""
  }

  /** r32's DuckDB replay, shared verbatim by r34 — the batch sparse
    * replay per query: embedding, bucket join, per-query scoring and
    * ranking from first principles. The stored form must produce
    * byte-identical scores (pruning changes what the scan READS, never
    * what a query matches). `where` ("" = unfiltered) is c23's
    * metadata predicate over the documents table, thinning the scored
    * docs BEFORE each query's rank window — the operator's
    * postings-side semi-join leaves surviving scores untouched (a
    * pure dot has no corpus statistics), so thinning scored is the
    * same replay. ONE fragment serves r32/r34/c16/c23. */
  private[queries] def sparseBatchOracleSqlW(where: String): String = {
    val thin =
      if (where.isEmpty) ""
      else s"JOIN documents dd USING (doc_id) WHERE $where"
    s"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '')) AS tok
            FROM documents),
          dv AS (
            SELECT doc_id,
                   (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) // 2)
                     % 4096 AS b,
                   CAST(count(*) AS DOUBLE) AS v
            FROM toks GROUP BY 1, 2),
          qv AS (SELECT doc_id AS qid, b, v AS w FROM dv
                 WHERE doc_id < 4),
          scored AS (
            SELECT qv.qid, dv.doc_id, round(sum(dv.v * qv.w), 6) AS score
            FROM dv JOIN qv USING (b) GROUP BY 1, 2),
          ranked AS (
            SELECT qid, doc_id, score,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
            FROM scored $thin)
          SELECT qid, doc_id, score, rank FROM ranked
          WHERE rank <= 5 ORDER BY qid, rank"""
  }

  private val SparseBatchOracleSql = sparseBatchOracleSqlW("")

  /** The r88/r89/r97 oracle — index-free per-query-radius eps-join
    * with the gates' exact IEEE radius arithmetic. `andPred` ("" =
    * unfiltered) is r97's metadata predicate as one extra conjunct on
    * the DOC side — the operator's placement (thin before the
    * distance cut) is IO-shape, not semantics, so the filtered truth
    * is the same scan with the conjunct. */
  private def perEpsRangeOracleSqlW(andPred: String): String =
    s"""SELECT a.vec_id AS qid, b.vec_id AS did,
              round(list_distance(a.embedding::DOUBLE[],
                                  b.embedding::DOUBLE[]), 6) AS dist
       FROM embeddings a, embeddings b
       WHERE a.vec_id < 40 AND a.vec_id < b.vec_id$andPred
         AND round(list_distance(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]), 6)
             <= 0.8 + CAST(a.vec_id % 3 AS DOUBLE) * 0.3
       ORDER BY qid ASC, dist ASC, did ASC"""

  private val PerEpsRangeOracleSql: String = perEpsRangeOracleSqlW("")

  /** The r01/r101 oracle — exact L2 top-10 for qv0 (r101's all-probe
    * declarative read over the split dense root reduces to it). */
  private lazy val ExactL2TopkQv0Sql: String =
    s"""SELECT vec_id,
        round(list_distance(embedding::DOUBLE[], $qv0), 6) AS dist
        FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 10"""

  /** The r94/r96/r108 oracle — the cosine twin of
    * [[PerEpsRangeOracleSql]] (each query row's own eps; + 0
    * normalizes DuckDB's IEEE −0.0). `andPred` ("" = unfiltered) is
    * r108's metadata predicate as one extra conjunct on the DOC side
    * — the operator's placement (thin inside the pruned scan) is
    * IO-shape, not semantics. */
  private def perEpsCosRangeOracleSqlW(andPred: String): String =
    s"""SELECT a.vec_id AS qid, b.vec_id AS did,
               round(${cosDistSql("a.embedding::DOUBLE[]",
                                  "b.embedding::DOUBLE[]")}, 6) + 0
                 AS dist
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 40 AND a.vec_id < b.vec_id$andPred
          AND round(${cosDistSql("a.embedding::DOUBLE[]",
                                 "b.embedding::DOUBLE[]")}, 6)
              <= 0.65 + CAST(a.vec_id % 3 AS DOUBLE) * 0.05
        ORDER BY qid ASC, dist ASC, did ASC"""

  private lazy val PerEpsCosRangeOracleSql: String =
    perEpsCosRangeOracleSqlW("")

  /** r33's DuckDB replay — the batch maxsim two-phase from first
    * principles (frozen-mean cells, per-query cosine probes, phase-1
    * keep-20 by the persisted-mean dot, exact maxsim re-rank).
    * `andPred` ("" = unfiltered) is c24's metadata predicate over the
    * doc bags, thinning the ASSIGNED set both phases read (the
    * operator's placement: a disallowed bag never consumes a phase-1
    * candidate slot), spelled as an extra conjunct on the assignment
    * cut. ONE fragment serves r33/c17/c24. */
  private[queries] def maxsimBatchOracleSqlW(andPred: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                          embedding::DOUBLE[] AS emb FROM embeddings),
        d AS (SELECT vec_id, label,
                     [emb, list_reverse(emb)] AS vecs,
                     list_transform(range(len(emb)), i ->
                       round((emb[i+1] + emb[len(emb)-i]) / 2, 6)) AS fm
              FROM e),
        cd AS (SELECT label, pos, round(avg(x), 5) AS c
               FROM (SELECT label, unnest(fm) AS x,
                            unnest(range(len(fm))) AS pos FROM d)
               GROUP BY 1, 2),
        cents AS (SELECT label AS centroid_id,
                         list(c ORDER BY pos) AS centroid
                  FROM cd GROUP BY 1),
        assigned AS (SELECT vec_id, vecs, fm, centroid_id FROM (
            SELECT d.vec_id, d.label, d.vecs, d.fm, c.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY ${cosDistSql("d.fm", "c.centroid")} ASC,
                              c.centroid_id ASC) AS rn
            FROM d CROSS JOIN cents c) WHERE rn = 1$andPred),
        q AS (SELECT vec_id AS qid, [emb, list_reverse(emb)] AS qv,
                     list_transform(range(len(emb)), i ->
                       (emb[i+1] + emb[len(emb)-i]) / 2) AS qc
              FROM e WHERE vec_id IN (0, 1, 2, 3)),
        probes AS (SELECT qid, centroid_id FROM (
            SELECT q.qid, c.centroid_id,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${cosDistSql("c.centroid", "q.qc")} ASC,
                              c.centroid_id ASC) AS rn
            FROM q CROSS JOIN cents c) WHERE rn <= 3),
        cand AS (SELECT qid, vec_id, vecs, qv FROM (
            SELECT p.qid, a.vec_id, a.vecs, q.qv,
                   row_number() OVER (PARTITION BY p.qid
                     ORDER BY round(list_inner_product(a.fm, q.qc), 6)
                       DESC, a.vec_id ASC) AS rn
            FROM assigned a
            JOIN probes p USING (centroid_id)
            JOIN q ON q.qid = p.qid) WHERE rn <= 20),
        qt AS (SELECT qid, vec_id, unnest(qv) AS qtok,
                      unnest(range(len(qv))) AS qi FROM cand),
        dt AS (SELECT qid, vec_id, unnest(vecs) AS dtok FROM cand),
        best AS (SELECT qt.qid, qt.vec_id, qt.qi,
                        max(list_inner_product(qt.qtok, dt.dtok)) AS m
                 FROM qt JOIN dt USING (qid, vec_id)
                 GROUP BY 1, 2, 3),
        sc AS (SELECT qid, vec_id, round(sum(m), 6) AS score
               FROM best GROUP BY 1, 2)
        SELECT qid, vec_id, score, rank FROM (
          SELECT qid, vec_id, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
          FROM sc) WHERE rank <= 10
        ORDER BY qid, rank"""

  private val SparseOracleSql =
      """WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '')) AS tok
            FROM documents),
          dv AS (
            SELECT doc_id,
                   (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) // 2)
                     % 4096 AS b,
                   CAST(count(*) AS DOUBLE) AS v
            FROM toks GROUP BY 1, 2),
          qtok AS (
            SELECT unnest(['spark', 'merge', 'hash', 'window']) AS tok),
          qv AS (
            SELECT (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) // 2)
                     % 4096 AS b,
                   CAST(count(*) AS DOUBLE) AS w
            FROM qtok GROUP BY 1),
          scored AS (
            SELECT dv.doc_id, round(sum(dv.v * qv.w), 6) AS score
            FROM dv JOIN qv USING (b) GROUP BY 1)
          SELECT doc_id, score FROM scored
          WHERE score > 0
          ORDER BY score DESC, doc_id ASC LIMIT 10"""

  val oracles: Map[String, String] = Map(
    "r15_mmr_rerank" ->
      """WITH RECURSIVE
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 5),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cand0 AS (
          SELECT vec_id, v,
            round(1 - list_inner_product(v, (SELECT qv FROM q)) /
              (sqrt(list_inner_product(v, v)) *
               sqrt(list_inner_product((SELECT qv FROM q),
                                       (SELECT qv FROM q)))), 6) AS dist,
            sqrt(list_inner_product(v, v)) AS nrm
          FROM e),
        cand AS (
          SELECT vec_id, v, 1 - dist AS rel, nrm FROM cand0
          ORDER BY dist ASC, vec_id ASC
          LIMIT 20),
        sel AS (
          SELECT 0 AS r, []::BIGINT[] AS ids, []::DOUBLE[] AS scores
          UNION ALL
          SELECT s.r + 1, list_append(s.ids, p.vec_id),
                 list_append(s.scores, p.sraw)
          FROM sel s,
          LATERAL (
            SELECT c.vec_id,
              0.7 * c.rel - 0.3 * coalesce(
                (SELECT max(list_inner_product(c.v, p2.v) /
                            (c.nrm * p2.nrm))
                 FROM cand p2
                 WHERE list_contains(s.ids, p2.vec_id)), 0.0) AS sraw
            FROM cand c
            WHERE NOT list_contains(s.ids, c.vec_id)
            ORDER BY sraw DESC, c.vec_id ASC
            LIMIT 1) p
          WHERE s.r < 10),
        fin AS (SELECT ids, scores FROM sel WHERE r = 10)
        SELECT ids[i + 1] AS vec_id, CAST(i + 1 AS INT) AS mmr_rank,
          round_even(scores[i + 1] * 1000000, 0) / 1000000 AS mmr_score
        FROM (SELECT ids, scores, unnest(range(len(ids))) AS i FROM fin)
        ORDER BY mmr_rank""",
    "r01_ann_topk_l2" -> ExactL2TopkQv0Sql,
    // r101: probes >= every cell admit everything, so the declarative
    // rewrite over the (split) dense root is the exact top-10 — r01's
    // scan verbatim; the maintenance-awareness pins live in-gate.
    "r101_dense_rewrite" -> ExactL2TopkQv0Sql,
    // r112: the executor-side-probe twin reduces to the same exact
    // read at all-probe — one oracle, two probe-selection engines.
    "r112_dense_rewrite_distributed" -> ExactL2TopkQv0Sql,
    // + 0 here and in the other output-facing cosine oracles
    // normalizes -0.0 → 0.0: Spark's round runs through BigDecimal
    // (no signed zero), DuckDB's keeps IEEE -0.0 when a self-pair's
    // residual rounds negative (bit r44 first hit).
    "r02_ann_topk_cos" ->
      s"""SELECT vec_id,
          round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) + 0 AS dist
          FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    "r20_ann_topk_ip" ->
      """SELECT vec_id,
          round(-list_inner_product(embedding::DOUBLE[],
            (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 19)),
            6) AS dist
          FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    "r03_ann_ivf_l2" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          probes AS (
            SELECT centroid_id FROM cents
            ORDER BY list_distance(centroid, $qv3) ASC, centroid_id ASC
            LIMIT 3)
          SELECT a.vec_id,
                 round(list_distance(a.embedding::DOUBLE[], $qv3), 6) AS dist
          FROM assigned a JOIN probes USING (centroid_id)
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r11: scalar quantization from first principles — per-dim min/max,
    // 8-bit codes, asymmetric dequantized distance top-50, exact rerank.
    "r11_sq_topk" ->
      s"""WITH mm AS (
            SELECT pos, min(x) AS mn, max(x) AS mx
            FROM (SELECT unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1),
          m AS (SELECT list(mn ORDER BY pos) AS mins,
                       list(mx ORDER BY pos) AS maxs FROM mm),
          q AS (SELECT $qv9 AS qv),
          codes AS (
            SELECT e.vec_id, e.embedding,
              list_transform(range(len(e.embedding)), i ->
                CASE WHEN m.maxs[i+1] > m.mins[i+1]
                  THEN CAST(least(greatest(round(
                    (e.embedding[i+1]::DOUBLE - m.mins[i+1]) /
                    (m.maxs[i+1] - m.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                    AS INTEGER)
                  ELSE 0 END) AS codes
            FROM embeddings e CROSS JOIN m),
          cand AS (
            SELECT c.vec_id, c.embedding,
              round(sqrt(list_sum(list_transform(range(len(c.codes)), i ->
                (q.qv[i+1] - (m.mins[i+1] + c.codes[i+1] / 255.0 *
                   (m.maxs[i+1] - m.mins[i+1]))) *
                (q.qv[i+1] - (m.mins[i+1] + c.codes[i+1] / 255.0 *
                   (m.maxs[i+1] - m.mins[i+1])))))), 6) AS qdist
            FROM codes c CROSS JOIN m CROSS JOIN q
            ORDER BY qdist ASC, vec_id ASC LIMIT 50)
          SELECT cand.vec_id,
            round(list_distance(cand.embedding::DOUBLE[], q.qv), 6) AS dist
          FROM cand CROSS JOIN q
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r37: product quantization from first principles — per-(label,
    // subspace) mean codebooks rounded to 5, positional codes via the
    // argmin window, query LUT = per-subspace squared L2 vs each
    // codebook entry, ADC = sqrt of the per-subspace sum, exact
    // re-rank of the top-50.
    "r37_pq_adc" ->
      s"""WITH sub AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, label,
                         unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)),
          cbdim AS (
            SELECT label AS cid, s, pos, round(avg(x), 5) AS c
            FROM sub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM sub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          q AS (SELECT $qv9 AS qv),
          qsub AS (
            SELECT s, list(x ORDER BY pos) AS qsv
            FROM (SELECT CAST(pos AS INTEGER) // 8 AS s, pos, x
                  FROM (SELECT unnest(qv) AS x,
                               unnest(range(len(qv))) AS pos FROM q))
            GROUP BY 1),
          adc AS (
            SELECT c.vec_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(qs.qsv)), i ->
                       (qs.qsv[i+1] - cb.cent[i+1]) *
                       (qs.qsv[i+1] - cb.cent[i+1]))))), 6) AS qdist
            FROM codes c
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN qsub qs ON qs.s = c.s
            GROUP BY c.vec_id),
          cand AS (SELECT vec_id FROM adc
                   ORDER BY qdist ASC, vec_id ASC LIMIT 50)
          SELECT e.vec_id,
                 round(list_distance(e.embedding::DOUBLE[], q.qv), 6)
                   AS dist
          FROM cand JOIN embeddings e USING (vec_id) CROSS JOIN q
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r38: IVF+PQ from first principles — r10's label-mean centroid /
    // assignment CTEs, per-(cell, subspace) mean codebooks rounded to
    // 5, positional codes via the global argmin window, 3 probed
    // cells, ADC over the probed cells only, exact re-rank of the
    // top-50.
    "r38_ivf_pq" -> IvfPqOracleSql,
    // r39 runs the DECLARATIVE plan over the registered PQ index with
    // r38's exact parameters — shared oracle (the r12/r16 pattern).
    "r39_pq_rewrite" -> IvfPqOracleSql,
    // r40: the stored layout is lossless and pruning cannot change
    // scores — the at-rest replay shares r38's oracle too.
    "r40_ivf_pq_stored" -> IvfPqOracleSql,
    // r41: the batch query-log form of r38 — same codebooks, per-query
    // probes/ADC/re-rank replayed from first principles.
    "r41_knn_join_pq" -> KnnJoinPqOracleSql,
    // r43: the spherical PQ member — normalize-then-L2 through every
    // index stage, true-cosine exact re-rank on raw vectors.
    "r43_ivf_pq_cos" -> IvfPqCosOracleSql,
    // r44: r43's spherical chain in r41's batch shape.
    "r44_knn_join_pq_cos" -> KnnJoinPqCosOracleSql,
    // r45: the declarative rewrite runs r43's exact parameters —
    // shared oracle (the r17/r18 pattern, for the PQ family).
    "r45_pq_rewrite_cos" -> IvfPqCosOracleSql,
    // r46: the stored spherical layout is lossless and pruning cannot
    // change scores — shared oracle with r43 (the r38/r40 pattern).
    "r46_ivf_pq_cos_stored" -> IvfPqCosOracleSql,
    // r47: deleted rows vanish from the candidate scan; codebooks stay
    // trained on the full corpus (the r19 pattern for PQ).
    "r47_pq_stored_delete" -> ivfPqOracle("c.vec_id % 7 <> 0"),
    // r49: r14's sign-bit estimator chain in the r10 batch shape —
    // per-query probes, per-query estimator keep-15, exact re-rank.
    "r49_knn_join_bitq" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[],
                                              c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, qv, centroid_id FROM (
              SELECT q.q_id, q.qv, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          bitq AS (
            SELECT a.vec_id, a.centroid_id,
              list_transform(range(len(a.embedding)), i ->
                CASE WHEN a.embedding[i+1]::DOUBLE - c.centroid[i+1] > 0
                  THEN 1 ELSE 0 END) AS bits,
              round(sqrt(list_sum(list_transform(range(len(a.embedding)),
                i -> (a.embedding[i+1]::DOUBLE - c.centroid[i+1]) *
                     (a.embedding[i+1]::DOUBLE - c.centroid[i+1])))), 6)
                AS rnorm
            FROM assigned a JOIN cents c USING (centroid_id)),
          cand AS (
            SELECT q_id, vec_id AS d_id FROM (
              SELECT p.q_id, b.vec_id,
                row_number() OVER (PARTITION BY p.q_id ORDER BY
                  round(
                    list_sum(list_transform(range(len(b.bits)), i ->
                      (p.qv[i+1] - c.centroid[i+1]) *
                      (p.qv[i+1] - c.centroid[i+1])))
                    + b.rnorm * b.rnorm
                    - 2.0 * b.rnorm / sqrt(len(b.bits)) *
                      list_sum(list_transform(range(len(b.bits)), i ->
                        (b.bits[i+1] * 2 - 1) *
                        (p.qv[i+1] - c.centroid[i+1]))),
                    6) ASC, b.vec_id ASC) AS rn
              FROM bitq b
              JOIN cents c USING (centroid_id)
              JOIN qprobes p USING (centroid_id)) WHERE rn <= 15),
          rr AS (
            SELECT c.q_id, c.d_id,
                   round(list_distance(e.embedding::DOUBLE[], q.qv), 6)
                     AS dist
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.d_id
            JOIN q ON q.q_id = c.q_id),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM rr)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3""",
    // r48: ivfSqOracle's chain in the r10 batch shape — per-query
    // probes, per-query asymmetric keep-15, per-query exact re-rank.
    "r48_knn_join_sq" -> KnnJoinSqOracleSql,
    // r68: the r48 replay chain with NO probe cut (all cells) and the
    // refine grid as a window-rank bound (budget = 10·refine), exact
    // top-10 beside it, intersection per rung.
    "r68_bitq_recall_curve" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[],
                                              c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 10),
          bitq AS (
            SELECT a.vec_id, a.centroid_id,
              list_transform(range(len(a.embedding)), i ->
                CASE WHEN a.embedding[i+1]::DOUBLE - c.centroid[i+1] > 0
                  THEN 1 ELSE 0 END) AS bits,
              round(sqrt(list_sum(list_transform(range(len(a.embedding)),
                i -> (a.embedding[i+1]::DOUBLE - c.centroid[i+1]) *
                     (a.embedding[i+1]::DOUBLE - c.centroid[i+1])))), 6)
                AS rnorm
            FROM assigned a JOIN cents c USING (centroid_id)),
          qd AS (
            SELECT q.q_id, b.vec_id,
              round(
                list_sum(list_transform(range(len(b.bits)), i ->
                  (q.qv[i+1] - c.centroid[i+1]) *
                  (q.qv[i+1] - c.centroid[i+1])))
                + b.rnorm * b.rnorm
                - 2.0 * b.rnorm / sqrt(len(b.bits)) *
                  list_sum(list_transform(range(len(b.bits)), i ->
                    (b.bits[i+1] * 2 - 1) *
                    (q.qv[i+1] - c.centroid[i+1]))),
                6) AS qdist
            FROM bitq b
            JOIN cents c USING (centroid_id)
            CROSS JOIN q),
          qrk AS (SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY qdist ASC, vec_id ASC) AS rn
                  FROM qd),
          pr AS (SELECT unnest([1, 2, 5]) AS p),
          rr AS (
            SELECT pr.p, k.q_id, k.vec_id AS d_id,
                   row_number() OVER (PARTITION BY pr.p, k.q_id
                     ORDER BY round(list_distance(e.embedding::DOUBLE[],
                                                  q.qv), 6) ASC,
                              k.vec_id ASC) AS rk
            FROM pr
            JOIN qrk k ON k.rn <= 10 * pr.p
            JOIN embeddings e ON e.vec_id = k.vec_id
            JOIN q ON q.q_id = k.q_id),
          appx AS (SELECT p, q_id, d_id FROM rr WHERE rk <= 10),
          exact AS (SELECT q_id, d_id FROM (
              SELECT q.q_id, d.vec_id AS d_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_distance(d.embedding::DOUBLE[],
                                                    q.qv), 6) ASC,
                                d.vec_id ASC) AS rk
              FROM q CROSS JOIN embeddings d) WHERE rk <= 10),
          hits AS (SELECT p, count(*) AS h
                   FROM appx JOIN exact USING (q_id, d_id) GROUP BY p)
          SELECT p AS refine, round(CAST(h AS DOUBLE) / 100, 6) AS recall
          FROM hits ORDER BY refine""",
    // r50: the stored layout is lossless (packCodes/unpackCodes) and
    // pruning cannot change scores - shared oracle with r48.
    "r50_knn_join_sq_stored" -> KnnJoinSqOracleSql,
    // r63: cosine range — exact through the spherical reduction, so
    // the oracle is the plain cosine threshold scan (+ 0 normalizes
    // DuckDB's IEEE −0.0 away, the r44 lesson).
    "r63_range_cos_stored" ->
      s"""SELECT vec_id,
                 round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) + 0
                   AS dist
          FROM embeddings
          WHERE round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6)
                  <= 0.78
          ORDER BY dist ASC, vec_id ASC""",
    // r62: the declarative range plan must reproduce the explicit r56
    // operator exactly (the rewrite is EXACT by contract) — shared
    // plain-SQL oracle.
    "r62_range_rewrite" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv9), 6) AS dist
          FROM embeddings
          WHERE label IN (1, 3, 5)
            AND round(list_distance(embedding::DOUBLE[], $qv9), 6) <= 1.3
          ORDER BY dist ASC, vec_id ASC""",
    // r61: grouped top-k — a per-label rank window over the rounded
    // distance, ties by id; the quota semantics in one window.
    "r61_grouped_topk" ->
      s"""SELECT label, vec_id, dist, CAST(rank AS INTEGER) AS rank
          FROM (
            SELECT label, vec_id,
                   round(list_distance(embedding::DOUBLE[], $qv13), 6)
                     AS dist,
                   row_number() OVER (PARTITION BY label
                     ORDER BY round(list_distance(
                       embedding::DOUBLE[], $qv13), 6) ASC,
                       vec_id ASC) AS rank
            FROM embeddings)
          WHERE rank <= 2
          ORDER BY label ASC, rank ASC""",
    // r59: filtered sparse — the same md5-bucket recipe as r27-r30
    // with the predicate thinning the final candidate set (a pure dot
    // has no stats to protect, so scores match the unfiltered run).
    "r59_sparse_filtered" ->
      """WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '')) AS tok
            FROM documents),
          dv AS (
            SELECT doc_id,
                   (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) // 2)
                     % 4096 AS b,
                   CAST(count(*) AS DOUBLE) AS v
            FROM toks GROUP BY 1, 2),
          qtok AS (
            SELECT unnest(['spark', 'merge', 'hash', 'window']) AS tok),
          qv AS (
            SELECT (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) // 2)
                     % 4096 AS b,
                   CAST(count(*) AS DOUBLE) AS w
            FROM qtok GROUP BY 1),
          scored AS (
            SELECT dv.doc_id, round(sum(dv.v * qv.w), 6) AS score
            FROM dv JOIN qv USING (b) GROUP BY 1)
          SELECT scored.doc_id, score FROM scored
          JOIN documents d USING (doc_id)
          WHERE d.lang = 'en' AND score > 0
          ORDER BY score DESC, doc_id ASC LIMIT 10""",
    // r60: filtered maxsim — r21's two-phase replay with the bag-level
    // predicate applied BEFORE phase-1 (a disallowed bag can't consume
    // a candidate slot), phase-1 keep-4, exact re-rank top-3.
    "r60_maxsim_filtered" ->
      """WITH dt AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
                            embedding::DOUBLE[] AS dv FROM embeddings),
        q AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id IN (0, 1)),
        qc AS (SELECT list_transform(range(len(a.qv)), i ->
                 (a.qv[i+1] + b.qv[i+1]) / 2) AS qc
               FROM (SELECT qv FROM q WHERE vec_id = 0) a,
                    (SELECT qv FROM q WHERE vec_id = 1) b),
        fmd AS (SELECT label, pos, sum(x) / count(*) AS fmv
                FROM (SELECT label, unnest(dv) AS x,
                             unnest(range(len(dv))) AS pos FROM dt)
                GROUP BY 1, 2),
        fml AS (SELECT label, list(fmv ORDER BY pos) AS fm
                FROM fmd GROUP BY 1),
        approx AS (SELECT label,
                     round(list_inner_product(fm, (SELECT qc FROM qc)), 6)
                       AS ap
                   FROM fml WHERE label % 3 != 0),
        cand AS (SELECT label FROM approx
                 ORDER BY ap DESC, label ASC LIMIT 4),
        best AS (SELECT dt.label, q.vec_id,
                        max(list_inner_product(q.qv, dt.dv)) AS m
                 FROM dt JOIN cand USING (label) CROSS JOIN q
                 GROUP BY 1, 2)
        SELECT label, round(sum(m), 6) AS score FROM best GROUP BY label
        ORDER BY score DESC, label ASC LIMIT 3""",
    // r58: filtered BM25 — stats CTEs run over the WHOLE corpus (the
    // no-retrain contract); only the final candidate set is thinned by
    // the predicate, exactly where the operator's semi-join sits.
    "r58_bm25_filtered" ->
      s"""WITH ${bm25Cte(Seq("window", "partition", "order"))}
          SELECT id, round(sum(w), 6) AS score FROM scored
          JOIN documents d ON d.doc_id = scored.id
          WHERE d.lang = 'en'
          GROUP BY id
          ORDER BY score DESC, id ASC LIMIT 10""",
    // r55: exact range search — the plain threshold scan; the rounded
    // distance is both the output and the cut, so the oracle filters
    // on the SAME rounded value.
    "r55_range_search" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv0), 6) AS dist
          FROM embeddings
          WHERE round(list_distance(embedding::DOUBLE[], $qv0), 6) <= 1.26
          ORDER BY dist ASC, vec_id ASC""",
    // r65: the stored eps-join is exact (radii blocking cannot drop a
    // true pair) — plain quadratic oracle over the 5-query log,
    // self-pairs (dist 0) included.
    "r65_range_join_stored" ->
      """SELECT a.vec_id AS qid, b.vec_id AS did,
                round(list_distance(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS dist
         FROM embeddings a, embeddings b
         WHERE a.vec_id < 5
           AND round(list_distance(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) <= 1.2
         ORDER BY qid ASC, dist ASC, did ASC""",
    // r67: append soundness is an EXACTNESS claim — the grown root
    // answers like the plain scan over head ∪ tail (no probes, no
    // index replay needed in the oracle; that it needs none IS the
    // claim, the r56/r64 pattern).
    "r67_range_append" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv7), 6) AS dist
          FROM embeddings
          WHERE round(list_distance(embedding::DOUBLE[], $qv7), 6) <= 1.25
          ORDER BY dist ASC, vec_id ASC""",
    // r66: label-mean centroids (round 5), argmin assignment with
    // (dist, cid) ties, then per-cell count / max (== the stored
    // radius: round is monotone, so max-of-rounded = rounded-max) /
    // 6-rounded mean of 6-rounded distances. centroid_id cast to
    // INTEGER — the Spark side's cell ids are int32, and the driver
    // hashes typed values (the r12 p31 lesson: same values, different
    // physical type, different hash).
    "r66_index_health" ->
      """WITH dims AS (
          SELECT CAST(label AS INTEGER) AS centroid_id, pos,
                 round(avg(CAST(x AS DOUBLE)), 5) AS c
          FROM (SELECT label, unnest(embedding) AS x,
                       unnest(range(len(embedding))) AS pos
                FROM embeddings)
          GROUP BY 1, 2),
        cents AS (
          SELECT centroid_id, list(c ORDER BY pos) AS centroid
          FROM dims GROUP BY 1),
        assigned AS (
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(e.embedding::DOUBLE[],
                                            c.centroid) ASC,
                              c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        ad AS (
          SELECT a.centroid_id,
                 round(list_distance(a.embedding::DOUBLE[], c.centroid), 6)
                   AS d
          FROM assigned a JOIN cents c USING (centroid_id))
        SELECT centroid_id, count(*) AS n_rows,
               round(max(d), 6) AS radius,
               round(avg(d), 6) AS mean_dist
        FROM ad GROUP BY 1 ORDER BY 1""",
    // r64: the self-contained root is the SAME exact semantics as r56
    // (radii pruning cannot change results) — shared plain-SQL oracle.
    "r64_range_stored_self" -> RangeExactOracleSql,
    // r56: the at-rest radii-pruned form is EXACT (triangle-inequality
    // cut — no probes contract), so its oracle is the SAME plain
    // threshold scan with the predicate; no IVF replay needed. That
    // the oracle needs no index machinery IS the exactness evidence.
    "r56_range_ivf_stored" -> RangeExactOracleSql,
    // r69: a cell split re-partitions bytes, never rows — the oracle
    // is r64's verbatim; any divergence after the split IS the bug.
    "r69_cell_split" -> RangeExactOracleSql,
    // r90: post-delete exact scan at an everything-admitting eps over
    // the label-IVF assignment replay — every surviving row (the
    // cell-4 survivors included) must reappear at its exact distance
    // through the merged layout.
    "r90_cell_merge" ->
      s"""WITH $LabelIvfCtes
          SELECT a.vec_id,
                 round(list_distance(a.embedding::DOUBLE[], $qv9), 6)
                   AS dist
          FROM assigned a
          WHERE NOT (a.centroid_id = 4 AND a.vec_id % 3 <> 0)
            AND round(list_distance(a.embedding::DOUBLE[], $qv9), 6)
                <= 10.0
          ORDER BY dist ASC, vec_id ASC""",
    // r93: the quantized merge's truth is the index-free post-delete
    // replay — all-probe + corpus-covering refine make the operator's
    // exact re-rank the plain top-10 over the surviving rows (codes
    // re-homed under frozen bounds change phase-1 estimates only).
    "r93_quantized_cell_merge" ->
      s"""WITH $LabelIvfCtes
          SELECT a.vec_id,
                 round(list_distance(a.embedding::DOUBLE[], $qv5), 6)
                   AS dist
          FROM assigned a
          WHERE NOT (a.centroid_id = 4 AND a.vec_id % 3 <> 0)
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r95: the SQ split is code-preserving (inherited bounds), and the
    // gate probes every cell with a covering refine — the truth is the
    // plain exact top-10 over the whole corpus, no CTEs needed.
    "r95_quantized_cell_split" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv7), 6)
                   AS dist
          FROM embeddings
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r70: both matryoshka phases from first principles — the prefix
    // cut (top-50 by L2 over coordinates 1..8, ties id asc) and the
    // full-precision re-score, each rounded before its ordering.
    "r70_matryoshka_topk" -> MatryoshkaOracleSql,
    // r71: the at-rest layout is LOSSLESS (the prefix column is a
    // byte-identical slice of the stored vector), so the stored form
    // shares r70's oracle verbatim — any divergence is a layout bug.
    "r71_matryoshka_stored" -> MatryoshkaOracleSql,
    // r57: the eps-join is exact under the radii contract, so the
    // oracle is the plain quadratic join — the thing the operator's
    // cell blocking avoids computing but must exactly reproduce.
    "r57_range_join" ->
      """SELECT a.vec_id AS qid, b.vec_id AS did,
                round(list_distance(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS dist
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
           AND round(list_distance(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) <= 1.2
         ORDER BY qid ASC, dist ASC, did ASC""",
    // r88/r89: index-free per-query-radius replay — each query's own
    // eps (the same IEEE 0.8 + (id % 3) * 0.3 arithmetic) decides
    // its pairs; the IVF cut is exact per query, so the scan is the
    // truth. ONE shared fragment: the stored form (r89) prunes IO,
    // never results.
    "r88_range_join_per_eps" -> PerEpsRangeOracleSql,
    "r89_range_join_per_eps_stored" -> PerEpsRangeOracleSql,
    // r94/r96: the cosine twin — index-free per-query cosine
    // threshold scan (each query row's own eps; + 0 for DuckDB's
    // IEEE −0.0). ONE fragment: the stored form (r96) prunes IO,
    // never results — r89's argument on the spherical layout.
    "r94_range_join_per_eps_cos" -> PerEpsCosRangeOracleSql,
    "r96_range_join_cos_stored" -> PerEpsCosRangeOracleSql,
    // r97: r88's scan with the predicate as one extra doc-side
    // conjunct — filtering is IO-shape in the operator, semantics
    // here.
    "r97_range_join_filtered" ->
      perEpsRangeOracleSqlW(" AND b.label % 2 = 1"),
    // r98: at all-probe the post-split dense root answers the exact
    // cosine top-10 — r02's oracle verbatim (splits re-partition,
    // never re-rank).
    "r98_dense_cell_split" ->
      s"""SELECT vec_id,
          round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) + 0 AS dist
          FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r100: the dense health audit from first principles — label-mean
    // centroids, raw-COSINE argmin assignment (the dense Cosine
    // convention; scale-invariant in the centroid), per-cell count +
    // mean of per-row-rounded cosine distances.
    "r100_dense_index_health" ->
      s"""WITH dims AS (
            SELECT CAST(label AS INTEGER) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosDistSql("e.embedding::DOUBLE[]",
                                             "c.centroid")} ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          ad AS (
            SELECT a.centroid_id,
                   round(${cosDistSql("a.embedding::DOUBLE[]",
                                      "c.centroid")}, 6) AS d
            FROM assigned a JOIN cents c USING (centroid_id))
          SELECT centroid_id, count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM ad GROUP BY 1 ORDER BY 1""",
    // r102: the composed health audit from first principles — the
    // label-mean centroids, L2 argmin assignment (the composed L2
    // convention over emb_full = the raw embedding), per-cell count +
    // mean of per-row-rounded L2 distances (r66's audit minus radii).
    "r102_mrl_ivf_index_health" ->
      s"""WITH $LabelIvfCtes,
          ad AS (
            SELECT a.centroid_id,
                   round(list_distance(a.embedding::DOUBLE[],
                                       c.centroid), 6) AS d
            FROM assigned a JOIN cents c USING (centroid_id))
          SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
                 count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM ad GROUP BY 1 ORDER BY 1""",
    // r103: the maintained declarative range plan must still
    // reproduce the plain threshold scan AFTER an out-of-band split —
    // the rewrite is EXACT by contract and the family's split is an
    // invariance, so r62's oracle is shared verbatim.
    // r113: the executor-side form computes the SAME exact cut in a
    // subplan — r62's oracle, three probe-selection engines now.
    "r113_range_rewrite_distributed" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv9), 6) AS dist
          FROM embeddings
          WHERE label IN (1, 3, 5)
            AND round(list_distance(embedding::DOUBLE[], $qv9), 6) <= 1.3
          ORDER BY dist ASC, vec_id ASC""",
    "r103_range_rewrite_maintained" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv9), 6) AS dist
          FROM embeddings
          WHERE label IN (1, 3, 5)
            AND round(list_distance(embedding::DOUBLE[], $qv9), 6) <= 1.3
          ORDER BY dist ASC, vec_id ASC""",
    // r104: the quantized health audit from first principles — the
    // r12 dequantization CTEs (label-mean centroids, L2 argmin
    // assignment, per-cell min/max bounds, 0..255 codes), then each
    // code's RECONSTRUCTION distance to its own centroid (per-row
    // rounded, per-cell count + re-rounded mean — r66's aggregate
    // over the dequantized geometry).
    "r104_quantized_index_health" ->
      s"""WITH $LabelIvfCtes,
          mm AS (
            SELECT centroid_id, pos, min(x) AS mn, max(x) AS mx
            FROM (SELECT centroid_id, unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM assigned)
            GROUP BY 1, 2),
          bounds AS (
            SELECT centroid_id, list(mn ORDER BY pos) AS mins,
                   list(mx ORDER BY pos) AS maxs
            FROM mm GROUP BY 1),
          codes AS (
            SELECT a.vec_id, a.centroid_id,
              list_transform(range(len(a.embedding)), i ->
                CASE WHEN b.maxs[i+1] > b.mins[i+1]
                  THEN CAST(least(greatest(round(
                    (a.embedding[i+1]::DOUBLE - b.mins[i+1]) /
                    (b.maxs[i+1] - b.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                    AS INTEGER)
                  ELSE 0 END) AS codes
            FROM assigned a JOIN bounds b USING (centroid_id)),
          hd AS (
            SELECT c.centroid_id,
              round(sqrt(list_sum(list_transform(range(len(c.codes)), i ->
                (ct.centroid[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                   (b.maxs[i+1] - b.mins[i+1]))) *
                (ct.centroid[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                   (b.maxs[i+1] - b.mins[i+1])))))), 6) AS d
            FROM codes c
            JOIN bounds b USING (centroid_id)
            JOIN cents ct USING (centroid_id))
          SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
                 count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM hd GROUP BY 1 ORDER BY 1""",
    // r109: the spherical health replay — normalized label-mean
    // centroids, unit-sphere argmin/bounds/codes (the r17 cosine SQ
    // CTEs), each code's reconstruction distance to its UNIT centroid.
    "r109_quantized_index_health_cos" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents0 AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          cents AS (
            SELECT centroid_id,
                   list_transform(centroid, x ->
                     x / sqrt(list_inner_product(centroid, centroid)))
                     AS centroid
            FROM cents0),
          nv AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x ->
                     x / sqrt(list_inner_product(embedding::DOUBLE[],
                                                 embedding::DOUBLE[])))
                     AS nvec
            FROM embeddings),
          assigned AS (
            SELECT vec_id, nvec, centroid_id FROM (
              SELECT n.vec_id, n.nvec, c.centroid_id,
                     row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_distance(n.nvec, c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM nv n CROSS JOIN cents c) WHERE rn = 1),
          mm AS (
            SELECT centroid_id, pos, min(x) AS mn, max(x) AS mx
            FROM (SELECT centroid_id, unnest(nvec) AS x,
                         unnest(range(len(nvec))) AS pos
                  FROM assigned)
            GROUP BY 1, 2),
          bounds AS (
            SELECT centroid_id, list(mn ORDER BY pos) AS mins,
                   list(mx ORDER BY pos) AS maxs
            FROM mm GROUP BY 1),
          codes AS (
            SELECT a.vec_id, a.centroid_id,
              list_transform(range(len(a.nvec)), i ->
                CASE WHEN b.maxs[i+1] > b.mins[i+1]
                  THEN CAST(least(greatest(round(
                    (a.nvec[i+1] - b.mins[i+1]) /
                    (b.maxs[i+1] - b.mins[i+1]) * 255.0, 0), 0.0), 255.0)
                    AS INTEGER)
                  ELSE 0 END) AS codes
            FROM assigned a JOIN bounds b USING (centroid_id)),
          hd AS (
            SELECT c.centroid_id,
              round(sqrt(list_sum(list_transform(range(len(c.codes)), i ->
                (ct.centroid[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                   (b.maxs[i+1] - b.mins[i+1]))) *
                (ct.centroid[i+1] - (b.mins[i+1] + c.codes[i+1] / 255.0 *
                   (b.maxs[i+1] - b.mins[i+1])))))), 6) AS d
            FROM codes c
            JOIN bounds b USING (centroid_id)
            JOIN cents ct USING (centroid_id))
          SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
                 count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM hd GROUP BY 1 ORDER BY 1""",
    // r110: the PQ health replay — r38's codebook CTEs (per-(cell,
    // subspace) mean slices, positional argmin codes), each code's
    // reconstruction distance to its cell centroid's OWN slices.
    "r110_quantized_index_health_pq" ->
      s"""WITH $LabelIvfCtes,
          asub AS (
            SELECT vec_id, centroid_id,
                   CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, centroid_id,
                         unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM assigned)),
          cbdim AS (
            SELECT centroid_id AS cid, s, pos, round(avg(x), 5) AS c
            FROM asub GROUP BY 1, 2, 3),
          cb AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cbdim GROUP BY s, cid),
          docsub AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM asub GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, s, code FROM (
              SELECT d.vec_id, d.s, cb.code,
                     row_number() OVER (PARTITION BY d.vec_id, d.s
                       ORDER BY list_distance(d.sv, cb.cent) ASC,
                                cb.cid ASC) AS rn
              FROM docsub d JOIN cb USING (s)) WHERE rn = 1),
          csub AS (
            SELECT centroid_id, CAST(pos AS INTEGER) // 8 AS s,
                   list(c ORDER BY pos) AS cv
            FROM dims GROUP BY 1, 2),
          hd AS (
            SELECT c.vec_id, a.centroid_id,
                   round(sqrt(sum(list_sum(list_transform(
                     range(len(cs.cv)), i ->
                       (cs.cv[i+1] - cb.cent[i+1]) *
                       (cs.cv[i+1] - cb.cent[i+1]))))), 6) AS d
            FROM codes c
            JOIN assigned a USING (vec_id)
            JOIN cb ON cb.s = c.s AND cb.code = c.code
            JOIN csub cs ON cs.centroid_id = a.centroid_id
                        AND cs.s = c.s
            GROUP BY 1, 2)
          SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
                 count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM hd GROUP BY 1 ORDER BY 1""",
    // r111: the 1-bit health truth is the assignment geometry itself
    // (mean residual norm = mean distance to centroid) — r66's replay
    // minus the radius column.
    "r111_quantized_index_health_bitq" ->
      s"""WITH $LabelIvfCtes,
          ad AS (
            SELECT a.centroid_id,
                   round(list_distance(a.embedding::DOUBLE[],
                                       c.centroid), 6) AS d
            FROM assigned a JOIN cents c USING (centroid_id))
          SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
                 count(*) AS n_rows,
                 round(avg(d), 6) AS mean_dist
          FROM ad GROUP BY 1 ORDER BY 1""",
    // r105: at all-probe the quantized two-phase is split-invariant
    // (sub-cells inherit their parent's bounds and codes verbatim),
    // so the post-split declarative read lands on the r12 replay with
    // the probe cut dropped.
    "r105_quantized_rewrite_maintained" ->
      ivfSqOracleW("", probed = false),
    // r106: at all-probe the composed cut equals the FLAT prefix cut
    // (r91's argument) and the rewritten plan computes only the final
    // distance — r74's oracle verbatim, split boundaries invisible.
    "r106_mrl_ivf_rewrite_maintained" -> MatryoshkaRewriteOracleSql,
    // r107: the engine health seat must land each root on ITS OWN
    // family's audit — the range arm is r66's replay (minus the
    // radius column the shared projection drops), the dense arm is
    // r100's cosine replay, tagged and unioned.
    "r107_engine_index_health" ->
      s"""WITH $LabelIvfCtes,
          adr AS (
            SELECT a.centroid_id,
                   round(list_distance(a.embedding::DOUBLE[],
                                       c.centroid), 6) AS d
            FROM assigned a JOIN cents c USING (centroid_id)),
          assigned_cos AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosDistSql("e.embedding::DOUBLE[]",
                                             "c.centroid")} ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          add_ AS (
            SELECT a.centroid_id,
                   round(${cosDistSql("a.embedding::DOUBLE[]",
                                      "c.centroid")}, 6) AS d
            FROM assigned_cos a JOIN cents c USING (centroid_id)),
          uni AS (
            SELECT 'range' AS family, CAST(centroid_id AS INTEGER)
                     AS centroid_id,
                   count(*) AS n_rows, round(avg(d), 6) AS mean_dist
            FROM adr GROUP BY 2
            UNION ALL
            SELECT 'dense' AS family, CAST(centroid_id AS INTEGER)
                     AS centroid_id,
                   count(*) AS n_rows, round(avg(d), 6) AS mean_dist
            FROM add_ GROUP BY 2)
          SELECT centroid_id, n_rows, mean_dist, family FROM uni
          ORDER BY family ASC, centroid_id ASC""",
    // r108: the stored+filtered cosine join is EXACT per query, so
    // the oracle is r94's index-free cosine scan with the predicate
    // as one extra conjunct on the doc side.
    "r108_range_join_cos_stored_filtered" ->
      perEpsCosRangeOracleSqlW(" AND b.label % 2 = 1"),
    // r99: the dense merge's truth is the post-delete exact top-10
    // over the label-IVF assignment replay (r90's delete folded in).
    "r99_dense_cell_merge" ->
      s"""WITH $LabelIvfCtes
          SELECT a.vec_id,
                 round(list_distance(a.embedding::DOUBLE[], $qv9), 6)
                   AS dist
          FROM assigned a
          WHERE NOT (a.centroid_id = 4 AND a.vec_id % 3 <> 0)
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r51: filtered exact top-k — the predicate composes with the
    // ordering; pushdown (the thing the gate pins) is plan-shape, not
    // semantics, so the oracle is the plain filtered scan.
    "r51_ann_filtered" ->
      s"""SELECT vec_id,
                 round(list_distance(embedding::DOUBLE[], $qv0), 6) AS dist
          FROM embeddings
          WHERE label IN (1, 3, 5)
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r52: filtered stored IVF from first principles — cells are
    // vec_id % 8 means (round 5), assignment argmin with (dist, cid)
    // ties, 3 probed cells, and the label predicate applied WITHIN the
    // probed cells (index built over the whole corpus; the filter
    // thins candidates, never re-ranks them).
    "r52_ann_ivf_filtered_stored" -> FilteredIvfOracleSql,
    // r53 runs the DECLARATIVE plan over the registered index with
    // r52's exact parameters — probe pruning is injected by the
    // optimizer and composes with the user predicate, so the rewrite
    // must reproduce the explicit operator bit-for-bit (shared
    // oracle, the r12/r16 pattern).
    "r53_ann_rewrite_filtered" -> FilteredIvfOracleSql,
    // r54: the batch shape of the filtered family — r10's batch oracle
    // over the vec_id % 8 cell geometry with the predicate applied to
    // the candidate side (the index is whole-corpus; the filter thins
    // probed candidates, never re-ranks).
    "r54_knn_join_filtered" ->
      s"""WITH dims AS (
            SELECT CAST(vec_id % 8 AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, label, centroid_id FROM (
              SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
          qprobes AS (
            SELECT q_id, qv, centroid_id FROM (
              SELECT q.q_id, q.qv, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_distance(c.centroid, q.qv) ASC,
                                c.centroid_id ASC) AS rn
              FROM q CROSS JOIN cents c) WHERE rn <= 2),
          cand AS (
            SELECT p.q_id, a.vec_id AS d_id,
                   round(list_distance(a.embedding::DOUBLE[], p.qv), 6)
                     AS dist
            FROM qprobes p JOIN assigned a USING (centroid_id)
            WHERE a.label IN (1, 3, 5)),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM cand)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank
          FROM r WHERE rank <= 3""",
    // r42: the KMeans PQ trainer from first principles — portable-md5
    // seed draw (k=4 smallest distinct hashes per subspace, cid = rank
    // in hash order), two unrolled Lloyd iterations (L2 argmin with
    // (dist, cid) ties, per-(cell, pos) mean rounded to 5), codebook
    // codes positional in surviving-cid order.
    "r42_pq_kmeans" ->
      s"""WITH esub AS (
            SELECT vec_id, CAST(pos AS INTEGER) // 8 AS s, pos, x
            FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)),
          sv AS (
            SELECT vec_id, s, list(x ORDER BY pos) AS sv
            FROM esub GROUP BY 1, 2),
          hashed AS (
            -- one row per hash with the deterministic min-by-list
            -- representative (vectors identical at 1e-6 canonical
            -- precision merge; the trainer keeps min(vec) per hash)
            SELECT s, h, min(sv) AS sv FROM (
              SELECT s, sv,
                     ('0x' || substring(md5(array_to_string(
                        list_transform(sv,
                          x -> CAST(round(x * 1000000) AS BIGINT)),
                        ',')), 1, 15))::BIGINT AS h
              FROM sv)
            GROUP BY 1, 2),
          cent0 AS (
            SELECT s, cid, list_transform(sv, x -> round(x, 5)) AS cent
            FROM (SELECT s, sv,
                         row_number() OVER (PARTITION BY s
                           ORDER BY h ASC) - 1 AS cid
                  FROM hashed) WHERE cid < 4),
          asg1 AS (
            SELECT vec_id, s, cid FROM (
              SELECT v.vec_id, v.s, c.cid,
                     row_number() OVER (PARTITION BY v.vec_id, v.s
                       ORDER BY list_distance(v.sv, c.cent) ASC,
                                c.cid ASC) AS rn
              FROM sv v JOIN cent0 c USING (s)) WHERE rn = 1),
          cent1 AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent FROM (
              SELECT e.s, a.cid, e.pos, round(avg(e.x), 5) AS c
              FROM esub e
              JOIN asg1 a ON a.vec_id = e.vec_id AND a.s = e.s
              GROUP BY 1, 2, 3)
            GROUP BY 1, 2),
          asg2 AS (
            SELECT vec_id, s, cid FROM (
              SELECT v.vec_id, v.s, c.cid,
                     row_number() OVER (PARTITION BY v.vec_id, v.s
                       ORDER BY list_distance(v.sv, c.cent) ASC,
                                c.cid ASC) AS rn
              FROM sv v JOIN cent1 c USING (s)) WHERE rn = 1),
          cent2 AS (
            SELECT s, cid, list(c ORDER BY pos) AS cent FROM (
              SELECT e.s, a.cid, e.pos, round(avg(e.x), 5) AS c
              FROM esub e
              JOIN asg2 a ON a.vec_id = e.vec_id AND a.s = e.s
              GROUP BY 1, 2, 3)
            GROUP BY 1, 2),
          codes AS (
            SELECT s, cent,
                   CAST(row_number() OVER (PARTITION BY s
                     ORDER BY cid ASC) - 1 AS INTEGER) AS code
            FROM cent2)
          SELECT CAST(s AS INTEGER) AS s, code,
                 CAST(pos AS INTEGER) AS pos, c
          FROM (SELECT s, code, unnest(cent) AS c,
                       unnest(range(len(cent))) AS pos
                FROM codes)""",
    // r12: IVF + per-cell SQ from first principles — label-mean
    // centroids, min-dist assignment, per-CELL min/max bounds, 8-bit
    // codes, probe 3 cells, asymmetric scan top-50 within them, exact
    // re-rank top-10.
    "r12_ivf_sq_topk" -> ivfSqOracle(""),
    // r16 runs the DECLARATIVE plan over the registered SQ index with
    // r12's exact parameters — the optimizer rewrite must reproduce
    // the explicit operator bit-for-bit, so they share one oracle.
    "r16_ann_rewrite_quant" -> ivfSqOracle(""),
    // r17/r18 share the spherical oracle the same way (explicit
    // operator vs declarative cosine rewrite).
    "r17_ivf_sq_cos" -> ivfSqCosOracle,
    "r18_ann_rewrite_cos" -> ivfSqCosOracle,
    // r19: the stored layout after the cell-rewrite delete — candidates
    // exclude the deleted rows, bounds/codes stay pre-delete.
    "r19_stored_delete" -> ivfSqOracle("WHERE c.vec_id % 7 <> 0"),
    // r84: grown-then-pruned equals built-then-pruned — the fresh
    // lifecycle is invisible to results by contract, so r19's oracle
    // lands verbatim
    "r84_sq_fresh_delete" -> ivfSqOracle("WHERE c.vec_id % 7 <> 0"),
    // r87: grown-then-batch-replayed equals built — the fresh-aware
    // batch join over an even-half root + odd-half fresh/ lands on
    // the FULL-corpus per-qid SQ replay (r48's oracle verbatim)
    "r87_quantized_fresh_batch" -> KnnJoinSqOracleSql,
    // r92: the filtered fresh-aware replay — the same full-corpus SQ
    // fragment with the predicate inside the candidate window (the
    // operator's placement: filter BEFORE the per-query cut), grown
    // equals built exactly as r87.
    "r92_quantized_fresh_filtered" ->
      knnJoinSqOracleSqlPred("c.label IN (1, 3, 5)"),
    // r21: BOTH maxsim phases replayed — phase 1 = per-label token-mean
    // dot against the query-token centroid, top-3 labels; phase 2 = the
    // exact maxsim (sum of per-query-token max dots) over those labels
    // only. A non-rewritten plan would return the global top-3, which
    // differs whenever phase 1's cheap ranking disagrees with maxsim.
    "r21_maxsim_rewrite" ->
      """WITH dt AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
                            embedding::DOUBLE[] AS dv FROM embeddings),
        q AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id IN (0, 1)),
        qc AS (SELECT list_transform(range(len(a.qv)), i ->
                 (a.qv[i+1] + b.qv[i+1]) / 2) AS qc
               FROM (SELECT qv FROM q WHERE vec_id = 0) a,
                    (SELECT qv FROM q WHERE vec_id = 1) b),
        fmd AS (SELECT label, pos, sum(x) / count(*) AS fmv
                FROM (SELECT label, unnest(dv) AS x,
                             unnest(range(len(dv))) AS pos FROM dt)
                GROUP BY 1, 2),
        fml AS (SELECT label, list(fmv ORDER BY pos) AS fm
                FROM fmd GROUP BY 1),
        approx AS (SELECT label,
                     round(list_inner_product(fm, (SELECT qc FROM qc)), 6)
                       AS ap
                   FROM fml),
        cand AS (SELECT label FROM approx
                 ORDER BY ap DESC, label ASC LIMIT 3),
        best AS (SELECT dt.label, q.vec_id,
                        max(list_inner_product(q.qv, dt.dv)) AS m
                 FROM dt JOIN cand USING (label) CROSS JOIN q
                 GROUP BY 1, 2)
        SELECT label, round(sum(m), 6) AS score FROM best GROUP BY label
        ORDER BY score DESC, label ASC LIMIT 3""",
    // r26: the full index-pruned maxsim replayed from first principles —
    // persisted token-means (rounded 6), label-mean centroids (rounded
    // 5), cosine assignment with ties by centroid_id asc (the argmin
    // fold), cosine probe selection (top-3 cells nearest the
    // query-token centroid), phase-1 = top-20 by mean·query-centroid
    // WITHIN probed cells only, phase-2 = exact maxsim over those 20.
    "r26_maxsim_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                          embedding::DOUBLE[] AS emb FROM embeddings),
        d AS (SELECT vec_id, label,
                     [emb, list_reverse(emb)] AS vecs,
                     list_transform(range(len(emb)), i ->
                       round((emb[i+1] + emb[len(emb)-i]) / 2, 6)) AS fm
              FROM e),
        cd AS (SELECT label, pos, round(avg(x), 5) AS c
               FROM (SELECT label, unnest(fm) AS x,
                            unnest(range(len(fm))) AS pos FROM d)
               GROUP BY 1, 2),
        cents AS (SELECT label AS centroid_id,
                         list(c ORDER BY pos) AS centroid
                  FROM cd GROUP BY 1),
        assigned AS (SELECT vec_id, vecs, fm, centroid_id FROM (
            SELECT d.vec_id, d.vecs, d.fm, c.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY ${cosDistSql("d.fm", "c.centroid")} ASC,
                              c.centroid_id ASC) AS rn
            FROM d CROSS JOIN cents c) WHERE rn = 1),
        q AS (SELECT vec_id, emb AS qv FROM e WHERE vec_id IN (0, 1)),
        qc AS (SELECT list_transform(range(len(a.qv)), i ->
                 (a.qv[i+1] + b.qv[i+1]) / 2) AS qc
               FROM (SELECT qv FROM q WHERE vec_id = 0) a,
                    (SELECT qv FROM q WHERE vec_id = 1) b),
        probes AS (SELECT centroid_id FROM cents CROSS JOIN qc
                   ORDER BY ${cosDistSql("centroid", "qc.qc")} ASC,
                            centroid_id ASC LIMIT 3),
        cand AS (SELECT a.vec_id, a.vecs
                 FROM assigned a JOIN probes USING (centroid_id)
                 CROSS JOIN qc
                 ORDER BY round(list_inner_product(a.fm, qc.qc), 6) DESC,
                          a.vec_id ASC
                 LIMIT 20),
        ctok AS (SELECT vec_id, unnest(vecs) AS dv FROM cand),
        best AS (SELECT ctok.vec_id, q.vec_id AS qid,
                        max(list_inner_product(q.qv, ctok.dv)) AS m
                 FROM ctok CROSS JOIN q GROUP BY 1, 2)
        SELECT vec_id, round(sum(m), 6) AS score FROM best
        GROUP BY vec_id ORDER BY score DESC, vec_id ASC LIMIT 10""",
    // r33: the batch replay is the r26 recipe per query — shared
    // centroid/assignment CTEs, then per-qid probe selection (rank
    // window over cosine distance, ties centroid_id asc), per-qid
    // phase-1 top-20 by persisted-mean·query-centroid within probed
    // cells, per-qid exact maxsim over the candidates. Query bags are
    // [emb, reverse(emb)] of vec_ids 0..3; the lockstep unnest keeps
    // each query token's identity so duplicate tokens (a palindromic
    // embedding) could never merge in the maxsim sum.
    "r33_maxsim_batch" -> maxsimBatchOracleSqlW(""),
    // r22: both phases of the rewrite share one total order, so the
    // result is the global BM25 top-5 over term-matching docs — the
    // r05 replay with this query's terms and k.
    "r22_bm25_rewrite" ->
      s"""WITH ${bm25Cte(Seq("shuffle", "sort", "merge"))}
          SELECT id AS doc_id, round(sum(w), 6) AS score FROM scored
          GROUP BY id ORDER BY score DESC, doc_id ASC LIMIT 5""",
    // r23: the stored postings layout is lossless, so the replay is
    // identical in shape to r05 — same scores recomputed from text.
    "r23_bm25_stored" ->
      s"""WITH ${bm25Cte(Seq("window", "partition", "order"))}
          SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
          ORDER BY score DESC, id ASC LIMIT 10""",
    // r24: WordPiece replay. The derived vocab (≤4-char words whole,
    // else 4-char stem + full ##-continuation) makes greedy
    // longest-match equal the CASE split below — see bm25WordpieceTopk.
    // Query "spark filter join" → pieces spar/##k/filt/##er/join.
    "r24_bm25_wordpiece" ->
      """WITH wpw AS (
           SELECT doc_id AS id,
                  unnest(list_filter(
                    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x != '')) AS w
           FROM documents),
         toks AS (
           SELECT id, unnest(CASE WHEN length(w) > 4
                             THEN [substr(w, 1, 4), '##' || substr(w, 5)]
                             ELSE [w] END) AS term
           FROM wpw),
         tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         g AS (SELECT count(*) AS n,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         qterms AS (SELECT unnest(['spar', '##k', 'filt', '##er', 'join'])
                      AS term),
         scored AS (
           SELECT tf.id,
                  ln((g.n - s.df + 0.5) / (s.df + 0.5) + 1.0) *
                    (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / g.avgdl)) AS w
           FROM tf
           JOIN qterms USING (term)
           JOIN stats s USING (term)
           JOIN dl USING (id)
           CROSS JOIN g)
         SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
         ORDER BY score DESC, id ASC LIMIT 10""",
    // r25: identical IVF semantics to r09 (label-mean centroids, probe
    // the 3 nearest cells, exact top-10 within) — the distributed-probe
    // registration must not change RESULTS, only the plan shape (which
    // the query asserts itself: LeftSemi, no centroid literals).
    "r25_ann_rewrite_dist" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          probes AS (
            SELECT centroid_id FROM cents
            ORDER BY list_distance(centroid, $qv9) ASC, centroid_id ASC
            LIMIT 3)
          SELECT a.vec_id,
                 round(list_distance(a.embedding::DOUBLE[], $qv9), 6) AS dist
          FROM assigned a JOIN probes USING (centroid_id)
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r14: IVF + 1-bit codes from first principles — label-mean
    // centroids, sign-bit residual codes + rounded residual norm, the
    // asymmetric estimator est = ‖qr‖² + rnorm² − 2·rnorm/√D·Σ sign·qr
    // within the 3 probed cells, exact re-rank of the top-50.
    "r14_ivf_bitq_topk" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
          q AS (SELECT $qv13 AS qv),
          probes AS (
            SELECT centroid_id FROM cents CROSS JOIN q
            ORDER BY list_distance(centroid, q.qv) ASC, centroid_id ASC
            LIMIT 3),
          bitq AS (
            SELECT a.vec_id, a.embedding, a.centroid_id,
              list_transform(range(len(a.embedding)), i ->
                CASE WHEN a.embedding[i+1]::DOUBLE - c.centroid[i+1] > 0
                  THEN 1 ELSE 0 END) AS bits,
              round(sqrt(list_sum(list_transform(range(len(a.embedding)),
                i -> (a.embedding[i+1]::DOUBLE - c.centroid[i+1]) *
                     (a.embedding[i+1]::DOUBLE - c.centroid[i+1])))), 6)
                AS rnorm
            FROM assigned a JOIN cents c USING (centroid_id)),
          cand AS (
            SELECT b.vec_id, b.embedding,
              round(
                list_sum(list_transform(range(len(b.bits)), i ->
                  (q.qv[i+1] - c.centroid[i+1]) *
                  (q.qv[i+1] - c.centroid[i+1])))
                + b.rnorm * b.rnorm
                - 2.0 * b.rnorm / sqrt(len(b.bits)) *
                  list_sum(list_transform(range(len(b.bits)), i ->
                    (b.bits[i+1] * 2 - 1) *
                    (q.qv[i+1] - c.centroid[i+1]))),
                6) AS qdist
            FROM bitq b
            JOIN cents c USING (centroid_id)
            JOIN probes USING (centroid_id)
            CROSS JOIN q
            ORDER BY qdist ASC, vec_id ASC LIMIT 50)
          SELECT cand.vec_id,
            round(list_distance(cand.embedding::DOUBLE[], q.qv), 6) AS dist
          FROM cand CROSS JOIN q
          ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r10: the IVF batch ANN join recomputed from first principles —
    // label-mean centroids, min-dist assignment, per-query 2-probe cell
    // set, candidates from the cell join, per-query top-3.
    "r10_knn_join_ivf" -> KnnJoinIvfOracleSql,
    // r36: same cells, same probes, same candidates — the stored-layout
    // batch join shares r10's oracle (pruning changes IO, never results)
    "r36_knn_join_stored" -> KnnJoinIvfOracleSql,
    "r09_ann_rewrite_stored" -> IvfRewriteOracleSql,
    // r72: the SQL-authored form of r09 — same index, probes and
    // query vector, so the oracle is shared verbatim: the gate proves
    // the REWRITE fires on a spark.sql plan (the IVF-probed result
    // differs from the exact scan, so a no-rewrite fall-through
    // mismatches this oracle).
    "r72_sql_surface" -> IvfRewriteOracleSql,
    // r74: the declarative form replays the same 50-candidate cut +
    // exact re-rank; pre_dist stays internal to the rewrite.
    "r74_matryoshka_rewrite" -> MatryoshkaRewriteOracleSql,
    // r76: the predicate restricts the corpus BEFORE the cut — the
    // family replay with the same WHERE on phase 1.
    "r76_matryoshka_filtered" ->
      s"""WITH ${matryoshkaP1Sql("label IN (1, 3, 5)")}
          SELECT vec_id, pre_dist,
                 round(list_distance(v, $qv3), 6) AS dist
          FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r77: the cosine family member — phase 1 is the prefix cut over
    // NORMALIZED vectors (the normalize-then-L2 reduction; DuckDB
    // normalizes exactly like the spherical-IVF oracles), phase 2
    // true cosine on the raw vectors (+ 0 for DuckDB's IEEE −0.0).
    "r77_matryoshka_cos" ->
      s"""WITH q AS (SELECT $qv5 AS qv),
          qn AS (SELECT list_transform(qv, x ->
                   x / sqrt(list_inner_product(qv, qv))) AS qnv
                 FROM q),
          p1 AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   round(list_distance(
                     (list_transform(embedding::DOUBLE[], x ->
                        x / sqrt(list_inner_product(
                          embedding::DOUBLE[],
                          embedding::DOUBLE[]))))[1:8],
                     ((SELECT qnv FROM qn))[1:8]), 6) AS pre_dist
            FROM embeddings
            ORDER BY pre_dist ASC, vec_id ASC LIMIT 50)
          SELECT vec_id, pre_dist,
                 round(${cosDistSql("v", "(SELECT qv FROM q)")}, 6) + 0
                   AS dist
          FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r78: the r09 label-IVF probe replay composed with the family's
    // prefix cut — candidate cut and re-rank confined to probed
    // cells (the IVF recall contract under truncation).
    "r78_matryoshka_ivf" -> matryoshkaIvfOracleSql(),
    // r91: at all-probe the composed two-phase equals the FLAT prefix
    // cut over the surviving rows — cell homes are invisible, so one
    // oracle is exact no matter which underfull cells dissolved; the
    // exclusion replays the gate's assigned-cell-4 drain.
    "r91_mrl_ivf_cell_merge" ->
      s"""WITH $LabelIvfCtes,
          alive AS (SELECT vec_id, embedding FROM assigned
                    WHERE NOT (centroid_id = 4 AND vec_id % 3 <> 0)),
          p1 AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        round(list_distance(
                          (embedding::DOUBLE[])[1:8], ($qv5)[1:8]), 6)
                          AS pre_dist
                 FROM alive
                 ORDER BY pre_dist ASC, vec_id ASC LIMIT 50)
          SELECT vec_id, pre_dist,
                 round(list_distance(v, $qv5), 6) AS dist
          FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r79: the spherical composed replay — centroids from raw label
    // means then normalized (like the r17/r43 spherical oracles),
    // assignment/probes/prefix cut on the unit sphere, re-rank true
    // cosine on the raw vectors (+ 0 for DuckDB's IEEE −0.0).
    "r79_matryoshka_ivf_cos" ->
      s"""WITH dims AS (
            SELECT CAST(label AS BIGINT) AS centroid_id, pos,
                   round(avg(CAST(x AS DOUBLE)), 5) AS c
            FROM (SELECT label, unnest(embedding) AS x,
                         unnest(range(len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY 1, 2),
          cents AS (
            SELECT centroid_id, list(c ORDER BY pos) AS centroid
            FROM dims GROUP BY 1),
          ncents AS (
            SELECT centroid_id,
                   list_transform(centroid, x ->
                     x / sqrt(list_inner_product(centroid, centroid)))
                     AS ncentroid
            FROM cents),
          nemb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[], x ->
                     x / sqrt(list_inner_product(embedding::DOUBLE[],
                       embedding::DOUBLE[]))) AS nv
            FROM embeddings),
          assigned AS (
            SELECT vec_id, v, nv, centroid_id FROM (
              SELECT e.vec_id, e.v, e.nv, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.nv, c.ncentroid) ASC,
                                c.centroid_id ASC) AS rn
              FROM nemb e CROSS JOIN ncents c) WHERE rn = 1),
          q AS (SELECT $qv7 AS qv),
          qn AS (SELECT list_transform(qv, x ->
                   x / sqrt(list_inner_product(qv, qv))) AS qnv
                 FROM q),
          probes AS (
            SELECT centroid_id FROM ncents
            ORDER BY list_distance(ncentroid, (SELECT qnv FROM qn)) ASC,
                     centroid_id ASC
            LIMIT 3),
          p1 AS (
            SELECT a.vec_id, a.v,
                   round(list_distance((a.nv)[1:8],
                     ((SELECT qnv FROM qn))[1:8]), 6) AS pre_dist
            FROM assigned a JOIN probes USING (centroid_id)
            ORDER BY pre_dist ASC, vec_id ASC LIMIT 50)
          SELECT vec_id, pre_dist,
                 round(${cosDistSql("v", "(SELECT qv FROM q)")}, 6) + 0
                   AS dist
          FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r80: the composed root's delete is the ordinary cell rewrite —
    // centroids stay (codes-outlive-rows), the cut and re-rank see
    // survivors only.
    "r80_matryoshka_ivf_delete" ->
      matryoshkaIvfOracleSql("a.vec_id % 7 <> 0"),
    // r81: half batch-written + half appended under the root's own
    // pinned model = indistinguishable from a day-one build — r78's
    // replay lands verbatim on the grown root.
    "r81_matryoshka_ivf_append" -> matryoshkaIvfOracleSql(),
    // r82: the predicate restricts the cut (BEFORE the limit), probes
    // and re-rank unchanged — the composed replay with the WHERE.
    "r82_matryoshka_ivf_filtered" -> matryoshkaIvfOracleSql(
      "a.vec_id IN (SELECT vec_id FROM embeddings " +
        "WHERE label IN (1, 3, 5))"),
    // r83: the rewritten plan computes only the final distance (the
    // user's plan never sees pre_dist) — the composed replay in its
    // declarative form.
    "r83_matryoshka_ivf_rewrite" -> matryoshkaIvfOracleSql(
      withPre = false),
    // r85: the composed replay PER QUERY ID (per-query probes, the
    // prefix cut confined to each query's cells, full-precision
    // re-rank per qid) — pre_dist kept, pinning each query's cut.
    "r85_matryoshka_ivf_batch" -> matryoshkaIvfBatchOracleSql(
      "0, 1, 5", withPre = true),
    // r86: the predicate restricts each query's cut (BEFORE the
    // limit) — the per-qid composed replay with the WHERE, r82's
    // pattern batch-replayed.
    "r86_matryoshka_ivf_batch_filtered" -> matryoshkaIvfBatchOracleSql(
      "0, 1, 5", withPre = true,
      where = "a.vec_id IN (SELECT vec_id FROM embeddings " +
        "WHERE label IN (1, 3, 5))"),
    // r75: the delete leaves a layout indistinguishable from one the
    // doomed rows never entered — the cut replay over survivors only.
    "r75_matryoshka_delete" ->
      s"""WITH ${matryoshkaP1Sql("vec_id % 7 <> 0")}
          SELECT vec_id, pre_dist,
                 round(list_distance(v, $qv3), 6) AS dist
          FROM p1 ORDER BY dist ASC, vec_id ASC LIMIT 10""",
    // r73: per-query prefix cut (top-20 by sliced L2, ties id asc)
    // then full re-score of exactly those candidates, both rounded
    // before their rank windows — the r04 batch shape, two-phased.
    "r73_matryoshka_batch" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          p0 AS (
            SELECT q.q_id, e.vec_id AS d_id, q.qv,
                   round(list_distance((e.embedding::DOUBLE[])[1:8],
                     (q.qv)[1:8]), 6) AS pre_dist
            FROM embeddings e CROSS JOIN q),
          p1 AS (SELECT q_id, d_id, qv, pre_dist FROM (
                   SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY pre_dist ASC, d_id ASC) AS rk
                   FROM p0) WHERE rk <= 20),
          sc AS (
            SELECT p.q_id, p.d_id, p.pre_dist,
                   round(list_distance(e.embedding::DOUBLE[], p.qv), 6)
                     AS dist
            FROM p1 p JOIN embeddings e ON e.vec_id = p.d_id)
          SELECT q_id, d_id, pre_dist, dist,
                 CAST(rank AS INTEGER) AS rank
          FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY dist ASC, d_id ASC) AS rank FROM sc)
          WHERE rank <= 3 ORDER BY q_id ASC, rank ASC""",
    // r13: batch BM25 — same tf/df/dl/avgdl CTEs, qid-carrying query
    // terms, per-(qid, id) scoring, rank window per qid.
    "r13_bm25_batch" -> Bm25BatchOracleSql,
    // r35: the stored postings layout is lossless and pruning may not
    // change scores — the stored batch replay shares r13's oracle
    "r35_bm25_stored_batch" -> Bm25BatchOracleSql,
    "r04_knn_join_l2" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
          scored AS (
            SELECT q.q_id, e.vec_id AS d_id,
                   round(list_distance(e.embedding::DOUBLE[], q.qv), 6) AS dist
            FROM embeddings e CROSS JOIN q),
          r AS (SELECT q_id, d_id, dist,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dist ASC, d_id ASC) AS rank
                FROM scored)
          SELECT q_id, d_id, dist, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 3""",
    "r05_bm25_topk" ->
      s"""WITH ${bm25Cte(Seq("spark", "filter", "join"))}
          SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
          ORDER BY score DESC, id ASC LIMIT 10""",
    "r06_maxsim_label" ->
      """WITH dt AS (SELECT CAST(label AS BIGINT) AS label,
                            embedding::DOUBLE[] AS dv FROM embeddings),
          q AS (SELECT vec_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id IN (0, 1)),
          best AS (SELECT dt.label, q.vec_id,
                          max(list_inner_product(q.qv, dt.dv)) AS m
                   FROM dt CROSS JOIN q GROUP BY 1, 2)
          SELECT label, round(sum(m), 6) AS score FROM best GROUP BY label
          ORDER BY score DESC, label ASC LIMIT 5""",
    "r07_rrf_hybrid" ->
      s"""WITH vecl AS (
            SELECT vec_id AS id,
                   round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) AS dist
            FROM embeddings ORDER BY dist ASC, id ASC LIMIT 20),
          vecr AS (SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC)
                     AS rank FROM vecl),
          ${bm25Cte(Seq("group", "hash", "join"))},
          bml AS (SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
                  ORDER BY score DESC, id ASC LIMIT 20),
          bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC)
                    AS rank FROM bml),
          u AS (SELECT id, rank FROM vecr UNION ALL SELECT id, rank FROM bmr)
          SELECT id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score FROM u
          GROUP BY id ORDER BY rrf_score DESC, id ASC LIMIT 10""",
    "r08_hybrid_dedup" ->
      s"""WITH vecl AS (
            SELECT vec_id AS id,
                   round(${cosDistSql("embedding::DOUBLE[]", qv7)}, 6) AS dist
            FROM embeddings ORDER BY dist ASC, id ASC LIMIT 20),
          vecr AS (SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC)
                     AS rank, 0 AS src FROM vecl),
          ${bm25Cte(Seq("group", "hash", "join"))},
          bml AS (SELECT id, round(sum(w), 6) AS score FROM scored GROUP BY id
                  ORDER BY score DESC, id ASC LIMIT 20),
          bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC)
                    AS rank, 1 AS src FROM bml),
          u AS (SELECT id, rank, src FROM vecr
                UNION ALL SELECT id, rank, src FROM bmr),
          f AS (SELECT id, rank, src,
                  row_number() OVER (PARTITION BY id ORDER BY src ASC, rank ASC)
                    AS occ FROM u)
          SELECT id, CAST(rank AS INTEGER) AS rank, src FROM f
          WHERE occ = 1
          ORDER BY src ASC, rank ASC LIMIT 10""",
    "r27_sparse_topk" -> SparseOracleSql,
    "r29_sparse_inverted" -> SparseOracleSql,
    "r30_sparse_stored" -> SparseOracleSql,
    "r31_sparse_rewrite" -> SparseOracleSql,
    // r32: the batch form — per-query replay of the shared sparse
    // recipe, queries = docs 0..3's own vectors, rank per qid
    "r32_sparse_batch" -> SparseBatchOracleSql,
    // r34: pruning may never change what a query matches — the stored
    // batch replay shares r32's oracle verbatim
    "r34_sparse_stored_batch" -> SparseBatchOracleSql,
    "r28_overlap_rerank" ->
      // BM25 top-10 (the r05 phase verbatim), then the OverlapReranker
      // re-sort: overlap = |query ∩ doc| DISTINCT tokens, descending,
      // ties by the incoming BM25 position
      s"""WITH ${bm25Cte(Seq("spark", "filter", "join"))},
          bml AS (SELECT id, round(sum(w), 6) AS score FROM scored
                  GROUP BY id ORDER BY score DESC, id ASC LIMIT 10),
          pos AS (SELECT id, row_number()
                    OVER (ORDER BY score DESC, id ASC) AS p FROM bml),
          dtoks AS (
            SELECT doc_id AS id,
                   unnest(list_distinct(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != ''))) AS tok
            FROM documents),
          ov AS (
            SELECT pos.id, pos.p,
                   count(CASE WHEN dtoks.tok IN ('spark', 'filter', 'join')
                         THEN 1 END) AS o
            FROM pos LEFT JOIN dtoks USING (id) GROUP BY 1, 2)
          SELECT id, CAST(row_number() OVER (ORDER BY o DESC, p ASC)
                   AS INTEGER) AS rank
          FROM ov""")
}
