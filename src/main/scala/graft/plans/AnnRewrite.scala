package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{CosDist, DotProduct, L2Dist, VecExprs}
import org.apache.spark.sql.types.{DataType, IntegerType, ShortType,
  StringType}

import graft.ops.Ann

/** One declarative-rewrite registration — the user's opt-in to
  * approximate (or, for [[Binding.Range]], provably exact pruned)
  * search over an indexed column, consumed by [[AnnTopKRule]].
  * Registered through [[AnnIndex.register]], keyed by [[column]].
  *
  * MAINTENANCE-AWARENESS map (round 18) — which bindings keep serving
  * a root's CURRENT geometry across out-of-band maintenance (split /
  * merge / append / fresh-compaction), and which are frozen snapshots
  * by design:
  *  - root-backed, maintenance-aware — each opens its root through
  *    [[Ann.CellRoot.readModel]] per resolve, whose model (and its
  *    collected centroids) is re-read only when the centroids listing
  *    changes: [[Binding.denseRoot]] (appends move nothing else),
  *    [[Binding.rangeRoot]] (radii memoized per radii listing —
  *    appends grow them without a re-pin), [[Binding.quantizedRoot]]
  *    (full re-open per resolve — compaction changes the data listing
  *    without a re-pin), [[Binding.matryoshkaIvf]] (rows re-read per
  *    candidate plan), and the EXECUTOR-SIDE twins
  *    [[Binding.denseRootDistributed]] / [[Binding.rangeRootDistributed]]
  *    (probe/admission subplans over the root's own side tables,
  *    re-read per resolve — no driver collect at any cell count).
  *  - resolver-backed (as current as the caller's closure): every case
  *    class built with a live resolver — the Engine backs these with
  *    version-keyed caches.
  *  - frozen snapshots, documented: a case class built over a
  *    collected value (`() => cents`, `() => index`), and
  *    [[Binding.matryoshka]] (the flat root has no actuators — rebuilds
  *    replace it). */
sealed trait Binding extends Product with Serializable {
  /** The indexed column the registry keys on. */
  def column: String
  /** The logical table behind the registration (Engine passes the
    * table name); bindings with the same column names but different
    * owners are a hard error, not a silent replacement. The default ""
    * keeps ad-hoc single-table use terse. */
  def owner: String
}

object Binding {
  import org.apache.spark.sql.functions.{coalesce, col, lit, round, typedlit}

  /** The `probes` nearest cells to `q` — (dist, id) tuple sort, so ties
    * go to the lower id like `Ann.probeCells`' (__qdist asc, id asc). */
  private def nearestCells(cents: Seq[(Long, Array[Double])],
                           q: Array[Double], metric: Ann.Metric,
                           probes: Int): Seq[Long] =
    cents.map { case (id, c) => (metric.distScala(c, q), id) }
      .sorted.take(probes).map(_._2)

  /** Plain IVF probe selection for `vecCol`: the rule injects
    * `Filter(cellCol IN nearest-probe cells)` above the scan. `cents`
    * runs at every rewrite — back it with a version-keyed cache (Engine
    * does), so a rebuilt index reaches declarative probe selection
    * without a re-install; `() => cents` over an
    * [[Ann.IvfModel.collectedCentroids]] collect is a frozen snapshot.
    *
    * Centroids live driver-side BY DESIGN: probe cells are chosen at
    * PLAN time (the rule injects the cell filter before execution), so
    * the rule needs them where the optimizer runs — the same place
    * Catalyst keeps table statistics. Budget accordingly: ~1k cells ×
    * 768 dims ≈ 6 MB is nothing; at ~10⁵ cells collect cost grows to
    * ~hundreds of MB of driver heap — prefer [[ProbeDist]] or the
    * executor-side probe path ([[graft.ops.Ann.knnJoinIvf]],
    * broadcast-variable centroids) beyond that.
    *
    * `layout` (with `idCol`) is the assigned layout — rows with their
    * `cellCol` — for a table that does not carry the cell column
    * itself (the Engine's tables): the rule then cuts the scanned
    * table with an id semi-join against the layout rows in the probed
    * cells. `layout` runs at every rewrite, like `cents`. */
  final case class Probe(vecCol: String, cellCol: String,
                         cents: () => Seq[(Long, Array[Double])],
                         metric: Ann.Metric, probes: Int,
                         owner: String = "", idCol: String = "",
                         layout: Option[() => DataFrame] = None)
      extends Binding {
    def column: String = vecCol
    def probeCells(q: Array[Double]): Seq[Long] =
      nearestCells(cents(), q, metric, probes)
    /** The ids of the layout rows in the probed cells, aliased for a
      * fresh exprId (see [[Quantized]]). */
    def probedIds(rows: DataFrame, q: Array[Double]): DataFrame =
      rows.filter(col(cellCol).isin(probeCells(q): _*))
        .select(col(idCol).as(s"__cand_$idCol"))
  }

  /** EXECUTOR-SIDE probe selection — the fallback past [[Probe]]'s
    * driver-side centroid budget (~10⁵ cells): instead of collecting
    * centroids and injecting an `IN (cells...)` literal filter, the
    * rule injects a LEFT SEMI join against a subplan that computes the
    * `probes` nearest cells FROM THE CENTROIDS TABLE ITSELF
    * (`orderBy(dist(centroid, q)).limit(probes)`) — centroids never
    * leave the cluster, the candidate side is `probes` rows (statistics
    * make it a broadcast join), and on a `partitionBy(cellCol)` layout
    * dynamic partition pruning prunes the cell directories at runtime.
    * `centroids` is re-resolved per rewrite. `cellCol` names the
    * LAYOUT's cell column, which may differ from the centroid table's
    * `centIdCol` (a mismatch with the scanned layout is a silent
    * brute-force fallback: the rule only engages on leaves exposing
    * `cellCol`). Also the IVF behind an index-pruned [[Maxsim]]. */
  final case class ProbeDist(vecCol: String, cellCol: String,
                             centroids: () => DataFrame,
                             centIdCol: String, centVecCol: String,
                             metric: Ann.Metric, probes: Int,
                             owner: String = "") extends Binding {
    def column: String = vecCol
    /** The `probes`-nearest-cells subplan for `q`, cast to the scanned
      * cell column's type (partition columns read back as int) and
      * aliased for a fresh exprId — see [[Quantized]]. */
    def probeCellsDf(q: Seq[Double], cellType: DataType): DataFrame =
      centroids()
        .withColumn("__d", metric.dist(
          col(centVecCol).cast("array<double>"), typedlit(q)))
        .orderBy(col("__d").asc, col(centIdCol).asc)
        .limit(probes)
        .select(col(centIdCol).cast(cellType).as(s"__cell_$centIdCol"))
  }

  /** Range search — the declarative form of
    * [[Ann.rangeSearchIvfStored]]: a plain
    * `filter(round(dist(vec, q), s) <= eps)` plan gets an EXACT cell
    * filter injected from the per-cell covering radii
    * ([[Ann.cellRadii]]): the triangle inequality proves pruned cells
    * hold no match, so unlike the probes rewrites this one never
    * changes results — it only removes provably-empty cell
    * directories from the scan. `cents` yields (cell id, centroid,
    * radius) at every rewrite ([[Probe]]'s driver-side budget); over
    * collected values it is a FROZEN snapshot: prefer [[rangeRoot]]
    * for a self-contained [[Ann.writeRangeIndex]] root, where
    * maintenance (splits, merges, radius-growing appends) must keep
    * reaching the installed plan. */
  final case class Range(vecCol: String, cellCol: String,
                         metric: Ann.Metric,
                         cents: () => Seq[(Long, Array[Double], Double)],
                         owner: String = "") extends Binding {
    require(metric == Ann.L2,
      "range registration needs a true metric (triangle inequality); " +
        "cosine range queries go through the normalized-L2 reduction " +
        "(l2Normalize + eps_l2 = sqrt(2*eps_cos)) — see Ann.cellRadii")
    def column: String = vecCol
    def cellsFor(q: Array[Double], eps: Double, slack: Double): Seq[Long] =
      cents().filter { case (_, c, r) =>
        metric.distScala(c, q) <= r + eps + slack }.map(_._1)
  }

  /** EXECUTOR-SIDE range — [[Range]]'s twin past the driver-side budget
    * (the [[ProbeDist]] story for the EXACT rewrite): instead of
    * collecting centroids + radii and injecting an `IN (cells...)`
    * literal, the rule injects a LEFT SEMI join against a subplan that
    * computes the ADMITTED cells from the (centroid, radius) side table
    * itself — `filter(l2_dist(centroid, q) <= radius + eps + slack)` —
    * plus the DynamicPruningSubquery that turns it into runtime
    * partition pruning. The cut is the SAME triangle-inequality proof
    * as the literal form, evaluated where the table lives: still exact,
    * still never changes results. `resolveCentRad` yields
    * (centroid_id, centroid, radius) and runs at every rewrite. */
  final case class RangeDist(vecCol: String, cellCol: String,
                             resolveCentRad: () => DataFrame,
                             owner: String = "") extends Binding {
    def column: String = vecCol
    def metric: Ann.Metric = Ann.L2
    def admittedCellsDf(q: Array[Double], eps: Double, slack: Double,
                        cellType: DataType): DataFrame =
      resolveCentRad()
        .filter(VecExprs.l2Dist(
            col("centroid").cast("array<double>"), typedlit(q.toSeq))
          <= col("radius").cast("double") + lit(eps + slack))
        // cast to the scanned cell column's type + fresh exprId — the
        // Quantized discipline
        .select(col("centroid_id").cast(cellType)
          .as("__cell_centroid_id"))
  }

  /** Quantized (SQ / PQ / 1-bit) — a declarative
    * `orderBy(dist).limit(k)` over the column is rewritten into the
    * TWO-PHASE quantized path: a semi-join against the top-(k·refine)
    * candidate ids from the probed code scan (1 byte/dim for SQ,
    * m bytes for PQ, 1 bit/dim + norm for the RaBitQ-style index),
    * with the plan's own Sort+Limit as the exact re-rank of the
    * survivors. The full-precision vector column is then only read for
    * the candidate rows — the vchordrq scan shape, reachable from a
    * plain DataFrame query. L2 and cosine (cosine indexes are built
    * spherical — normalize-then-L2, the reference's
    * `spherical_centroids` default for cos/dot, spec.py:437-444);
    * inner-product has no bounded-norm equivalence and stays out.
    *
    * `resolve` runs at every rewrite, so a binding backed by the
    * Engine's version-keyed cache picks up table writes automatically —
    * declarative queries after an insert see the new rows (advisor
    * round-6 finding: a frozen snapshot silently excluded them);
    * `() => index` freezes it. `refine <= 0` = the family default. */
  final case class Quantized(vecCol: String, idCol: String,
                             resolve: () => Ann.QuantIndex,
                             metric: Ann.Metric, probes: Int,
                             refine: Int = -1, owner: String = "")
      extends Binding {
    require(metric == Ann.L2 || metric == Ann.Cosine,
      "quantized rewrite supports L2 and cosine (spherical) only")
    def column: String = vecCol
    /** The candidate multiplier for `index`: `refine`, else the
      * family's default (5; 1-bit [[Ann.defaultBitqRefine]] — the
      * spherical estimator needs a larger exact-re-rank budget). */
    def refineFor(index: Ann.QuantIndex): Int =
      if (refine > 0) refine else index.family.defaultRefine(metric)
    def candidateIds(q: Array[Double], k: Int): DataFrame = {
      val index = resolve()
      Ann.quantizedCandidates(index, idCol, typedlit(q.toSeq), metric,
          probes, math.max(k * refineFor(index), k))
        // Alias mints a FRESH exprId: the index tables usually derive
        // from the very relation the rewritten plan scans, and a
        // semi-join whose right output reuses the left's exprIds is an
        // unresolved (ambiguous) plan
        .select(col(idCol).as(s"__cand_$idCol"))
    }
  }

  /** Matryoshka member of the quantized-rewrite family (same registry
    * slot as [[Quantized]]): candidates are the top-(k·refine) ids by
    * PREFIX distance from the `dims`-wide `emb_pre` column of a
    * [[Ann.writeMatryoshka]] root (`probes == 0`; column-pruned phase 1
    * — the truncation analog of the codes-only scans) or, within the
    * `probes` nearest cells, of a [[Ann.writeMatryoshkaIvf]] root
    * (phase 1 partition-prunes to probed cell directories AND
    * column-prunes to `emb_pre`, the two prunings the composed layout
    * exists for). The plan's own Sort+Limit re-ranks at full precision.
    * L2 only (the family's metric). Build through [[matryoshka]] /
    * [[matryoshkaIvf]], which read `dims` from the root's marker;
    * `cents` yields the composed root's centroids at every rewrite
    * (unused at `probes == 0`). */
  final case class Matryoshka(vecCol: String, idCol: String, dir: String,
                              dims: Int, probes: Int, refine: Int,
                              owner: String = "",
                              cents: () => Seq[(Long, Array[Double])] =
                                () => Nil) extends Binding {
    def column: String = vecCol
    def metric: Ann.Metric = Ann.L2
    def candidateIds(q: Array[Double], k: Int): DataFrame = {
      // a query SHORTER than the stored prefix would silently
      // truncate (q.take(dims)) and cut candidates in the wrong space
      val label = if (probes > 0) "matryoshka-IVF" else "matryoshka"
      require(q.length >= dims,
        s"$label rewrite: query has ${q.length} dims but the " +
          s"root's prefix is $dims — wrong embedding space")
      val spark = SparkSession.active
      val rows = spark.read.parquet(s"$dir/rows")
      val probed = if (probes == 0) rows else rows.filter(
        col("centroid_id").isin(nearestCells(cents(), q, Ann.L2,
          probes): _*))
      probed
        .select(col(idCol), round(VecExprs.l2Dist(
            col("emb_pre"), typedlit(q.take(dims).toSeq)), 6).as("__pre"))
        .orderBy(col("__pre").asc, col(idCol).asc)
        .limit(math.max(k * refine, k))
        .select(col(idCol).as(s"__cand_$idCol")) // fresh exprId
    }
  }

  /** MAXSIM — the declarative form of the reference's `maxsim_refine`
    * two-phase (client.py:337-343, registry.py:233): a plain
    * `orderBy(maxsim_dot(q, mv).desc).limit(k)` plan over the
    * multivector column rewrites into a semi-join against the
    * top-max(refine, k) ids of the cheap phase-1 scan (one dot of the
    * doc's token-mean vs the query-token centroid per doc,
    * [[Ann.maxsimCandidates]]); the plan's own Sort+Limit is the exact
    * maxsim re-rank, so the O(|q|·|d|·dim) interaction runs only on
    * the candidates. `resolve` yields the doc table at every rewrite.
    *
    * With an `ivf` ([[graft.ops.Ann.buildMaxsimIvf]]) the doc table is
    * the ASSIGNED layout: it carries the persisted token-mean
    * (`ivf.vecCol`) and cell (`ivf.cellCol`) columns — ideally a
    * `partitionBy(cellCol)` stored layout so probe pruning is disk
    * pruning — and `ivf.centroids` is the centroid side table, probed
    * under the BUILD's metric (the reference pins
    * spherical_centroids for vector_maxsim_ops, spec.py:459-464). */
  final case class Maxsim(mvCol: String, idCol: String,
                          resolve: () => DataFrame,
                          refine: Int = 1000,
                          ivf: Option[ProbeDist] = None,
                          owner: String = "") extends Binding {
    def column: String = mvCol
    /** Phase-1 candidate plan, pre-optimized (see the rule's inject).
      * Without an IVF: the full token-mean scan. With one: probe cells
      * come from a semi-joined Sort+Limit subplan over the centroids
      * table (nearest cells to the QUERY-TOKEN CENTROID — maxsim's
      * single probe vector), phase-1 reads ONLY probed cells and ONLY
      * the persisted mean column, and a DynamicPruningSubquery turns
      * the probe semi-join into runtime partition pruning on a
      * `partitionBy(cellCol)` layout. */
    def candidatePlan(q: Array[Array[Double]], k: Int): LogicalPlan = {
      val n = math.max(refine, k)
      ivf match {
        case None =>
          Ann.maxsimCandidates(resolve(), idCol, mvCol,
              q.map(_.toSeq).toSeq, n)
            .select(col(idCol).as(s"__cand_$idCol")) // fresh exprId
            .queryExecution.optimizedPlan
        case Some(ix) =>
          val centroid = Ann.queryCentroid(q.map(_.toSeq).toSeq)
          val assigned = resolve()
          val probes = ix.probeCellsDf(centroid,
            assigned.schema(ix.cellCol).dataType)
          val cands = assigned
            // phase-1 reads id + cell + mean ONLY: the full token
            // matrix column is column-pruned out of the parquet scan
            .select(col(idCol), col(ix.cellCol), col(ix.vecCol))
            .join(probes, col(ix.cellCol) === col(s"__cell_${ix.centIdCol}"),
              "left_semi")
            .withColumn("__approx", round(VecExprs.dot(
              col(ix.vecCol).cast("array<double>"), typedlit(centroid)), 6))
            .orderBy(col("__approx").desc, col(idCol).asc)
            .limit(n)
            .select(col(idCol).as(s"__cand_$idCol"))
          // plant the DynamicPruningSubquery under the probe semi-join
          // POST-optimization (the rule's [[ProbeDist]] trick, and the
          // same rationale: Spark's own PartitionPruning never fires
          // for a Sort+Limit build side; CleanupDynamicPruningFilters
          // has already run on this sub-plan, and physical planning
          // executes the subquery as a plain in-filter on leaves that
          // cannot prune)
          cands.queryExecution.optimizedPlan.transformUp {
            case j @ Join(l, r, LeftSemi, Some(EqualTo(
                x: AttributeReference, y: AttributeReference)), _)
                if (l.outputSet.contains(x) && r.outputSet.contains(y)) ||
                  (l.outputSet.contains(y) && r.outputSet.contains(x)) =>
              val (a, b) = if (l.outputSet.contains(x) &&
                r.outputSet.contains(y)) (x, y) else (y, x)
              j.copy(left = Filter(DynamicPruningSubquery(
                a, r, Seq(b), Seq(0), onlyInBroadcast = false), l))
          }
      }
    }
  }

  /** BM25 — the declarative form of the reference's keyword search
    * (`ORDER BY kw <&> to_bm25query(...)`, client.py:356-380): a plain
    * `orderBy(bm25_score.desc).limit(k)` plan
    * ([[graft.ops.Bm25.scoreColumn]] builds the score) over the text
    * column rewrites into a semi-join against the top-(k·refine) ids
    * of the postings-index search ([[graft.ops.Bm25.searchTerms]] —
    * map-side term-pruned, never a full-corpus tokenize), with the
    * plan's own Sort+Limit as the exact re-rank. Scoring is EXACT on
    * both sides, so the rewrite only changes semantics for docs
    * containing NO query term (brute scores them 0, the index never
    * ranks them — the reference's contract); `refine` buffers
    * tie-break divergence at the k boundary.
    *
    * Planning cost: [[candidateIds]] runs inside the optimizer, and
    * `searchTerms` collects the query terms' df as it is called, so
    * optimizing a plan this binding rewrites launches ONE Spark job
    * (the df count) before any action — `explain()`,
    * `queryExecution.optimizedPlan` and every Dataset derived from the
    * plan each run it once. `Bm25RewriteSpec` pins the count.
    *
    * Keyword columns are commonly all named "text", so unlike the
    * vector bindings (scope contract: distinct column names per
    * logical index) BM25 is scoped per (textCol, idCol) and the rule
    * disambiguates by which binding's id column the plan's leaf
    * exposes — two tables with keyword column "text" but different
    * primary keys coexist. The same pair from a DIFFERENT owner
    * throws — with the common (id, text) naming, "latest wins" would
    * silently semi-join one table's query against the other table's
    * postings index. */
  final case class Bm25(textCol: String, idCol: String,
                        resolve: () => graft.ops.Bm25.Bm25Index,
                        refine: Int = 4, owner: String = "")
      extends Binding {
    def column: String = textCol
    def candidateIds(terms: Seq[String], k: Int): DataFrame = {
      val ix = resolve()
      // loud failure instead of a silent mis-join: every build path
      // normalizes the postings id column to "id" (Bm25.build,
      // loadStoredPostings), and searchTerms groups by it — a future
      // non-normalized index would otherwise join candidates on the
      // wrong column
      require(ix.postings.columns.contains("id"),
        s"BM25 index for column '$textCol' must expose postings id " +
          s"column 'id' (got: ${ix.postings.columns.mkString(", ")})")
      graft.ops.Bm25.searchTerms(ix, terms, math.max(k * refine, k))
        .select(col("id").as(s"__cand_$idCol")) // fresh exprId
    }
  }

  /** Sparse vectors: `idxCol`/`valCol` are the document table's sparse
    * (indices, values) column pair — BOTH are validated by the rule (a
    * score over the registered indices but a DIFFERENT values column
    * must NOT rewrite: its candidates would come from the wrong
    * postings) — and `resolve` yields the inverted postings (id,
    * bucket, v — [[graft.functions.Sparse.invertedPostings]]).
    * Candidates come from the postings top-n
    * ([[graft.functions.Sparse.invertedTopKW]] — the query touches
    * only its buckets' posting lists), and since the inverted score
    * EQUALS the row-scan score exactly (small-int products), the
    * re-rank returns the same top-k as the full scan among
    * POSITIVE-scoring docs whenever n ≥ k. Like the BM25 rewrite,
    * docs sharing no bucket with the query are not candidates — when
    * fewer than k docs match, the rewritten result is SHORTER than
    * the brute plan's (which would pad with zero-score rows); that is
    * the documented keyword/sparse rewrite contract, not a bug. Keyed
    * by the indices column name alone, like the vector bindings. */
  final case class Sparse(idxCol: String, valCol: String, idCol: String,
                          resolve: () => DataFrame,
                          refine: Int = 4, owner: String = "")
      extends Binding {
    def column: String = idxCol
    def candidateIds(qIdx: Seq[Int], qVal: Seq[Double], k: Int)
        : DataFrame = {
      val postings = resolve()
      require(Seq("id", "bucket", "v")
          .forall(postings.columns.contains),
        s"sparse postings for column '$idxCol' must expose " +
          s"(id, bucket, v) (got: ${postings.columns.mkString(", ")})")
      graft.functions.Sparse.invertedTopKW(postings, qIdx, qVal,
          math.max(k * refine, k))
        .select(col("id").as(s"__cand_$idCol"))
    }
  }

  /** A SELF-CONTAINED dense cell root ([[Ann.writeDenseRoot]]) as a
    * [[Probe]], MAINTENANCE-AWARE: vector column and metric come from
    * the root's own marker, resolved once at registration
    * ([[Ann.cellRoot]]), and every rewrite opens the root through its
    * reader seat ([[Ann.CellRoot.readModel]]), so a declarative plan
    * over `dir/rows` keeps probing the root's CURRENT geometry with no
    * re-install, where a frozen [[Probe]] snapshot would keep
    * injecting DISSOLVED cell ids after a split (empty pruned scans —
    * silent recall loss, the exact failure the stale-caller-model
    * refusals exist to prevent on the imperative path). The seat's
    * model stays the same instance while the centroids listing is
    * unchanged, so centroids are collected once per split / merge /
    * graduation, never per rewrite; a torn root (pending merge)
    * REFUSES at registration and at every resolve — declarative
    * readers honor the family's loud-never-wrong contract like every
    * other reader. */
  def denseRoot(spark: SparkSession, dir: String, probes: Int,
                owner: String = ""): Probe = {
    val root = Ann.cellRoot(spark, dir, None)
      .as[Ann.CellRoot.Dense]("registerDenseRoot")
    root.readModel
    Probe(root.vecCol, "centroid_id",
      () => root.readModel.collectedCentroids.toSeq, root.metric, probes,
      owner)
  }

  /** [[denseRoot]]'s EXECUTOR-SIDE twin — the binding that stays viable
    * past the driver's centroid-collect budget (the [[Probe]]
    * scaladoc's ~10⁵-cell ceiling; at 100 TB a dense root's cell count
    * sits there): probe selection runs as a semi-joined Sort+Limit
    * SUBPLAN over the root's own centroids table ([[ProbeDist]]'s
    * machinery — centroids never leave the cluster,
    * DynamicPruningSubquery prunes the cell directories at runtime),
    * while metric and vector column still come from the root's marker
    * and the centroid table is opened per resolve through
    * [[Ann.CellRoot.readModel]] — a CURRENT file listing every rewrite
    * (splits/merges re-write `centroids/`) and the torn-merge refusal
    * live, with no per-rewrite collect. */
  def denseRootDistributed(spark: SparkSession, dir: String, probes: Int,
                           owner: String = ""): ProbeDist = {
    val root = Ann.cellRoot(spark, dir, None)
      .as[Ann.CellRoot.Dense]("registerDenseRootDistributed")
    root.readModel
    ProbeDist(root.vecCol, "centroid_id", () => root.readModel.centroids,
      "centroid_id", "centroid", root.metric, probes, owner)
  }

  /** A SELF-CONTAINED range root ([[Ann.writeRangeIndex]]) as a
    * [[Range]], MAINTENANCE-AWARE — the [[denseRoot]] recipe applied to
    * the family where a frozen snapshot is SHARPEST: the range
    * rewrite's entire justification is "never changes results" (the
    * injected cell filter removes provably-empty directories only),
    * but a frozen [[Range]] snapshot taken before an out-of-band
    * [[Ann.splitOverfull]] keeps admitting the DISSOLVED
    * parent's cell id — whose directory no longer exists — while the
    * new sub-cells holding its rows are absent from the frozen list,
    * so the "provably-empty" filter prunes live rows: silent row
    * loss in the one rewrite documented as exact. Every rewrite opens
    * the root through its reader seat and reads the radii through
    * [[Ann.CellRoot.Range.readRadii]], memoized per radii LISTING:
    * [[Ann.appendIdempotent]] and the delete path grow/shrink a cell's
    * stored radius WITHOUT a model re-pin, but every radii write swaps
    * in fresh files, so the memo key changes and a radius is never
    * served stale — a row appended beyond its cell's old radius stays
    * reachable. A torn root (pending merge) refuses at registration
    * and at every resolve. L2 pinned like every [[Range]] (spherical
    * roots store normalized columns and L2 radii — the cosine
    * reduction happens before the plan reaches this rule). */
  def rangeRoot(spark: SparkSession, dir: String, vecCol: String,
                owner: String = ""): Range = {
    val root = Ann.cellRoot(spark, dir, Some(vecCol))
      .as[Ann.CellRoot.Range]("registerRangeRoot")
    root.readModel
    Range(vecCol, "centroid_id", Ann.L2, () => {
      val model = root.readModel
      val rad = root.readRadii(model)
      model.collectedCentroids.toSeq.map { case (id, v) =>
        (id, v, rad.getOrElse(id, 0.0)) }
    }, owner)
  }

  /** [[rangeRoot]]'s executor-side form ([[RangeDist]]) over a
    * self-contained [[Ann.writeRangeIndex]] root: the admitted-cells
    * subplan joins the root's OWN centroids and radii side tables,
    * opened through the reader seat at every resolve — current file
    * listings per rewrite (appends grow radii without a re-pin;
    * splits rewrite both tables), torn-merge refusal live, and NO
    * driver-side collect at any point, which is what keeps the exact
    * rewrite viable at 100 TB cell counts. */
  def rangeRootDistributed(spark: SparkSession, dir: String,
                           vecCol: String,
                           owner: String = ""): RangeDist = {
    val root = Ann.cellRoot(spark, dir, Some(vecCol))
      .as[Ann.CellRoot.Range]("registerRangeRootDistributed")
    root.readModel
    RangeDist(vecCol, "centroid_id", () => {
      val model = root.readModel
      // LEFT join + coalesce(radius, 0.0): a cell missing its radii
      // row must be admitted with radius 0 exactly like the driver-
      // literal twin (rangeRoot uses rad.getOrElse(id, 0.0)) — an
      // inner join would silently prune a live cell under a
      // damaged/partial radii side table, making the two 'exact'
      // engines diverge
      model.centroids.join(
        root.radii.select(col(model.idCol), col("radius")),
        Seq(model.idCol), "left")
        .withColumn("radius", coalesce(col("radius"), lit(0.0)))
    }, owner)
  }

  /** A STORED quantized root as a [[Quantized]], MAINTENANCE-AWARE —
    * the family member of [[denseRoot]]'s recipe for SQ / PQ / 1-bit
    * layouts: the metric comes from the root's own geometry marker
    * (spherical roots serve cosine plans, the build's own contract),
    * and the resolver RE-OPENS the index at every resolve
    * ([[Ann.CellRoot.Quantized.readIndex]]), so every
    * maintenance wave reaches declarative probe selection with no
    * re-install — where a frozen `() => index` keeps scanning the
    * install-time FILE LISTING: after a split, the dissolved parent's
    * files are gone (the probed scan dies on FileNotFound at best) and
    * the sub-cells holding its rows are invisible at worst. Opening
    * per resolve rather than caching by fingerprint is deliberate: a
    * fresh-rows COMPACTION ([[Ann.compactQuantizedFresh]]) appends
    * encoded rows to the main layout WITHOUT a model re-pin (the
    * quantizer didn't change), so a fingerprint-keyed listing would
    * silently exclude every compacted row from phase-1 candidates —
    * and per-resolve opening keeps the torn-merge refusal live
    * mid-maintenance instead of serving a pre-merge listing of
    * half-moved files. The per-rewrite cost is the reader's bounded
    * metadata work (file listings; PQ re-collects its m·codes codebook
    * rows — the generic resolver contract's documented budget).
    * `refine <= 0` = the family default (5; 1-bit
    * [[Ann.defaultBitqRefine]]). */
  def quantizedRoot(spark: SparkSession, dir: String, vecCol: String,
                    idCol: String, probes: Int, refine: Int = -1,
                    owner: String = ""): Quantized = {
    val root = Ann.cellRoot(spark, dir, Some(vecCol))
      .as[Ann.CellRoot.Quantized]("registerQuantizedRoot")
    root.readModel
    Quantized(vecCol, idCol, () => root.readIndex, root.metric, probes,
      refine, owner)
  }

  /** A [[Ann.writeMatryoshka]] root as a [[Matryoshka]] for
    * `orderBy(l2_dist(vecCol, q)).limit(k)` plans — the truncation
    * member of the quantized-rewrite family. The root's marker is
    * read HERE (loudly — a missing or unreadable marker refuses the
    * registration, not the first query), pinning `dims` for the
    * binding's lifetime. */
  def matryoshka(vecCol: String, idCol: String, dir: String,
                 refine: Int = 5, owner: String = ""): Matryoshka = {
    require(refine >= 1, s"registerMatryoshka: refine >= 1, got $refine")
    val spark = SparkSession.active
    val (dims, rootMetric) =
      Ann.readMatryoshkaMeta(spark, dir, "registerMatryoshka")
    // the rewrite matches l2_dist plans; a cosine root's emb_pre is a
    // NORMALIZED prefix, so serving an L2 plan from it would rank the
    // candidate cut in the wrong space — refuse at registration, not
    // first query (cosine stays on the explicit matryoshkaTopKStored
    // surface, like the maxsim family before its rewrite landed)
    require(rootMetric == Ann.L2,
      s"registerMatryoshka: $dir is a metric=$rootMetric root — the " +
        "declarative rewrite serves l2_dist plans only; query cosine " +
        "roots via Ann.matryoshkaTopKStored(metric = Cosine)")
    Matryoshka(vecCol, idCol, dir, dims, probes = 0, refine, owner)
  }

  /** A [[Ann.writeMatryoshkaIvf]] root as a [[Matryoshka]] —
    * [[matryoshka]]'s composed twin: same l2_dist plan shape, but the
    * candidate cut probes cells first. The root resolves HERE
    * ([[Ann.cellRoot]] — missing/torn/cosine roots refuse the
    * registration, not the first query; the rewrite serves l2_dist
    * plans only), and every rewrite's probe opens it through its
    * reader seat ([[Ann.CellRoot.readModel]]: the torn-merge refusal
    * stays live, and centroids are collected once per re-pin). */
  def matryoshkaIvf(vecCol: String, idCol: String, dir: String,
                    probes: Int = 3, refine: Int = 5,
                    owner: String = ""): Matryoshka = {
    require(refine >= 1, s"registerMatryoshkaIvf: refine >= 1, got $refine")
    require(probes >= 1, s"registerMatryoshkaIvf: probes >= 1, got $probes")
    val root = Ann.cellRoot(SparkSession.active, dir, None)
      .as[Ann.CellRoot.MrlIvf]("registerMatryoshkaIvf")
    require(root.metric == Ann.L2,
      s"registerMatryoshkaIvf: $dir is a metric=${root.metric} root — " +
        "the declarative rewrite serves l2_dist plans only; query " +
        "cosine roots via Ann.searchStored")
    root.readModel
    Matryoshka(vecCol, idCol, dir, root.dims, probes, refine, owner,
      () => root.readModel.collectedCentroids.toSeq)
  }
}

/** Index-aware ANN top-k rewrite registry — the bindings
  * [[AnnTopKRule]] consults. The rule turns a brute-force
  * `Sort(dist(vec, query)) [+ Limit]` over a REGISTERED IVF-indexed
  * table into a probe-pruned scan: it injects
  * `Filter(centroid_id IN nearest-probe cells)` below the sort.
  * Physical planning then turns that filter into real partition
  * pruning when the table is stored `partitionBy(centroid_id)`
  * ([[Ann.writePartitioned]]).
  *
  * This is the declarative twin of the reference's
  * `SET LOCAL vchordrq.probes = N` (client.py:285-309): registering an
  * index (with its probe budget) is the user's opt-in to approximate
  * search; unregistered queries are untouched.
  *
  * Scope contract: a [[Binding]] keys on its column NAME (with the
  * cell or id column it names) — any plan whose scan exposes those
  * columns and sorts by a recognized distance expression over that
  * column is rewritten. Register distinct column names per logical
  * index. */
object AnnIndex {

  /** Every binding, keyed by its column: one per family slot (see
    * [[slot]]); bindings of different families on one column
    * coexist. */
  private val bindings = TrieMap.empty[String, List[Binding]]

  /** The slot a binding fills on its column. The quantized family
    * (codes and matryoshka prefixes) shares one — the rule serves one
    * candidate cut per column — and BM25 has one per id column. */
  private def slot(b: Binding): String = b match {
    case _: Binding.Quantized | _: Binding.Matryoshka => "quantized"
    case bm: Binding.Bm25 => s"Bm25/${bm.idCol}"
    case other => other.productPrefix
  }

  /** Registration collision guard: the rewrite rule disambiguates by
    * column NAMES, so a second TABLE binding the same column — in ANY
    * family: one table's probe index and another's SQ codes on
    * `embedding` would semi-join the first table's queries against the
    * second table's candidate ids — must fail loudly, not go silently
    * latest-wins (the BM25 registry's round-8 hardening, generalized).
    * BM25 scopes by (textCol, idCol), so keyword bindings on
    * different id columns never collide. Same owner = legitimate
    * re-install. */
  private def requireFreeOrSameOwner(b: Binding,
                                     held: List[Binding]): Unit =
    held.find(h => h.owner != b.owner && ((h, b) match {
      case (x: Binding.Bm25, y: Binding.Bm25) => x.idCol == y.idCol
      case _ => true
    })).foreach { h =>
      throw new IllegalStateException(
        s"${b.productPrefix} registration collision on '${b.column}': " +
          s"held by '${h.owner}' (${h.productPrefix}), requested by " +
          s"'${b.owner}'. The rewrite rule disambiguates by column " +
          "NAMES, so two tables sharing them cannot both register — " +
          "unregister the other table first, or rename one table's " +
          "columns.")
    }

  /** Bind `bs` for declarative rewrites, all or none: a collision on
    * any of them registers none. A same-owner binding in the same slot
    * is replaced. */
  def register(bs: Binding*): Unit = bindings.synchronized {
    val next = bs.foldLeft(Map.empty[String, List[Binding]]) { (acc, b) =>
      val held = acc.getOrElse(b.column, bindings.getOrElse(b.column, Nil))
      requireFreeOrSameOwner(b, held)
      acc.updated(b.column, b :: held.filterNot(h => slot(h) == slot(b)))
    }
    bindings ++= next
  }

  /** Remove every binding on the column, whoever owns it. */
  def unregister(column: String): Unit =
    bindings.synchronized(bindings.remove(column))

  /** Remove one table's bindings on the column only. Holds the same
    * monitor as [[register]] — an unsynchronized updateWith could
    * interleave with a concurrent register's read-modify-write and
    * resurrect the removed binding. */
  def unregister(column: String, owner: String): Unit =
    bindings.synchronized {
      bindings.updateWith(column)(
        _.map(_.filterNot(_.owner == owner)).filter(_.nonEmpty))
    }

  private[plans] def lookup(column: String): List[Binding] =
    bindings.getOrElse(column, Nil)

  /** True when ANY binding exists — the rule's fast-path guard. Once
    * installed the rule outlives every register/unregister pair in the
    * session (extraOptimizations has no uninstall), so a long-lived
    * session — notebook, service, the 119-gate bench — pays the
    * Sort/Limit pattern-match on every optimization pass of every
    * query even with nothing registered. Empty registry ⇒ no rewrite
    * can fire ⇒ skip the traversal. */
  private[plans] def hasAny: Boolean = bindings.nonEmpty

  /** Install the rewrite on a session (the
    * `spark.experimental.extraOptimizations` injection point; for a
    * config-driven install use `spark.sql.extensions` with
    * [[GraftExtensions]]). Idempotent. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(
        _.isInstanceOf[AnnTopKRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnTopKRule()
}

object AnnTopKRule {
  /** Marks the injected probe Filter so the idempotence guard survives
    * whatever the surrounding optimizer batch does to its shape:
    * in the `injectOptimizerRule` path this rule runs inside the operator-
    * optimization fixpoint, where OptimizeIn rewrites the injected In to
    * InSet (probes > inSetConversionThreshold) and ColumnPruning inserts
    * a Project between the Filter and the leaf — both defeat a purely
    * structural `Filter(In(...), LeafNode)` match and the batch then
    * re-injects every iteration until "Max iterations reached". Catalyst
    * copies tags through makeCopy/withNewChildren, so the tag outlives
    * those rewrites; the semantic In/InSet check is the backstop for
    * rules that build a replacement Filter from scratch. */
  private[plans] val Injected =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.ann.injected")
  /** Marks the semi-join injected by the candidate and subplan
    * rewrites (same idempotence rationale as [[Injected]]). */
  private[plans] val InjectedQuant =
    org.apache.spark.sql.catalyst.trees
      .TreeNodeTag[Unit]("graft.ann.injectedQuant")
}

case class AnnTopKRule() extends Rule[LogicalPlan] {

  /** Strip an optional top-level Round — score/dist columns are
    * typically `round(expr, n)` for oracle stability. */
  private def stripRound(e: Expression): Expression = e match {
    case r: Round => r.child
    case other => other
  }

  /** Strip any chain of casts (element casts, implicit widenings). */
  private def unwrap(x: Expression): Expression = x match {
    case Cast(c, _, _, _) => unwrap(c)
    case other => other
  }

  /** (vector attribute, query literal) from a recognized distance
    * expression, unwrapping an optional Round and element casts. */
  private def extractDist(e: Expression):
      Option[(AttributeReference, Array[Double], Ann.Metric)] = {
    def lit(x: Expression): Option[Array[Double]] = unwrap(x) match {
      case Literal(a: ArrayData, _) => Some(a.toDoubleArray())
      case _ => None
    }
    def attr(x: Expression): Option[AttributeReference] = unwrap(x) match {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    stripRound(e) match {
      case L2Dist(a, b) =>
        for (at <- attr(a); q <- lit(b)) yield (at, q, Ann.L2: Ann.Metric)
      case CosDist(a, b) =>
        for (at <- attr(a); q <- lit(b)) yield (at, q, Ann.Cosine: Ann.Metric)
      case UnaryMinus(DotProduct(a, b), _) =>
        for (at <- attr(a); q <- lit(b))
          yield (at, q, Ann.InnerProduct: Ann.Metric)
      case _ => None
    }
  }

  /** (multivector attribute, query token vectors) from a maxsim score
    * expression — `maxsim_dot(queryLit, mvCol)`, optionally rounded. */
  private def extractMaxsim(e: Expression):
      Option[(AttributeReference, Array[Array[Double]])] = {
    stripRound(e) match {
      case org.apache.spark.sql.graft.MaxSimDot(a, b) =>
        (unwrap(a), unwrap(b)) match {
          case (Literal(q: ArrayData,
              org.apache.spark.sql.types.ArrayType(et, _)),
              at: AttributeReference) =>
            val qs = q.toObjectArray(et).map {
              case ad: ArrayData => ad.toDoubleArray()
              case _ => return None
            }
            if (qs.nonEmpty) Some((at, qs)) else None
          case _ => None
        }
      case _ => None
    }
  }

  /** (text attribute, query terms) from a BM25 score expression —
    * [[org.apache.spark.sql.graft.Bm25Score]], optionally rounded. The
    * node already rounds internally, so query terms live in its own
    * fields, not a child literal. */
  private def extractBm25(e: Expression):
      Option[(AttributeReference, Seq[String])] = {
    stripRound(e) match {
      case b: org.apache.spark.sql.graft.Bm25Score =>
        unwrap(b.child) match {
          case at: AttributeReference => Some((at, b.terms))
          case _ => None
        }
      case _ => None
    }
  }

  /** (indices attribute, query indices, query weights) from a sparse
    * score expression — [[org.apache.spark.sql.graft.SparseDotQ]],
    * optionally rounded; the query lives in the node's own literal
    * fields, like [[extractBm25]]. */
  private def extractSparse(e: Expression):
      Option[(AttributeReference, AttributeReference,
              Seq[Int], Seq[Double])] = {
    stripRound(e) match {
      case s: org.apache.spark.sql.graft.SparseDotQ =>
        (unwrap(s.left), unwrap(s.right)) match {
          case (ai: AttributeReference, av: AttributeReference) =>
            Some((ai, av, s.qIdx, s.qVal))
          case _ => None
        }
      case _ => None
    }
  }

  /** (distance expression, eps) from the first `dist <= eps` /
    * `dist < eps` conjunct of a filter condition. */
  private def rangeConjunct(cond: Expression): Option[(Expression, Double)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def litDouble(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case Literal(d: org.apache.spark.sql.types.Decimal, _) =>
        Some(d.toDouble)
      case _ => None
    }
    conjuncts(cond).collectFirst(Function.unlift {
      case LessThanOrEqual(d, l) if extractDist(d).isDefined =>
        litDouble(l).map((d, _))
      case LessThan(d, l) if extractDist(d).isDefined =>
        litDouble(l).map((d, _))
      case _ => None
    })
  }

  /** The alias behind the plan's leading sort key, when it sorts in
    * `dir`. */
  private def sortAlias(order: Seq[SortOrder], fields: Seq[NamedExpression],
                        dir: SortDirection): Option[Alias] = for {
    key <- order.head match {
      case SortOrder(a: Attribute, d, _, _) if d == dir => Some(a)
      case _ => None
    }
    alias <- fields.collectFirst {
      case a: Alias if a.exprId == key.exprId => a }
  } yield alias

  /** True when `child` already carries an injected (or semantically
    * equivalent) candidate semi-join on this id attribute — the shared
    * idempotence guard of the semi-join rewrites. */
  private def hasCandidateSemiJoin(child: LogicalPlan,
                                   idAttr: Attribute): Boolean =
    child.exists {
      case j: Join =>
        j.getTagValue(AnnTopKRule.InjectedQuant).isDefined ||
          (j.joinType == LeftSemi && j.condition.exists(_.exists {
            case EqualTo(a: AttributeReference, _) =>
              a.exprId == idAttr.exprId
            case _ => false
          }))
      case _ => false
    }

  /** True when a probe filter on `cellAttr` already exists in `plan` —
    * by tag (survives makeCopy/withNewChildren rewrites) or
    * semantically as In/InSet on the same exprId (survives rules that
    * rebuild the Filter). A user's own In-filter on the cell column
    * also matches: they have pruned cells themselves, re-pruning could
    * only hide rows. `self` (the range arm's own Filter) is exempt
    * from the semantic match. */
  private def cellFiltered(plan: LogicalPlan, cellAttr: Attribute,
                           self: Option[Filter] = None): Boolean =
    plan.exists {
      case f: Filter =>
        f.getTagValue(AnnTopKRule.Injected).isDefined ||
          (!self.exists(_ fastEquals f) && f.condition.exists {
            case In(c: AttributeReference, _) => c.exprId == cellAttr.exprId
            case InSet(c: AttributeReference, _) =>
              c.exprId == cellAttr.exprId
            case _ => false
          })
      case _ => false
    }

  /** `child` rebuilt with `node(leaf)` in place of the target leaf. */
  private def plantAbove(child: LogicalPlan, leaf: LeafNode)(
      node: LeafNode => LogicalPlan): Option[LogicalPlan] = {
    var injected = false
    val out = child.transformUp {
      case l: LeafNode if !injected && (l fastEquals leaf) =>
        injected = true
        node(l)
    }
    if (injected) Some(out) else None
  }

  /** Plant a cell cut above the leaf that PRODUCES `vecAttr` (exprId
    * match, so a same-named column on the other side of a join never
    * confuses the rule) and exposes `cellCol`, unless `done` says the
    * cut already happened. `node` builds the cut from the cell
    * attribute. */
  private def plantCut(child: LogicalPlan, vecAttr: AttributeReference,
                       cellCol: String)(done: Attribute => Boolean)(
      node: Attribute => LeafNode => LogicalPlan): Option[LogicalPlan] =
    for {
      leaf <- child.collectFirst {
        case l: LeafNode if l.output.exists(_.exprId == vecAttr.exprId) &&
            l.output.exists(_.name == cellCol) => l
      }
      cellAttr = leaf.output.find(_.name == cellCol).get
      if !done(cellAttr)
      planted <- plantAbove(child, leaf)(node(cellAttr))
    } yield planted

  /** `Filter(cellAttr IN cells)` directly above the target leaf —
    * FileSourceStrategy then lifts it into PartitionFilters. The
    * literal type must match the column (partition columns read back
    * as int) or the plan becomes unresolved post-analysis. */
  private def cellFilter(cellAttr: Attribute, cells: Seq[Long])(
      l: LeafNode): LogicalPlan = {
    val lits = cells.map { p =>
      cellAttr.dataType match {
        case IntegerType => Literal(p.toInt)
        case ShortType => Literal(p.toShort)
        case StringType => Literal(p.toString)
        case _ => Literal(p)
      }
    }
    val f = Filter(In(cellAttr, lits), l)
    f.setTagValue(AnnTopKRule.Injected, ())
    f
  }

  /** Tagged LEFT SEMI join of `left` against the single-column `cand`
    * plan on `key`. `cand` arrives pre-optimized: this rule can run as
    * the LAST optimizer batch (experimental.extraOptimizations), where
    * an un-optimized injected subtree would never get its own
    * pruning/pushdown. */
  private def semiJoin(left: LogicalPlan, key: Attribute,
                       cand: LogicalPlan): LogicalPlan = {
    val j = Join(left, cand, LeftSemi, Some(EqualTo(key, cand.output.head)),
      JoinHint.NONE)
    j.setTagValue(AnnTopKRule.InjectedQuant, ())
    j
  }

  /** `l` filtered by a DynamicPruningSubquery on `cellAttr` against the
    * single-column `cells` plan. The semi-join alone bounds COMPUTE
    * but not IO: on a partitionBy(cellCol) layout the scan would still
    * read every cell directory, because Spark's own PartitionPruning
    * rule only fires when the build side carries a selective Filter (a
    * Sort+Limit probe subplan has none — and a no-op tautology
    * predicate gets constant-folded away before the heuristic sees
    * it). So the rule plants the DynamicPruningSubquery itself —
    * exactly the expression PartitionPruning would have placed, build
    * side = the same subplan, with onlyInBroadcast=false so it
    * executes as a plain in-subquery even if the join side is not
    * broadcast (duplicated probe work = one scan of the tiny centroids
    * table). CleanupDynamicPruningFilters drops the filter harmlessly
    * when the leaf is not a pruning-capable scan (in-memory tables,
    * non-partitioned layouts). */
  private def dppFilter(cellAttr: Attribute, cells: LogicalPlan,
                        l: LogicalPlan): LogicalPlan =
    Filter(DynamicPruningSubquery(cellAttr, cells, Seq(cells.output.head),
      Seq(0), onlyInBroadcast = false), l)

  /** The leaf of `child` that produces `attr` and exposes `idCol`,
    * with its id attribute. */
  private def idLeaf(child: LogicalPlan, attr: AttributeReference,
                     idCol: String): Option[(LeafNode, Attribute)] =
    child.collectFirst {
      case l: LeafNode if l.output.exists(_.exprId == attr.exprId) &&
          l.output.exists(_.name == idCol) => l
    }.map(l => (l, l.output.find(_.name == idCol).get))

  /** `child` with the candidate semi-join against `candPlan` planted
    * above `leaf` (and, with `dpp`, a DynamicPruningSubquery on the
    * leaf's cell column). The leaf is pruned to what `consumers` and
    * the rest of `child` read (+ join key + DPP cell column): the
    * injected Join sits directly over the scan, breaking the
    * PhysicalOperation pattern FileSourceStrategy prunes columns
    * through — without this Project the scan reads EVERY column of
    * the table. */
  private def candidateCut(child: LogicalPlan, consumers: Seq[Expression],
                           leaf: LeafNode, idAttr: Attribute,
                           candPlan: LogicalPlan,
                           dpp: Option[(Attribute, LogicalPlan)] = None)
      : Option[LogicalPlan] =
    plantAbove(child, leaf) { l =>
      val base = dpp.fold[LogicalPlan](l) {
        case (cellAttr, probePlan) => dppFilter(cellAttr, probePlan, l)
      }
      val consumed = AttributeSet(
        consumers.flatMap(_.references) ++
          child.collect { case n if !(n fastEquals leaf) => n }
            .flatMap(_.references)) ++
        AttributeSet(dpp.map(_._1).toSeq) + idAttr
      val keep = l.output.filter(consumed.contains)
      semiJoin(if (keep.length == l.output.length) base
        else Project(keep, base), idAttr, candPlan)
    }

  /** The executor-side cell cut: semi-join + DPP against `cells`. */
  private def cellSemiJoin(cellAttr: Attribute, cells: DataFrame)(
      l: LeafNode): LogicalPlan = {
    val plan = cells.queryExecution.optimizedPlan
    semiJoin(dppFilter(cellAttr, plan, l), cellAttr, plan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!AnnIndex.hasAny) plan else plan.transform {
    // CANDIDATE rewrites (quantized > maxsim > bm25 > sparse): need k
    // (phase-1 scans top-k·refine candidates), so they match the Limit
    // over the Sort. The candidate sub-plan is built from the bound
    // index's DataFrames and injected as a LEFT SEMI join above the
    // leaf — the surviving Sort+Limit then IS the exact re-rank, and
    // the full-precision vectors are only read for candidate rows.
    case gl @ GlobalLimit(IntegerLiteral(k),
        ll @ LocalLimit(_,
          s @ Sort(order, true, proj @ Project(fields, child), _)))
        if order.nonEmpty && k > 0 =>
      // `dpp` (maxsim-IVF): ALSO wrap the re-rank leaf in a
      // DynamicPruningSubquery on its cell column — candidates only
      // come from probed cells, so the phase-2 scan may skip unprobed
      // cell directories too (without it the token-matrix read is
      // corpus-sized even though phase-1 is pruned).
      def inject(leaf: LeafNode, idAttr: Attribute, candPlan: LogicalPlan,
                 dpp: Option[(Attribute, LogicalPlan)] = None)
          : LogicalPlan =
        candidateCut(child, fields ++ order, leaf, idAttr, candPlan, dpp)
          .fold[LogicalPlan](gl)(c =>
            gl.copy(child = ll.copy(child =
              s.copy(child = proj.copy(child = c)))))
      // The k-limited injections are UNSOUND under a Filter between the
      // Sort and the leaf: candidate budgets (k·refine) are computed
      // over the UNFILTERED corpus, so a selective predicate would
      // starve the result set (top-50 global candidates, then a 1%
      // filter → ~0 of the k rows the exact plan returns). Bail out and
      // leave the exact plan — filtered queries are outside the
      // reference's query_vec surface (registry.py:190-225) and outside
      // the approximation contract. (The plain probe-filter rewrite
      // below composes fine with user filters: it prunes cells, never
      // truncates to a candidate count.)
      lazy val hasUserFilter =
        child.collectFirst { case _: Filter => () }.isDefined
      // quantized dense path: ASCENDING by a recognized distance
      def quant = for {
        alias <- sortAlias(order, fields, Ascending)
        if !hasUserFilter
        (vecAttr, q, metric) <- extractDist(alias.child)
        (idCol, candidateIds) <- AnnIndex.lookup(vecAttr.name).collectFirst {
          case b: Binding.Quantized if b.metric == metric =>
            (b.idCol, () => b.candidateIds(q, k))
          case b: Binding.Matryoshka if b.metric == metric =>
            (b.idCol, () => b.candidateIds(q, k))
        }
        (leaf, idAttr) <- idLeaf(child, vecAttr, idCol)
        // idempotence: one injected semi-join per plan (tag survives
        // makeCopy/withNewChildren; a LeftSemi on the same id exprId is
        // the semantic backstop)
        if !hasCandidateSemiJoin(child, idAttr)
      } yield inject(leaf, idAttr,
        candidateIds().queryExecution.optimizedPlan)
      // maxsim path: DESCENDING by a maxsim_dot score. With an IVF the
      // re-rank leaf ALSO gets the probe DPP (phase-2 cell pruning).
      def maxsim = for {
        alias <- sortAlias(order, fields, Descending)
        if !hasUserFilter
        (mvAttr, qs) <- extractMaxsim(alias.child)
        b <- AnnIndex.lookup(mvAttr.name).collectFirst {
          case b: Binding.Maxsim => b }
        (leaf, idAttr) <- idLeaf(child, mvAttr, b.idCol)
        if !hasCandidateSemiJoin(child, idAttr)
      } yield {
        val dpp = for {
          ix <- b.ivf
          cellAttr <- leaf.output.collectFirst {
            case a: AttributeReference if a.name == ix.cellCol => a }
          // the cell column must belong to the ASSIGNED layout itself:
          // a user table can carry an unrelated column with the same
          // name, and filtering IT against probe ids would silently
          // drop re-rank rows — plant the phase-2 DPP only when the
          // re-rank leaf IS the assigned relation
          if b.resolve().queryExecution.analyzed.collectLeaves()
            .exists(_ fastEquals leaf)
        } yield (cellAttr: Attribute,
          ix.probeCellsDf(Ann.queryCentroid(qs.map(_.toSeq).toSeq),
            cellAttr.dataType).queryExecution.optimizedPlan)
        inject(leaf, idAttr, b.candidatePlan(qs, k), dpp)
      }
      // keyword path: DESCENDING by a bm25_score; among same-named
      // bindings, the one whose id column this plan's leaf exposes
      // wins (see the Binding.Bm25 scope note)
      def bm25 = for {
        alias <- sortAlias(order, fields, Descending)
        if !hasUserFilter
        (textAttr, terms) <- extractBm25(alias.child)
        (b, (leaf, idAttr)) <- AnnIndex.lookup(textAttr.name)
          .collect { case b: Binding.Bm25 => b }
          .flatMap(b => idLeaf(child, textAttr, b.idCol).map((b, _)))
          .headOption
        if !hasCandidateSemiJoin(child, idAttr)
      } yield inject(leaf, idAttr,
        b.candidateIds(terms, k).queryExecution.optimizedPlan)
      // sparse path: DESCENDING by a sparse_dot_q score — candidates
      // from the inverted postings, same-score exact re-rank
      def sparse = for {
        alias <- sortAlias(order, fields, Descending)
        if !hasUserFilter
        (idxAttr, valAttr, qIdx, qVal) <- extractSparse(alias.child)
        b <- AnnIndex.lookup(idxAttr.name).collectFirst {
          case b: Binding.Sparse => b }
        // the VALUES side must be the bound pair's values column and
        // come from the same relation — a score over different
        // weights must not be answered from these postings
        if valAttr.name == b.valCol
        (leaf, idAttr) <- idLeaf(child, idxAttr, b.idCol)
        if leaf.output.exists(_.exprId == valAttr.exprId)
        if !hasCandidateSemiJoin(child, idAttr)
      } yield inject(leaf, idAttr,
        b.candidateIds(qIdx, qVal, k).queryExecution.optimizedPlan)
      quant.orElse(maxsim).orElse(bm25).orElse(sparse).getOrElse(gl)

    // PROBE rewrite: the literal probe filter ([[Binding.Probe]]) first —
    // on the scanned cell column, else as an id semi-join against the
    // binding's assigned layout in the probed cells — else the
    // executor-side probe subplan ([[Binding.ProbeDist]]).
    case s @ Sort(order, true, proj @ Project(fields, child), _)
        if order.nonEmpty =>
      (for {
        alias <- sortAlias(order, fields, Ascending)
        (vecAttr, q, metric) <- extractDist(alias.child)
        bound = AnnIndex.lookup(vecAttr.name)
        planted <- bound
          .collectFirst { case b: Binding.Probe if b.metric == metric => b }
          .flatMap(b => plantCut(child, vecAttr, b.cellCol)(
              cellFiltered(child, _))(c => cellFilter(c, b.probeCells(q)))
            .orElse(for {
              rows <- b.layout
              (leaf, idAttr) <- idLeaf(child, vecAttr, b.idCol)
              if !hasCandidateSemiJoin(child, idAttr)
              cut <- candidateCut(child, fields ++ order, leaf, idAttr,
                b.probedIds(rows(), q).queryExecution.optimizedPlan)
            } yield cut))
          .orElse(bound
            .collectFirst {
              case b: Binding.ProbeDist if b.metric == metric => b }
            .flatMap(b => plantCut(child, vecAttr, b.cellCol)(
              hasCandidateSemiJoin(child, _))(c =>
              cellSemiJoin(c, b.probeCellsDf(q.toSeq, c.dataType)))))
      } yield s.copy(child = proj.copy(child = planted))).getOrElse(s)

    // RANGE rewrite: a plain `filter(round(dist(vec, qLit), s) <= eps)`
    // over a table with a bound range index gets the EXACT radii-based
    // cell cut injected above its leaf — provably-empty cell
    // directories leave the scan, results never change (the one
    // rewrite here with no approximation contract at all). The eps
    // conjunct may sit anywhere in a conjunction; other conjuncts
    // (user predicates) are untouched and compose as PushedFilters.
    // The literal cut ([[Binding.Range]]) first, else the same cut
    // computed by a subplan over the (centroid, radius) side table
    // ([[Binding.RangeDist]]: LeftSemi bounds compute, the planted
    // DynamicPruningSubquery bounds IO).
    case f @ Filter(cond, child) =>
      // fp headroom under the query's own rounding: a rounded distance
      // can sit up to one unit of its last digit below the true one
      def roundSlack(e: Expression): Double = e match {
        case r: Round => r.scale match {
          case Literal(s: Int, _) => math.pow(10.0, -s)
          case _ => 1.0e-6
        }
        case _ => 1.0e-9 // unrounded distance: fp-noise headroom only
      }
      (for {
        (distE, eps) <- rangeConjunct(cond)
        (vecAttr, q, metric) <- extractDist(distE)
        bound = AnnIndex.lookup(vecAttr.name)
        slack = roundSlack(distE)
        planted <- bound
          .collectFirst { case b: Binding.Range if b.metric == metric => b }
          .flatMap(b => plantCut(child, vecAttr, b.cellCol)(
            cellFiltered(f, _, Some(f)))(c =>
            cellFilter(c, b.cellsFor(q, eps, slack))))
          .orElse(bound
            .collectFirst {
              case b: Binding.RangeDist if b.metric == metric => b }
            // the literal arm's work also counts: a column bound in
            // BOTH range forms would otherwise get a redundant
            // LeftSemi + DynamicPruningSubquery stacked on the already-
            // injected literal cell filter on a second rule
            // application — results stay exact but the admitted-cells
            // subplan runs for nothing
            .flatMap(b => plantCut(child, vecAttr, b.cellCol)(c =>
              hasCandidateSemiJoin(child, c) ||
                cellFiltered(f, c, Some(f)))(c =>
              cellSemiJoin(c, b.admittedCellsDf(q, eps, slack,
                c.dataType)))))
      } yield f.copy(child = planted)).getOrElse(f)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` config-driven
  * install (SparkSessionExtensions), injecting the ANN rewrite and the
  * SQL vector functions (`l2_dist`, `cos_dist`, `dot_product`,
  * `maxsim_dot` — the same codegen'd expressions the Column API uses,
  * so `spark.sql("... ORDER BY l2_dist(vec, q) LIMIT k")` plans hit
  * the registered-index rewrites too). */
class GraftExtensions
  extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => AnnTopKRule())
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.graft.{CosDist => CD, DotProduct => DP,
      L2Dist => L2D, MaxSimDot => MSD}
    def fn(name: String, build: Seq[Expression] => Expression) =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), build))
    fn("l2_dist", es => L2D(es.head, es(1)))
    fn("cos_dist", es => CD(es.head, es(1)))
    fn("dot_product", es => DP(es.head, es(1)))
    fn("maxsim_dot", es => MSD(es.head, es(1)))
  }
}
