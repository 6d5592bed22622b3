package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Nearest-neighbor search operators over `array<float>` embedding columns.
  *
  * Mirrors the reference's `query_vec` top-k search
  * (/root/reference/vechord/client.py:294-321) and its IVF index + probes
  * pruning (client.py:285-292, spec.py:437-444), Spark-first:
  *
  *  - exact top-k is `withColumn(dist) → orderBy → limit(k)` which Catalyst
  *    executes as TakeOrderedAndProject — a per-partition bounded heap plus
  *    a driver merge, never a full sort; at 1000 executors each task keeps
  *    only k rows.
  *  - the ANN path prunes by IVF cell: vectors carry a precomputed
  *    `centroid_id` (assigned at index-build), the query probes only the
  *    nearest `probes` cells. When the table is written partitioned by
  *    `centroid_id`, the `isin(probes)` filter becomes partition pruning —
  *    the semantic twin of `SET LOCAL vchordrq.probes`.
  *  - batch kNN (the dedup/self-similarity primitive) broadcasts the query
  *    set and keeps a bounded per-(partition, query) heap inside
  *    `mapPartitions`: no N×Q shuffle ever materializes; the only shuffled
  *    data is `numPartitions × Q × k` candidate rows.
  */
object Ann {

  sealed trait Metric {
    /** Distance column (smaller = more similar). */
    def dist(a: Column, b: Column): Column
    /** Same math on the driver/executor side; MUST fold in array order so
      * it is bit-identical to the column form (both are sequential
      * left-to-right double adds). */
    def distScala(a: Array[Double], b: Array[Double]): Double
    /** Per-vector precomputable factor (cosine: the L2 norm). */
    def norm(a: Array[Double]): Double = 0.0
    /** distScala with both norms precomputed — MUST be bit-identical to
      * [[distScala]] (same operations in the same order); the batch kNN
      * hot loop uses this so norms are computed once per vector, not
      * once per pair. */
    def distScalaN(a: Array[Double], na: Double,
                   b: Array[Double], nb: Double): Double = distScala(a, b)
    protected final def dotScala(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
  }
  case object L2 extends Metric {
    def dist(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.VecExprs.l2Dist(a, b)
    def distScala(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc)
    }
  }
  case object Cosine extends Metric {
    def dist(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.VecExprs.cosDist(a, b)
    def distScala(a: Array[Double], b: Array[Double]): Double =
      1.0 - dotScala(a, b) / (norm(a) * norm(b))
    override def norm(a: Array[Double]): Double = {
      var n2 = 0.0; var i = 0
      while (i < a.length) { n2 += a(i) * a(i); i += 1 }
      math.sqrt(n2)
    }
    override def distScalaN(a: Array[Double], na: Double,
                            b: Array[Double], nb: Double): Double =
      1.0 - dotScala(a, b) / (na * nb)
  }
  case object InnerProduct extends Metric {
    def dist(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.VecExprs.negDot(a, b)
    def distScala(a: Array[Double], b: Array[Double]): Double =
      -dotScala(a, b)
  }

  /** L2-normalize a vector column: x_i / sqrt(Σ x²), the sequential
    * left-to-right double fold every other vector op uses. On the unit
    * sphere, L2 ordering equals cosine-distance ordering
    * (‖a−b‖² = 2·(1−a·b) for unit a, b) — the normalize-then-L2
    * equivalence behind spherical centroids (the reference's default
    * for cos/dot indexes, /root/reference/vechord/spec.py:437-444).
    * NOTE: O(dim²) as a single expression (the norm subtree repeats per
    * element) — fine for query vectors and centroid tables; bulk doc
    * normalization goes through [[withNormalized]] instead. */
  def l2Normalize(vec: Column): Column = {
    val dv = vec.cast("array<double>")
    val n = sqrt(aggregate(dv, lit(0.0), (a, x) => a + x * x))
    transform(dv, x => x / n)
  }

  /** [[l2Normalize]] for QUERY vectors: a literal column normalizes on
    * the driver (same IEEE ops in the same order — left-to-right
    * squared-sum fold, sqrt, divide — so the result is bit-identical
    * to the column form and to the DuckDB twin), which keeps the
    * per-query expression tree O(dim) instead of embedding the O(dim²)
    * normalize subtree into every downstream zip_with/codegen unit.
    * Non-literal columns fall back to the expression form. */
  private def l2NormalizeQuery(queryVec: Column): Column =
    org.apache.spark.sql.graft.VecExprs.catalystExpr(queryVec) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          a: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _)) =>
        // the ONE driver-side normalizer (normalizeSeq) — two copies
        // of the bit-for-bit contract would silently de-sync
        typedlit(normalizeSeq(a.toDoubleArray().toSeq))
      case _ => l2Normalize(queryVec)
    }

  /** Bulk form of [[l2Normalize]] as a single-pass UDF: higher-order
    * column functions (transform/aggregate) evaluate INTERPRETED with
    * per-element boxing, and once CollapseProject inlines the norm
    * subtree into the element lambda the column form degrades to
    * O(dim²) boxed ops per row in every consuming branch — measured 2×
    * on the cosine index build. The UDF does the identical IEEE ops in
    * the identical order (left-to-right squared-sum fold, sqrt,
    * divide), so results are bit-for-bit the same. */
  private val l2NormalizeUdf = udf { (v: Seq[Double]) =>
    val arr = v.toArray
    var n2 = 0.0
    var i = 0
    while (i < arr.length) { n2 += arr(i) * arr(i); i += 1 }
    val n = math.sqrt(n2)
    val out = new Array[Double](arr.length)
    i = 0
    while (i < arr.length) { out(i) = arr(i) / n; i += 1 }
    out
  }
  private def withNormalized(docs: DataFrame, vecCol: String,
                             out: String): DataFrame =
    docs.withColumn(out, l2NormalizeUdf(col(vecCol).cast("array<double>")))

  /** Model with unit-norm centroids (spherical form): same argmin cells
    * and probe choices as cosine against the raw centroids, but usable
    * with the L2 machinery on normalized vectors. */
  def normalizeModel(model: IvfModel): IvfModel =
    model.copy(centroids = model.centroids
      .withColumn(model.vecCol,
        l2NormalizeUdf(col(model.vecCol).cast("array<double>"))))

  /** HALF_UP rounding identical to Spark's / DuckDB's `round`. */
  private[graft] def roundScala(v: Double, scale: Int): Double =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[roundScala]] without the per-call BigDecimal allocation on the
    * common path: `v·10^scale` decides the rounding unless its fractional
    * part sits within a few ulps of the .5 boundary (where the multiply's
    * rounding error could flip the decision) — only then fall back to
    * exact BigDecimal. `m / 10^scale` is IEEE-correctly-rounded, i.e. the
    * same double BigDecimal produces for the integer m, so the fast and
    * slow paths agree bit-for-bit. Heap comparisons in the kNN hot loop
    * therefore keep EXACTLY the rounded ordering (tie-breaks included)
    * at ~zero allocation cost. */
  private[graft] def roundFast(v: Double, scale: Int, pow: Double): Double = {
    val y = v * pow
    if (math.abs(y) >= (1L << 52).toDouble) return roundScala(v, scale)
    val f = math.floor(y)
    val frac = y - f
    val eps = 8.0 * math.ulp(math.max(math.abs(y), 1.0))
    if (math.abs(frac - 0.5) <= eps) roundScala(v, scale)
    else (if (frac > 0.5) f + 1.0 else f) / pow
  }

  /** Exact brute-force top-k: distances rounded to `roundTo` decimals for
    * a reproducible ordering (ties broken by id asc). */
  def topK(docs: DataFrame, idCol: String, vecCol: String, queryVec: Column,
           metric: Metric, k: Int, roundTo: Int = 6): DataFrame =
    docs
      .withColumn("dist", round(metric.dist(col(vecCol), queryVec), roundTo))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)

  /** Matryoshka (MRL) adaptive two-phase top-k — the DIMENSION-
    * truncation compression axis next to the value-quantization
    * family (SQ / 1-bit / PQ): phase 1 ranks every row by L2 on the
    * first `dims` coordinates only (matryoshka-trained embeddings
    * front-load their information, so a short prefix preserves
    * neighborhood structure), keeps the top `candidates`; phase 2
    * re-scores exactly those candidates at full precision. Both
    * phases' scores rounded to `roundTo` before their orderings
    * (ties id asc) so an external engine replays both cuts. Returns
    * (id, pre_dist, dist) — the phase-1 score rides along, pinning
    * the candidate cut, not just the final ranking.
    *
    * Scale shape: ONE scan — the prefix distance is a map-only
    * column expression over a `slice` of the vector (no join, no
    * index build), phase 1 is a TakeOrdered-`candidates`, phase 2
    * re-scores `candidates` rows on the driver-bound result frame.
    * At rest, the natural layout materializes the prefix as its own
    * column so phase 1 column-prunes the full vector exactly like
    * the SQ/PQ codes-only scans (r11/r37 pattern); this in-memory
    * form trades only CPU, not IO. */
  def matryoshkaTopK(docs: DataFrame, idCol: String, vecCol: String,
                     q: Seq[Double], dims: Int, candidates: Int,
                     k: Int, roundTo: Int = 6,
                     metric: Metric = L2): DataFrame = {
    require(dims >= 1 && dims <= q.length,
      s"matryoshkaTopK: dims must be in [1, ${q.length}], got $dims")
    require(candidates >= k,
      s"matryoshkaTopK: candidates ($candidates) must be >= k ($k)")
    requireMatryoshkaMetric(metric, "matryoshkaTopK")
    // same wrong-space refusal as the stored form: a doc vector
    // longer than the query passes the dims guard, then the phase-2
    // fold walks the doc's length past the query array
    docs.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("__d")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getInt(0) == q.length,
          s"matryoshkaTopK: vectors have ${r.getInt(0)} dims but the " +
            s"query has ${q.length} — wrong embedding space")
      }
    val v = col(vecCol).cast("array<double>")
    // cosine rides the r63 normalize-then-L2 reduction: on the unit
    // sphere ‖â−b̂‖² = 2·cosDist(a,b), so the PREFIX of the normalized
    // vector preserves the neighborhood structure the cut relies on
    // (an unnormalized prefix under cosine would rank by a mixture of
    // direction and the truncated tail's mass — not a valid cut).
    // Phase 2 is TRUE cosine on the raw vectors, like every other
    // cosine index's exact re-rank.
    val (preDoc, preQ) = metric match {
      case Cosine =>
        (slice(l2NormalizeUdf(v), lit(1), lit(dims)),
          typedlit(normalizeSeq(q).take(dims)))
      case _ =>
        (slice(v, lit(1), lit(dims)), typedlit(q.take(dims)))
    }
    val pre = round(org.apache.spark.sql.graft.VecExprs.l2Dist(
      preDoc, preQ), roundTo)
    docs
      .select(col(idCol), v.as("__v"), pre.as("pre_dist"))
      .orderBy(col("pre_dist").asc, col(idCol).asc)
      .limit(candidates)
      .select(col(idCol), col("pre_dist"),
        round(metric.dist(col("__v"), typedlit(q)), roundTo).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** The matryoshka metric contract: L2 native, cosine via the
    * normalize-then-L2 reduction (real truncatable embedding models —
    * the reference's Gemini/OpenAI/Voyage providers,
    * /root/reference/vechord/embedding.py:114-160,267-308 — are
    * cosine-normalized). Inner product is refused: unbounded norms
    * admit no sphere reduction, so a prefix cut has no neighborhood
    * contract to honor. */
  private[graft] def requireMatryoshkaMetric(metric: Metric, who: String): Unit =
    require(metric == L2 || metric == Cosine,
      s"$who: matryoshka supports L2 (native) and cosine (via the " +
        s"normalize-then-L2 reduction) — got $metric; inner product " +
        "has no prefix-cut neighborhood contract (unbounded norms)")

  /** Driver-side twin of [[l2NormalizeUdf]] for query vectors — the
    * IDENTICAL IEEE ops in the identical order (left-to-right squared-
    * sum fold, sqrt, divide), so a driver-normalized query is
    * bit-for-bit what the column form would produce. */
  private[graft] def normalizeSeq(q: Seq[Double]): Seq[Double] =
    normalizeDriver(q.toArray).toSeq

  /** At-rest matryoshka layout — the storage form that makes
    * [[matryoshkaTopK]]'s truncation REAL at scale: the prefix is
    * materialized as its OWN parquet column (`emb_pre`) next to the
    * full vector (`emb_full`), so the phase-1 scan column-prunes the
    * full-precision bytes exactly like the SQ/PQ codes-only scans —
    * at 100 TB phase 1 reads dims/D of the vector bytes. `dims` is
    * pinned by a marker so a reader can never slice differently than
    * the writer materialized. */
  def writeMatryoshka(vecs: DataFrame, idCol: String, vecCol: String,
                      dims: Int, dir: String,
                      keepCols: Seq[String] = Nil,
                      metric: Metric = L2): Unit = {
    require(dims >= 1, s"writeMatryoshka: dims must be >= 1, got $dims")
    requireMatryoshkaMetric(metric, "writeMatryoshka")
    val v = col(vecCol).cast("array<double>")
    // cosine: emb_pre is the prefix of the L2-NORMALIZED vector (the
    // r63 reduction — see matryoshkaTopK); emb_full stays RAW so the
    // exact re-rank is true cosine, like every other cosine index
    val pre = metric match {
      case Cosine => slice(l2NormalizeUdf(v), lit(1), lit(dims))
      case _ => slice(v, lit(1), lit(dims))
    }
    // keepCols carries filterable metadata into the layout (the
    // filtered-search family: predicates push into the phase-1 scan
    // next to emb_pre without ever touching emb_full)
    vecs.select(col(idCol) +: pre.as("emb_pre")
        +: v.as("emb_full") +: keepCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$dir/rows")
    graft.io.Markers.write(vecs.sparkSession, dir,
      "_graft_matryoshka", matryoshkaMarker(dims, metric))
  }

  /** The ONE composer of the `_graft_matryoshka` marker value —
    * `dims=N` for L2 (the pre-cosine format, so existing roots stay
    * readable) and `dims=N;metric=cos` for cosine roots. Paired with
    * [[readMatryoshkaMeta]]; nothing else writes the string. */
  private[graft] def matryoshkaMarker(dims: Int, metric: Metric): String =
    metric match {
      case Cosine => s"dims=$dims;metric=cos"
      case _ => s"dims=$dims"
    }

  /** Batch (query-log) matryoshka replay — [[matryoshkaTopK]]'s
    * two phases for EVERY query in one job, completing the family's
    * batch form (the r04/r13/r33/r34 pattern): phase 1 is one
    * [[knnJoin]] over the `dims`-sliced vectors (broadcast queries,
    * bounded per-partition heaps — the shuffle is partitions × Q ×
    * `candidates` rows, corpus-size-independent), phase 2 re-scores
    * each query's candidates at full precision via one equi-join on
    * the doc id plus the broadcast query set, rank window per query.
    * Returns (qId, dId, pre_dist, dist, rank), rank ≤ `k`, both
    * phases' scores rounded before their orderings (ties id asc).
    * Cosine rides the r63 normalize-then-L2 reduction in phase 1
    * (normalized prefixes both sides) and TRUE cosine in phase 2 —
    * [[matryoshkaTopK]]'s exact convention, batch form. */
  def matryoshkaBatch(queries: DataFrame, qId: String, qVec: String,
                      docs: DataFrame, dId: String, dVec: String,
                      dims: Int, candidates: Int, k: Int,
                      roundTo: Int = 6, metric: Metric = L2): DataFrame = {
    require(dims >= 1, s"matryoshkaBatch: dims must be >= 1, got $dims")
    require(candidates >= k,
      s"matryoshkaBatch: candidates ($candidates) must be >= k ($k)")
    requireMatryoshkaMetric(metric, "matryoshkaBatch")
    requireMrlBatchSpace(docs, dVec, queries, qVec, dims,
      "matryoshkaBatch")
    import org.apache.spark.sql.expressions.Window
    val (dPre, qPre) = mrlPrefixCols(col(dVec).cast("array<double>"),
      col(qVec).cast("array<double>"), dims, metric)
    val phase1 = knnJoin(
        queries.select(col(qId), qPre.as("__qpre")), qId, "__qpre",
        docs.select(col(dId), dPre.as("__dpre")), dId, "__dpre",
        L2, candidates, roundTo)
      .select(col(qId), col(dId), col("dist").as("pre_dist"))
    val qFull = queries.select(col(qId),
      col(qVec).cast("array<double>").as("__qv"))
    val dFull = docs.select(col(dId),
      col(dVec).cast("array<double>").as("__dv"))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("dist").asc, col(dId).asc)
    phase1.join(broadcast(qFull), qId).join(dFull, dId)
      .select(col(qId), col(dId), col("pre_dist"),
        round(metric.dist(col("__dv"), col("__qv")), roundTo).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Is `dir` a matryoshka root? The detection twin of
    * [[cellRoot]] / Sparse.isStoredLayout — callers (layout
    * auto-detect) go through this, never the marker name. */
  def isMatryoshkaRoot(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Boolean =
    graft.io.Markers.exists(spark, dir, "_graft_matryoshka")

  /** A matryoshka root's pinned prefix width and METRIC — the ONE
    * parser of the `_graft_matryoshka` marker (query path, delete
    * maintenance and declarative registration all call it, so the
    * three cannot drift): `dims=N` reads as an L2 root (the original
    * format), `dims=N;metric=cos` as a cosine root whose `emb_pre`
    * holds normalized prefixes. A missing marker or ANY malformed
    * content — including a non-integer dims from a partial write —
    * lands on the same loud IllegalStateException, never a leaked
    * NumberFormatException. */
  private[graft] def readMatryoshkaMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      who: String): (Int, Metric) = {
    // every reader refuses a torn merge ([[requireNoPendingMerge]]:
    // rows may be mid-move between cell dirs; loud, never wrong)
    requireNoPendingMerge(spark, dir)
    val marker = graft.io.Markers.read(spark, dir, "_graft_matryoshka")
      .getOrElse(throw new IllegalStateException(
        s"$who: $dir has no _graft_matryoshka marker — not a " +
          "matryoshka root (or a truncated write)"))
    matryoshkaMetaOf(marker, dir, who)
  }

  /** Parse a matryoshka marker's content: (dims, metric). */
  private def matryoshkaMetaOf(marker: String, dir: String,
                               who: String): (Int, Metric) = {
    def bad() = throw new IllegalStateException(
      s"$who: unreadable marker '$marker' in $dir")
    def dimsOf(part: String): Int = part.split("=") match {
      case Array("dims", d) => scala.util.Try(d.toInt).getOrElse(bad())
      case _ => bad()
    }
    marker.split(";") match {
      case Array(d) => (dimsOf(d), L2)
      case Array(d, "metric=cos") => (dimsOf(d), Cosine)
      case Array(d, "metric=l2") => (dimsOf(d), L2)
      case _ => bad()
    }
  }

  /** Swap a staged FLAT directory into place — the whole-directory
    * twin of [[swapCellDir]] for unpartitioned layouts (matryoshka
    * `rows/`): rename live aside, staged in, drop the old copy. A
    * crash between the two renames leaves the path MISSING — a
    * loudly-failing read, never a silently-partial layout — and a
    * stranded `__old` refuses the next swap until recovered. */
  private[graft] def swapFlatDir(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path,
                                 next: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__old")
    if (fs.exists(old)) throw new IllegalArgumentException(
      s"swapFlatDir: $old exists — a prior swap crashed mid-flight; " +
        "recover it by hand before swapping again")
    require(fs.rename(root, old), s"swapFlatDir: $root -> $old failed")
    require(fs.rename(next, root),
      s"swapFlatDir: $next -> $root failed (layout is at $old)")
    fs.delete(old, true)
  }

  /** Delete rows from a [[writeMatryoshka]] root — the S6 stored-
    * index maintenance contract for the flat truncation layout:
    * survivors are staged into a sibling directory and swapped whole
    * ([[swapFlatDir]] — flat layouts have no cell granularity to
    * confine the rewrite to, and correspondingly no cell skew to
    * avoid; the rewrite is one survivors-sized pass). Rows where
    * `pred` is NULL survive, like [[deleteStored]]. Streaming-grown
    * layouts must compact first ([[requireBatchLayout]] — a batch
    * rewrite under a commit log desyncs it). Returns rows removed;
    * a no-op delete leaves the layout bytes untouched. */
  def deleteMatryoshka(spark: org.apache.spark.sql.SparkSession,
                       dir: String, pred: Column): Long =
    deleteMatryoshkaImpl(spark, dir,
      df => df.filter(pred),
      df => df.filter(!coalesce(pred, lit(false))))

  /** [[deleteMatryoshka]] with the doomed ids as a DataFrame — the
    * cascade-friendly form ([[deleteStoredIds]]' twin): doomed via
    * semi-join, survivors via anti-join, the id set never collected
    * to the driver. */
  def deleteMatryoshkaIds(spark: org.apache.spark.sql.SparkSession,
                          dir: String, idCol: String,
                          ids: DataFrame): Long = {
    val key = ids.columns.head
    deleteMatryoshkaImpl(spark, dir,
      df => df.join(ids, df(idCol) === ids(key), "left_semi"),
      df => df.join(ids, df(idCol) === ids(key), "left_anti"))
  }

  private def deleteMatryoshkaImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      doomFn: DataFrame => DataFrame,
      keepFn: DataFrame => DataFrame): Long = {
    readMatryoshkaMeta(spark, dir, "deleteMatryoshka")
    val rowsDir = s"$dir/rows"
    requireBatchLayout(spark, rowsDir)
    val root = new org.apache.hadoop.fs.Path(rowsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stranded-swap refusal BEFORE the survivor rewrite (the
    // compactFlat ordering): failing only inside swapFlatDir would
    // burn the whole rewrite and orphan a fresh __next on disk
    val old = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__old")
    if (fs.exists(old)) throw new IllegalArgumentException(
      s"deleteMatryoshka: $old exists — a prior swap crashed " +
        "mid-flight; recover it by hand before deleting again")
    val rows = spark.read.parquet(rowsDir)
    val doomed = doomFn(rows).count()
    if (doomed == 0L) return 0L
    val next = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__next")
    fs.delete(next, true)
    keepFn(rows).write.mode("overwrite").parquet(next.toString)
    swapFlatDir(fs, root, next)
    doomed
  }

  /** Establish (or re-validate) a matryoshka root for streamed ingest
    * — the marker lands BEFORE any row so a crash mid-stream leaves a
    * readable geometry, and a restart with a DIFFERENT `dims` is
    * refused: two slicing widths in one layout would make `emb_pre`
    * meaningless (the s12-s15 retrained-artifact contract). */
  def ensureMatryoshkaRoot(spark: org.apache.spark.sql.SparkSession,
                           dir: String, dims: Int,
                           metric: Metric = L2): Unit = {
    require(dims >= 1,
      s"ensureMatryoshkaRoot: dims must be >= 1, got $dims")
    requireMatryoshkaMetric(metric, "ensureMatryoshkaRoot")
    val want = matryoshkaMarker(dims, metric)
    graft.io.Markers.read(spark, dir, "_graft_matryoshka") match {
      case None =>
        graft.io.Markers.write(spark, dir, "_graft_matryoshka", want)
      case Some(m) => require(m == want,
        s"ensureMatryoshkaRoot: $dir is pinned to '$m' but this " +
          s"ingest slices '$want' — one layout, one prefix geometry")
    }
  }

  /** Two-phase top-k over a [[writeMatryoshka]] root. Phase 1 scans
    * ONLY (id, emb_pre) — asserted on the phase-1 plan inside the
    * operator, so a layout or pruning regression fails loudly on
    * every call, not just in gates — and keeps the top `candidates`
    * by rounded prefix L2 (ties id asc). The candidate ids (bounded:
    * `candidates` rows, the r36 probe-cell collect contract) are
    * planted as an `isin` so the phase-2 fetch pushes an In filter
    * into the parquet scan and reads exactly those rows at full
    * precision. Same rounding/tie rules as [[matryoshkaTopK]] — a
    * lossless storage variant, so the two share one oracle. */
  def matryoshkaTopKStored(spark: org.apache.spark.sql.SparkSession,
                           dir: String, idCol: String, q: Seq[Double],
                           candidates: Int, k: Int,
                           roundTo: Int = 6,
                           pred: Column = lit(true),
                           metric: Metric = L2): DataFrame = {
    require(candidates >= k,
      s"matryoshkaTopKStored: candidates ($candidates) must be >= k ($k)")
    requireMatryoshkaMetric(metric, "matryoshkaTopKStored")
    val (dims, rootMetric) =
      readMatryoshkaMeta(spark, dir, "matryoshkaTopKStored")
    // metric mismatch is a WRONG-SPACE refusal, not a fallback: a
    // cosine root's emb_pre holds NORMALIZED prefixes (raw under L2),
    // so reading it under the other metric would silently rank the
    // phase-1 cut in the wrong space
    require(metric == rootMetric,
      s"matryoshkaTopKStored: $dir is pinned to metric=$rootMetric " +
        s"but the query asks $metric — emb_pre lives in the root's " +
        "reduction space; re-write the root under the query's metric")
    require(dims <= q.length,
      s"matryoshkaTopKStored: stored dims=$dims exceeds query " +
        s"dimension ${q.length} — wrong embedding space for this root")
    val rows = spark.read.parquet(s"$dir/rows")
    // the stored FULL dimension must match the query too: a shorter
    // query would pass the dims guard and then phase 2's fold reads
    // past the query array (garbage distances or an opaque codegen
    // AIOOBE instead of this refusal)
    rows.filter(col("emb_full").isNotNull)
      .select(size(col("emb_full")).as("__d")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getInt(0) == q.length,
          s"matryoshkaTopKStored: stored vectors have ${r.getInt(0)} " +
            s"dims but the query has ${q.length} — wrong embedding " +
            "space for this root")
      }
    // the phase-1 query lives in the root's reduction space: the raw
    // prefix under L2, the NORMALIZED prefix under cosine (emb_pre was
    // materialized from normalized vectors — see writeMatryoshka)
    val qPre = metric match {
      case Cosine => typedlit(normalizeSeq(q).take(dims))
      case _ => typedlit(q.take(dims))
    }
    // pred BEFORE the cut (the filtered-search family contract: a
    // post-cut filter would starve the result set under a selective
    // predicate); phase 2 needs no re-filter — candidates already
    // survived it
    val phase1 = rows.filter(pred).select(col(idCol),
        round(org.apache.spark.sql.graft.VecExprs.l2Dist(col("emb_pre"),
          qPre), roundTo).as("pre_dist"))
      .orderBy(col("pre_dist").asc, col(idCol).asc).limit(candidates)
    val p1Phys = phase1.queryExecution.executedPlan.toString
    require(p1Phys.contains("emb_pre") && !p1Phys.contains("emb_full"),
      s"matryoshka phase-1 scan did not prune the full vector:\n$p1Phys")
    val ids = phase1.select(col(idCol)).collect().map(_.get(0))
    // phase 2: the root's TRUE metric on the raw full vectors (under
    // cosine that is genuine cosine distance, not sphere L2 — the
    // user-facing score matches every other cosine searcher)
    rows.filter(col(idCol).isin(ids: _*))
      .select(col(idCol),
        round(org.apache.spark.sql.graft.VecExprs.l2Dist(col("emb_pre"),
          qPre), roundTo).as("pre_dist"),
        round(metric.dist(col("emb_full"), typedlit(q)), roundTo)
          .as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Matryoshka INSIDE the IVF cell geometry — the composition the
    * reference's own index runs (vchordrq holds IVF and quantization
    * together, /root/reference/vechord/spec.py:437-444; truncation is
    * this engine's fourth compression member next to SQ/1-bit/PQ):
    * rows cell-partitioned by `centroid_id`, each carrying (id,
    * emb_pre, emb_full[, keep]); centroids persisted in the root
    * (self-contained, the [[writeRangeIndex]] pattern) and the model
    * fingerprint pinned so an append under a different geometry
    * refuses. At 100 TB phase 1 reads the PROBED CELLS ONLY
    * (partition pruning: probes/lists of the corpus directories) and
    * within them only the prefix column (emb_pre pruning: dims/D of
    * the vector bytes) — the two prunings compose multiplicatively,
    * vs the flat [[writeMatryoshka]] root whose phase 1 is always a
    * full-corpus prefix scan.
    *
    * Cosine rides the same spherical convention as every other
    * cosine index: assignment and emb_pre live on the unit sphere
    * (normalized model + normalized vectors), emb_full stays RAW for
    * the true-cosine re-rank. */
  def writeMatryoshkaIvf(vecs: DataFrame, idCol: String, vecCol: String,
                         dims: Int, model: IvfModel, dir: String,
                         keepCols: Seq[String] = Nil,
                         metric: Metric = L2): Unit = {
    require(dims >= 1, s"writeMatryoshkaIvf: dims must be >= 1, got $dims")
    requireMatryoshkaMetric(metric, "writeMatryoshkaIvf")
    writePartitioned(matryoshkaIvfRows(vecs, idCol, vecCol, dims, model,
      metric, keepCols), s"$dir/rows")
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    ensureIvfModelMarker(vecs.sparkSession, dir, model)
    graft.io.Markers.write(vecs.sparkSession, dir,
      "_graft_matryoshka_ivf", matryoshkaMarker(dims, metric))
  }

  /** The ONE builder of a [[writeMatryoshkaIvf]] row frame — initial
    * write, the stream and [[appendIdempotent]] share it, so they
    * cannot slice or assign differently: cosine assigns and slices on
    * the unit sphere (normalized model + normalized vectors, emb_full
    * raw), L2 on the raw vectors. */
  private[graft] def matryoshkaIvfRows(vecs: DataFrame, idCol: String,
                                vecCol: String, dims: Int,
                                model: IvfModel, metric: Metric,
                                keepCols: Seq[String]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    metric match {
      case Cosine =>
        val n = withNormalized(vecs, vecCol, "__nv")
        assign(n, "__nv", normalizeModel(model), L2)
          .select(col(idCol)
            +: slice(col("__nv"), lit(1), lit(dims)).as("emb_pre")
            +: v.as("emb_full") +: col(model.idCol)
            +: keepCols.map(col): _*)
      case _ =>
        assign(vecs, vecCol, model, L2)
          .select(col(idCol)
            +: slice(v, lit(1), lit(dims)).as("emb_pre")
            +: v.as("emb_full") +: col(model.idCol)
            +: keepCols.map(col): _*)
    }
  }

  /** A type with every nullability flag forced true — the schema-guard
    * normal form (parquet read-back reports containsNull=true for
    * arrays regardless of what was written, so flag differences are
    * noise, never a mixed-schema hazard). */
  private def nullableForm(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(nullableForm(et), true)
      case MapType(k, v, _) =>
        MapType(nullableForm(k), nullableForm(v), true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = nullableForm(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** The ONE mixed-schema guard for every graduated-root append
    * (every [[CellRoot]] family, BM25 and sparse postings): batch
    * and stored schemas must agree as
    * nullability-normalized (name → type) maps — mode("append")
    * happily writes files whose later reads resolve from an arbitrary
    * footer. `exempt` names the partition column(s): directory-name
    * encoding erases their physical type on read-back. */
  private[graft] def requireAppendSchema(
      stored: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType,
      exempt: Set[String], who: String): Unit = {
    def norm(st: org.apache.spark.sql.types.StructType) =
      st.filterNot(f => exempt.contains(f.name))
        .map(f => f.name -> nullableForm(f.dataType)).toMap
    val s0 = norm(stored)
    val b0 = norm(batch)
    require(b0 == s0,
      s"$who: batch schema $b0 != stored $s0 — a mixed-schema layout " +
        "reads back nondeterministically")
  }

  /** Batch kNN join: for every query row, the top-k nearest docs.
    * Returns (qId, dId, dist, rank), rank 1-based per query.
    *
    * Scale shape: the query set is collected + broadcast (queries << docs);
    * each doc partition keeps a bounded k-heap per query and emits at most
    * Q×k candidate rows, so the shuffle into the final per-query merge is
    * `numPartitions × Q × k` rows — independent of N. Exact semantics:
    * every doc is scored against every query locally; only provably-
    * non-top-k rows are dropped before the shuffle (same tie-break
    * (dist, id) ordering in the heap and the final window). */
  def knnJoin(queries: DataFrame, qId: String, qVec: String,
              docs: DataFrame, dId: String, dVec: String,
              metric: Metric, k: Int, roundTo: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(qId).cast("long"), col(qVec).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qRows)
    val kk = k
    val rt = roundTo
    val pow = math.pow(10.0, roundTo)
    // repartition: embedding tables are small on disk but the Q×N
    // distance work is compute-heavy; bytes-based splits under-parallelize
    val cand = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(dId).cast("long"), col(dVec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { iter =>
        val qs = bc.value
        // per-vector factors (cosine norms) once per query / per doc,
        // not once per pair — distScalaN is bit-identical to distScala
        val qNorms = qs.map(q => metric.norm(q._2))
        // max-heap on (dist, id): pop removes the current worst candidate.
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        val heaps = Array.fill(qs.length)(
          collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        iter.foreach { case (did, dvec) =>
          val dNorm = metric.norm(dvec)
          var i = 0
          while (i < qs.length) {
            val d = roundFast(
              metric.distScalaN(qs(i)._2, qNorms(i), dvec, dNorm), rt, pow)
            val h = heaps(i)
            if (h.size < kk) h.enqueue((d, did))
            else if (ord.lt((d, did), h.head)) { h.dequeue(); h.enqueue((d, did)) }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (d, did) => (qs(i)._1, did, d) }
        }
      }
      .toDF(qId, dId, "dist")
    val w = Window.partitionBy(col(qId))
      .orderBy(col("dist").asc, col(dId).asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF model: one row per cell — (centroid_id long, centroid
    * array<double>). */
  final case class IvfModel(centroids: DataFrame, idCol: String,
                            vecCol: String) {
    /** Collected centroids, memoized PER INSTANCE: one operator call
      * (append / search / health) threads one model through several
      * centroid consumers — fingerprint validation, the assign argmin
      * broadcast, probe selection — and each used to re-run the same
      * collect job. Per-instance scope keeps the staleness story
      * unchanged: every maintenance path constructs a FRESH IvfModel
      * from disk after mutation (and the resolvers re-load per re-pin
      * or per resolve — AnnRewrite's documented contract), so a memo
      * that lives and dies with the instance can never outlive the
      * disk state it was read from, unlike any dir-keyed cache. */
    @transient lazy val collectedCentroids: Array[(Long, Array[Double])] =
      centroids
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
  }

  /** A root's `centroids/` side table as an [[IvfModel]], memoized per
    * (session, dir, LISTING SIGNATURE): maintenance paths and repeated
    * searches re-load the same few-KB table once per call, and each
    * load re-ran schema inference plus (via [[collectCentroids]]) a
    * collect job. The signature is a driver-side `listStatus` digest
    * (name, length, mtime of every file in the dir — no Spark job):
    * EVERY mutation path replaces the dir's files (swapSideTable
    * renames a freshly-written staging dir in; overwrite writes emit
    * new part-UUID names), so any change to the centroids set changes
    * the key and the stale entry dies by construction — the same
    * staleness discipline as MrlIvfQuant's fingerprint-keyed centroid
    * cache (AnnRewrite), applied at the loader. Session id is in the
    * key so a cached frame can never outlive its SparkSession (test
    * suites cycle sessions).
    *
    * KNOWN LIMIT (external writers only): the (name, length, mtime)
    * signature cannot see an IN-PLACE rewrite of a centroids file with
    * the same name and length inside the filesystem's mtime
    * granularity window (whole seconds on some HDFS/ext3 setups). No
    * in-repo mutator can hit it — every one replaces files under
    * fresh part-UUID names or a staging-dir rename — so the hole is
    * reachable only by an external/non-Spark writer mutating
    * `centroids/` in place; such writers must touch/rename the files
    * (or cycle the session) to invalidate the cache. */
  private val dirModelCache = new graft.core.LruCache[String, IvfModel](64)
  private[graft] def listingSig(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      try fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      catch { case _: java.io.FileNotFoundException => Array("absent") }
    entries.sorted.mkString("|")
  }
  private[graft] def ivfModelAt(spark: org.apache.spark.sql.SparkSession,
                                dir: String): IvfModel = {
    val cdir = s"$dir/centroids"
    dirModelCache.getOrElseUpdate(
      s"${System.identityHashCode(spark)}|$cdir|${listingSig(spark, cdir)}") {
      IvfModel(spark.read.parquet(cdir), "centroid_id", "centroid")
    }
  }

  /** Deterministic IVF build: one centroid per value of `cellCol`
    * (e.g. a label, or a KMeans-assigned cluster id), centroid = per-
    * dimension mean rounded to `roundTo` decimals (rounding makes the
    * centroid reproducible across engines/run orders so the assignment
    * step is stable). */
  def buildIvf(docs: DataFrame, cellCol: String, vecCol: String,
               roundTo: Int = 5): IvfModel = {
    // one map-side-combinable shuffle: the vector-mean UDAF carries an
    // (elementwise sum, count) buffer, vs posexplode shuffling dim× rows
    val cents = docs
      .select(col(cellCol).cast("long").as("centroid_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .groupBy("centroid_id")
      .agg(transform(graft.functions.VecAgg.vecMean(col("__v")),
        x => round(x, roundTo)).as("centroid"))
    IvfModel(cents, "centroid_id", "centroid")
  }

  /** Lloyd's-iteration KMeans IVF build (the reference's index-build job
    * uses IVF clustering inside vchordrq — spec.py:437-444; SURVEY §2.1
    * S2 maps it to a KMeans batch job). Deterministic: initial centroids
    * are the k DISTINCT vectors with the smallest [[portableVecHash]] (a
    * seedless pseudo-random draw that is stable across runs AND engines
    * — any SQL engine with md5 replays the draw, which is what lets the
    * trainer itself face the DuckDB oracle in r42),
    * then `iters` rounds of broadcast-argmin assignment + per-cell
    * mean. For cosine / inner-product, normalize vectors first
    * (spherical KMeans, spec.py:458-464). Empty cells drop out
    * naturally.
    *
    * Distinctness matters on DUP-HEAVY corpora (the training-data
    * case): exact-duplicate vectors share one hash, so a plain
    * k-smallest draw seeds the same point k/dupFactor times and the
    * index COLLAPSES to a handful of cells (measured: 2 effective
    * cells of 32 requested on a 16×-duplicated smoke corpus — every
    * probe then scans half the table). The common path stays
    * shuffle-free: TakeOrdered of 8k rows, dedupe within them; only
    * when duplication runs deeper than 8× does the build pay one
    * hash-dedup draw — which map-side combine makes cheap in exactly
    * that regime (high duplication = small distinct set). */
  /** Engine-portable deterministic vector hash — the KMeans seed key.
    * Canonical form first (each element ×10⁶, HALF_UP to a BIGINT —
    * float-origin doubles can't straddle engines there: both sides do
    * the identical IEEE multiply and both round halves away from
    * zero), then md5 of the comma-joined decimal string, first 15 hex
    * chars as a BIGINT. Any engine replays it —
    * `('0x' || substring(md5(s), 1, 15))::BIGINT` in DuckDB — so the
    * TRAINER itself can face the oracle (r42), which Spark's own
    * `xxhash64(array)` (internal UnsafeArrayData bytes) never could.
    * Distribution properties match the old xxhash64 seed draw: md5 is
    * uniform and exact-duplicate vectors still share one hash. */
  private[ops] def portableVecHash(vec: Column): Column =
    conv(substring(md5(concat_ws(",",
      transform(vec.cast("array<double>"),
        x => round(x * 1e6).cast("long").cast("string")))), 1, 15),
      16, 10).cast("long")

  def buildIvfKMeans(docs: DataFrame, vecCol: String, k: Int,
                     metric: Metric = L2, iters: Int = 5,
                     roundTo: Int = 5): IvfModel =
    buildIvfKMeansCore(docs, vecCol, k, metric, iters, roundTo,
      requireSplittable = false).get

  /** [[buildIvfKMeans]] that answers the cell-split "unsplittable"
    * question FROM ITS OWN SEED DRAW instead of a separate
    * distinct-hash probe job per flagged cell: None ⟺ the corpus has
    * fewer than 2 distinct vectors at hash precision (k=2 cannot
    * separate them). Equivalence to the old probe (`distinct hashes
    * >= 2` over ALL rows): when the 8k-row oversample yields >= 2
    * seeds, >= 2 global hashes exist; when it yields < 2 the build
    * falls back to the FULL one-per-hash draw, whose row count IS the
    * global distinct-hash count capped at k. The splittable path
    * produces a bit-identical model to [[buildIvfKMeans]] (same
    * draw, same fold). */
  private[ops] def buildIvfKMeansIfSplittable(
      docs: DataFrame, vecCol: String, k: Int, metric: Metric = L2,
      iters: Int = 5, roundTo: Int = 5): Option[IvfModel] =
    buildIvfKMeansCore(docs, vecCol, k, metric, iters, roundTo,
      requireSplittable = true)

  private def buildIvfKMeansCore(docs: DataFrame, vecCol: String,
                                 k: Int, metric: Metric, iters: Int,
                                 roundTo: Int,
                                 requireSplittable: Boolean)
      : Option[IvfModel] = {
    val hashed = docs.select(col(vecCol))
      .withColumn("__h", portableVecHash(col(vecCol)))
    // materialized once (≤ k tiny rows): the count() guard below and
    // the seed consumption reuse the same result instead of running
    // the TakeOrdered pipeline twice
    // one row per hash, with a DETERMINISTIC representative: the
    // canonical hash merges vectors identical at 1e-6 precision (exact
    // duplicates, plus near-duplicates that straddle nothing), and
    // min-by-array picks the same survivor on every run and in every
    // engine's replay (`min(sv) GROUP BY h` in DuckDB) — where
    // dropDuplicates kept a partition-order-dependent row, which made
    // the trained model nondeterministic exactly when two near-dup
    // vectors collided
    def onePerHash(df: DataFrame): DataFrame =
      df.groupBy("__h").agg(min(col(vecCol)).as(vecCol))
    // the ≤ k seed rows COLLECT driver-side in ONE job where the old
    // form paid two (an eager localCheckpoint materialize plus the
    // count guard): the guard reads the collected length, and the
    // initial model below is a LOCAL relation, whose own collects
    // (assign's broadcast of iteration 0, a fingerprint) run through
    // LocalTableScan.executeCollect — no job at all
    val overSampled = onePerHash(
        hashed.orderBy(col("__h")).limit(k * 8)) // ≤ 8k rows
      .orderBy(col("__h")).limit(k)
      .collect()
    val overN = overSampled.length
    val seeds =
      if (overN >= k || k <= 1) overSampled
      else if (!requireSplittable)
        onePerHash(hashed).orderBy(col("__h")).limit(k).collect()
      else {
        // the oversample can under-count when >= 16 copies of the
        // min-hash vector fill the TakeOrdered window — the full
        // one-per-hash draw is the global truth
        val full = onePerHash(hashed).orderBy(col("__h")).limit(k)
          .collect()
        if (full.length < 2) return None
        full
      }
    if (requireSplittable && overN < 2 && (seeds eq overSampled))
      return None
    // seed ranking driver-side: the collected rows sorted by __h take
    // ids 0..k-1 — exactly what the old coalesce(1) /
    // sortWithinPartitions / monotonically_increasing_id pipeline
    // produced (__h is unique after onePerHash, so the order is
    // total) — and each element rounds through [[roundScala]],
    // Spark `round`'s documented bit-identical twin.
    val spark = docs.sparkSession
    val hIdx = seeds.headOption.map(_.fieldIndex("__h")).getOrElse(0)
    val vIdx = seeds.headOption.map(_.fieldIndex(vecCol)).getOrElse(1)
    // a null vector or element cannot seed a centroid: refuse it by
    // name instead of failing inside the sort (NPE) or the element
    // match below (MatchError)
    seeds.foreach { r =>
      if (r.isNullAt(vIdx) || r.isNullAt(hIdx))
        throw new IllegalArgumentException(
          s"buildIvfKMeans: column '$vecCol' holds a null vector")
      if (r.getSeq[Any](vIdx).contains(null))
        throw new IllegalArgumentException(
          s"buildIvfKMeans: column '$vecCol' holds a vector with a null " +
            "element")
    }
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(
        seeds.sortBy(_.getLong(hIdx)).zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(i.toLong,
            r.getSeq[Any](vIdx).map {
              case d: java.lang.Double => roundScala(d, roundTo)
              case n: java.lang.Number => roundScala(n.doubleValue(), roundTo)
            })
        }: _*)
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
      StructField, StructType}
    var model = IvfModel(
      spark.createDataFrame(seedRows, StructType(Seq(
        StructField("centroid_id", LongType, nullable = false),
        StructField("centroid", ArrayType(DoubleType, containsNull = false))))),
      "centroid_id", "centroid")
    for (_ <- 1 to iters) {
      val assigned = assign(docs, vecCol, model, metric)
      model = buildIvf(assigned, model.idCol, vecCol, roundTo)
    }
    Some(model)
  }

  /** Partition count of `df`'s non-adaptive physical plan WITHOUT
    * running anything — None when the probe itself would not be free.
    * `sparkPlan.execute()` builds the RDD lazily (zero jobs) ONLY for
    * exchange/subquery-free frames: `SparkPlan.execute()` calls
    * `prepare()`/`waitForSubqueries()`, so a frame carrying a
    * broadcast join or a (scalar/DPP) subquery would eagerly launch
    * those jobs on the NON-adaptive plan — work AQE's real execution
    * then redoes. (And never `df.rdd`, which under AQE materializes
    * every shuffle stage of the plan just to count partitions.) */
  private[graft] def lazyPartitionCount(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
    val plan = df.queryExecution.sparkPlan
    // `sparkPlan` is the planner's output BEFORE EnsureRequirements, so
    // a broadcast join carries NO Exchange node yet — the distribution
    // REQUIREMENT is what marks it (execute() on the un-prepared plan
    // would call doExecuteBroadcast on a plain child and throw, or
    // launch the broadcast job). Any non-trivial required distribution
    // means exchanges get inserted later, i.e. the frame runs at >=
    // shuffle.partitions downstream anyway — skipping the floor is
    // both safe and right.
    val unsafe = plan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case p if p.requiredChildDistribution
        .exists(_ != UnspecifiedDistribution) => true
      case p => p.expressions.exists(_.exists(
        _.isInstanceOf[PlanExpression[_]]))
    }
    if (unsafe) None else Some(plan.execute().getNumPartitions)
  }

  /** Distinct values of ONE non-null key column, driver-side, through
    * a single-partition collect_set aggregate: the naive
    * `select(key).distinct().collect()` hash-shuffles the frame across
    * the full `shuffle.partitions` (32 reduce tasks for a handful of
    * cell ids — per MICRO-BATCH on the streaming appends, where AQE
    * cannot coalesce), while collect_set's partial aggregation ships
    * one small set per input partition to ONE reduce task. Same
    * driver-size budget (the distinct key set), same unordered result;
    * key domains here (cell ids, bucket ids) are non-null by
    * construction, so collect_set's null-dropping is vacuous. */
  private[graft] def distinctLongKeys(df: DataFrame,
                                      key: Column): Array[Long] =
    df.agg(collect_set(key)).head().getSeq[Long](0).toArray
  private[graft] def distinctIntKeys(df: DataFrame,
                                     key: Column): Array[Int] =
    df.agg(collect_set(key)).head().getSeq[Int](0).toArray

  /** The append/compact existence probes' EXISTING side under a
    * SIZE-GATED broadcast pin. foreachBatch maintenance runs with AQE
    * off, and the planner's file-size stats — which include the
    * vector/code payload the id-only projection never ships — push
    * every micro-batch's anti-join into a sort-merge: THREE exchanges
    * plus sorts at full shuffle.partitions, per batch, on a probe
    * whose right side is bounded by the batch's touched cells. When
    * even the UNPROJECTED scan estimate fits
    * `spark.graft.append.broadcastMaxBytes` (default 256 MB of raw
    * file bytes — a hard over-estimate of the id column actually
    * shipped, comfortably inside Spark's 8 GB broadcast cap), the pin
    * makes the join a broadcast-anti and the batch never shuffles.
    * Past the bound the hint is withheld and the planner's own choice
    * stands (sort-merge — the scale-correct fallback). */
  private[graft] def broadcastExistingIfBounded(
      existing: DataFrame): DataFrame = {
    val maxBytes = BigInt(existing.sparkSession.conf
      .get("spark.graft.append.broadcastMaxBytes", (256L << 20).toString))
    if (existing.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
      broadcast(existing)
    else existing
  }

  /** Scale-adaptive parallelism FLOOR (optimization guide §2.5 "input
    * skew: one unsplittable file — repartition immediately after the
    * read"): when a frame's physical plan yields fewer partitions than
    * the session's cores — the small-file case; a tiny parquet file is
    * one split and single-row-group files cannot be range-split — every
    * per-row vector-math stage downstream runs on a single core while
    * the rest of the machine idles. The floor is the session's own
    * `defaultParallelism`, never a constant: at cluster scale a corpus
    * scan already carries >= cores partitions and this is a no-op.
    *
    * The partition probe reads `queryExecution.sparkPlan` and builds
    * its RDD lazily — NO job runs (unlike `df.rdd`, which under AQE
    * eagerly materializes every shuffle stage of the plan just to
    * count partitions). Round-robin keeps results invariant: every
    * caller re-aggregates or re-sorts with deterministic tiebreaks
    * downstream. Streaming frames pass through (micro-batch
    * parallelism is the source's business). A frame whose root is a
    * shuffle (an explicit `repartition(n)`) runs at that shuffle's
    * partition count, which its plan states without running anything;
    * any other exchange- or subquery-bearing plan cannot be probed for
    * free ([[lazyPartitionCount]]) and skips the floor rather than pay
    * jobs for it. */
  private[graft] def parallelismFloor(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      val parts = df.queryExecution.sparkPlan match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          Some(e.outputPartitioning.numPartitions)
        case _ => lazyPartitionCount(df)
      }
      parts match {
        case Some(n) if n < target => df.repartition(target)
        case _ => df
      }
    }

  /** Centroids collected driver-side in id order, shipped to executors
    * as a Spark broadcast — ONE copy per executor, never serialized into
    * the plan/tasks. At the ~10⁵ cells a 100 TB IVF needs (√N lists ×
    * 768 dims, hundreds of MB) a `typedlit` plan literal is a driver and
    * task-serialization bomb; a broadcast variable is exactly the
    * [[knnJoin]] query-set pattern. */
  private[ops] def collectCentroids(model: IvfModel): Array[(Long, Array[Double])] =
    model.collectedCentroids

  /** Assign every doc to its nearest centroid (argmin over cells, ties by
    * centroid id asc — strict `<` over the id-sorted centroid array, the
    * same fold order as every engine re-implementation). Map-only: the
    * centroid table travels as a broadcast variable inside the argmin
    * UDF's closure, so the stage is a pure Project — no join, no window,
    * no shuffle, no per-task centroid copy. At scale this stage feeds a
    * `partitionBy(centroid_id)` write directly. */
  def assign(docs: DataFrame, vecCol: String, model: IvfModel,
             metric: Metric): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(collectCentroids(model))
    val argmin = udf { (v: Seq[Double]) =>
      val varr = v.toArray
      val cs = bc.value
      var bestD = Double.PositiveInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = metric.distScala(varr, cs(i)._2)
        if (d < bestD) { bestD = d; bestId = cs(i)._1 }
        i += 1
      }
      bestId
    }
    docs.withColumn(model.idCol, argmin(col(vecCol).cast("array<double>")))
  }

  /** Persist an assigned vector table partitioned by `centroid_id`: the
    * probe filter in [[searchIvfStored]] then becomes real partition
    * pruning — unprobed cells are never read from disk. This is the
    * at-rest form of the index for the 100 TB path (one directory per
    * IVF cell; `spark.sql.files.maxPartitionBytes` splits big cells). */
  def writePartitioned(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(path)

  /** The ONE write step of every replay-safe append (and of the
    * quantized compaction): drop the rows whose `idCol` is already in
    * `existing`, materialize the survivors once (micro-batch-sized;
    * the count, the schema guard, `beforeWrite` and the write all read
    * them), refuse a batch whose schema is not `expected`
    * ([[requireAppendSchema]]), run `beforeWrite` on the survivors (a
    * range root grows its radii there, before the rows become
    * visible), and append them to `target` partitioned by `cellCol`,
    * columns in the stored order. Returns rows appended. */
  private def appendAbsent(rows: DataFrame, existing: DataFrame,
                           idCol: String, cellCol: String,
                           expected: org.apache.spark.sql.types.StructType,
                           target: String, who: String,
                           beforeWrite: DataFrame => Unit = _ => ())
      : Long = {
    val fresh = rows
      .join(broadcastExistingIfBounded(
          existing.withColumnRenamed(idCol, "__eid")),
        rows(idCol) === col("__eid"), "left_anti")
      .localCheckpoint(true)
    val n = fresh.count()
    if (n > 0L) {
      requireAppendSchema(expected, fresh.schema, Set(cellCol), who)
      beforeWrite(fresh)
      fresh.select((expected.fieldNames.filterNot(_ == cellCol) :+ cellCol)
          .map(col): _*)
        .write.mode("append").partitionBy(cellCol).parquet(target)
    }
    n
  }

  /** Deterministic digest of a model's centroid set (id-sorted, exact
    * double rendering) — the identity a GROWING layout must pin: rows
    * assigned under two different models mixed in one cell-partitioned
    * dir are silently unsearchable (each query prunes with ONE model's
    * cell geometry). */
  def modelFingerprint(model: IvfModel): String =
    fingerprintCentroids(collectCentroids(model))

  /** [[modelFingerprint]] over an ALREADY-COLLECTED (id-sorted)
    * centroid array — maintenance paths that hold the post-mutation
    * centroids driver-side anyway (merge completion, split commit)
    * fingerprint without re-running a collect job. Byte-identical to
    * the model form by construction (same id order, same rendering). */
  private[ops] def fingerprintCentroids(
      cents: Array[(Long, Array[Double])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    cents.foreach { case (id, v) =>
      md.update(s"$id:${v.mkString(",")}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private val IvfModelMarker = "_graft_ivf_model"

  /** Record the assignment model for an append-grown IVF layout,
    * refusing to change it once declared — the centroid-space twin of
    * [[Bm25.ensureBucketsMarker]]'s modulus rule. */
  def ensureIvfModelMarker(spark: org.apache.spark.sql.SparkSession,
                           dir: String, model: IvfModel): Unit =
    readIvfModelMarker(spark, dir) match {
      case Some(pin) => requirePinned(dir, pin, model)
      case None => graft.io.Markers.write(spark, dir, IvfModelMarker,
        modelFingerprint(model))
    }

  /** Refuse a model whose fingerprint disagrees with the layout's
    * `pin`. */
  private def requirePinned(dir: String, pin: String,
                            model: IvfModel): Unit = {
    val fp = modelFingerprint(model)
    if (pin != fp)
      throw new IllegalStateException(
        s"$dir was grown under a different IVF model (fingerprint " +
          s"$pin, offered $fp). Appending rows assigned under a " +
          "new model would mix two cell geometries in one layout and " +
          "silently exclude rows from probed searches. Rebuild the " +
          "layout (writePartitioned) to change models.")
  }

  def readIvfModelMarker(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Option[String] =
    graft.io.Markers.read(spark, dir, IvfModelMarker)

  /** IVF search over a [[writePartitioned]] table: the `isin(probes)`
    * filter prunes whole partition directories (verify via
    * `PartitionFilters` in the scan plan).
    *
    * `pred` is an optional metadata predicate (filtered vector search —
    * the WHERE clause the reference's `query_vec` lacks but any corpus-
    * curation query needs, e.g. `lang = 'en' AND source = 'web'`). It is
    * applied to the SAME pruned scan, so a plain column comparison
    * reaches parquet as a `PushedFilters` entry: at 100 TB the scan
    * reads only probed cell DIRECTORIES (partition pruning) and within
    * them skips row groups whose min/max exclude the predicate — the
    * two prunings compose multiplicatively. Selective predicates thin
    * each probed cell, not the cell count; callers compensate with a
    * higher `probes`, exactly like the reference's `probe` knob. */
  def searchIvfStored(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String, vecCol: String,
                      model: IvfModel, queryVec: Column, metric: Metric,
                      probes: Int, k: Int, roundTo: Int = 6,
                      pred: Column = lit(true)): DataFrame = {
    val cells = probeCellIds(model, queryVec, metric, probes)
    val pruned = spark.read.parquet(path)
      .filter(col(model.idCol).isin(cells: _*))
      .filter(pred)
    topK(pruned, idCol, vecCol, queryVec, metric, k, roundTo)
  }

  /** Nearest `probes` centroid ids for a query vector. */
  def probeCells(model: IvfModel, queryVec: Column, metric: Metric,
                 probes: Int): DataFrame =
    model.centroids
      .withColumn("__qdist", metric.dist(col(model.vecCol), queryVec))
      .orderBy(col("__qdist").asc, col(model.idCol).asc)
      .limit(probes)
      .select(col(model.idCol))

  /** The query vector behind a Column when it is a plain literal
    * (`typedlit(...)`, optionally under WIDENING casts) — None for
    * anything computed. Used for the driver-side probe fast path
    * below; float→double widening is exact, so the extracted array is
    * bit-identical to what the column form feeds the distance
    * expression. A NARROWING cast (array<double> literal under
    * `.cast("array<float>")`) is refused: the distributed form would
    * compute on float-truncated values while the driver path would
    * see the full-precision doubles — the fast path must never select
    * different cells than the job form it replaces. */
  private[graft] def literalVec(c: Column): Option[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    def un(e: Expression): Option[Array[Double]] = e match {
      case Literal(a: ArrayData, ArrayType(DoubleType, _)) =>
        Some(a.toDoubleArray())
      case Literal(a: ArrayData, ArrayType(FloatType, _)) =>
        Some(a.toFloatArray().map(_.toDouble))
      // a cast TO array<double> is widening or identity — exact either
      // way; a cast to any other element type can truncate, so the
      // distributed form (which sees the post-cast values) must run
      case c: Cast if c.dataType.isInstanceOf[ArrayType] &&
          c.dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        un(c.child)
      case c: Cast => c.child match {
        // identity cast (float literal under .cast("array<float>")):
        // the post-cast values are the literal's own
        case Literal(a: ArrayData, ArrayType(FloatType, _))
            if c.dataType == ArrayType(FloatType, false) ||
               c.dataType == ArrayType(FloatType, true) =>
          Some(a.toFloatArray().map(_.toDouble))
        case _ => None
      }
      case _ => None
    }
    un(org.apache.spark.sql.graft.VecExprs.catalystExpr(c))
  }

  /** [[probeCells]] collected to ids — with a DRIVER-side fast path
    * when the query vector is a literal (the overwhelmingly common
    * case: every stored search embeds the query as `typedlit`). The
    * fast path ranks the memoized centroid array with
    * [[Metric.distScala]], which is documented/tested bit-identical
    * to the column form (same left-to-right double fold), with the
    * same (dist asc, id asc) order and the same arg order
    * (centroid, query) — so the selected cells are EXACTLY the cells
    * the Spark job form selects, minus one collect job per search.
    * Driver cost is |cells|·dim flops — the register scaladoc's
    * documented ~10⁵-cell driver budget; the declarative distributed
    * twins remain the answer beyond it. Non-literal query columns
    * (e.g. computed probes) fall back to the distributed form. */
  private[graft] def probeCellIds(model: IvfModel, queryVec: Column,
                                  metric: Metric,
                                  probes: Int): Array[Long] =
    literalVec(queryVec) match {
      case Some(q) =>
        model.collectedCentroids
          .map { case (id, c) => (metric.distScala(c, q), id) }
          .sortBy { case (d, id) => (d, id) }
          .take(probes)
          .map(_._2)
      case None =>
        probeCells(model, queryVec, metric, probes)
          .collect().map(_.getLong(0))
    }

  // ---------------------------------------------------------------
  // DENSE CELL ROOT — the self-contained, maintainable form of the
  // plain [[writePartitioned]] layout (round 17): the flat layout
  // stores only the model FINGERPRINT, so its geometry lives in the
  // caller's hands and no actuator can ever change it (a split that
  // re-pinned the marker would strand every caller's stale model).
  // A dense ROOT owns its centroids on disk (`dir/rows` +
  // `dir/centroids` — structurally the range root minus radii, so
  // the split/merge/heal protocol machinery is shared VERBATIM) and
  // pins `metric|vecCol` in its own marker, making it the fourth
  // cell-partitioned family the maintenance actuators reach (range,
  // composed matryoshka-IVF, quantized were the first three).
  // Reference analog: the same vchordrq `lists` maintenance
  // (/root/reference/vechord/spec.py:437-444) that motivated the
  // range/composed/quantized actuators.
  // ---------------------------------------------------------------

  private val DenseCellsMarker = "_graft_dense_cells"

  /** The dense family supports the two metrics with a training-space
    * story (L2 trains raw; Cosine trains on the unit sphere — the
    * spherical-centroids convention). InnerProduct argmin is not a
    * metric and has no local-retrain space: refuse at build, not at
    * the first split years later. */
  private def requireDenseMetric(metric: Metric, who: String): Unit =
    require(metric == L2 || metric == Cosine,
      s"$who: dense cell roots support L2 and Cosine, got $metric — " +
        "InnerProduct argmin has no split/merge training space")
  private def metricToken(metric: Metric): String = metric match {
    case Cosine => "cos"
    case L2 => "l2"
    case other => throw new IllegalArgumentException(
      s"no dense-root token for metric $other")
  }
  private def tokenMetric(tok: String): Metric = tok match {
    case "cos" => Cosine
    case "l2" => L2
    case other => throw new IllegalStateException(
      s"unknown dense-root metric token '$other'")
  }

  /** Persist a SELF-CONTAINED dense cell root: `dir/rows`
    * cell-partitioned (partition pruning for probed searches, exactly
    * [[writePartitioned]]'s contract), `dir/centroids` owned by the
    * layout (readers and maintenance need nothing driver-resident),
    * the model fingerprint pinned, and `metric|vecCol` recorded in
    * the family marker — written LAST, the commit point: a crash
    * mid-write leaves a directory [[cellRoot]] rejects. `assigned`
    * must already carry the model's `centroid_id` column (the
    * [[assign]] output under the SAME metric — a cosine root's rows
    * assigned under L2 would be silently unsearchable). */
  def writeDenseRoot(assigned: DataFrame, vecCol: String,
                     model: IvfModel, metric: Metric,
                     dir: String): Unit = {
    requireDenseMetric(metric, "writeDenseRoot")
    val spark = assigned.sparkSession
    writePartitioned(assigned, s"$dir/rows")
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    ensureIvfModelMarker(spark, dir, model)
    graft.io.Markers.write(spark, dir, DenseCellsMarker,
      s"${metricToken(metric)}|$vecCol")
  }

  /** Parse a dense cell-root marker's content: (metric, vecCol). */
  private def denseMetaOf(raw: String, dir: String,
                          who: String): (Metric, String) =
    raw.split("\\|", 2) match {
      case Array(tok, vecCol) if vecCol.nonEmpty =>
        (tokenMetric(tok), vecCol)
      case _ => throw new IllegalStateException(
        s"$who: $dir carries a malformed dense cell-root marker " +
          s"'$raw' (want 'metric|vecCol')")
    }

  /** GRADUATE a flat [[writePartitioned]] layout into a
    * self-contained dense root IN PLACE — the step a flat layout takes
    * before it can grow: a flat layout stores only its model's
    * fingerprint, so nothing appends to it; the graduated root owns
    * its centroids and grows through [[appendIdempotent]] /
    * `Stream.ingestAppend` like every cell root. The top-level cell
    * directories move (atomic per-dir renames — metadata ops, zero
    * data bytes) under `dir/rows`, the caller's model (which MUST be
    * the layout's pin — validated, never adopted) lands as
    * `dir/centroids`, and the family marker commits last.
    * Stop-the-world like every graduation ([[graft.streaming.Stream.compactStored]]'s
    * contract): readers of the flat path must be quiesced first — a
    * half-moved dir reads LOUDLY wrong (conflicting partition
    * structures), never silently partial, and re-running this op
    * completes it (every step idempotent). */
  def graduateDenseRoot(spark: org.apache.spark.sql.SparkSession,
                        dir: String, model: IvfModel, metric: Metric,
                        vecCol: String): Unit = {
    requireDenseMetric(metric, "graduateDenseRoot")
    val pinned = graft.io.Markers.read(spark, dir, DenseCellsMarker)
    if (pinned.isDefined) {
      val (m, vc) = denseMetaOf(pinned.get, dir, "graduateDenseRoot")
      require(m == metric && vc == vecCol,
        s"graduateDenseRoot: $dir is already a dense root pinned to " +
          s"($m, '$vc') — offered ($metric, '$vecCol')")
      return
    }
    if (readIvfModelMarker(spark, dir).isEmpty)
      throw new IllegalStateException(
        s"graduateDenseRoot: $dir has no IVF model marker — not a " +
          "pinned writePartitioned layout")
    ensureIvfModelMarker(spark, dir, model) // validate, never adopt
    // a streaming-grown dir is governed by its commit log; moving its
    // cell dirs out from under _spark_metadata would desync every
    // later read — compact to a batch layout first (the same refusal
    // every cell-rewrite maintenance path makes)
    requireBatchLayout(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rowsDir = new org.apache.hadoop.fs.Path(s"$dir/rows")
    fs.mkdirs(rowsDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .foreach { cell =>
        val to = new org.apache.hadoop.fs.Path(rowsDir,
          cell.getPath.getName)
        require(fs.rename(cell.getPath, to),
          s"graduateDenseRoot: ${cell.getPath} -> $to failed")
      }
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    graft.io.Markers.write(spark, dir, DenseCellsMarker,
      s"${metricToken(metric)}|$vecCol")
  }

  /** Scalar-quantization (SQ) model: per-dimension [min, max] over the
    * corpus. The reference's index quantizes vectors internally (RaBitQ
    * inside vchordrq — spec.py:437-444 index options); this is the
    * engine-level equivalent: 8-bit codes cut the stored vector bytes
    * 4× (the difference between an embedding store fitting executor
    * memory or not at 100 TB), searched via asymmetric distance
    * (full-precision query vs dequantized codes) + exact re-rank. Bounds
    * are exact input values (min/max), so any engine reproduces codes
    * and distances bit-for-bit. */
  final case class SqModel(mins: Seq[Double], maxs: Seq[Double])

  /** Per-dimension min/max — one shuffle of dim× rows. */
  def buildSq(docs: DataFrame, vecCol: String): SqModel = {
    val mm = docs
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("pos").collect()
    SqModel(mm.map(_.getAs[Double]("mn")).toSeq,
      mm.map(_.getAs[Double]("mx")).toSeq)
  }

  /** 8-bit codes from per-dimension bound COLUMNS:
    * round((x−mn)/(mx−mn)·255), clamped; constant dims code to 0. A
    * native codegen'd kernel ([[org.apache.spark.sql.graft.SqEncode]]),
    * bit-identical to the composed `transform` form. */
  def quantizeSqCols(vec: Column, mins: Column, maxs: Column): Column =
    org.apache.spark.sql.graft.VecExprs.sqEncode(
      vec.cast("array<double>"), mins, maxs)

  /** [[quantizeSqCols]] with corpus-global bounds from an [[SqModel]]
    * (dim-sized literals — small, not a plan bomb). Map-only. Codes are
    * kept as array<int> for portability; the at-rest form packs them
    * to binary. */
  def quantizeSq(docs: DataFrame, vecCol: String, model: SqModel,
                 outCol: String = "codes"): DataFrame =
    docs.withColumn(outCol, quantizeSqCols(col(vecCol),
      typedlit(model.mins), typedlit(model.maxs)))

  /** Asymmetric SQ L2 distance vs bound COLUMNS: full-precision query
    * vs dequantized codes (dq_i = mn_i + c_i/255·(mx_i−mn_i)),
    * sequential left-to-right sum then sqrt — the same scale as
    * [[L2]].dist. A native codegen'd kernel
    * ([[org.apache.spark.sql.graft.SqL2Adc]]), bit-identical to the
    * composed `transform` / `zip_with` / `aggregate` form. */
  def sqDistCols(queryVec: Column, codes: Column, mins: Column,
                 maxs: Column): Column =
    org.apache.spark.sql.graft.VecExprs.sqL2Adc(queryVec, codes, mins, maxs)

  /** [[sqDistCols]] with corpus-global [[SqModel]] bounds. */
  def sqDist(queryVec: Column, codes: Column, model: SqModel): Column =
    sqDistCols(queryVec, codes, typedlit(model.mins), typedlit(model.maxs))

  /** Pack `array<int>` 8-bit codes into a `binary` column — the
    * compact form of a quantized vector store: one byte per dimension
    * in executor memory / shuffle buffers (vs 4-byte ints plus
    * per-element array overhead) and in any non-dictionary storage.
    * On parquet specifically, array<int> codes already dictionary-
    * encode to ~1 byte/element, so the at-rest 4× of quantization is
    * vs the FULL-PRECISION vector column, not vs unpacked codes.
    * Unpack at scan time with [[unpackCodes]] and feed [[sqDistCols]]
    * unchanged. */
  def packCodes(codes: Column): Column = {
    val pack = udf { (cs: Seq[Int]) => cs.map(_.toByte).toArray }
    pack(codes)
  }

  /** Inverse of [[packCodes]]: binary → `array<int>` of 0..255. */
  def unpackCodes(bin: Column): Column = {
    val unpack = udf { (b: Array[Byte]) => b.map(x => x & 0xff).toSeq }
    unpack(bin)
  }

  /** SQ search: top-(k·refine) by asymmetric quantized distance (the
    * cheap scan — 1 byte/dim), exact re-rank of the survivors on the
    * full-precision vectors. Same two-phase refine shape as the
    * reference's maxsim path (Engine.searchByMultivec). */
  def searchSq(quantized: DataFrame, idCol: String, vecCol: String,
               codesCol: String, model: SqModel, queryVec: Column,
               metric: Metric, k: Int, refine: Int = 5,
               roundTo: Int = 6): DataFrame = {
    val cand = quantized
      .withColumn("qdist",
        round(sqDist(queryVec, col(codesCol), model), roundTo))
      .orderBy(col("qdist").asc, col(idCol).asc)
      .limit(k * refine)
    cand
      .withColumn("dist", round(metric.dist(
        col(vecCol).cast("array<double>"), queryVec), roundTo))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("dist"))
  }

  /** Product-quantization model: the vector space split into `m`
    * contiguous subspaces of `subDim` dims, each with its own id-sorted
    * codebook. A vector stores one POSITIONAL code (0-based slot in the
    * id-sorted book) per subspace — m small ints where SQ stores dim
    * bytes and full precision stores 4·dim bytes (64 dims / 8 subspaces
    * → 8 codes, 32× vs fp32; 768 dims / 96 subspaces → 96 codes). The
    * reference quantizes inside vchordrq (RaBitQ — spec.py:437-444
    * index options); PQ is the classical multi-codebook member of the
    * same family, and the one that matters at 100 TB: codes for 10¹¹
    * vectors fit a cluster's executor memory when full vectors cannot,
    * and the scan phase does table lookups instead of vector math. */
  final case class PqModel(m: Int, subDim: Int,
                           codebooks: Array[Array[(Long, Array[Double])]]) {
    require(codebooks.length == m,
      s"expected $m codebooks, got ${codebooks.length}")
  }

  /** Deterministic PQ build — the [[buildIvf]] trick per subspace: the
    * codebook entry for (`cellCol` value c, subspace s) is the mean of
    * the s-th subvector over rows with cell c, rounded to `roundTo`, so
    * any engine reproduces codes and ADC distances exactly. ONE
    * map-side-combinable shuffle (the vector-mean UDAF over full
    * vectors, sliced driver-side); the collected means are
    * cells × dim doubles — bounded by construction, codebooks being
    * small is the point of PQ. Production swaps the cell seed for
    * per-subspace KMeans ([[buildPqKMeans]]); encode/search are
    * identical. */
  def buildPq(docs: DataFrame, cellCol: String, vecCol: String, m: Int,
              roundTo: Int = 5): PqModel = {
    val means = docs
      .select(col(cellCol).cast("long").as("__code"),
        col(vecCol).cast("array<double>").as("__v"))
      .groupBy("__code")
      .agg(transform(graft.functions.VecAgg.vecMean(col("__v")),
        x => round(x, roundTo)).as("__c"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(means.nonEmpty, "buildPq over an empty corpus")
    sliceBooks(means, m)
  }

  /** Per-subspace KMeans PQ build — the production trainer:
    * [[buildIvfKMeans]]'s deterministic seeding + Lloyd's iterations
    * run over each subvector slice. The subspace loop is driver-side
    * but m is small (8–96); each iteration inside is the usual
    * one-shuffle assignment+mean job. */
  def buildPqKMeans(docs: DataFrame, vecCol: String, m: Int, k: Int,
                    iters: Int = 5, roundTo: Int = 5): PqModel = {
    val v = docs.select(col(vecCol).cast("array<double>").as("__v"))
    val dim = v.select(size(col("__v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = v.select(slice(col("__v"), s * subDim + 1, subDim)
        .as("__sv"))
      collectCentroids(buildIvfKMeans(sub, "__sv", k, L2, iters, roundTo))
    }
    PqModel(m, subDim, books)
  }

  private def sliceBooks(means: Array[(Long, Array[Double])],
                         m: Int): PqModel = {
    val dim = means.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { s =>
      means.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      }
    }
    PqModel(m, subDim, books)
  }

  /** One positional code per subspace: argmin squared-L2 over the
    * subspace codebook, strict `<` over the id-sorted entries — ties to
    * the smaller slot, the [[assign]] fold every replay reproduces with
    * `row_number() OVER (ORDER BY dist ASC, id ASC)`. Map-only: the
    * codebooks travel as ONE broadcast inside the encoder's closure
    * (never in the plan), and at scale this stage feeds the at-rest
    * code column directly. */
  def encodePq(docs: DataFrame, vecCol: String, model: PqModel,
               outCol: String = "pq_codes"): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model.codebooks)
    val subDim = model.subDim
    val enc = udf { (vec: Seq[Double]) =>
      val varr = vec.toArray
      val books = bc.value
      books.indices.map { s =>
        val off = s * subDim
        val cb = books(s)
        var bestD = Double.PositiveInfinity
        var best = -1
        var i = 0
        while (i < cb.length) {
          val c = cb(i)._2
          var d = 0.0
          var j = 0
          while (j < subDim) {
            val t = varr(off + j) - c(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        best
      }
    }
    docs.withColumn(outCol, enc(col(vecCol).cast("array<double>")))
  }

  /** Asymmetric PQ distance: the query is pre-folded driver-side into
    * an m × |codes| lookup table of partial SQUARED L2 distances
    * (m·codes·subDim flops ONCE per query — the classical ADC trade),
    * shipped as a plan literal, and the scan then costs m array
    * lookups + a sequential fold per row — builtins only, no vector
    * arithmetic and no UDF in the hot path. NOT codegen'd: the
    * `transform` and `aggregate` higher-order functions are
    * `CodegenFallback` in Spark 4, so every row's fold runs in the
    * expression interpreter with boxed lambdas and keeps its Project
    * out of whole-stage codegen (the SQ kernels' finding; a native
    * [[org.apache.spark.sql.graft.SqL2Adc]]-style kernel is the fix).
    * The literal is m·codes
    * doubles (96×256 ≈ 200 KB worst case); a query BATCH at that size
    * should carry LUTs through a broadcast join instead — the
    * [[knnJoinIvf]] probe pattern. */
  def pqAdcDist(query: Seq[Double], codesCol: Column,
                model: PqModel): Column = {
    val q = query.toArray
    require(q.length == model.m * model.subDim,
      s"query dim ${q.length} != model dim ${model.m * model.subDim}")
    val lut: Seq[Seq[Double]] = (0 until model.m).map { s =>
      val off = s * model.subDim
      model.codebooks(s).toSeq.map { case (_, c) =>
        var d = 0.0
        var j = 0
        while (j < model.subDim) {
          val t = q(off + j) - c(j); d += t * t; j += 1
        }
        d
      }
    }
    val lutCol = typedlit(lut)
    // Malformed codes (a layout whose codebooks were truncated past
    // the geometry marker, or corrupted negative slots) must sink, not
    // crash or float: the c >= 0 guard keeps element_at away from
    // index 0 (always an error, even in try_ form) and from negative
    // from-the-end indexing (which would yield a FINITE, plausible
    // distance); try_element_at yields NULL past the codebook end
    // (ANSI element_at would fail the whole scan); NULL sorts FIRST
    // under asc, so coalesce to +Inf — malformed rows can never
    // outrank real candidates
    sqrt(aggregate(
      transform(codesCol, (c, i) =>
        coalesce(
          when(c >= 0,
            try_element_at(try_element_at(lutCol, i + 1), c + 1)),
          lit(Double.PositiveInfinity))),
      lit(0.0), (acc, v) => acc + v))
  }

  /** Columnar PQ DECODE: reconstruct the quantized vector from an
    * m-slot code column and the literal codebooks (m·codes·subDim
    * doubles — the same bounded driver budget as the ADC LUT,
    * independent of cell count, which is what keeps the quantized
    * health audit broadcastable at 100 TB where a per-(cell, slot,
    * code) LUT would not be). Malformed codes follow [[pqAdcDist]]'s
    * contract — they decode to +Inf sub-vectors, so any distance
    * computed from them is +Inf (a corrupted cell's health mean
    * jumps instead of silently averaging in garbage). */
  def pqReconstructCol(codesCol: Column, model: PqModel): Column = {
    val books: Seq[Seq[Seq[Double]]] =
      model.codebooks.toSeq.map(_.toSeq.map(_._2.toSeq))
    val booksCol = typedlit(books)
    val inf = typedlit(Seq.fill(model.subDim)(Double.PositiveInfinity))
    flatten(transform(codesCol, (c, s) =>
      coalesce(
        when(c >= 0, try_element_at(try_element_at(booksCol, s + 1),
          c + 1)),
        inf)))
  }

  /** PQ search — [[searchSq]]'s two-phase shape with a far cheaper
    * phase 1: ADC top-(k·refine) over a scan of (id, codes) ONLY —
    * when the encoded table is at rest, column pruning means phase 1
    * never reads a single full-precision byte, which is the entire
    * point of PQ at 100 TB (m ints/row through a codegen'd LUT fold
    * into a bounded TakeOrdered heap). The k·refine survivors then
    * fetch their vectors by id (broadcast semi-join back on the
    * store — the standard ANN fetch-by-id) for the exact re-rank. */
  def searchPq(encoded: DataFrame, idCol: String, vecCol: String,
               codesCol: String, model: PqModel, query: Seq[Double],
               metric: Metric, k: Int, refine: Int = 5,
               roundTo: Int = 6): DataFrame = {
    val cand = encoded.select(col(idCol), col(codesCol))
      .withColumn("qdist",
        round(pqAdcDist(query, col(codesCol), model), roundTo))
      .orderBy(col("qdist").asc, col(idCol).asc)
      .limit(k * refine)
      .select(col(idCol))
    encoded.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .withColumn("dist", round(metric.dist(
        col(vecCol).cast("array<double>"), typedlit(query)), roundTo))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("dist"))
  }

  /** IVF-accelerated batch kNN join — the corpus-scale ANN join shape:
    * each query row replicates to its `probes` nearest cells (a map-only
    * explode against the broadcast-variable centroid table), candidates
    * come from ONE equi-join on `centroid_id` (co-partitioned with the
    * doc table's cell partitioning; disk-partitioned cells prune at the
    * scan), and per-query top-k is a partitioned window. Shuffle volume
    * is |Q|·probes·(cell size), never |Q|·|N| — vs [[knnJoin]]'s exact
    * broadcast-queries scan, this is the path when BOTH sides are large.
    * Approximate with exactly [[searchIvf]]'s contract: a doc in an
    * unprobed cell is invisible to that query. Deterministic given the
    * deterministic model (ties: centroid id asc, then doc id asc). */
  def knnJoinIvf(queries: DataFrame, qId: String, qVec: String,
                 assigned: DataFrame, dId: String, dVec: String,
                 model: IvfModel, metric: Metric, probes: Int, k: Int,
                 roundTo: Int = 6): DataFrame = {
    val probeUdf = perQueryProbeUdf(queries.sparkSession, model, metric,
      probes)
    val probed = queries
      .withColumn(model.idCol,
        explode(probeUdf(col(qVec).cast("array<double>"))))
    val cand = probed.join(assigned
        .select(col(dId), col(dVec), col(model.idCol)), Seq(model.idCol))
      .withColumn("dist", round(metric.dist(col(qVec), col(dVec)), roundTo))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("dist").asc, col(dId).asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(dId), col("dist"), col("rank"))
  }

  /** Nearest-`probes` cell ids per input vector as a map-only UDF:
    * broadcast-centroid scores (one executor-wide centroid copy,
    * nothing in the plan), (dist, id)-sorted — the SAME tie-break as
    * [[probeCells]], so the batch operators pick exactly the cells
    * their single-query twins probe. */
  private def perQueryProbeUdf(spark: org.apache.spark.sql.SparkSession,
                               model: IvfModel, metric: Metric,
                               probes: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(collectCentroids(model))
    val nProbes = probes
    udf { (v: Seq[Double]) =>
      val varr = v.toArray
      bc.value.map { case (id, c) => (metric.distScala(varr, c), id) }
        .sorted.take(nProbes).map(_._2).toSeq
    }
  }

  /** Driver-side spherical query reduction — the ONE normalization
    * the single-query quantized probe ([[quantizedCandidates]], via
    * [[normalizeSeq]]), the quantized batch join ([[knnJoinQuantized]])
    * and the fresh-pruning union
    * ([[knnJoinQuantizedFresh]]) run, so an ulp-level arithmetic
    * divergence between the union and a delegate's own probe can
    * never admit a cell outside the pruned fresh slice (which would
    * silently drop that query's fresh-resident neighbors). */
  private def normalizeDriver(v: Array[Double]): Array[Double] = {
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val n = math.sqrt(n2)
    v.map(_ / n)
  }

  /** Driver-side nearest-`probes` cells for one phase-1 query vector —
    * the shared sorted-take ((dist, id) tuple order, [[probeCells]]'
    * tie-break) behind the quantized batch delegates AND
    * [[knnJoinQuantizedFresh]]'s fresh-pruning union: one
    * implementation, so the union covers exactly the cells any
    * delegate's probe can reach, bit for bit. */
  private def nearestCellsDriver(v: Array[Double],
                                 cents: Array[(Long, Array[Double])],
                                 probes: Int): Seq[Long] =
    cents.map { case (cid, c) => (L2.distScala(v, c), cid) }
      .sorted.take(probes).map(_._2).toSeq

  /** The matryoshka batch operators' shared prefix convention: the
    * phase-1 (doc, query) prefix columns in the family's reduction
    * space — raw under L2, the L2-NORMALIZED vector under cosine (the
    * r63 normalize-then-L2 reduction [[matryoshkaTopK]] pins). */
  private def mrlPrefixCols(dv: Column, qv: Column, dims: Int,
                            metric: Metric): (Column, Column) =
    metric match {
      case Cosine => (slice(l2NormalizeUdf(dv), lit(1), lit(dims)),
        slice(l2NormalizeUdf(qv), lit(1), lit(dims)))
      case _ => (slice(dv, lit(1), lit(dims)),
        slice(qv, lit(1), lit(dims)))
    }

  /** The matryoshka batch operators' shared wrong-space refusal: doc
    * and query vectors must live in one embedding space (a doc longer
    * than the query would walk the phase-2 fold past the query
    * array — [[matryoshkaTopK]]'s guard, batch form). */
  private def requireMrlBatchSpace(docs: DataFrame, dVec: String,
                                   queries: DataFrame, qVec: String,
                                   dims: Int, who: String): Unit = {
    val dLen = docs.filter(col(dVec).isNotNull)
      .select(size(col(dVec)).as("__d")).limit(1).collect()
      .headOption.map(_.getInt(0))
    val qLen = queries.filter(col(qVec).isNotNull)
      .select(size(col(qVec)).as("__q")).limit(1).collect()
      .headOption.map(_.getInt(0))
    (dLen, qLen) match {
      case (Some(dl), Some(ql)) =>
        require(dl == ql,
          s"$who: vectors have $dl dims but the queries have $ql — " +
            "wrong embedding space")
        require(dims >= 1 && dims <= ql,
          s"$who: dims must be in [1, $ql], got $dims")
      case _ => () // an empty side makes the join trivially empty
    }
  }

  /** BATCH flat matryoshka under the ENGINE's batch contract — the
    * (qId, dId, dist, rank) projection of [[matryoshkaBatch]] (ONE
    * implementation of the two phases; this wrapper only drops the
    * diagnostic pre_dist the engine surface never returns — the
    * c09/c10 convention). Per-query results are bit-identical to
    * [[matryoshkaTopK]] / the engine's single-query flat branch
    * (specced). */
  def knnJoinMrl(queries: DataFrame, qId: String, qVec: String,
                 docs: DataFrame, dId: String, dVec: String,
                 dims: Int, candidates: Int, k: Int,
                 roundTo: Int = 6, metric: Metric = L2): DataFrame =
    matryoshkaBatch(queries, qId, qVec, docs, dId, dVec, dims,
      candidates, k, roundTo, metric)
      .select(col(qId), col(dId), col("dist"), col("rank"))

  /** BATCH composed matryoshka-IVF — [[searchStored]]'s composed
    * query-log replay form over an IN-MEMORY [[assign]]ed frame (the
    * engine's composed branch, batch twin): each query row explodes to
    * its `probes` nearest cells ([[perQueryProbeUdf]] — probed in the
    * root's reduction space: raw centroids under L2, normalized under
    * cosine, the ONE convention the single-query branch uses), phase 1
    * joins the probed (query, cell) pairs with the assigned frame on
    * `centroid_id` carrying ONLY the `dims`-prefix (the shuffle moves
    * dims/D of the vector bytes — the in-memory twin of the emb_pre-
    * only scan), cuts per query at `candidates` ((pre_dist, id) ties),
    * and phase 2 re-scores each query's candidate pairs at full
    * precision via broadcast joins. Returns (qId, dId, dist, rank),
    * rank 1-based per query — per-query bit-parity with the engine's
    * single-query composed branch (specced). */
  def knnJoinMrlIvf(queries: DataFrame, qId: String, qVec: String,
                    assigned: DataFrame, dId: String, dVec: String,
                    model: IvfModel, dims: Int, metric: Metric,
                    probes: Int, candidates: Int, k: Int,
                    roundTo: Int = 6): DataFrame = {
    require(probes >= 1, s"knnJoinMrlIvf: probes >= 1, got $probes")
    require(candidates >= k,
      s"knnJoinMrlIvf: candidates ($candidates) must be >= k ($k)")
    requireMatryoshkaMetric(metric, "knnJoinMrlIvf")
    requireMrlBatchSpace(assigned, dVec, queries, qVec, dims,
      "knnJoinMrlIvf")
    val dv = col(dVec).cast("array<double>")
    val qv = col(qVec).cast("array<double>")
    val (dPre, qPre) = mrlPrefixCols(dv, qv, dims, metric)
    // probes live in the root's reduction space (normalized model +
    // normalized query under cosine, L2 machinery either way) — the
    // searchByVector composed branch's exact convention
    val probeModel = metric match {
      case Cosine => normalizeModel(model)
      case _ => model
    }
    val qProbe = metric match {
      case Cosine => l2NormalizeUdf(qv)
      case _ => qv
    }
    val probeUdf = perQueryProbeUdf(queries.sparkSession, probeModel,
      L2, probes)
    // ids keep their NATURAL types (string/uuid pks must not null out
    // under a long cast — Bm25.searchBatch's rule; knnJoinIvf on the
    // same dispatch surface doesn't cast either)
    val probed = queries
      .select(col(qId), qPre.as("__qpre"),
        explode(probeUdf(qProbe)).as(model.idCol))
    val w1 = Window.partitionBy(col(qId))
      .orderBy(col("pre_dist").asc, col(dId).asc)
    val cand = assigned
      .select(col(dId), col(model.idCol), dPre.as("__dpre"))
      .join(probed, Seq(model.idCol))
      .withColumn("pre_dist", round(org.apache.spark.sql.graft.VecExprs
        .l2Dist(col("__dpre"), col("__qpre")), roundTo))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= candidates)
      .select(col(qId), col(dId))
    val qFull = queries.select(col(qId), qv.as("__qfull"))
    val w2 = Window.partitionBy(col(qId))
      .orderBy(col("dist").asc, col(dId).asc)
    assigned.select(col(dId), dv.as("__dfull"))
      .join(broadcast(cand), Seq(dId))
      .join(broadcast(qFull), Seq(qId))
      .withColumn("dist",
        round(metric.dist(col("__dfull"), col("__qfull")), roundTo))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(qId), col(dId), col("dist"), col("rank"))
  }

  /** BATCH composed matryoshka-IVF over an AT-REST
    * [[writeMatryoshkaIvf]] root — [[knnJoinMrlIvf]]'s stored twin
    * with the composed [[searchStored]]'s two pruning pins asserted
    * ON EVERY CALL: phase 1 reads the UNION of the batch's probed cell
    * DIRECTORIES only (`centroid_id` PartitionFilters) and within
    * them `emb_pre` only (never `emb_full` — at 100 TB phase 1 reads
    * dims/D of the probed cells' vector bytes), restricted per query
    * to ITS probed cells by a broadcast (query, cell) pair join;
    * phase 2 re-reads only the candidate ids (pushed as an In filter,
    * still cell-pruned) at full precision and re-ranks per query.
    * Geometry comes from the root's marker (dims + metric pinned at
    * write — a wrong-metric read refuses), the model from
    * [[CellRoot.readModel]].
    * `pred` is the family's metadata filter (r82's contract, batch
    * form): it thins the cell-pruned phase-1 scan BEFORE each query's
    * cut, pushing into parquet next to emb_pre. Returns
    * (qId, idCol, pre_dist, dist, rank), rank 1-based per query;
    * per-query rows identical to a composed [[searchStored]] (specced). */
  def matryoshkaTopKIvfBatch(spark: org.apache.spark.sql.SparkSession,
                             dir: String, idCol: String,
                             queries: DataFrame, qId: String,
                             qVec: String, probes: Int,
                             candidates: Int, k: Int,
                             roundTo: Int = 6,
                             pred: Column = lit(true),
                             metric: Metric = L2): DataFrame = {
    require(probes >= 1, s"matryoshkaTopKIvfBatch: probes >= 1, got $probes")
    require(candidates >= k,
      s"matryoshkaTopKIvfBatch: candidates ($candidates) must be >= " +
        s"k ($k)")
    requireMatryoshkaMetric(metric, "matryoshkaTopKIvfBatch")
    val root = cellRoot(spark, dir, None)
      .as[CellRoot.MrlIvf]("matryoshkaTopKIvfBatch")
    val dims = root.dims
    require(metric == root.metric,
      s"matryoshkaTopKIvfBatch: $dir is pinned to metric=${root.metric} " +
        s"but the query asks $metric — emb_pre and the cell geometry " +
        "live in the root's reduction space")
    val model = root.readModel
    val qv = col(qVec).cast("array<double>")
    val rows = spark.read.parquet(s"$dir/rows")
    requireMrlBatchSpace(rows, "emb_full", queries, qVec, dims,
      "matryoshkaTopKIvfBatch")
    // probe in the root's reduction space; the query prefix is the
    // slice of the NORMALIZED query under cosine (emb_pre's space)
    val probeModel = metric match {
      case Cosine => normalizeModel(model)
      case _ => model
    }
    val qProbe = metric match {
      case Cosine => l2NormalizeUdf(qv)
      case _ => qv
    }
    val qPre = slice(qProbe, lit(1), lit(dims))
    val probeUdf = perQueryProbeUdf(spark, probeModel, L2, probes)
    // (query, probed-cell) pairs: |Q|·probes rows, broadcast both into
    // phase 1 (per-query cell restriction) and collected for the
    // partition-pruning literal (≤ lists distinct cells). qId keeps
    // its natural type (a long cast nulls string qids silently)
    val probed = queries
      .select(col(qId), qPre.as("__qpre"),
        explode(probeUdf(qProbe)).as("centroid_id"))
      .localCheckpoint(true)
    val cells = distinctLongKeys(probed, col("centroid_id"))
    if (cells.isEmpty)
      return probed
        .select(col(qId), lit(0L).as(idCol),
          lit(0.0).as("pre_dist"), lit(0.0).as("dist"),
          lit(0).as("rank"))
        .limit(0)
    val w1 = Window.partitionBy(col(qId))
      .orderBy(col("pre_dist").asc, col(idCol).asc)
    // `pred` is the family's metadata filter (r82's placement, batch
    // form): applied BEFORE each query's prefix cut — on the SAME
    // cell-pruned scan, so a plain column comparison reaches parquet
    // as PushedFilters next to emb_pre — and disallowed rows never
    // consume candidate slots
    val phase1 = rows
      .filter(col("centroid_id").isin(cells: _*))
      .filter(pred)
      .select(col(idCol), col("centroid_id"), col("emb_pre"))
      .join(broadcast(probed), Seq("centroid_id"))
      .withColumn("pre_dist", round(org.apache.spark.sql.graft.VecExprs
        .l2Dist(col("emb_pre"), col("__qpre")), roundTo))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= candidates)
      .select(col(qId), col(idCol), col("pre_dist"))
    val p1Phys = phase1.queryExecution.executedPlan.toString
    require(p1Phys.contains("emb_pre") && !p1Phys.contains("emb_full"),
      s"matryoshkaTopKIvfBatch phase-1 scan did not prune the full " +
        s"vector:\n$p1Phys")
    require("""PartitionFilters: \[[^\]]*centroid_id""".r
        .findFirstIn(p1Phys).isDefined,
      s"matryoshkaTopKIvfBatch phase 1 did not prune cell " +
        s"partitions:\n$p1Phys")
    // |Q|·candidates pairs, driver-bounded like the single-query
    // form's candidate collect — the distinct ids push into the
    // phase-2 scan as an In filter next to the cell pruning
    val candPairs = phase1.localCheckpoint(true)
    val ids = candPairs.select(col(idCol)).distinct()
      .collect().map(_.get(0))
    val qFull = queries.select(col(qId), qv.as("__qfull"))
    val w2 = Window.partitionBy(col(qId))
      .orderBy(col("dist").asc, col(idCol).asc)
    rows
      .filter(col("centroid_id").isin(cells: _*))
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol), col("emb_full"))
      .join(broadcast(candPairs), Seq(idCol))
      .join(broadcast(qFull), Seq(qId))
      .withColumn("dist",
        round(metric.dist(col("emb_full"), col("__qfull")), roundTo))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col(qId), col(idCol), col("pre_dist"), col("dist"),
        col("rank"))
  }

  // ---------------------------------------------------------------------
  // Range (distance-threshold) search — the `dist <= eps` twin of top-k
  // (pgvector's `WHERE embedding <-> q < eps` shape, which the
  // reference's fixed-topk `query_vec` client.py:294-321 cannot
  // express). Unlike the probes contract, IVF acceleration here is
  // EXACT: with a per-cell covering radius, the triangle inequality
  // proves a cell with dist(q, centroid) > radius + eps holds no match,
  // so pruning never drops a result.
  // ---------------------------------------------------------------------

  /** Exact range search: every doc within `eps` of the query (rounded
    * distance, so the cut is engine-portable), (dist, id)-ordered.
    * Map-only scan + a sort of ONLY the matched set — at 100 TB the
    * predicate work distributes with the scan and the sort sees eps-few
    * rows. Unbounded by construction: callers wanting a cap compose
    * `.limit(n)` (the sort already orders for it). */
  def rangeSearch(docs: DataFrame, idCol: String, vecCol: String,
                  queryVec: Column, metric: Metric, eps: Double,
                  roundTo: Int = 6): DataFrame =
    docs
      .withColumn("dist", round(metric.dist(col(vecCol), queryVec), roundTo))
      .filter(col("dist") <= eps)
      .orderBy(col("dist").asc, col(idCol).asc)

  /** Grouped top-k: the k nearest docs PER GROUP (label, language,
    * source domain…) for one query — the retrieval shape behind
    * per-stratum quotas ("3 nearest per domain", the curation twin of
    * stratified sampling) and category-faceted search. One window over
    * the group key — the shuffle is the groupBy-shaped exchange the
    * quota semantics inherently need; within a partition the rank is
    * streaming. Returns (group, id, dist, rank), rank 1-based per
    * group, ties (dist, id). */
  def groupedTopK(docs: DataFrame, idCol: String, vecCol: String,
                  groupCol: String, queryVec: Column, metric: Metric,
                  kPerGroup: Int, roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("dist").asc, col(idCol).asc)
    docs
      .withColumn("dist", round(metric.dist(col(vecCol), queryVec), roundTo))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kPerGroup)
      .select(col(groupCol), col(idCol), col("dist"), col("rank"))
      .orderBy(col(groupCol).asc, col("rank").asc)
  }

  /** Per-cell covering radius over an [[assign]]ed table: max distance
    * from any member to its centroid — ONE combinable max-aggregation
    * (k output rows), built once next to the layout and reused by every
    * range query. The broadcast is the k-row centroid table. */
  def cellRadii(assigned: DataFrame, vecCol: String, model: IvfModel,
                metric: Metric): DataFrame = {
    requireTriangleMetric(metric, "cellRadii")
    assigned.join(broadcast(model.centroids), model.idCol)
      .groupBy(col(model.idCol))
      .agg(max(metric.dist(col(vecCol).cast("array<double>"),
        col(model.vecCol))).as("radius"))
  }

  /** The radii contract is a triangle-inequality argument, and cosine
    * distance (1 − cos) is NOT a metric — d(a,c) ≤ d(a,b) + d(b,c)
    * fails on real triples, so radii pruning could drop TRUE matches.
    * Refuse loudly. Cosine range queries have an exact reduction
    * instead: on L2-normalized vectors ‖a−b‖² = 2·cosDist(a,b), so
    * the cell cut runs under L2 on the unit sphere with
    * eps_l2 = sqrt(2·eps_cos) ([[cellEps]]) — the range searches and
    * joins take `metric = Cosine` and apply it themselves
    * ([[requireRangeMetric]]). */
  private def requireTriangleMetric(metric: Metric, what: String): Unit =
    require(metric == L2,
      s"$what needs a true metric (triangle inequality); cosine/IP " +
        "range queries must go through the normalized-L2 reduction: " +
        "l2Normalize the vectors and use eps_l2 = sqrt(2*eps_cos)")

  /** A range search or join's metric: L2, or Cosine through the
    * unit-sphere reduction; IP has neither and refuses. */
  private def requireRangeMetric(metric: Metric, what: String): Unit =
    if (metric != Cosine) requireTriangleMetric(metric, what)

  /** The L2 radius the cell cut uses for a range query's `eps`: under
    * cosine, round-cosDist(q,v) ≤ eps ⇒ 2·cosDist ≤ 2·eps + slack ⇒
    * l2(q̂,v̂) ≤ sqrt(2·eps + slack) on the normalized vectors, so the
    * cut keeps every cell a true match can live in. The layout must be
    * the SPHERICAL one: rows assigned under the normalized model, the
    * radii [[cellRadii]] over the normalized column. */
  private def cellEps(metric: Metric, eps: Double, slack: Double): Double =
    if (metric == Cosine) math.sqrt(2.0 * eps + slack) else eps

  /** Cells a radius-`eps` ball around the query can intersect:
    * dist(q, centroid) ≤ radius + eps (+ one output-rounding step of
    * slack, since the result filter compares the ROUNDED distance).
    * Driver-side over k (centroid, radius) rows — the same bounded
    * collect as [[probeCells]]. Exactness: doc d in cell c with
    * round-dist(q,d) ≤ eps ⇒ dist(q,d) ≤ eps + ulp-slack ⇒
    * dist(q, centroid_c) ≤ dist(q,d) + radius_c — c is kept. */
  def rangeCells(model: IvfModel, radii: DataFrame, queryVec: Column,
                 metric: Metric, eps: Double,
                 roundTo: Int = 6): Array[Long] = {
    requireTriangleMetric(metric, "rangeCells")
    val spark = model.centroids.sparkSession
    import spark.implicits._
    // literal queries (every stored search) extract driver-side —
    // [[literalVec]]'s exactness contract (widening-only) — instead of
    // paying a one-row Spark job per call; computed columns keep the
    // job form
    val q = literalVec(queryVec).getOrElse(
      model.centroids.sparkSession.range(1)
        .select(queryVec.cast("array<double>").as("q"))
        .as[Seq[Double]].head().toArray)
    val rad = collectRadiiMap(model, radii)
    val slack = math.pow(10.0, -roundTo)
    collectCentroids(model)
      .filter { case (id, c) =>
        metric.distScala(q, c) <= rad.getOrElse(id, 0.0) + eps + slack }
      .map(_._1)
  }

  /** Collected (cell id → covering radius) — the radii twin of
    * [[ivfModelAt]]'s memo: every stored range search/append/join
    * collects the same few-KB radii side table driver-side, one
    * collect JOB per call. When the frame is a plain single-root
    * parquet scan (the [[CellRoot.Range.radii]] shape), the collect is
    * LRU-memoized per (session, root path, LISTING SIGNATURE);
    * staleness discipline is ivfModelAt's verbatim — every radii
    * mutation is a swapSideTable rename or an overwrite with fresh
    * part-UUID names, so the key changes by construction. Computed /
    * multi-root radii frames keep the plain collect. */
  private val dirRadiiCache =
    new graft.core.LruCache[String, Map[Long, Double]](64)
  private[graft] def collectRadiiMap(model: IvfModel,
                                   radii: DataFrame): Map[Long, Double] =
    parquetRootOf(radii) match {
      case Some(path) => radiiAt(radii.sparkSession, path, model.idCol)(radii)
      case None => collectRadii(radii, model.idCol)
    }

  /** The memoized radii collect of the table at `path`, looked up by
    * its listing BEFORE `radii` is built: a warm read builds no parquet
    * frame, so it pays no schema-inference job. */
  private def radiiAt(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String)(
      radii: => DataFrame): Map[Long, Double] =
    dirRadiiCache.getOrElseUpdate(s"${System.identityHashCode(spark)}|" +
      s"$idCol|$path|${listingSig(spark, path)}")(collectRadii(radii, idCol))

  private def collectRadii(radii: DataFrame,
                           idCol: String): Map[Long, Double] =
    radii.select(col(idCol).cast("long"), col("radius").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

  /** The single root path behind a PLAIN parquet scan (no projections,
    * no filters, one root) — None for anything else. */
  private def parquetRootOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation if fs.location.rootPaths.length == 1 =>
            Some(fs.location.rootPaths.head.toString)
          case _ => None
        }
      case _ => None
    }

  /** Range search over a [[writePartitioned]] layout — EXACT, unlike
    * the probes family: [[rangeCells]]' triangle-inequality cut plants
    * a literal `isin` that prunes whole cell DIRECTORIES
    * (`PartitionFilters`), `pred` pushes into the surviving row groups
    * (`PushedFilters`), and no true match can live in a pruned cell.
    * Tight clusters + small eps ⇒ most of the corpus is never read;
    * the worst case (eps spanning every cell) degrades to the exact
    * scan [[rangeSearch]] already is. Under `Cosine` the layout is the
    * spherical one and the cut runs on the normalized query with
    * [[cellEps]]' reduced radius, while the OUTPUT filter is true
    * cosine on the raw vectors. */
  def rangeSearchIvfStored(spark: org.apache.spark.sql.SparkSession,
                           path: String, idCol: String, vecCol: String,
                           model: IvfModel, radii: DataFrame,
                           queryVec: Column, metric: Metric, eps: Double,
                           roundTo: Int = 6,
                           pred: Column = lit(true)): DataFrame = {
    requireRangeMetric(metric, "rangeSearchIvfStored")
    // l2NormalizeQuery folds a LITERAL query's normalization on the
    // driver (bit-identical by its contract), which keeps the cell cut
    // inside rangeCells' driver fast path
    val cells =
      if (metric == Cosine)
        rangeCells(model, radii, l2NormalizeQuery(queryVec), L2,
          cellEps(Cosine, eps, math.pow(10.0, -roundTo)), roundTo)
      else rangeCells(model, radii, queryVec, metric, eps, roundTo)
    val pruned = spark.read.parquet(path)
      .filter(col(model.idCol).isin(cells: _*))
      .filter(pred)
    rangeSearch(pruned, idCol, vecCol, queryVec, metric, eps, roundTo)
  }

  /** Self-contained at-rest range index: the cell-partitioned rows
    * ([[writePartitioned]] layout under `rows/`), the centroid side
    * table, and the covering radii — everything a reader needs, plus
    * the model-fingerprint marker so rows from a different cell
    * geometry cannot be mixed in. DELETE-SAFETY: removing rows can
    * only SHRINK a cell's true radius, so radii staleness after a
    * [[deleteStored]]-style rewrite is CONSERVATIVE — stale radii keep
    * more cells than needed, never fewer; correctness survives without
    * a radii rebuild (rebuild to restore pruning power, not
    * soundness). The asymmetry matters: APPENDS are NOT covered — a
    * new row farther from its centroid than the stored radius would
    * be invisible to range queries whose ball misses the stale
    * radius. Appending rows requires re-running [[cellRadii]] over
    * the union (or maintaining the running per-cell max in the same
    * job) BEFORE the new rows become visible — [[appendIdempotent]]
    * on a [[CellRoot.Range]] is exactly that operation. */
  def writeRangeIndex(assigned: DataFrame, vecCol: String,
                      model: IvfModel, dir: String): Unit = {
    writePartitioned(assigned, s"$dir/rows")
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    cellRadii(assigned, vecCol, model, L2).write.mode("overwrite")
      .parquet(s"$dir/radii")
    ensureIvfModelMarker(assigned.sparkSession, dir, model)
  }

  /** A maintainable cell-partitioned root, resolved ONCE from its own
    * family marker or layout ([[cellRoot]]). Each case names what its
    * family does differently under maintenance — the data subdir, the
    * space a flagged cell retrains in, the stored form of a new
    * sub-centroid, radii growth, the re-assignment (or re-encode) of
    * moved rows, the side rows a split inherits, the `fresh/` refusal,
    * the per-row health distance and the steps of a replay-safe
    * append — and [[splitOverfull]], [[mergeUnderfull]],
    * [[indexHealth]], [[appendIdempotent]] and its stream
    * [[graft.streaming.Stream.ingestAppend]] are written once over
    * it; every stored reader opens it through [[CellRoot.readModel]],
    * and [[searchStored]] takes each family's probe space and ranking
    * step from it. A case holds the root's IMMUTABLE identity (family,
    * metric, vector column); centroids, radii and markers are re-read
    * by every actuator and reader call. */
  sealed trait CellRoot extends Product with Serializable {
    def spark: org.apache.spark.sql.SparkSession
    def dir: String
    /** The root subdir holding the cell-partitioned rows — the path a
      * delete rewrites. */
    def dataSub: String = "rows"
    /** The family's name in refusals. */
    private[ops] def kind: String
    /** The space a flagged cell's rows retrain in: the lift applied to
      * the rows and the column it yields. */
    private[ops] def trainSpace: (DataFrame => DataFrame, String)
    /** The stored form of a freshly trained sub-centroid. */
    private[ops] def centroidForm: Column => Column = identity
    /** The vector column whose covering radii grow as rows move in
      * (range roots only). */
    private[ops] def radiiVecCol: Option[String] = None
    /** Re-homes the rows of dissolved cells under the reduced model. */
    private[ops] def reassigner: (DataFrame, IvfModel) => DataFrame
    /** A split's side-table step before its parents dissolve:
      * `newIds` are (parent cell, new sub-cell) pairs. */
    private[ops] def inheritSide(newIds: Seq[(Long, Long)]): Unit = ()
    /** Refusals a maintenance step needs beyond the torn-merge one. */
    private[ops] def requireMaintainable(who: String): Unit = ()
    /** (cell, `__d`) per stored row: its distance to its cell centroid
      * in the family's geometry, rounded to `roundTo`. */
    private[ops] def healthDist(rows: DataFrame, model: IvfModel,
                                roundTo: Int): DataFrame

    /** An append's entry: heal a torn root (this default) or refuse
      * it, run the family's preconditions, and return the model the
      * batch assigns under. */
    private[ops] def appendEntry(idCol: String): IvfModel = {
      healRoot(spark, dir)
      pinnedModel
    }
    /** The root's own centroids, checked against the pinned
      * fingerprint (a hand-swapped `centroids/` dir refuses). */
    protected def pinnedModel: IvfModel = {
      val model = ivfModelAt(spark, dir)
      ensureIvfModelMarker(spark, dir, model)
      model
    }
    /** The batch column an append assigns on. */
    private[graft] def assignCol: String
    /** A batch in the stored row form, carrying the cell column. */
    private[ops] def appendRows(batch: DataFrame, model: IvfModel,
                                idCol: String): DataFrame =
      reassigner(batch, model)
    /** The cells a stored copy of a batch row can sit in, or None when
      * only the whole layout is: once a split has run
      * ([[hasSplitHistory]]), a sub-centroid can have stolen a
      * neighboring cell's boundary row, whose copy then sits off
      * today's argmin for good. */
    private[ops] def replayCells(rows: DataFrame,
                                 model: IvfModel): Option[Array[Long]] =
      if (hasSplitHistory(spark, dir)) None
      else Some(distinctLongKeys(rows, col(model.idCol)))
    /** The subdirs whose ids count as already present. */
    private[ops] def presentSubs: Seq[String] = Seq(dataSub)
    /** The subdir an append writes. */
    private[ops] def appendSub: String = dataSub
    /** The schema an appended row must have, given the stored one. */
    private[ops] def appendSchema(
        stored: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = stored
    /** Runs on the rows to append before they become visible. */
    private[ops] def beforeAppend(rows: DataFrame, model: IvfModel): Unit = ()

    /** The READER seat every stored search, batch join and declarative
      * binding opens the root through: refuses a torn merge
      * ([[requireNoPendingMerge]]), loads the pinned model
      * ([[ivfModelAt]] — the same instance while the centroids listing
      * is unchanged, so its collected centroids stay memoized) and
      * refuses centroids whose fingerprint disagrees with a present IVF
      * model marker (a hand-swapped `centroids/`). A read never writes
      * a marker. */
    def readModel: IvfModel = {
      requireNoPendingMerge(spark, dir)
      val model = ivfModelAt(spark, dir)
      readIvfModelMarker(spark, dir).foreach(requirePinned(dir, _, model))
      model
    }
    /** [[searchStored]]'s probe space: the model, query and metric its
      * probe cells are picked under. */
    private[ops] def probeSpace(model: IvfModel,
                                q: Seq[Double]): (IvfModel, Seq[Double], Metric)
    /** [[searchStored]]'s ranking step over the root's rows in the
      * probed `cells`, thinned by `pred` before any cut. */
    private[ops] def rankProbed(model: IvfModel, cells: Array[Long],
                                idCol: String, q: Seq[Double], k: Int,
                                refine: Int, roundTo: Int,
                                pred: Column): DataFrame

    /** This root as family `R`, or the typed refusal naming both. */
    def as[R <: CellRoot](who: String)(
        implicit tag: scala.reflect.ClassTag[R]): R = this match {
      case r: R => r
      case _ => throw new IllegalStateException(
        s"$who: $dir is a $kind root, not a " +
          s"${tag.runtimeClass.getSimpleName} root — this seat serves " +
          "one family")
    }
  }

  object CellRoot {
    /** A [[writeRangeIndex]] root: L2 cells plus a radii side table
      * covering `vecCol`. The layout predates the family markers and
      * does not record its vector column, so the caller names it;
      * split, merge, health and append refuse without it.
      *
      * An append grows the radii to max(stored, batch) per cell
      * through [[swapSideTable]] BEFORE its rows land: a row outside
      * its cell's stored radius would otherwise be invisible to range
      * queries whose ball misses the stale radius, and a crash between
      * the two steps leaves radii that only over-admit cells. Its
      * replay probe admits cells by the covering radii, not by argmin:
      * every stored copy lies within its own cell's radius (radii grow
      * before rows land; deletes leave them conservative; split and
      * merge maintain them), so the cut reaches a copy a split
      * stranded off argmin too, and stays sound without the
      * whole-layout fallback. */
    final case class Range(spark: org.apache.spark.sql.SparkSession,
                           dir: String, vecCol: Option[String])
        extends CellRoot {
      private[ops] def kind: String = "range"
      private def vec: String = vecCol.getOrElse(
        throw new IllegalStateException(s"$dir is a range root: its " +
          "radii cover the table's vector column, and none was named"))
      private[ops] def trainSpace: (DataFrame => DataFrame, String) =
        (identity[DataFrame] _, vec)
      override private[ops] def radiiVecCol: Option[String] = Some(vec)
      private[graft] def assignCol: String = vec
      private[ops] def reassigner: (DataFrame, IvfModel) => DataFrame = {
        val v = vec
        (rows, reduced) => assign(rows, v, reduced, L2)
      }
      private[ops] def healthDist(rows: DataFrame, model: IvfModel,
                                  roundTo: Int): DataFrame =
        centroidDist(rows.select(col(model.idCol), col(vec)), vec, model,
          L2, roundTo)
      /** The radii side table — a plain parquet scan. */
      def radii: DataFrame = spark.read.parquet(s"$dir/radii")
      /** The covering radius per cell of `model`, memoized per radii
        * listing; a warm read runs no Spark job. */
      def readRadii(model: IvfModel): Map[Long, Double] =
        radiiAt(spark, s"$dir/radii", model.idCol)(radii)
      private def notTopK = new IllegalStateException(
        s"searchStored: $dir is a range root — it answers eps queries, " +
          "not top-k; use Ann.rangeSearchStoredSelf")
      private[ops] def probeSpace(model: IvfModel, q: Seq[Double])
          : (IvfModel, Seq[Double], Metric) = throw notTopK
      private[ops] def rankProbed(model: IvfModel, cells: Array[Long],
                                  idCol: String, q: Seq[Double], k: Int,
                                  refine: Int, roundTo: Int,
                                  pred: Column): DataFrame = throw notTopK
      override private[ops] def replayCells(
          rows: DataFrame, model: IvfModel): Option[Array[Long]] = {
        val rad = readRadii(model)
        val bc = spark.sparkContext.broadcast(
          collectCentroids(model).map { case (id, c) =>
            (id, c, rad.getOrElse(id, 0.0)) })
        val admit = udf { (v: Seq[Double]) =>
          val varr = v.toArray
          bc.value.iterator
            .filter { case (_, c, r) => L2.distScala(varr, c) <= r + 1e-6 }
            .map(_._1).toSeq
        }
        Some(distinctLongKeys(
          rows.select(explode(admit(col(vec).cast("array<double>")))
            .as(model.idCol)), col(model.idCol)))
      }
      override private[ops] def beforeAppend(rows: DataFrame,
                                             model: IvfModel): Unit = {
        val grown = radii
          .select(col(model.idCol), col("radius"))
          .unionByName(cellRadii(rows, vec, model, L2))
          .groupBy(col(model.idCol)).agg(max(col("radius")).as("radius"))
        swapSideTable(new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
          dir, "radii", grown)
      }
    }

    /** A [[writeDenseRoot]] root, plain or maxsim (the persisted token
      * mean); metric and vector column come from its marker. Cosine
      * roots retrain on the unit sphere and store UNIT sub-centroids
      * (cosine argmin and probes are scale-invariant in the centroid,
      * so disk-verbatim readers agree); moved rows re-assign to their
      * argmin under the root's own metric. */
    final case class Dense(spark: org.apache.spark.sql.SparkSession,
                           dir: String, metric: Metric, vecCol: String)
        extends CellRoot {
      private[ops] def kind: String = "dense"
      private[graft] def assignCol: String = vecCol
      private[ops] def trainSpace: (DataFrame => DataFrame, String) =
        if (metric == Cosine)
          ((df: DataFrame) => withNormalized(df, vecCol, "__nv"), "__nv")
        else (identity[DataFrame] _, vecCol)
      override private[ops] def centroidForm: Column => Column =
        if (metric == Cosine) l2Normalize else identity
      private[ops] def reassigner: (DataFrame, IvfModel) => DataFrame =
        (rows, reduced) => assign(rows, vecCol, reduced, metric)
      private[ops] def healthDist(rows: DataFrame, model: IvfModel,
                                  roundTo: Int): DataFrame =
        centroidDist(rows.select(col(model.idCol), col(vecCol)), vecCol,
          model, metric, roundTo)
      private[ops] def probeSpace(model: IvfModel, q: Seq[Double])
          : (IvfModel, Seq[Double], Metric) = (model, q, metric)
      /** The exact top-k under the root's metric over the probed rows;
        * `refine` is unused. */
      private[ops] def rankProbed(model: IvfModel, cells: Array[Long],
                                  idCol: String, q: Seq[Double], k: Int,
                                  refine: Int, roundTo: Int,
                                  pred: Column): DataFrame =
        topK(spark.read.parquet(s"$dir/rows")
            .filter(col(model.idCol).isin(cells: _*)).filter(pred),
          idCol, vecCol, typedlit(q), metric, k, roundTo)
    }

    /** A [[writeMatryoshkaIvf]] root; its metric and prefix `dims`
      * come from the marker, and `vecCol` names the raw vector column
      * of the batches an append slices (appends refuse without it).
      * Cosine roots retrain, re-assign and audit the normalized
      * `emb_full` against normalized centroids under L2
      * ([[matryoshkaIvfRows]]' exact argmin) but store raw k-means
      * means (the layout's normalize-on-read convention); `emb_pre` is
      * row-intrinsic and moves verbatim. An append refuses a torn
      * merge, and a batch must carry every column the stored rows
      * keep beside the id, the prefix, the full vector and the cell. */
    final case class MrlIvf(spark: org.apache.spark.sql.SparkSession,
                            dir: String, metric: Metric, dims: Int,
                            vecCol: Option[String])
        extends CellRoot {
      private[ops] def kind: String = "composed matryoshka-IVF"
      override private[ops] def appendEntry(idCol: String): IvfModel = {
        requireNoPendingMerge(spark, dir)
        pinnedModel
      }
      private[graft] def assignCol: String = vecCol.getOrElse(
        throw new IllegalStateException(s"$dir is a composed " +
          "matryoshka-IVF root: an append slices the batch's vector " +
          "column, and none was named"))
      override private[ops] def appendRows(batch: DataFrame,
                                           model: IvfModel,
                                           idCol: String): DataFrame = {
        val vec = assignCol
        val keep = (spark.read.parquet(s"$dir/rows").columns.toSet --
          Set(idCol, "emb_pre", "emb_full", model.idCol)).toSeq.sorted
        keep.foreach(c => require(batch.columns.contains(c),
          s"appendIdempotent: stored layout carries kept column '$c' " +
            "but the batch lacks it — a mixed-schema rows/ dir reads " +
            "back nondeterministically"))
        matryoshkaIvfRows(batch, idCol, vec, dims, model, metric, keep)
      }
      private[ops] def trainSpace: (DataFrame => DataFrame, String) =
        if (metric == Cosine)
          ((df: DataFrame) => withNormalized(df, "emb_full", "__nv"),
            "__nv")
        else (identity[DataFrame] _, "emb_full")
      private[ops] def reassigner: (DataFrame, IvfModel) => DataFrame =
        (rows, reduced) =>
          if (metric == Cosine)
            assign(withNormalized(rows, "emb_full", "__nv"), "__nv",
              normalizeModel(reduced), L2).drop("__nv")
          else assign(rows, "emb_full", reduced, L2)
      private[ops] def healthDist(rows: DataFrame, model: IvfModel,
                                  roundTo: Int): DataFrame = {
        val full = rows.select(col(model.idCol), col("emb_full"))
        if (metric == Cosine)
          centroidDist(withNormalized(full, "emb_full", "__nv"), "__nv",
            normalizeModel(model), L2, roundTo)
        else centroidDist(full, "emb_full", model, L2, roundTo)
      }
      /** A query in the root's reduction space: the unit sphere under
        * cosine (where `emb_pre` and the cells live), raw under L2. */
      private def reduce(q: Seq[Double]): Seq[Double] =
        if (metric == Cosine) normalizeSeq(q) else q
      private[ops] def probeSpace(model: IvfModel, q: Seq[Double])
          : (IvfModel, Seq[Double], Metric) =
        (if (metric == Cosine) normalizeModel(model) else model, reduce(q),
          L2)
      /** The two-phase prefix cut: phase 1 keeps the top k·refine
        * (default 5) probed rows by prefix distance, phase 2 re-scores
        * them at full precision under the root's TRUE metric (genuine
        * cosine on the raw vectors under cosine). Both scale pins are
        * asserted on every call — phase 1 must show `centroid_id`
        * PartitionFilters (unprobed cell directories never read) AND an
        * `emb_pre`-only read (the full vector never read in phase 1);
        * the phase-2 fetch keeps the cell filter too. Returns
        * (id, pre_dist, dist). */
      private[ops] def rankProbed(model: IvfModel, cells: Array[Long],
                                  idCol: String, q: Seq[Double], k: Int,
                                  refine: Int, roundTo: Int,
                                  pred: Column): DataFrame = {
        require(dims <= q.length,
          s"searchStored: stored dims=$dims exceeds query dimension " +
            s"${q.length} — wrong embedding space for this root")
        val qPre = typedlit(reduce(q).take(dims))
        val rows = spark.read.parquet(s"$dir/rows")
        rows.filter(col("emb_full").isNotNull)
          .select(size(col("emb_full")).as("__d")).limit(1).collect()
          .headOption.foreach { r =>
            require(r.getInt(0) == q.length,
              s"searchStored: stored vectors have ${r.getInt(0)} dims " +
                s"but the query has ${q.length} — wrong embedding space " +
                "for this root")
          }
        val pruned = rows.filter(col(model.idCol).isin(cells: _*))
        def preDist = round(org.apache.spark.sql.graft.VecExprs.l2Dist(
          col("emb_pre"), qPre), roundTo).as("pre_dist")
        val phase1 = pruned.filter(pred).select(col(idCol), preDist)
          .orderBy(col("pre_dist").asc, col(idCol).asc)
          .limit(k * (if (refine > 0) refine else 5))
        val p1Phys = phase1.queryExecution.executedPlan.toString
        require(p1Phys.contains("emb_pre") && !p1Phys.contains("emb_full"),
          s"searchStored phase-1 scan did not prune the full " +
            s"vector:\n$p1Phys")
        require("""PartitionFilters: \[[^\]]*centroid_id""".r
            .findFirstIn(p1Phys).isDefined,
          s"searchStored phase 1 did not prune cell partitions:\n" +
            p1Phys)
        val ids = phase1.select(col(idCol)).collect().map(_.get(0))
        pruned.filter(col(idCol).isin(ids: _*))
          .select(col(idCol), preDist,
            round(metric.dist(col("emb_full"), typedlit(q)), roundTo)
              .as("dist"))
          .orderBy(col("dist").asc, col(idCol).asc)
          .limit(k)
      }
    }

    /** A [[writeQuantized]] or streamed root (SQ / PQ / 1-bit).
      * `spherical` is the flag its geometry marker pins, which every
      * read, search and maintenance step takes from here. `vecCol` is
      * the raw vector column moved rows re-encode from. Spherical
      * roots retrain on the unit sphere and store UNIT sub-centroids
      * (quantized readers and assigners use disk centroids verbatim);
      * moved rows strip their stale codes and re-encode under the
      * receiving cell's frozen artifacts (the [[compactQuantizedFresh]]
      * transforms); SQ
      * sub-cells inherit their parent's bounds. Every step refuses
      * while `fresh/` exists.
      *
      * An append lands RAW rows in the `fresh/` side table,
      * partitioned like the main layout: no codes are computed at
      * append time — [[searchStored]] encodes them on read and
      * [[compactQuantizedFresh]] folds them in. The rows assign on the
      * unit sphere on spherical roots, the geometry their stored
      * centroids live in. Ids already in `fresh/` OR in the main layout
      * count as present (a batch redelivered after a compaction must
      * append nothing), and a raw row must carry the main layout's
      * columns minus the code columns. The entry refuses a torn merge,
      * a root without an IVF model marker, and a root whose stored
      * rows sit decisively outside their cells under the pinned
      * geometry ([[verifyQuantizedGeometry]]). Ids are
      * immutable: a known id re-ingested with a changed vector must be
      * deleted first ([[deleteQuantizedFreshIds]] /
      * [[deleteStoredIds]]), or it lives in two cells. */
    final case class Quantized(spark: org.apache.spark.sql.SparkSession,
                               dir: String, family: QuantFamily,
                               spherical: Boolean,
                               vecCol: Option[String])
        extends CellRoot {
      override def dataSub: String = family.dataSub
      private[ops] def kind: String = s"quantized $family"
      /** Cosine on a spherical root, L2 otherwise. */
      def metric: Metric = if (spherical) Cosine else L2
      /** The root's index — artifacts plus unpacked rows — opened
        * through [[readModel]]. */
      def readIndex: QuantIndex = indexOf(readModel)
      private def indexOf(model: IvfModel): QuantIndex = {
        val art = family.artifacts(spark, dir, model, spherical)
        art.withRows(art.unpack(spark.read.parquet(s"$dir/$dataSub")))
      }
      private[ops] def probeSpace(model: IvfModel, q: Seq[Double])
          : (IvfModel, Seq[Double], Metric) =
        (model, if (metric == Cosine) normalizeSeq(q) else q, L2)
      /** The probed main rows plus the probed `fresh/` rows encoded on
        * read under the root's frozen artifacts (so the result equals a
        * one-shot rebuild that had always held them), then
        * [[searchQuantized]], whose own probe picks the same cells.
        * `refine <= 0` = the family default. */
      private[ops] def rankProbed(model: IvfModel, cells: Array[Long],
                                  idCol: String, q: Seq[Double], k: Int,
                                  refine: Int, roundTo: Int,
                                  pred: Column): DataFrame = {
        val index = indexOf(model)
        val all = withFresh(spark, dir, index,
          index.rows.filter(col(model.idCol).isin(cells: _*)), cells, vec,
          metric)
        searchQuantized(index.withRows(all.filter(pred)), idCol, vec,
          typedlit(q), metric, cells.length, k, refine, roundTo)
      }
      private[ops] def vec: String = vecCol.getOrElse(
        throw new IllegalStateException(s"$dir is a quantized root: " +
          "moved rows re-encode from the table's vector column, and " +
          "none was named"))
      private[graft] def assignCol: String = vec
      override private[ops] def requireMaintainable(who: String): Unit =
        require(!freshExists(spark, dir),
          s"$who: $dir carries a fresh/ side table — compact it first " +
            "(compactQuantizedFresh): a split or merge would strand " +
            "fresh rows under dissolved cells, and a codes-only audit " +
            "cannot see them")
      private[ops] def trainSpace: (DataFrame => DataFrame, String) =
        if (spherical)
          ((df: DataFrame) => withNormalized(df, vec, "__nv"), "__nv")
        else (identity[DataFrame] _, vec)
      override private[ops] def centroidForm: Column => Column =
        if (spherical) l2Normalize else identity
      override private[ops] def inheritSide(
          newIds: Seq[(Long, Long)]): Unit =
        family.inheritSide(spark, dir, newIds)
      private[ops] def reassigner: (DataFrame, IvfModel) => DataFrame = {
        val v = vec
        (rows, reduced) => {
          val stored = spark.read.parquet(s"$dir/$dataSub")
          val raw = family.codeCols.foldLeft(rows)(_ drop _)
          val encoded = family.artifacts(spark, dir, reduced, spherical)
            .encode(raw, v, metric)
          // guard + order-normalize against the stored footer: a
          // drifted encode transform must fail HERE, not as a
          // nondeterministic mixed-schema read at query time
          requireAppendSchema(stored.schema, encoded.schema,
            Set("centroid_id"), "mergeUnderfull")
          encoded.select(stored.columns.map(col): _*)
        }
      }
      private[ops] def healthDist(rows: DataFrame, model: IvfModel,
                                  roundTo: Int): DataFrame =
        family.artifacts(spark, dir, model, spherical)
          .healthDist(rows, roundTo)
      override private[ops] def appendEntry(idCol: String): IvfModel = {
        requireNoPendingMerge(spark, dir)
        if (readIvfModelMarker(spark, dir).isEmpty)
          throw new IllegalStateException(
            s"appendIdempotent: $dir has no IVF model marker — pin the " +
              "build model first (ensureQuantizedRoot at write time)")
        val model = pinnedModel
        verifyQuantizedGeometry(spark, dir, dataSub,
          spark.read.parquet(s"$dir/$dataSub"), model, spherical, idCol,
          vec)
        model
      }
      override private[ops] def appendRows(batch: DataFrame,
                                           model: IvfModel,
                                           idCol: String): DataFrame =
        if (spherical)
          assign(withNormalized(batch, vec, "__nvec"), "__nvec", model, L2)
            .drop("__nvec")
        else assign(batch, vec, model, L2)
      override private[ops] def presentSubs: Seq[String] =
        dataSub +: (if (freshExists(spark, dir)) Seq("fresh") else Nil)
      override private[ops] def appendSub: String = "fresh"
      override private[ops] def appendSchema(
          stored: org.apache.spark.sql.types.StructType)
          : org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(
          stored.filterNot(f => family.codeCols.contains(f.name)))
    }
  }

  /** Resolve the maintainable cell root at `dir`, reading each family
    * marker or layout probe once, in a fixed order: the composed
    * matryoshka-IVF marker, a quantized geometry marker
    * ([[detectQuantized]]), the dense cell-root marker, then the range
    * radii table (any swap state — a torn swap's `__old`/`_next` still
    * names the family; the actuators heal it at entry). A pending
    * merge does not refuse here: the actuators complete it and the
    * readers refuse it. `vecCol` is the table's vector column, which
    * split and merge need on range roots (radii) and quantized roots
    * (re-encode); the other families record their own. Anything else
    * — a flat writePartitioned dir, a keyword layout, a flat
    * matryoshka root, an empty dir — gets one typed refusal. */
  def cellRoot(spark: org.apache.spark.sql.SparkSession, dir: String,
               vecCol: Option[String]): CellRoot =
    detectCellRoot(spark, dir, vecCol).getOrElse(
      throw new IllegalStateException(
        s"$dir is none of the maintainable cell-partitioned families — " +
          "no composed matryoshka-IVF marker, no quantized geometry " +
          "marker, no dense cell-root marker, no range radii table. " +
          "Flat writePartitioned layouts have no disk-owned geometry " +
          "to maintain: graduate one with Ann.graduateDenseRoot first."))

  /** [[cellRoot]] without the refusal — None for any other layout
    * (the delete attach also serves flat and keyword layouts). */
  private[graft] def detectCellRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecCol: Option[String]): Option[CellRoot] = {
    def hasRadii = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("radii", "radii__old", "radii_next").exists(n =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n")))
    }
    graft.io.Markers.read(spark, dir, "_graft_matryoshka_ivf")
      .map { raw =>
        val (dims, metric) = matryoshkaMetaOf(raw, dir, "cellRoot")
        CellRoot.MrlIvf(spark, dir, metric, dims, vecCol): CellRoot
      }
      .orElse(detectQuantized(spark, dir).map { case (f, s) =>
        CellRoot.Quantized(spark, dir, f, s, vecCol) })
      .orElse(graft.io.Markers.read(spark, dir, DenseCellsMarker)
        .map { raw =>
          val (metric, vc) = denseMetaOf(raw, dir, "cellRoot")
          CellRoot.Dense(spark, dir, metric, vc)
        })
      .orElse(if (hasRadii) Some(CellRoot.Range(spark, dir, vecCol))
        else None)
  }

  /** The ONE stored single-query top-k over a [[CellRoot]]: check the
    * arguments, open the root through [[CellRoot.readModel]], pick the
    * `probes` nearest cells in the root's probe space on the driver
    * ([[probeCellIds]] — the cells reach the scan as a literal isin,
    * so unprobed cell directories are never read), and rank the probed
    * rows with the family's step, `pred` thinning them before any cut
    * (the filtered-search family's no-starvation contract). Metric,
    * vector column and probe space come from the root:
    *  - dense: the exact top-k under the marker's metric, probed on the
    *    raw centroids under that metric; returns the stored rows plus
    *    `dist`;
    *  - composed matryoshka-IVF: the two-phase prefix cut over
    *    k·`refine` candidates (default 5), probed on the unit sphere
    *    under cosine; returns (id, pre_dist, dist);
    *  - quantized: [[searchQuantized]] over the probed main and
    *    `fresh/` rows, cosine on a pinned spherical root (probed with
    *    the normalized query), L2 otherwise; `refine <= 0` = the family
    *    default; returns (id, dist);
    *  - range: refuses — a range root answers eps queries
    *    ([[rangeSearchStoredSelf]]).
    * At all probes the result is the exact answer over the root's
    * current cells, whatever its split / merge history. */
  def searchStored(root: CellRoot, idCol: String, q: Seq[Double],
                   probes: Int, k: Int, refine: Int = -1,
                   roundTo: Int = 6,
                   pred: Column = lit(true)): DataFrame = {
    require(probes >= 1, s"searchStored: probes >= 1, got $probes")
    require(k >= 1, s"searchStored: k >= 1, got $k")
    val model = root.readModel
    val (probeModel, qProbe, metric) = root.probeSpace(model, q)
    val cells = probeCellIds(probeModel, typedlit(qProbe), metric, probes)
    root.rankProbed(model, cells, idCol, q, k, refine, roundTo, pred)
  }

  /** Batch APPEND into a [[CellRoot]], REPLAY-SAFE by id — the one
    * growth path of every self-contained cell family (dense and
    * maxsim, composed matryoshka-IVF, range, quantized), and the
    * per-batch step of [[graft.streaming.Stream.ingestAppend]]. A
    * foreachBatch sink can redeliver a batch after a crash, and a
    * blind re-append would duplicate every row, so under the
    * immutable-row contract (one id, one vector) rows whose `idCol`
    * is already present are dropped first and a redelivered batch
    * appends NOTHING.
    *
    * The recipe, with the family's steps from its case: heal or refuse
    * a torn root and load the pinned model (a retrained or hand-swapped
    * `centroids/` refuses); refuse a streaming-grown target (compact
    * first); build the batch's rows under the root's own geometry (a
    * mismatch is impossible by construction); read the ids already
    * present in the cells a stored copy can sit in — the batch's
    * touched cells, so the probe is batch-bounded, or the whole layout
    * once the root has split ([[CellRoot.replayCells]]); drop them,
    * check the schema, run the family's pre-write step and append
    * cell-partitioned ([[appendAbsent]]), so future searches prune the
    * new rows like day-one rows. Returns rows actually appended. */
  def appendIdempotent(root: CellRoot, newRows: DataFrame,
                       idCol: String): Long = {
    val (spark, dir) = (root.spark, root.dir)
    val model = root.appendEntry(idCol)
    val target = s"$dir/${root.appendSub}"
    // layout refusal BEFORE the probe: a fully-duplicate batch
    // against a streaming-grown root must refuse loudly, not return
    // 0 and mask the misuse until fresh rows arrive
    requireBatchLayout(spark, target)
    val rows = root.appendRows(newRows, model, idCol)
    val cells = root.replayCells(rows, model)
    val existing = root.presentSubs.map { sub =>
      val present = spark.read.parquet(s"$dir/$sub")
      cells.fold(present)(c => present.filter(col(model.idCol).isin(c: _*)))
        .select(col(idCol))
    }.reduce(_ unionByName _)
    appendAbsent(rows, existing, idCol, model.idCol,
      root.appendSchema(spark.read.parquet(s"$dir/${root.dataSub}").schema),
      target, "appendIdempotent", root.beforeAppend(_, model))
  }

  /** (cell, `__d`) per row of `rows`: `metric` distance from column
    * `vc` to its cell's centroid in `cents`, rounded to `roundTo` —
    * one broadcast centroid join. */
  private def centroidDist(rows: DataFrame, vc: String, cents: IvfModel,
                           metric: Metric, roundTo: Int): DataFrame =
    rows.join(broadcast(cents.centroids), cents.idCol)
      .withColumn("__d", round(metric.dist(col(vc).cast("array<double>"),
        col(cents.vecCol)), roundTo))

  /** SPLIT overfull cells of a [[CellRoot]] — the actuator for
    * [[indexHealth]]'s retrain signal: every cell holding more than
    * `maxRows` rows locally retrains into two sub-cells (the
    * r42-oracled deterministic KMeans restricted to that cell's rows,
    * k=2, in the root's training space) and dissolves into them,
    * leaving every other cell's bytes untouched — the 100 TB answer to
    * "one hot cell ruins probe selectivity" that never rewrites the
    * corpus.
    *
    * Construction: flag + train ([[flagAndTrainSubs]]), land the
    * sub-centroids EMPTY (plus family side rows: zero radii on range
    * roots, inherited bounds on SQ roots — all filter-out-then-union,
    * so a crashed run's re-execution with the same fresh ids cannot
    * duplicate side rows; an empty cell wastes a probe, it cannot be
    * wrong), re-pin the marker, then DISSOLVE the parents through the
    * merge protocol: every parent row re-homes to its TRUE GLOBAL
    * argmin among the surviving cells (not merely the nearer of the
    * two subs — a local-argmin placement leaves rows whose global
    * argmin is a THIRD cell stranded off-argmin), receiving radii grow
    * before rows move.
    *
    * Crash windows: before the centroid commit the old root is fully
    * live; between commit and dissolve the root is live with empty
    * (inert) sub-cells — a re-run re-flags the parent and trains fresh
    * ids, leaving the old empties as orphans the next merge cadence
    * dissolves; inside the dissolve the merge's resumable protocol
    * applies (readers refuse, any entry heals). Self-heals at entry:
    * crashed side-table swaps restore and a pending merge COMPLETES
    * (actuators heal; readers refuse).
    *
    * Results: a range root's rows are merely re-partitioned under
    * covering radii, so every range/kNN result is IDENTICAL before and
    * after (r69); the other families are geometry-dependent at equal
    * probes like every IVF layout and exact at all-probe. Cells whose
    * training-space rows are identical at hash precision are skipped
    * (splitting cannot separate them). Quantized roots refuse while
    * `fresh/` exists. Scale shape: the audit is one combinable count;
    * each flagged cell's retrain reads ONE directory; the dissolve is
    * bounded by the flagged cells' rows. Returns (oldCell → new cell
    * ids), empty when nothing was overfull. */
  def splitOverfull(root: CellRoot, maxRows: Long,
                    iters: Int = 2): Map[Long, Seq[Long]] = {
    root.requireMaintainable("splitOverfull")
    val (prep, spaceCol) = root.trainSpace
    val spark = root.spark
    val dir = root.dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healSideTableSwap(fs, dir, "bounds") // no-op where absent
    completePendingMerge(spark, dir) // heals centroids/radii + marker
    val model = ivfModelAt(spark, dir)
    ensureIvfModelMarker(spark, dir, model) // refuse foreign roots
    val rows = spark.read.parquet(s"$dir/${root.dataSub}")
    val trained = flagAndTrainSubs(rows, model, maxRows, iters, prep,
      spaceCol, root.centroidForm)
    if (trained.isEmpty) return Map.empty
    // each per-cell frame is a LOCAL relation (flagAndTrainSubs
    // collected the trained 2 rows inside the pool): the union and
    // the collects below are pure driver data — no job re-executes
    // any cell's KMeans chain. The collect carries the VECTORS too:
    // the commit fingerprint below is then pure driver arithmetic
    // instead of one more job over the grown table.
    val newCents = trained.map(_._2).reduce(_ unionByName _)
    val newIdVecs: Seq[(Long, (Long, Array[Double]))] = trained.flatMap {
      case (old, m, _) =>
        m.select(col(model.idCol).cast("long"), col(model.vecCol))
          .collect()
          .map(r => old -> (r.getLong(0), r.getSeq[Double](1).toArray))
          .toSeq
    }
    val newIds: Seq[(Long, Long)] = newIdVecs.map {
      case (old, (id, _)) => (old, id)
    }
    val subIds = newIds.map(_._2)
    // (a) family side rows FIRST (inert until the commit lists the
    //     sub-cells — the radii soundness order); idempotent via
    //     filter-out-then-union
    root.inheritSide(newIds)
    if (root.radiiVecCol.isDefined) {
      val sp2 = spark
      import sp2.implicits._
      val seed = subIds.map((_, 0.0))
        .toDF(model.idCol, "radius")
      // no checkpoint: the staged write reads the live radii files and
      // completes before the swap renames them away
      swapSideTable(fs, dir, "radii",
        spark.read.parquet(s"$dir/radii")
          .select(col(model.idCol).cast("long").as(model.idCol),
            col("radius").cast("double").as("radius"))
          .filter(!col(model.idCol).isin(subIds: _*))
          .unionByName(seed))
    }
    // (b) the split-history marker lands BEFORE the sub-centroids
    //     commit (marker-then-commit: a crash between leaves a
    //     marked-but-unsplit root, which only makes replay probes
    //     conservative — the reverse order would leave a split root
    //     whose appends still trust the unsound touched-cells probe)
    graft.io.Markers.write(spark, dir, SplitHistoryMarker, "split")
    // (c) sub-centroids land EMPTY + re-pin (filter-out-then-union).
    //     No checkpoint on the grown frame — the staged write executes
    //     before swapSideTable's renames — and the fingerprint is pure
    //     driver arithmetic over the memoized survivors plus the
    //     collected sub-centroids (byte-identical to collecting the
    //     grown table: same ids, same doubles, same id order), where
    //     the old form paid a materialize job AND a fingerprint
    //     collect job per split pass.
    val grown = model.centroids
      .select(col(model.idCol).cast("long").as(model.idCol),
        col(model.vecCol))
      .filter(!col(model.idCol).isin(subIds: _*))
      .unionByName(newCents)
    swapSideTable(fs, dir, "centroids", grown)
    val subIdSet = subIds.toSet
    graft.io.Markers.write(spark, dir, IvfModelMarker,
      fingerprintCentroids(
        (model.collectedCentroids.filterNot(c => subIdSet(c._1)) ++
          newIdVecs.map(_._2)).sortBy(_._1)))
    // (d) dissolve the parents: rows re-home to their GLOBAL argmin
    mergeCells(root, minRows = 1L, doomed = Some(trained.map(_._1)))
    newIds.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
  }

  /** Shared flag-and-train front half of EVERY cell split (range,
    * composed, quantized — one copy, so the occupancy audit, the
    * unsplittable criterion and the k=2 local retrain cannot drift):
    * occupancy-flag cells holding more than `maxRows` rows (a bounded
    * driver collect — at 10⁵ cells this is the health table, not the
    * corpus), lift each flagged cell's rows into the layout's
    * TRAINING space via `prep`, skip cells whose training-space rows
    * are identical at hash precision (splitting cannot separate
    * them), retrain k=2, and map fresh sub-cell ids above the current
    * max. `centroidForm` lifts sub-centroids to the family's STORED
    * convention (identity for normalize-on-read layouts; l2-normalize
    * for spherical quantized roots whose readers use disk centroids
    * verbatim).
    *
    * The per-cell retrains run CONCURRENTLY from a bounded driver
    * pool (round 17 — the many_flagged_split smoke row showed a
    * first-ever health pass over a long-neglected root serializing
    * hundreds of small jobs): each cell's probe + k=2 KMeans is an
    * independent chain of jobs over ITS directory only, and Spark
    * schedules jobs from concurrent driver threads, so the pass costs
    * ~max(per-cell time), not the sum of every job submission.
    * Determinism is unchanged — each cell's training is
    * self-contained, and sub-cell ids are assigned by flagged ORDER
    * before the fork (an unsplittable cell leaves a 2-id gap; ids
    * only ever need to be fresh and unique). Returns (oldCell, 2-row
    * mapped centroid frame, the prepped cell rows), flagged-order. */
  private def flagAndTrainSubs(
      rows: DataFrame, model: IvfModel, maxRows: Long, iters: Int,
      prep: DataFrame => DataFrame, spaceCol: String,
      centroidForm: Column => Column)
      : Seq[(Long, DataFrame, DataFrame)] = {
    val flagged = rows.groupBy(col(model.idCol))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxRows)
      .select(col(model.idCol).cast("long"))
      .collect().map(_.getLong(0)).sorted
    if (flagged.isEmpty) return Nil
    // max id from the memoized centroid array (id-sorted) — the same
    // ids the aggregate read, without a driver job
    val maxId = model.collectedCentroids.last._1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(flagged.length, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = flagged.toSeq.zipWithIndex.map { case (cell, i) =>
        scala.concurrent.Future {
          val cellRows = prep(rows.filter(col(model.idCol) === cell)
            .drop(model.idCol))
          // the k=2 build's own seed draw answers "unsplittable"
          // (identical at hash precision) — no separate probe job
          buildIvfKMeansIfSplittable(cellRows, spaceCol, k = 2, L2,
            iters).map { sub =>
            val base = maxId + 1 + 2L * i
            // the trained 2-row model COLLECTS here, inside the
            // concurrent pool — the ONE materialization of the k=2
            // KMeans chain (the old localCheckpoint's job) — and is
            // re-shaped as a LOCAL relation: the id/centroid mapping
            // below applies the SAME Column expressions (Catalyst
            // evaluates a deterministic Project over a LocalRelation
            // driver-side), so downstream consumers (the sub-centroid
            // union, the new-id/vector read, the commit fingerprint)
            // are pure driver data instead of one job each
            val spark = rows.sparkSession
            import org.apache.spark.sql.types.{ArrayType, DoubleType,
              LongType, StructField, StructType}
            val centRows = sub.centroids
              .select(col(sub.idCol).cast("long").as(sub.idCol),
                col(sub.vecCol).cast("array<double>").as(sub.vecCol))
              .collect()
            val local = spark.createDataFrame(
              java.util.Arrays.asList(centRows: _*),
              StructType(Seq(
                StructField(sub.idCol, LongType, nullable = false),
                StructField(sub.vecCol,
                  ArrayType(DoubleType, containsNull = true)))))
            val mapped = local.select(
              (col(sub.idCol) + base).as(model.idCol),
              centroidForm(col(sub.vecCol)).as(model.vecCol))
            (cell, mapped, cellRows)
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf).flatten
    } finally pool.shutdown()
  }

  private val MergePendingMarker = "_graft_merge_pending"

  private val SplitHistoryMarker = "_graft_split_history"

  /** Has `dir` EVER been through a cell split? Written by
    * [[splitOverfull]] BEFORE the sub-centroids commit (a crash
    * between the two leaves a marked-but-unsplit root — conservative:
    * the sound probe runs where the fast one would have been safe,
    * never the reverse) and never removed: once a split has run, a
    * stored copy can sit off today's argmin FOREVER (the sub-centroid
    * that stole its argmin stays), so the touched-cells replay probe
    * is permanently unsound on such a root. [[appendIdempotent]]
    * consults this ([[CellRoot.replayCells]]) and probes the whole
    * layout instead, whichever actuator split the root — a stream's
    * own policy or an out-of-band engine split between a batch and
    * its crash redelivery. */
  def hasSplitHistory(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Boolean =
    graft.io.Markers.exists(spark, dir, SplitHistoryMarker)

  /** Self-healing side-table swap (centroids/radii) — the rename-aside
    * order ([[swapFlatDir]]'s), SHARED by split and merge so the
    * crash-recovery story cannot drift across the three former
    * hand-rolled closures: staged copy lands fully in `name_next`
    * BEFORE the live copy moves aside, so no window destroys the only
    * copy (the old delete-then-rename order bricked the root if the
    * JVM died between the delete and the rename). Recovery is
    * [[healSideTableSwap]], run by every entry point before its first
    * read. */
  private def swapSideTable(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String, name: String,
                            df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/${name}_next")
    val cur = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val old = new org.apache.hadoop.fs.Path(s"$dir/${name}__old")
    val next = new org.apache.hadoop.fs.Path(s"$dir/${name}_next")
    require(fs.rename(cur, old), s"swapSideTable: $cur -> $old failed")
    require(fs.rename(next, cur),
      s"swapSideTable: $next -> $cur failed (live copy is at $old)")
    fs.delete(old, true)
  }

  /** Restore a side table stranded by a crash inside
    * [[swapSideTable]]: live missing + `__old` present ⇒ the crash
    * fell between the two renames — the aside copy IS the
    * authoritative table, move it back (the staged `_next` is rebuilt
    * from it by the re-run); live present + `__old` present ⇒ the
    * crash fell before the final cleanup — the swap completed, drop
    * the leftover. Live missing + NO `__old` + a COMPLETE `_next`
    * (parquet commit marker present) ⇒ the legacy delete-then-rename
    * window (the range append's old radii swap): the staged copy
    * is the only complete table — promote it, never delete it
    * (deleting would strand the root until a manual rebuild,
    * contradicting the recovery-by-re-run contract). Completeness is
    * the `_SUCCESS` commit marker OR any committed data file —
    * clusters that disable `marksuccessfuljobs` never get the
    * marker, yet their part files still appear only through the
    * committer's task-commit renames, so a data file present means
    * the write committed (the marker-only probe DELETED the only
    * copy on such clusters: the exact outcome this branch exists to
    * prevent). When live and `__old` are both missing and the staged
    * copy holds no data, the table is genuinely lost — refuse LOUDLY
    * instead of deleting the last evidence. Only then is a leftover
    * `_next` (live present) dropped. Idempotent; a no-op on healthy
    * layouts. */
  private def healSideTableSwap(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String, name: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val old = new org.apache.hadoop.fs.Path(s"$dir/${name}__old")
    val next = new org.apache.hadoop.fs.Path(s"$dir/${name}_next")
    if (!fs.exists(cur) && fs.exists(old))
      require(fs.rename(old, cur),
        s"healSideTableSwap: restoring $old -> $cur failed")
    else if (fs.exists(old)) fs.delete(old, true)
    if (!fs.exists(cur) && fs.exists(next)) {
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS")) ||
          fs.listStatus(next).exists { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
      if (complete)
        require(fs.rename(next, cur),
          s"healSideTableSwap: promoting the only complete copy " +
            s"$next -> $cur failed")
      else throw new IllegalStateException(
        s"healSideTableSwap: $cur is missing, no $old aside copy " +
          s"exists, and the staged $next holds no committed data " +
          "file — the table is lost beyond what a re-run can " +
          "recover; refusing to delete the remaining evidence. " +
          "Rebuild the layout (or restore the side table from a " +
          "backup) before retrying.")
    }
    fs.delete(next, true)
    ()
  }

  /** Heal EVERY recoverable torn state of a cell-partitioned root —
    * the recovery every maintenance-owning entry point runs before
    * its first read: (a) side tables stranded mid-[[swapSideTable]]
    * (centroids / radii / bounds — each a no-op where the table
    * doesn't exist) and (b) a pending cell MERGE, completed through
    * its idempotent back half. The streamed maintenance seats own the
    * split/merge policies whose swaps and markers can crash, and
    * their start-time loads would otherwise die on the missing live
    * path (or refuse on the pending marker) BEFORE any heal seat
    * runs — wedging the one stream that could self-heal until an
    * operator intervened by hand. Idempotent; a no-op on healthy
    * layouts. */
  private[graft] def healRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healSideTableSwap(fs, dir, "centroids")
    healSideTableSwap(fs, dir, "radii")
    healSideTableSwap(fs, dir, "bounds")
    completePendingMerge(spark, dir)
  }

  /** Refuse reads of a range root mid-merge: between the pending
    * marker's write and the merge's last step, rows are in flight
    * between live cell directories — a read could see a row twice or
    * not at all, so the contract is LOUD, never wrong: readers throw
    * until [[mergeUnderfull]] re-runs to completion (every step
    * after the marker is idempotent). */
  private def requireNoPendingMerge(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (graft.io.Markers.exists(spark, dir, MergePendingMarker))
      throw new IllegalStateException(
        s"$dir has a torn cell merge in flight " +
          s"($MergePendingMarker present) — rows may be mid-move " +
          "between cell directories; re-run Ann.mergeUnderfull (or " +
          "any maintenance actuator) on this root to complete it " +
          "before reading")

  /** MERGE underfull cells of a [[CellRoot]] into their surviving
    * neighbors — [[splitOverfull]]'s complement for the r66 health
    * signal's other tail: deletes drain cells, and at 100 TB a layout
    * riddled with near-empty cells pays probe arithmetic and
    * small-file overhead for directories that no longer earn their
    * keep. Every cell holding FEWER than `minRows` rows (empty cells
    * included) is dissolved: its centroid leaves the model and its
    * rows re-home under the reduced model (each row to its true
    * nearest surviving centroid in the root's own geometry — not
    * blanket-absorbed into one neighbor, so the IVF invariant `row
    * lives in its argmin cell` holds exactly; quantized rows
    * re-encode under their receiver's frozen artifacts), and a range
    * root's receiving radii grow FIRST (inert, sound). Range results
    * are INVARIANT (r90); the other families read as the replay under
    * the reduced centroid set, exact at all-probe.
    *
    * Crash-safety is the resumable-commit protocol: radii grow and
    * rows stage UNREFERENCED before the pending marker lands; every
    * step after the marker (centroid swap, staged-file moves, doomed
    * dir deletes, radii cleanup, marker removal) is idempotent, and
    * ALL readers of the root refuse while the marker exists
    * ([[requireNoPendingMerge]]) — a torn merge is loud, never
    * silently duplicated or dropped rows; re-running this op (or any
    * other actuator) completes it. Refuses when EVERY cell is
    * underfull (nothing to merge into — retrain instead), and on a
    * quantized root while `fresh/` exists. Returns dissolved cell id
    * → rows it held. */
  def mergeUnderfull(root: CellRoot, minRows: Long): Map[Long, Long] = {
    root.requireMaintainable("mergeUnderfull")
    mergeCells(root, minRows, doomed = None)
  }

  /** [[mergeUnderfull]]'s body; `doomed` names cells to dissolve
    * explicitly (a split's dissolve-the-parent step). */
  private def mergeCells(root: CellRoot, minRows: Long,
                         doomed: Option[Seq[Long]]): Map[Long, Long] = {
    require(minRows > 0,
      s"mergeUnderfull: minRows must be positive, got $minRows")
    val reassign = root.reassigner
    val spark = root.spark
    val dir = root.dir
    val dataSub = root.dataSub
    completePendingMerge(spark, dir) // finish a torn run first
    val model = ivfModelAt(spark, dir)
    ensureIvfModelMarker(spark, dir, model) // refuse foreign roots
    val rows = spark.read.parquet(s"$dir/$dataSub")
    // centroid ids from the memoized array (id-sorted) — the same ids
    // the old per-call collect job read, without a job
    val centroidIds = model.collectedCentroids.map(_._1)
    // `doomed` names cells to dissolve EXPLICITLY (a split's
    // dissolve-the-parent step); membership is a model-ids check, no
    // occupancy needed to FLAG — so the dissolve path's occupancy scan
    // is PARTITION-PRUNED to just the doomed dirs (its result only
    // feeds the returned old-count map), where the threshold path must
    // still count the whole corpus. Occupancy INCLUDES zero-row cells
    // (groupBy alone drops them).
    doomed.foreach { ds =>
      val known = centroidIds.toSet
      ds.foreach(c => require(known.contains(c),
        s"mergeUnderfull: doomed cell $c is not in $dir's model"))
    }
    val occ = doomed.fold(rows)(ds =>
        rows.filter(col(model.idCol).isin(ds: _*)))
      .groupBy(col(model.idCol).cast("long").as("__cid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val counts = (doomed.getOrElse(centroidIds.toSeq): Seq[Long])
      .map(cid => (cid, occ.getOrElse(cid, 0L))).toMap
    val flagged = doomed.getOrElse(
      counts.filter(_._2 < minRows).keys.toSeq).sorted
    if (flagged.isEmpty) {
      // a pre-marker crash may have left an unreferenced rows_merge
      // staging behind; without this, a layout whose cells all grew
      // back above minRows would leak that stale copy forever
      new org.apache.hadoop.fs.Path(s"$dir/rows_merge")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$dir/rows_merge"), true)
      return Map.empty
    }
    require(flagged.size < centroidIds.length,
      s"mergeUnderfull: every cell of $dir is below " +
        s"minRows=$minRows — nothing to merge into; retrain the " +
        "index instead")
    val remaining = model.centroids
      .filter(!col(model.idCol).cast("long").isin(flagged: _*))
      .localCheckpoint(true)
    val reduced = IvfModel(remaining, model.idCol, model.vecCol)
    // rows to move: partition-pruned read of ONLY the doomed dirs,
    // re-assigned under the reduced model; localCheckpoint severs the
    // lineage from directories the completion will delete
    val moving = reassign(
      rows.filter(col(model.idCol).isin(flagged: _*))
        .drop(model.idCol), reduced).localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (moving.limit(1).count() > 0) {
      // 1) receiving radii grow FIRST (inert while doomed centroids
      //    still exist — the r67 soundness order); the composed
      //    layout has no radii to grow
      root.radiiVecCol.foreach { radiiVecCol =>
        val radii = spark.read.parquet(s"$dir/radii")
        val incoming = cellRadii(moving, radiiVecCol, reduced, L2)
          .withColumnRenamed("radius", "__inc")
        swapSideTable(fs, dir, "radii",
          radii.select(col(model.idCol), col("radius"))
            .join(incoming, Seq(model.idCol), "left")
            .withColumn("radius",
              greatest(col("radius"),
                coalesce(col("__inc"), col("radius"))))
            .select(col(model.idCol), col("radius")))
      }
      // 2) stage the moving rows UNREFERENCED (rows_merge is not part
      //    of the layout until completion moves its files)
      moving.write.mode("overwrite").partitionBy(model.idCol)
        .parquet(s"$dir/rows_merge")
    } else
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/rows_merge"), true)
    // 3) the commit point: pending marker ON — readers refuse from
    //    here until completion's last step removes it. The marker
    //    carries the data subdir so a COLD re-run (a different entry
    //    point healing someone else's crash) completes against the
    //    right layout; the bare legacy form parses as "rows".
    graft.io.Markers.write(spark, dir, MergePendingMarker,
      s"$dataSub|${flagged.mkString(",")}")
    completePendingMerge(spark, dir)
    flagged.map(c => c -> counts(c)).toMap
  }

  /** The idempotent back half of [[mergeUnderfull]] — every step
    * re-runs safely, so a crash anywhere after the pending marker is
    * healed by calling the merge again: (a) centroids := current
    * minus the marker's doomed cells and the model fingerprint
    * re-pins (doomed dirs become inert orphans — no query admits
    * them), (b) staged files move into the receiving cell
    * directories, (c) doomed dirs delete, (d) doomed radii rows
    * drop, (e) the marker lifts. Reads parquet directly — this runs
    * precisely when [[CellRoot.readModel]] refuses. */
  private def completePendingMerge(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal BEFORE the marker check and before any parquet read: a
    // crash inside either side table's swap (marker or no marker —
    // the radii growth swaps pre-marker) leaves the authoritative
    // copy aside as `__old`, and reading the missing live path would
    // otherwise fail every re-run, breaking the re-run-heals contract
    healSideTableSwap(fs, dir, "centroids")
    healSideTableSwap(fs, dir, "radii")
    val pending = graft.io.Markers.read(spark, dir, MergePendingMarker)
    if (pending.isEmpty) return
    // "dataSub|ids" (quantized roots merge under quantized/ or
    // encoded/); a bare id list is the legacy range/composed form
    val (dataSub, idPart) = pending.get.split("\\|", 2) match {
      case Array(sub, ids) => (sub, ids)
      case _ => ("rows", pending.get)
    }
    val flagged = idPart.split(",").filter(_.nonEmpty)
      .map(_.toLong).toSeq
    // (a) commit the reduced model (idempotent: filtering an
    //     already-reduced centroid table is a no-op) + re-pin. The
    //     emptiness probe and the fingerprint run on the MEMOIZED
    //     collected array (the maintenance entry's ivfModelAt already
    //     paid this listing's one collect) — the old form paid three
    //     jobs on the same few-KB table per completion: a
    //     localCheckpoint materialize, a limit(1) probe, and the
    //     fingerprint's collect. The staged write itself executes
    //     BEFORE swapSideTable's renames touch the live dir, so the
    //     un-checkpointed filter-over-live-files plan is safe.
    val flaggedSet = flagged.toSet
    val keep = ivfModelAt(spark, dir).collectedCentroids
      .filterNot { case (id, _) => flaggedSet(id) }
    require(keep.nonEmpty,
      s"completePendingMerge: merge would leave $dir with no cells")
    swapSideTable(fs, dir, "centroids",
      spark.read.parquet(s"$dir/centroids")
        .filter(!col("centroid_id").cast("long").isin(flagged: _*)))
    graft.io.Markers.write(spark, dir, IvfModelMarker,
      fingerprintCentroids(keep))
    // (b) move staged files into the receiving dirs (rename is
    //     atomic per file; a half-moved staging resumes cleanly)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/rows_merge")
    if (fs.exists(staging)) {
      fs.listStatus(staging).filter(_.isDirectory).foreach { cellDir =>
        val dest = new org.apache.hadoop.fs.Path(
          s"$dir/$dataSub/${cellDir.getPath.getName}")
        fs.mkdirs(dest)
        fs.listStatus(cellDir.getPath)
          .filterNot(_.getPath.getName.startsWith("_"))
          .foreach { f =>
            val to = new org.apache.hadoop.fs.Path(dest,
              f.getPath.getName)
            if (fs.exists(to)) fs.delete(f.getPath, false)
            else require(fs.rename(f.getPath, to),
              s"completePendingMerge: rename ${f.getPath} -> $to failed")
          }
      }
      fs.delete(staging, true)
    }
    // (c) doomed dirs out
    flagged.foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/$dataSub/centroid_id=$c"), true)
    }
    // (d) doomed radii rows out (range roots only — the composed
    //     layout has no radii table; presence detected from disk so
    //     a crashed re-run needs no flag). No checkpoint: the staged
    //     write reads the live radii files and completes before the
    //     swap renames them away.
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/radii")))
      swapSideTable(fs, dir, "radii",
        spark.read.parquet(s"$dir/radii")
          .filter(!col("centroid_id").cast("long").isin(flagged: _*))
          .select(col("centroid_id"), col("radius")))
    // (e) lift the refusal
    graft.io.Markers.remove(spark, dir, MergePendingMarker)
  }

  /** The per-cell HEALTH SIGNAL of a [[CellRoot]] — the numbers an
    * operator feeds [[splitOverfull]] / [[mergeUnderfull]]: per cell,
    * the row count and mean distance to the centroid in the root's own
    * geometry (a cell whose count or mean dwarfs the others means
    * stale centroids: probes over-read; time to split or retrain).
    * Distances round per-row to `roundTo` and the mean re-rounds.
    * Per family: range and dense roots measure the stored vector under
    * the root's metric (range: L2); composed roots measure in their
    * assignment space (cosine: the normalized `emb_full` against
    * normalized centroids under L2); quantized roots measure what the
    * codes can know — the distance from each row's code reconstruction
    * to its cell center ([[QuantIndex]]`.healthDist`). A range root
    * adds its stored pruning `radius` (read, not recomputed, so the
    * audit also certifies what the radii actually admit).
    *
    * Scale shape: ONE pass over the rows scan — broadcast centroid
    * join, combinable count/avg — reading ONLY the vector (or code) +
    * partition columns; the payload is column-pruned out (the r66,
    * r100 and r104 gates pin it). A reader seat: refuses mid-merge,
    * and on a quantized root while `fresh/` exists (uncompacted fresh
    * rows are invisible to a codes-only audit). */
  def indexHealth(root: CellRoot, roundTo: Int = 6): DataFrame = {
    val spark = root.spark
    val dir = root.dir
    requireNoPendingMerge(spark, dir)
    root.requireMaintainable("indexHealth")
    val model = ivfModelAt(spark, dir)
    val radii = root match {
      case r: CellRoot.Range => Some(r.radii)
      case _ =>
        // validates against an existing pin; on a never-pinned root
        // this ADOPTS the fingerprint of the root's own on-disk
        // centroids — a one-time metadata write on first read,
        // pinning exactly the state being audited
        ensureIvfModelMarker(spark, dir, model)
        None
    }
    val perCell = cellMeans(root.healthDist(
      spark.read.parquet(s"$dir/${root.dataSub}"), model, roundTo),
      model.idCol, roundTo)
    radii.fold(perCell)(withRadii(perCell, _, model.idCol, roundTo))
  }

  /** A range audit over an already-loaded cell-partitioned rows scan
    * + model + radii (the ScaleSmoke shape: audit a layout some other
    * stage already has open, without re-reading markers): per cell
    * (centroid_id, n_rows, radius, mean_dist). */
  private[graft] def rangeHealth(rows: DataFrame, vecCol: String,
                                 model: IvfModel, radii: DataFrame,
                                 roundTo: Int): DataFrame =
    withRadii(cellMeans(centroidDist(rows.select(col(model.idCol),
        col(vecCol)), vecCol, model, L2, roundTo), model.idCol, roundTo),
      radii, model.idCol, roundTo)

  /** Per-cell means plus the stored radius, rounded like the means. */
  private def withRadii(perCell: DataFrame, radii: DataFrame,
                        idCol: String, roundTo: Int): DataFrame =
    perCell.join(radii.select(col(idCol),
        round(col("radius"), roundTo).as("radius")), idCol)
      .select(col(idCol), col("n_rows"), col("radius"), col("mean_dist"))

  /** (cell, n_rows, mean_dist) from per-row `__d` distances. */
  private def cellMeans(withD: DataFrame, idCol: String,
                        roundTo: Int): DataFrame =
    withD.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_rows"),
        round(avg(col("__d")), roundTo).as("mean_dist"))

  /** [[rangeSearchIvfStored]] over a self-contained
    * [[writeRangeIndex]] root — model and radii come from the layout
    * itself. */
  def rangeSearchStoredSelf(spark: org.apache.spark.sql.SparkSession,
                            dir: String, idCol: String, vecCol: String,
                            queryVec: Column, eps: Double,
                            roundTo: Int = 6,
                            pred: Column = lit(true)): DataFrame = {
    val root = cellRoot(spark, dir, Some(vecCol))
      .as[CellRoot.Range]("rangeSearchStoredSelf")
    rangeSearchIvfStored(spark, s"$dir/rows", idCol, vecCol,
      root.readModel, root.radii, queryVec, L2, eps, roundTo, pred)
  }

  /** [[rangeJoinIvfPerEps]] over a STORED range root
    * ([[writeRangeIndex]]) — the query-log-replay form with the
    * at-rest pruning the in-memory join cannot have: queries collect
    * driver-side (the knnJoin* batch contract — queries are the
    * small side), each query's ADMITTED cells come from the stored
    * radii under its own eps (`dist(q, centroid) <= radius + eps_q +
    * slack` — the same cut the distributed UDF applies, so the
    * literal union is exactly what the join can touch), and the
    * union lands as a literal isin on the cell-partitioned `rows/`
    * scan — whole unadmitted cell DIRECTORIES are never read
    * (PartitionFilters, r89-pinned), then the per-eps join runs over
    * the pruned frame unchanged. EXACT per query like the in-memory
    * form (same radii argument); refusals inherited (bad radii
    * refuse on the collected values, before any IO). Returns
    * (qId, dId, dist) ordered per query.
    *
    * Under `metric = Cosine` the root must be the SPHERICAL layout
    * ([[cellEps]]' contract; `dVec` may stay raw, cosine ignores
    * norms): each query's admitted cells come from its normalized
    * vector and its OWN reduced radius, exactly the cut the
    * distributed join applies. Pruning changes IO, never results.
    *
    * The query frame is collected ONCE: the union, the eps validation
    * and the join all read the same rows — a second evaluation of a
    * limit/sample source could admit cells outside the pruned union
    * and silently lose pairs. `pred` pushes into the SAME pruned scan
    * (PushedFilters next to the isin). */
  def rangeJoinIvfStored(spark: org.apache.spark.sql.SparkSession,
                         dir: String, queries: DataFrame, qId: String,
                         qVec: String, epsCol: String, dId: String,
                         dVec: String, roundTo: Int = 6,
                         pred: Column = lit(true),
                         metric: Metric = L2): DataFrame = {
    val label = "rangeJoinIvfStored"
    requireRangeMetric(metric, label)
    val root = cellRoot(spark, dir, Some(dVec)).as[CellRoot.Range](label)
    val model = root.readModel
    val rad = root.readRadii(model)
    val cents = collectCentroids(model)
    val slack = math.pow(10.0, -roundTo)
    // ONE evaluation of the query frame: the union, the eps
    // validation, AND the join all read the same collected rows — a
    // second evaluation of a non-deterministic input (limit/sample)
    // could admit cells outside the pruned union and silently lose
    // its pairs (the knnJoin* rebuild-from-collected contract)
    val qProjected = queries
      .select(col(qId), col(qVec).cast("array<double>").as(qVec),
        col(epsCol).cast("double").as(epsCol))
    val collected = qProjected.collect()
    require(collected.nonEmpty, s"$label over an empty query set")
    val qRows = collected.map(r => (r.getSeq[Double](1).toArray,
      if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    require(qRows.forall { case (_, e) =>
        e >= 0 && !e.isInfinite && !e.isNaN },
      s"$label: $epsCol carries a null/negative/NaN/" +
        "infinite radius — a NaN silently drops its query, an " +
        "infinity scans every cell")
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), qProjected.schema)
    // per-query admitted cells — the SAME cut the distributed UDF
    // will apply (cosine: normalized query, reduced radius)
    val union = qRows.flatMap { case (v, eps) =>
      val qv = if (metric == Cosine) normalizeDriver(v) else v
      val effEps = cellEps(metric, eps, slack)
      cents.iterator.filter { case (cid, c) =>
        L2.distScala(qv, c) <= rad.getOrElse(cid, 0.0) + effEps + slack
      }.map(_._1)
    }.distinct
    val pruned = spark.read.parquet(s"$dir/rows")
      .filter(col(model.idCol).isin(union.toSeq: _*))
      .filter(pred)
    val phys = pruned.queryExecution.executedPlan.toString
    // loose pattern on purpose: Catalyst renders the literal isin as
    // In (2-10 cells), EqualTo (1 cell), or InSet (>10 cells) — the
    // assertPartitionPruned convention; any of the three proves the
    // cell column reached PartitionFilters
    require(
      s"PartitionFilters: \\[[^\\]]*${model.idCol}".r
        .findFirstIn(phys).isDefined ||
        union.isEmpty,
      s"$label: admitted-cell union did not become " +
        s"PartitionFilters on the rows scan:\n$phys")
    rangeJoinIvfPerEpsImpl(qLocal, qId, qVec, epsCol, pruned, dId,
      dVec, model, rad, metric, roundTo, validateEps = false,
      label = label, pred = lit(true))
  }

  /** Batch ε-similarity join — every (query, doc) pair within `eps`,
    * the all-pairs-under-threshold shape behind embedding near-dup at
    * corpus scale (its self-join form). EXACT under the same triangle-
    * inequality contract as [[rangeSearchIvfStored]]: each query row
    * replicates to every cell its eps-ball can intersect (a map-only
    * explode over the broadcast (centroid, radius) table — ≤ k cells,
    * typically far fewer), candidates come from ONE equi-join on
    * `centroid_id` co-partitioned with the doc table's cells, and the
    * rounded-distance cut keeps true pairs only. Shuffle volume is
    * Σ_q |cells intersecting q's ball| · (cell size) — never |Q|·|N|;
    * a huge eps degrades toward the cross join the SEMANTICS demand
    * (every pair matches), not a planning accident. Returns
    * (qId, dId, dist), (qId, dist, dId)-ordered. */
  def rangeJoinIvf(queries: DataFrame, qId: String, qVec: String,
                   assigned: DataFrame, dId: String, dVec: String,
                   model: IvfModel, radii: DataFrame, metric: Metric,
                   eps: Double, roundTo: Int = 6,
                   pred: Column = lit(true)): DataFrame = {
    require(eps >= 0 && !eps.isInfinite && !eps.isNaN,
      s"rangeJoinIvf: eps must be finite and non-negative, got $eps")
    // scalar already validated — skip the per-row probe job
    rangeJoinIvfPerEpsImpl(
      queries.withColumn("__eps", lit(eps)), qId, qVec, "__eps",
      assigned, dId, dVec, model, collectRadiiMap(model, radii), metric,
      roundTo, validateEps = false, label = "rangeJoinIvf", pred = pred)
  }

  /** [[rangeJoinIvf]] with a PER-QUERY radius — the calibrated form a
    * threshold-per-item workload needs (per-document duplicate radii,
    * per-entity match tolerances): `epsCol` carries each query row's
    * own eps, the triangle-inequality cell cut runs against that
    * query's radius (`dist(q, centroid) <= cell_radius + eps_q` —
    * exact per query, the r55 soundness argument applied row-wise),
    * and the final cut compares each pair's distance to ITS query's
    * eps. The fixed-eps form delegates here with a literal column, so
    * there is ONE implementation and the r57/s19 oracles pin both.
    * Null/negative/NaN/infinite radii refuse loudly before any join
    * (a NaN would silently drop its query; an infinity would scan
    * every cell).
    *
    * `pred` is the family's metadata filter (round 17 — the last
    * search family without one): it thins the ASSIGNED frame BEFORE
    * the cell join (the r82 placement), so disallowed rows never
    * reach the distance cut — a filtered duplicate-radius sweep
    * (dedup within one language/source) pays candidate generation
    * only for rows the predicate admits, and surviving pairs are
    * byte-identical to post-filtering the unfiltered join.
    *
    * `metric = Cosine` folds in the reduction [[requireTriangleMetric]]
    * names, per row: the cell cut runs as L2 on the unit sphere
    * against the SPHERICAL layout (`model` holds the normalized
    * centroids the rows were assigned under, `radii` = [[cellRadii]]
    * over the normalized column; `dVec` may stay raw), each query's
    * own eps reduced by [[cellEps]], and the OUTPUT filter is true
    * cosine on the raw vectors against each pair's own eps. Returns
    * (qId, dId, dist) ordered per query. */
  def rangeJoinIvfPerEps(queries: DataFrame, qId: String, qVec: String,
                         epsCol: String, assigned: DataFrame,
                         dId: String, dVec: String, model: IvfModel,
                         radii: DataFrame, metric: Metric,
                         roundTo: Int = 6,
                         pred: Column = lit(true)): DataFrame =
    rangeJoinIvfPerEpsImpl(queries, qId, qVec, epsCol, assigned, dId,
      dVec, model, collectRadiiMap(model, radii), metric, roundTo,
      validateEps = true, label = "rangeJoinIvfPerEps", pred = pred)

  /** The range joins' probe side under a SIZE-GATED broadcast pin.
    * The exploded probe side (|Q|·intersecting-cells rows with full
    * vectors) is the bounded small side under the batch contract, and
    * pinning it broadcast keeps the CORPUS side unshuffled (guide
    * §3.1) — but rangeJoinIvf is also used as a corpus SELF-join
    * (r57's shape: queries = the whole embeddings table), where an
    * unconditional hint bypasses size estimation entirely: at 100 TB
    * the broadcast build would hard-fail on Spark's 8 GB / 512M-row
    * relation cap (or OOM the driver first) where the unhinted
    * planner falls back to a shuffle join. So the pin applies only
    * while a WORST-CASE driver-side estimate — the query side's
    * optimizer size estimate times the cell count, i.e. every query
    * intersecting every cell — stays under
    * `spark.graft.range.broadcastMaxBytes` (default 512 MB,
    * comfortably inside the broadcast cap; at bench scale the
    * estimate is a few MB and the pin always holds). Past the bound
    * the join is left UNHINTED: the planner's own estimates choose,
    * which at that size means a shuffle join — the scale-correct
    * fallback. */
  private def broadcastProbedIfBounded(probed: DataFrame,
                                       queries0: DataFrame,
                                       ncells: Int): DataFrame = {
    val maxBytes = BigInt(probed.sparkSession.conf
      .get("spark.graft.range.broadcastMaxBytes", (512L << 20).toString))
    val worstCase =
      queries0.queryExecution.optimizedPlan.stats.sizeInBytes *
        math.max(ncells, 1)
    if (worstCase <= maxBytes) broadcast(probed) else probed
  }

  private def rangeJoinIvfPerEpsImpl(
      queries0: DataFrame, qId: String, qVec: String, epsCol: String,
      assigned: DataFrame, dId: String, dVec: String, model: IvfModel,
      rad: Map[Long, Double], metric: Metric, roundTo: Int,
      validateEps: Boolean, label: String,
      pred: Column = lit(true)): DataFrame = {
    requireRangeMetric(metric, label)
    val spark = queries0.sparkSession
    val eCol = col(epsCol).cast("double")
    // ONE materialization feeds validation AND the join: a second
    // evaluation of a non-deterministic query source (limit/sample)
    // could pass the eps scan yet carry a NaN/negative eps into the
    // join, silently dropping that query's pairs — exactly the hazard
    // the stored form's collect-once contract documents and avoids
    val queries =
      if (validateEps) queries0.localCheckpoint(true) else queries0
    if (validateEps) {
      val badEps = queries
        .filter(eCol.isNull || isnan(eCol) || eCol < 0 ||
          eCol === Double.PositiveInfinity)
        .limit(1).count()
      require(badEps == 0L,
        s"$label: $epsCol carries a null/negative/NaN/" +
          "infinite radius — a NaN silently drops its query, an " +
          "infinity scans every cell")
    }
    val bc = spark.sparkContext.broadcast(
      collectCentroids(model).map { case (id, c) =>
        (id, c, rad.getOrElse(id, 0.0)) })
    val slack = math.pow(10.0, -roundTo)
    val cosine = metric == Cosine
    // the cell cut is always L2; cosine runs it on the unit sphere
    val cellsUdf = udf { (v: Seq[Double], eps: Double) =>
      val q = if (cosine) normalizeDriver(v.toArray) else v.toArray
      val e = cellEps(metric, eps, slack)
      bc.value.iterator
        .filter { case (_, c, r) => L2.distScala(q, c) <= r + e + slack }
        .map(_._1).toSeq
    }
    val probed = queries
      .withColumn(model.idCol,
        explode(cellsUdf(col(qVec).cast("array<double>"), eCol)))
    // `pred` thins the assigned frame BEFORE the cell join (the r82
    // placement): disallowed rows never reach the distance cut.
    // The probed side is BROADCAST deliberately (guide §3.1): it is
    // |Q|·(intersecting cells) rows — bounded by the batch contract's
    // small query side — while `assigned` is the corpus. Leaving the
    // strategy to size estimates made the plan flip between broadcast
    // and a sort-merge shuffle of the CORPUS keyed by ~k cell ids (a
    // skew magnet); pinning it keeps the corpus side unshuffled. The
    // pin is SIZE-GATED ([[broadcastProbedIfBounded]]): a corpus
    // self-join's query side at 100 TB would hard-fail the broadcast
    // cap, so past the bound the join is left to the planner. The
    // corpus side rides [[parallelismFloor]]: the join-condition
    // distance math runs in ITS tasks, and a single-file corpus scan
    // would run every pair on one core (guide §2.5).
    broadcastProbedIfBounded(probed, queries0, bc.value.length)
      .join(parallelismFloor(assigned.filter(pred)
        .select(col(dId), col(dVec), col(model.idCol))), Seq(model.idCol))
      .withColumn("dist", round(metric.dist(col(qVec).cast("array<double>"),
        col(dVec).cast("array<double>")), roundTo))
      .filter(col("dist") <= eCol)
      .select(col(qId), col(dId), col("dist"))
      .orderBy(col(qId).asc, col("dist").asc, col(dId).asc)
  }

  /** Batch maxsim: the top-k docs for EVERY query bag in ONE job — the
    * multivec twin of [[knnJoinIvf]] (dense), `Bm25.searchBatch`
    * (keyword), and `Sparse.invertedTopKBatch` (sparse), completing the
    * query-log-replay family across all four search modalities.
    * `queries`: one row per query, `qVecsCol` = the token bag
    * (`array<array<double>>`). `assigned`: a
    * [[buildMaxsimIvf]]/`Stream.ingestMaxsim` layout carrying the doc
    * token matrix `mvCol`, the PERSISTED token-mean `meanCol`, and
    * `model.idCol`.
    *
    * Phase-1 (shared across queries): each query's token centroid
    * probes its `probes` nearest cells under COSINE (the reference pins
    * `spherical_centroids` for `vector_maxsim_ops`, spec.py:459-464) —
    * a broadcast-exploded (qid, cell) relation joined to the assigned
    * table, candidates ranked per query by the persisted mean dot
    * (ties id asc) with a rank window, top `refine` surviving. Phase-2:
    * exact maxsim over ONLY the surviving candidates (the token matrix
    * reached through a broadcast join of the Q·refine candidate pairs),
    * ranked per query. Returns (qid, id, score, rank).
    *
    * Scale shape: both phases are SHARED scans — phase-1 touches the
    * probed cells' persisted means (|Q|·probes·cell rows, never
    * |Q|·N token matrices; on a `writePartitioned` layout the cell join
    * prunes directories and parquet never reads `mvCol`), phase-2 only
    * the candidates' matrices; per-query ranking is a rank window,
    * never a driver loop — one job replays the whole query log. */
  def maxsimBatch(queries: DataFrame, qId: String, qVecsCol: String,
                  assigned: DataFrame, dId: String, mvCol: String,
                  meanCol: String, model: IvfModel, dim: Int,
                  probes: Int, refine: Int, k: Int,
                  roundTo: Int = 6): DataFrame = {
    val bc = queries.sparkSession.sparkContext
      .broadcast(collectCentroids(model))
    val nProbes = probes
    // nearest cells per query-token centroid: broadcast-centroid scores
    // in a map-only UDF, (dist, id)-sorted — knnJoinIvf's probe shape
    val probeUdf = udf { (v: Seq[Double]) =>
      val varr = v.toArray
      bc.value.map { case (id, c) => (Cosine.distScala(varr, c), id) }
        .sorted.take(nProbes).map(_._2).toSeq
    }
    val q = queries
      .select(col(qId).as("__qid"), col(qVecsCol).as("__qv"))
      .withColumn("__qc", flattenMean(col("__qv"), dim))
      .withColumn(model.idCol, explode(probeUdf(col("__qc"))))
    val w1 = Window.partitionBy("__qid")
      .orderBy(col("__approx").desc, col(dId).asc)
    val keep = assigned
      .select(col(dId), col(meanCol), col(model.idCol))
      .join(broadcast(q), Seq(model.idCol))
      .withColumn("__approx", round(org.apache.spark.sql.graft.VecExprs
        .dot(col(meanCol).cast("array<double>"), col("__qc")), roundTo))
      .withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= refine)
      // carry the cell id through: the phase-2 join below must include
      // the partition column or the token-matrix scan gets no dynamic
      // pruning and reads every cell directory (the corpus-sized
      // phase-2 read r26's contract forbids)
      .select(col("__qid"), col("__qv"), col(dId), col(model.idCol))
    val w2 = Window.partitionBy("__qid")
      .orderBy(col("score").desc, col(dId).asc)
    assigned.select(col(dId), col(mvCol), col(model.idCol))
      .join(broadcast(keep), Seq(model.idCol, dId))
      .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
        .maxSimDot(col("__qv"), col(mvCol).cast("array<array<double>>")),
        roundTo))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("__qid").as(qId), col(dId), col("score"), col("rank"))
  }

  /** IVF-pruned ANN top-k: scan only the probed cells, then exact top-k
    * within them. `assigned` must carry a `centroid_id` column (from
    * [[assign]]). The probe cells are chosen on the driver
    * ([[probeCellIds]] over the model's memoized centroids) and filter
    * as a literal isin, so a disk-partitioned layout prunes whole
    * partitions. */
  def searchIvf(assigned: DataFrame, idCol: String, vecCol: String,
                model: IvfModel, queryVec: Column, metric: Metric,
                probes: Int, k: Int, roundTo: Int = 6): DataFrame = {
    val cells = probeCellIds(model, queryVec, metric, probes)
    topK(assigned.filter(col(model.idCol).isin(cells: _*)), idCol, vecCol,
      queryVec, metric, k, roundTo)
  }

  /** The three quantized IVF families — codes inside IVF cells, exact
    * re-rank of the survivors (vchordrq, spec.py:437-444). A family
    * names what differs AT REST: its code columns, its data subdir,
    * its geometry marker and its trained side tables. Everything else
    * — probe, phase-1 cut, exact re-rank, fresh encode-on-read, load,
    * write, detection and maintenance — is written once over it and
    * over [[QuantIndex]]. */
  sealed trait QuantFamily extends Product with Serializable {
    /** The root subdir holding the cell-partitioned code rows. */
    private[graft] def dataSub: String = "quantized"
    /** The columns the family's rows carry beyond the raw doc columns
      * — what a fresh (not yet encoded) row must not carry. */
    private[ops] def codeCols: Set[String]
    /** The marker pinning the root's geometry (spherical flag). */
    private[ops] def marker: String
    /** The spherical flag a marker value pins. */
    private[ops] def pinnedSpherical(meta: String): Boolean = meta.toBoolean
    /** What a geometry refusal calls the marker value, and what two
      * values of it would mix. */
    private[ops] def pinName: String = "spherical="
    private[ops] def mixes: String
    /** The marker pinning a digest of the trained side tables, and
      * what a mismatch refuses — None where the model marker already
      * pins the quantizer. */
    private[ops] def digestPin: Option[(String, String)] = None
    /** The exact-re-rank budget (candidate multiplier) for
      * `refine <= 0`. */
    def defaultRefine(metric: Metric): Int = 5
    /** The root's trained artifacts under `model` in the geometry its
      * marker pins, with no rows. */
    private[ops] def artifacts(spark: org.apache.spark.sql.SparkSession,
                               dir: String, model: IvfModel,
                               spherical: Boolean): QuantIndex
    /** A split's side-table step before its parents dissolve:
      * `newIds` are (parent cell, new sub-cell) pairs. */
    private[ops] def inheritSide(spark: org.apache.spark.sql.SparkSession,
                                 dir: String,
                                 newIds: Seq[(Long, Long)]): Unit = ()
  }

  /** 8-bit codes against per-cell bounds ([[IvfSqIndex]]). */
  case object Sq extends QuantFamily {
    private[ops] val codeCols = Set("codes")
    private[ops] def marker = SqMetaMarker
    private[ops] def mixes = "metric spaces"
    override private[ops] def digestPin = Some((SqBoundsDigestMarker,
      "different SQ bounds (digest mismatch) — retrained bounds cannot " +
        "extend this layout"))
    private[ops] def artifacts(spark: org.apache.spark.sql.SparkSession,
                               dir: String, model: IvfModel,
                               spherical: Boolean): QuantIndex =
      IvfSqIndex(spark.emptyDataFrame, spark.read.parquet(s"$dir/bounds"),
        model, spherical)
    /** Each sub-cell DUPLICATES its parent's frozen bounds row, keeping
      * every inherited code decodable; filter-out-then-union so a
      * crashed run's re-execution with the same fresh ids cannot
      * duplicate bounds rows (duplicates fan out in every bounds join,
      * doubling ids in search results). */
    override private[ops] def inheritSide(
        spark: org.apache.spark.sql.SparkSession, dir: String,
        newIds: Seq[(Long, Long)]): Unit = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bounds = spark.read.parquet(s"$dir/bounds")
      val cidType = bounds.schema("centroid_id").dataType
      val dup = newIds.map { case (old, nid) =>
        bounds.filter(col("centroid_id").cast("long") === old)
          .withColumn("centroid_id", lit(nid).cast(cidType)) }
        .reduce(_ unionByName _)
      val subIds = newIds.map(_._2)
      swapSideTable(fs, dir, "bounds",
        bounds.filter(!col("centroid_id").cast("long").isin(subIds: _*))
          .unionByName(dup).localCheckpoint(true))
    }
  }

  /** Product-quantization codes over shared codebooks
    * ([[IvfPqIndex]]); its marker also pins the (m, subDim) geometry. */
  case object Pq extends QuantFamily {
    override private[graft] val dataSub = "encoded"
    private[ops] val codeCols = Set("pq_codes")
    private[ops] def marker = PqMetaMarker
    override private[ops] def pinnedSpherical(meta: String): Boolean =
      meta.split(",")(2).toBoolean
    override private[ops] def pinName = "PQ geometry "
    private[ops] def mixes = "code spaces"
    override private[ops] def digestPin = Some((PqBooksDigestMarker,
      "different codebooks (digest mismatch) — a retrained quantizer " +
        "cannot extend this layout"))
    /** Reads the flag from its own (m, subDim, spherical) marker. */
    private[ops] def artifacts(spark: org.apache.spark.sql.SparkSession,
                               dir: String, model: IvfModel,
                               spherical: Boolean): QuantIndex =
      loadPqArtifacts(spark, dir, model)
  }

  /** 1-bit residual sign codes plus the residual norm
    * ([[IvfBitIndex]]); its centroids are its quantizer, so it pins no
    * digest. */
  case object Bitq extends QuantFamily {
    private[ops] val codeCols = Set("bits", "rnorm")
    private[ops] def marker = BitqMetaMarker
    private[ops] def mixes = "residual spaces"
    override def defaultRefine(metric: Metric): Int =
      defaultBitqRefine(metric)
    private[ops] def artifacts(spark: org.apache.spark.sql.SparkSession,
                               dir: String, model: IvfModel,
                               spherical: Boolean): QuantIndex =
      IvfBitIndex(spark.emptyDataFrame, model, spherical)
  }

  /** An IVF index with a codes-only phase-1 scan — SQ
    * ([[IvfSqIndex]]), PQ ([[IvfPqIndex]]) or 1-bit ([[IvfBitIndex]]).
    * Each case supplies only what its codes need: the per-cell side
    * table the scan joins, the phase-1 estimate, the at-rest
    * encode/pack/unpack and side tables, and the health distance.
    * [[quantizedCandidates]], [[searchQuantized]], [[knnJoinQuantized]],
    * [[writeQuantized]], [[CellRoot.Quantized.readIndex]] and
    * [[searchStored]] are the one implementation over all three; the
    * declarative quantized rewrite serves all three. */
  sealed trait QuantIndex {
    def model: IvfModel
    def family: QuantFamily
    /** True for an index built under `Cosine` (`spherical_centroids`,
      * spec.py:437-444): unit centroids, codes over normalized rows,
      * served by cosine queries only. Any other build is not
      * spherical and is never served by cosine. */
    def spherical: Boolean
    /** The doc rows plus cell id and codes, codes in scan form. */
    def rows: DataFrame
    /** This index over other rows (a filtered or fresh-augmented
      * frame of the same shape). */
    def withRows(rows: DataFrame): QuantIndex
    /** The per-cell table phase 1 joins onto the probed rows. */
    private[ops] def cellSide: Option[DataFrame]
    /** Phase-1 distance estimate for the phase-1-space query `qv`. */
    private[ops] def estimate(qv: Column): Column
    /** [[estimate]] in the batch join, where each row carries its
      * query id `__qid` and phase-1-space vector `__qv`; `queries` is
      * that collected query set. */
    private[ops] def batchEstimate(
        queries: Array[(Long, Array[Double])]): Column =
      estimate(col("__qv"))
    /** Assign + encode raw rows under this index's artifacts, codes at
      * rest, bit-identical to the batch build's codes: the one
      * transform for rows that arrive after the build (streamed,
      * fresh on read, compacted, re-encoded by a split or merge).
      * `model` is the index's geometry as is: under `Cosine` the rows
      * normalize and assign L2 on the unit sphere against the
      * already-unit centroids; any other metric assigns with itself.
      * The stored vecCol stays RAW for the exact re-rank. */
    private[graft] def encode(raw: DataFrame, vecCol: String,
                              metric: Metric): DataFrame
    /** Scan-form codes to their at-rest form, and back. */
    private[ops] def pack(df: DataFrame): DataFrame = df
    private[ops] def unpack(df: DataFrame): DataFrame = df
    /** Write the trained side tables beside the code rows. */
    private[ops] def writeSide(dir: String): Unit
    /** The family marker's value: the spherical flag. */
    private[ops] def geometryPin: String = spherical.toString
    /** The digest [[QuantFamily.digestPin]]'s marker holds. */
    private[ops] def artifactDigest: Option[String] = None
    /** (cell, `__d`) per at-rest row: the distance between the row's
      * code reconstruction and its cell centroid, reading the code
      * columns only ([[indexHealth]]'s per-row input). */
    private[ops] def healthDist(atRest: DataFrame, roundTo: Int): DataFrame
    /** A persisted copy for a per-process memo, and its release. */
    private[graft] def persisted(): QuantIndex = withRows(rows.persist())
    private[graft] def unpersist(): Unit = rows.unpersist(false)
  }

  /** IVF + scalar quantization composed — the actual vchordrq index
    * shape (RaBitQ-style quantized codes INSIDE IVF cells + exact
    * re-rank; /root/reference/vechord/spec.py:437-444, README.md:30-31):
    *  - `quantized`: the doc table with (centroid_id, codes) appended —
    *    the at-rest form is `partitionBy(centroid_id)` with 1-byte/dim
    *    codes, i.e. probes prune whole directories and the scanned
    *    bytes are 1/4 of full precision;
    *  - `bounds`: (centroid_id, mins, maxs) — per-CELL quantization
    *    bounds (residual-style: each cell's codes span only its local
    *    value range, tighter than corpus-global bounds exactly where
    *    the probe scan happens). Exact min/max inputs, so any engine
    *    reproduces codes and distances bit-for-bit. */
  final case class IvfSqIndex(quantized: DataFrame, bounds: DataFrame,
                              model: IvfModel, spherical: Boolean)
      extends QuantIndex {
    def family: QuantFamily = Sq
    def rows: DataFrame = quantized
    def withRows(rows: DataFrame): QuantIndex = copy(quantized = rows)
    private[ops] def cellSide: Option[DataFrame] = Some(bounds)
    private[ops] def estimate(qv: Column): Column =
      sqDistCols(qv, col("codes"), col("__mins"), col("__maxs"))
    /** Assignment plus a broadcast join against the ≤k-row bounds
      * table: map-only apart from that join. */
    private[graft] def encode(raw: DataFrame, vecCol: String,
                              metric: Metric): DataFrame = {
      val (assigned, v) = assignPhase1(raw, vecCol, model, metric)
      assigned
        .join(broadcast(bounds), model.idCol)
        .withColumn("codes", packCodes(quantizeSqCols(
          col(v).cast("array<double>"), col("__mins"), col("__maxs"))))
        .drop("__mins", "__maxs", "__nvec")
    }
    override private[ops] def pack(df: DataFrame): DataFrame =
      df.withColumn("codes", packCodes(col("codes")))
    override private[ops] def unpack(df: DataFrame): DataFrame =
      df.withColumn("codes", unpackCodes(col("codes")))
    private[ops] def writeSide(dir: String): Unit = {
      bounds.write.mode("overwrite").parquet(s"$dir/bounds")
      model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    }
    override private[ops] def artifactDigest: Option[String] =
      Some(sqBoundsDigest(bounds, model.idCol))
    private[ops] def healthDist(atRest: DataFrame,
                                roundTo: Int): DataFrame =
      unpack(atRest.select(col(model.idCol), col("codes")))
        .join(broadcast(bounds.select(col(model.idCol), col("__mins"),
          col("__maxs"))), model.idCol)
        .join(broadcast(model.centroids), model.idCol)
        .select(col(model.idCol), round(sqDistCols(col(model.vecCol),
          col("codes"), col("__mins"), col("__maxs")), roundTo).as("__d"))
    override private[graft] def persisted(): QuantIndex =
      copy(quantized = quantized.persist(), bounds = bounds.persist())
    override private[graft] def unpersist(): Unit = {
      quantized.unpersist(false)
      bounds.unpersist(false)
    }
  }

  /** Build: assign cells, per-cell bound aggregation (one map-side-
    * combinable shuffle on centroid_id), quantize via the co-keyed
    * bounds join (AQE broadcasts the tiny bounds side).
    *
    * Cosine builds SPHERICAL: docs and centroids are L2-normalized and
    * the whole index (assignment, bounds, codes, the asymmetric scan)
    * runs as L2 on the unit sphere — same cells and candidate ranking
    * as cosine (spec.py:437-444 `spherical_centroids`). The stored
    * vecCol stays RAW, so the exact re-rank is true cosine distance. */
  def buildIvfSq(docs: DataFrame, vecCol: String, model: IvfModel,
                 metric: Metric): IvfSqIndex =
    if (metric == Cosine) {
      val modelN = normalizeModel(model)
      val assigned = assign(withNormalized(docs, vecCol, "__nvec"),
        "__nvec", modelN, L2)
      val bounds = assigned.groupBy(col(modelN.idCol))
        .agg(graft.functions.VecAgg.vecMinMax(col("__nvec")).as("__mm"))
        .select(col(modelN.idCol), col("__mm.mins").as("__mins"),
          col("__mm.maxs").as("__maxs"))
      val quantized = assigned
        .join(bounds, modelN.idCol)
        .withColumn("codes",
          quantizeSqCols(col("__nvec"), col("__mins"), col("__maxs")))
        .drop("__mins", "__maxs", "__nvec")
      IvfSqIndex(quantized, bounds, modelN, spherical = true)
    } else {
      val assigned = assign(docs, vecCol, model, metric)
      val bounds = assigned.groupBy(col(model.idCol))
        .agg(graft.functions.VecAgg.vecMinMax(
          col(vecCol).cast("array<double>")).as("__mm"))
        .select(col(model.idCol), col("__mm.mins").as("__mins"),
          col("__mm.maxs").as("__maxs"))
      val quantized = assigned
        .join(bounds, model.idCol)
        .withColumn("codes",
          quantizeSqCols(col(vecCol), col("__mins"), col("__maxs")))
        .drop("__mins", "__maxs")
      IvfSqIndex(quantized, bounds, model, spherical = false)
    }

  private val SqMetaMarker = "_graft_sq_meta"
  private val SqBoundsDigestMarker = "_graft_sq_bounds_digest"

  /** Deterministic digest of an SQ index's per-cell bounds (cell-sorted,
    * exact double rendering) — the identity a GROWING quantized layout
    * must pin: codes quantized under two different bounds mixed in one
    * layout dequantize to silently wrong values. Bounded collect: k
    * cells × 2·dim doubles. */
  private def sqBoundsDigest(bounds: DataFrame, cellCol: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bounds.select(col(cellCol).cast("long"), col("__mins"), col("__maxs"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Double](2)))
      .sortBy(_._1)
      .foreach { case (cid, mins, maxs) =>
        md.update(s"$cid:${mins.mkString(",")}|${maxs.mkString(",")}\n"
          .getBytes("UTF-8"))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** IVF + product quantization composed — the third quantization
    * family inside IVF cells (SQ [[buildIvfSq]], 1-bit
    * [[buildIvfBitq]]): positional PQ codes whose codebooks are the
    * per-(cell, subspace) mean slices — [[buildPq]]'s determinism with
    * the IVF cells themselves as the seed, so the coarse and fine
    * quantizers share structure and any engine replays
    * codebooks/codes/ADC exactly. At rest: m small ints per row where
    * SQ stores dim bytes (768 dims / 96 subspaces = 8× denser than
    * SQ8), and the probed scan does LUT lookups only — no per-row
    * vector math at all.
    *
    * Cosine builds SPHERICAL like [[buildIvfSq]]: assignment,
    * codebooks, codes and the ADC scan run as L2 on the unit sphere
    * over normalized vectors; the stored vecCol stays RAW so the exact
    * re-rank is true cosine distance. */
  final case class IvfPqIndex(encoded: DataFrame, pq: PqModel,
                              model: IvfModel, spherical: Boolean)
      extends QuantIndex {
    def family: QuantFamily = Pq
    def rows: DataFrame = encoded
    def withRows(rows: DataFrame): QuantIndex = copy(encoded = rows)
    private[ops] def cellSide: Option[DataFrame] = None
    /** ADC over the codes only: the lookup tables are built on the
      * driver, so the query must be a literal. */
    private[ops] def estimate(qv: Column): Column =
      pqAdcDist(literalVec(qv).getOrElse(throw new IllegalArgumentException(
          "PQ ADC needs a literal query vector (its lookup tables are " +
            "built on the driver)")).toSeq,
        col("pq_codes"), pq)
    /** Per-query ADC lookup tables (m × codes partial squared
      * distances) built once on the driver from the collected query
      * set and shipped as ONE broadcast map, so each (query, row) pair
      * costs m lookups. Malformed codes (out of range, negative — a
      * truncated layout) sink to +Inf, [[pqAdcDist]]'s contract. */
    override private[ops] def batchEstimate(
        queries: Array[(Long, Array[Double])]): Column = {
      val luts: Map[Long, Array[Array[Double]]] =
        queries.map { case (id, v) =>
          id -> Array.tabulate(pq.m) { s =>
            val off = s * pq.subDim
            pq.codebooks(s).map { case (_, c) =>
              var d = 0.0
              var j = 0
              while (j < pq.subDim) {
                val t = v(off + j) - c(j); d += t * t; j += 1
              }
              d
            }
          }
        }.toMap
      val bcLuts = encoded.sparkSession.sparkContext.broadcast(luts)
      val adc = udf { (qid: Long, codes: Seq[Int]) =>
        val lut = bcLuts.value(qid)
        var d = 0.0
        var s = 0
        var bad = codes.length != lut.length
        while (!bad && s < codes.length) {
          val c = codes(s)
          if (c < 0 || c >= lut(s).length) bad = true
          else { d += lut(s)(c); s += 1 }
        }
        if (bad) Double.PositiveInfinity else math.sqrt(d)
      }
      adc(col("__qid"), col("pq_codes"))
    }
    /** Map-only: broadcast centroids, broadcast codebooks. */
    private[graft] def encode(raw: DataFrame, vecCol: String,
                              metric: Metric): DataFrame = {
      val (assigned, v) = assignPhase1(raw, vecCol, model, metric)
      encodePq(assigned, v, pq).drop("__nvec")
    }
    /** Codebooks and centroids. */
    private[ops] def writeSide(dir: String): Unit = {
      val spark = encoded.sparkSession
      import spark.implicits._
      pq.codebooks.indices.flatMap(s => pq.codebooks(s).zipWithIndex
          .map { case ((cid, cent), code) => (s, code, cid, cent.toSeq) })
        .toDF("s", "code", "cid", "cent")
        .write.mode("overwrite").parquet(s"$dir/codebooks")
      model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    }
    /** The (m, subDim, spherical) geometry: a reader cannot
      * mis-assemble the lookup tables. */
    override private[ops] def geometryPin: String =
      s"${pq.m},${pq.subDim},$spherical"
    override private[ops] def artifactDigest: Option[String] =
      Some(pqDigest(pq))
    private[ops] def healthDist(atRest: DataFrame,
                                roundTo: Int): DataFrame =
      atRest.select(col(model.idCol), col("pq_codes"))
        .join(broadcast(model.centroids), model.idCol)
        .select(col(model.idCol), round(L2.dist(
          pqReconstructCol(col("pq_codes"), pq), col(model.vecCol)),
          roundTo).as("__d"))
  }

  def buildIvfPq(docs: DataFrame, vecCol: String, model: IvfModel,
                 m: Int, metric: Metric, roundTo: Int = 5): IvfPqIndex =
    if (metric == Cosine) {
      val modelN = normalizeModel(model)
      val assigned = assign(withNormalized(docs, vecCol, "__nvec"),
        "__nvec", modelN, L2)
      val pq = buildPq(assigned, modelN.idCol, "__nvec", m, roundTo)
      IvfPqIndex(encodePq(assigned, "__nvec", pq).drop("__nvec"),
        pq, modelN, spherical = true)
    } else {
      val assigned = assign(docs, vecCol, model, metric)
      val pq = buildPq(assigned, model.idCol, vecCol, m, roundTo)
      IvfPqIndex(encodePq(assigned, vecCol, pq), pq, model,
        spherical = false)
    }

  private val PqMetaMarker = "_graft_pq_meta"
  private val PqBooksDigestMarker = "_graft_pq_books_digest"

  private def pqDigest(pq: PqModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sb = new StringBuilder
    pq.codebooks.foreach(_.foreach { case (cid, cent) =>
      sb.append(cid).append(':').append(cent.mkString(",")).append(';')
    })
    md.digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The trained PQ artifacts under `model`, with no rows — codebooks
    * (collected driver-side in (s, code) order: m·codes·subDim doubles,
    * bounded by construction) and the (m, subDim, spherical) geometry
    * from the marker. */
  private def loadPqArtifacts(spark: org.apache.spark.sql.SparkSession,
                              dir: String, model: IvfModel): IvfPqIndex = {
    val meta = graft.io.Markers.read(spark, dir, PqMetaMarker)
      .getOrElse(throw new IllegalStateException(
        s"$dir has no PQ geometry marker — not a writeQuantized PQ layout"))
    val Array(m, subDim, spherical) = meta.split(",")
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("s").cast("int"), col("code").cast("int"),
        col("cid").cast("long"), col("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1),
        (r.getLong(2), r.getSeq[Double](3).toArray)))
    val books = Array.tabulate(m.toInt) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    require(books.forall(_.length == books.head.length) &&
        books.head.forall(_._2.length == subDim.toInt),
      s"$dir codebooks disagree with the marker geometry $meta")
    IvfPqIndex(spark.emptyDataFrame, PqModel(m.toInt, subDim.toInt, books),
      model, spherical.toBoolean)
  }

  /** 1-bit (RaBitQ-style) IVF index: per vector, the SIGN of each
    * residual dimension (v − centroid) plus the residual norm — 1 bit
    * per dimension at rest (32× vs float32, 8× denser than SQ8), the
    * vchordrq default quantization (RaBitQ inside IVF,
    * /root/reference/vechord/spec.py:437-444, README.md:30-31).
    * `quantized` columns: doc cols + centroid_id + bits (array<int>
    * 0/1) + rnorm. */
  final case class IvfBitIndex(quantized: DataFrame, model: IvfModel,
                               spherical: Boolean) extends QuantIndex {
    def family: QuantFamily = Bitq
    def rows: DataFrame = quantized
    def withRows(rows: DataFrame): QuantIndex = copy(quantized = rows)
    private[ops] def cellSide: Option[DataFrame] = Some(model.centroids)
    /** Asymmetric 1-bit L2 estimator, all builtin column math (no UDF;
      * its `zip_with`/`aggregate`/`transform` are `CodegenFallback`,
      * so Spark interprets it per element): with qr = query − centroid
      * and r̂ = rnorm·sign(bits)/√D,
      * est‖q − v‖² = ‖qr‖² + rnorm² − 2·(rnorm/√D)·Σ signᵢ·qrᵢ.
      * An ESTIMATOR, not a bound — hence top-(k·refine) by estimate,
      * then the exact re-rank. */
    private[ops] def estimate(qv: Column): Column = {
      val qr = zip_with(qv, col(model.vecCol), (a, b) => a - b)
      val qr2 = aggregate(transform(qr, x => x * x), lit(0.0),
        (a, x) => a + x)
      val dot = aggregate(
        zip_with(col("bits"), qr, (b, x) => (b * 2 - 1).cast("double") * x),
        lit(0.0), (a, x) => a + x)
      qr2 + col("rnorm") * col("rnorm") -
        lit(2.0) * col("rnorm") / sqrt(size(col("bits")).cast("double")) *
          dot
    }
    /** Assignment plus one broadcast join against the k-row centroid
      * table for the residual; sign bits packed 1 bit/dim, rnorm
      * rounded as the build rounds it. */
    private[graft] def encode(raw: DataFrame, vecCol: String,
                              metric: Metric): DataFrame = {
      val (assigned, v) = assignPhase1(raw, vecCol, model, metric)
      val r = zip_with(col(v).cast("array<double>"), col(model.vecCol),
        (a, b) => a - b)
      assigned.join(broadcast(model.centroids), model.idCol)
        .withColumn("bits",
          packBits(transform(r, x => when(x > 0, 1).otherwise(0))))
        .withColumn("rnorm", round(sqrt(aggregate(transform(r, x => x * x),
          lit(0.0), (a, x) => a + x)), 6))
        .drop(model.vecCol, "__nvec")
    }
    override private[ops] def pack(df: DataFrame): DataFrame =
      df.withColumn("bits", packBits(col("bits")))
    // dims from the memoized centroid array — no per-load job
    override private[ops] def unpack(df: DataFrame): DataFrame =
      df.withColumn("bits", unpackBits(col("bits"),
        model.collectedCentroids.head._2.length))
    private[ops] def writeSide(dir: String): Unit =
      model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // dist(centroid + r̂, centroid) = ‖r̂‖ = rnorm, already rounded at
    // encode time — the audit reads ONE double per row
    private[ops] def healthDist(atRest: DataFrame,
                                roundTo: Int): DataFrame =
      atRest.select(col(model.idCol), col("rnorm").as("__d"))
  }

  /** Build: assign cells (map-only broadcast argmin), then a plain
    * equi-join with the centroid table on centroid_id for the residual
    * — co-keyed with the assignment, AQE-broadcastable when centroids
    * are small, a shuffle join when they are not (10⁵ cells at 100 TB:
    * never a plan literal, never a forced broadcast). rnorm is rounded
    * so every engine reproduces codes + estimator bit-for-bit. */
  def buildIvfBitq(docs: DataFrame, vecCol: String, model: IvfModel,
                   metric: Metric, roundTo: Int = 6): IvfBitIndex =
    if (metric == Cosine) {
      // spherical: residuals taken on the unit sphere against unit
      // centroids; estimator and probes run as L2 there (see
      // [[buildIvfSq]]), exact re-rank stays true cosine on the raw col
      val modelN = normalizeModel(model)
      val joined = assign(withNormalized(docs, vecCol, "__nvec"),
        "__nvec", modelN, L2)
        .join(modelN.centroids, modelN.idCol)
      val r = zip_with(col("__nvec"), col(modelN.vecCol), (a, b) => a - b)
      val quantized = joined
        .withColumn("bits", transform(r, x => when(x > 0, 1).otherwise(0)))
        .withColumn("rnorm", round(
          sqrt(aggregate(transform(r, x => x * x), lit(0.0),
            (a, x) => a + x)), roundTo))
        .drop(modelN.vecCol, "__nvec")
      IvfBitIndex(quantized, modelN, spherical = true)
    } else {
      val joined = assign(docs, vecCol, model, metric)
        .join(model.centroids, model.idCol)
      val r = zip_with(col(vecCol).cast("array<double>"),
        col(model.vecCol), (a, b) => a - b)
      val quantized = joined
        .withColumn("bits", transform(r, x => when(x > 0, 1).otherwise(0)))
        .withColumn("rnorm", round(
          sqrt(aggregate(transform(r, x => x * x), lit(0.0), (a, x) => a + x)),
          roundTo))
        .drop(model.vecCol)
      IvfBitIndex(quantized, model, spherical = false)
    }

  /** Default exact-re-rank budget for 1-bit (sign-code) searches, per
    * metric — MEASURED, not asserted (graft.RecallSmoke, sf0.1: n=2000,
    * dim=64, lists=32, k=10, all cells probed): recall@10 for L2 is
    * 0.820 at refine=5 → 1.000 at 40; for cosine (spherical build)
    * 0.635 at 5 → 0.885 at 20 → 0.955 at 40. Unit-sphere residuals
    * starve the sign codes of norm variance, so the spherical
    * estimator ranks candidates more coarsely and needs the larger
    * budget. The RaBitQ-style norm-correction term was measured WORSE
    * (0.560 at refine=5): these codes are candidate-quality-bound,
    * not bias-bound — the remedy is re-rank budget, not a better
    * estimator intercept. Cost stays query-bounded either way:
    * k·refine candidate rows per query. */
  def defaultBitqRefine(metric: Metric): Int =
    if (metric == Cosine) 40 else 5

  private val BitqMetaMarker = "_graft_bitq_meta"

  /** The candidate multiplier: `refine`, else the family default. */
  private def refineOf(index: QuantIndex, refine: Int,
                       metric: Metric): Int =
    if (refine > 0) refine else index.family.defaultRefine(metric)

  /** Refuse a metric outside the space a quantized index fixes: a
    * spherical index serves cosine only, any other never cosine. */
  private[graft] def requireSpace(where: String, spherical: Boolean,
                                  metric: Metric): Unit =
    require(spherical == (metric == Cosine),
      s"$where pins spherical=$spherical but the query metric is " +
        s"$metric — query a spherical index with metric = Cosine, any " +
        "other with its build metric (L2)")

  /** The phase-1 query and probe metric: a cosine index is spherical
    * (built over normalized vectors — `spherical_centroids`,
    * spec.py:437-444), so the query normalizes and phase 1 runs L2 on
    * the unit sphere, ordering identical to cosine. */
  private def phase1Query(queryVec: Column,
                          metric: Metric): (Column, Metric) =
    if (metric == Cosine) (l2NormalizeQuery(queryVec), L2)
    else (queryVec, metric)

  /** [[QuantIndex.encode]]'s assignment step: cosine normalizes the
    * rows into `__nvec` and assigns L2 on the unit sphere against
    * `model` as is (a spherical index's model is already unit); any
    * other metric assigns the raw column with itself. Returns the
    * assigned rows and the column the codes encode. */
  private def assignPhase1(raw: DataFrame, vecCol: String, model: IvfModel,
                           metric: Metric): (DataFrame, String) =
    if (metric == Cosine)
      (assign(withNormalized(raw, vecCol, "__nvec"), "__nvec", model, L2),
        "__nvec")
    else (assign(raw, vecCol, model, metric), vecCol)

  /** Phase 1 of [[searchQuantized]] alone: probe `probes` cells, scan
    * the probed cells' codes, keep the top-`n` rows by (estimate, id)
    * with all their columns — the candidate generator the declarative
    * [[graft.plans.AnnTopKRule]] rewrite injects as a semi-join (its
    * exact re-rank is the plan's own Sort+Limit). Cosine runs
    * spherical ([[phase1Query]]). The probe cells are chosen on the
    * driver from the model's memoized centroids ([[probeCellIds]]) and
    * reach the scan as a LITERAL isin on the cell column. The per-cell
    * side table (SQ bounds, 1-bit centroids) arrives as a broadcast of
    * its ≤`probes` probed rows, cut by the same literal isin. */
  def quantizedCandidates(index: QuantIndex, idCol: String,
                          queryVec: Column, metric: Metric, probes: Int,
                          n: Int, roundTo: Int = 6): DataFrame = {
    requireSpace("the index", index.spherical, metric)
    val (qv, m) = phase1Query(queryVec, metric)
    val cellCol = index.model.idCol
    val cells = probeCellIds(index.model, qv, m, probes)
    val probed = index.rows.filter(col(cellCol).isin(cells: _*))
    index.cellSide
      .fold(probed)(side => probed.join(
        broadcast(side.filter(col(cellCol).isin(cells: _*))), Seq(cellCol)))
      .withColumn("qdist", round(index.estimate(qv), roundTo))
      .orderBy(col("qdist").asc, col(idCol).asc)
      .limit(n)
  }

  /** Quantized IVF search: [[quantizedCandidates]] keeps the
    * top-(k·refine) rows of the probed code scan, then the exact
    * re-rank under the ORIGINAL metric over the ORIGINAL query.
    * `refine <= 0` = the family default (5; 1-bit
    * [[defaultBitqRefine]]). Returns (`fields`, dist), `fields` by
    * default the id alone: any column of the index rows rides the
    * re-rank's own top-k projection, so a caller that wants the row's
    * payload needs no join back. */
  def searchQuantized(index: QuantIndex, idCol: String, vecCol: String,
                      queryVec: Column, metric: Metric, probes: Int,
                      k: Int, refine: Int = -1,
                      roundTo: Int = 6,
                      fields: Seq[String] = Nil): DataFrame =
    quantizedCandidates(index, idCol, queryVec, metric, probes,
        k * refineOf(index, refine, metric), roundTo)
      .withColumn("dist", round(metric.dist(
        col(vecCol).cast("array<double>"), queryVec), roundTo))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .select(((if (fields.isEmpty) Seq(idCol) else fields) :+ "dist")
        .map(col): _*)

  /** Batch quantized IVF kNN join — the query-log replay of
    * [[searchQuantized]] in one job. The query set is collected on the
    * driver (the [[knnJoin]] broadcast-queries contract) and each
    * query's `probes` nearest cells go out as ONE broadcast
    * (qid, cell, phase-1 query) relation; the batch's probed-cell
    * union is also planted as a LITERAL isin, so an at-rest
    * cell-partitioned layout prunes unprobed dirs with
    * PartitionFilters. Phase 1 scores the probed rows' codes per
    * query ([[QuantIndex.batchEstimate]] — SQ's codegen'd kernel, the
    * 1-bit estimator, PQ's broadcast lookup tables) and keeps
    * top-(k·refine) per query by (estimate, id) with a rank window;
    * phase 2 joins ONLY the survivors' raw vectors against the
    * broadcast raw queries for the exact per-query re-rank
    * ([[Metric.dist]], bit-identical to [[Metric.distScala]]). Cosine
    * runs spherical like [[quantizedCandidates]]. `refine <= 0` = the
    * family default. Returns (qId, dId, dist, rank). */
  def knnJoinQuantized(queries: DataFrame, qId: String, qVec: String,
                       index: QuantIndex, dId: String, vecCol: String,
                       metric: Metric, probes: Int, k: Int,
                       refine: Int = -1, roundTo: Int = 6): DataFrame = {
    requireSpace("the index", index.spherical, metric)
    val spark = queries.sparkSession
    val qRows = queries
      .select(col(qId).cast("long"), col(qVec).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.nonEmpty, "knnJoinQuantized over an empty query set")
    val qPhase1 =
      if (metric == Cosine) qRows.map { case (id, v) =>
        (id, normalizeDriver(v))
      } else qRows
    val cents = collectCentroids(index.model)
    val probeRows = qPhase1.flatMap { case (id, v) =>
      nearestCellsDriver(v, cents, probes).map(cid => (id, cid, v.toSeq))
    }.toSeq
    import spark.implicits._
    val cellCol = index.model.idCol
    val probed = index.rows
      .filter(col(cellCol).isin(probeRows.map(_._2).distinct: _*))
      .join(broadcast(probeRows.toDF("__qid", cellCol, "__qv")),
        Seq(cellCol))
    val w1 = Window.partitionBy("__qid")
      .orderBy(col("__qdist").asc, col(dId).asc)
    val cand = index.cellSide
      .fold(probed)(side => probed.join(broadcast(side), Seq(cellCol)))
      .withColumn("__qdist", round(index.batchEstimate(qPhase1), roundTo))
      .withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= k * refineOf(index, refine, metric))
      .select(col("__qid"), col(dId))
    val qRawDf = qRows.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("__qid", "__qraw")
    val w2 = Window.partitionBy("__qid")
      .orderBy(col("dist").asc, col(dId).asc)
    index.rows.select(col(dId), col(vecCol))
      .join(broadcast(cand), Seq(dId))
      .join(broadcast(qRawDf), Seq("__qid"))
      .withColumn("dist", round(metric.dist(
        col(vecCol).cast("array<double>"), col("__qraw")), roundTo))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("__qid").as(qId), col(dId), col("dist"), col("rank"))
  }

  /** Persist a [[QuantIndex]] at rest: pin `dir` to it first
    * ([[ensureQuantizedRoot]] — a dir pinned to another geometry,
    * other trained artifacts or another model refuses before any
    * write; the same index again passes), then write `dir/<dataSub>`,
    * the row table disk-partitioned by the cell column with codes in
    * their packed form (SQ 1 byte/dim, 1-bit 1 bit/dim, PQ m ints that
    * dictionary-encode to ~1 byte/slot), so probed searches over the
    * loaded layout prune whole cell directories. Every quantized root
    * on disk is pinned; a crash between the pin and the rows leaves a
    * root with no data subdir, whose readers fail loudly and which the
    * same write completes. */
  def writeQuantized(index: QuantIndex, dir: String): Unit = {
    ensureQuantizedRoot(index.rows.sparkSession, dir, index)
    index.pack(index.rows).write.mode("overwrite")
      .partitionBy(index.model.idCol)
      .parquet(s"$dir/${index.family.dataSub}")
  }

  /** Idempotently pin the quantized root at `dir` to `index` — the
    * first step of [[writeQuantized]] and the start step of
    * [[graft.streaming.Stream.ingestQuantized]]. First call writes the
    * trained side tables (centroids; SQ bounds; PQ codebooks), the
    * artifact digest (SQ bounds, PQ codebooks) and the family's
    * geometry marker (SQ and 1-bit: the index's spherical flag; PQ:
    * its (m, subDim, spherical) geometry), last, so a crash before it
    * leaves a root the same call completes; a restart verifies both.
    * Either way the coarse-quantizer fingerprint of `index.model` is
    * pinned ([[ensureIvfModelMarker]]): neither another geometry, nor
    * retrained artifacts, nor a retrained model can mix two code
    * spaces in one layout. The index's model is the root's geometry
    * as is — a spherical index holds unit centroids already, and
    * nothing here normalizes. */
  private[graft] def ensureQuantizedRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      index: QuantIndex): Unit = {
    val family = index.family
    val want = index.geometryPin
    val digest = family.digestPin.zip(index.artifactDigest)
    graft.io.Markers.read(spark, dir, family.marker) match {
      case Some(meta) =>
        require(meta == want,
          s"$dir pins ${family.pinName}$meta; this ingest carries $want " +
            s"— streaming into it would mix two ${family.mixes}")
        digest.foreach { case ((marker, refusal), d) =>
          require(graft.io.Markers.read(spark, dir, marker).contains(d),
            s"$dir was built with $refusal")
        }
      case None =>
        index.writeSide(dir)
        digest.foreach { case ((marker, _), d) =>
          graft.io.Markers.write(spark, dir, marker, d)
        }
        graft.io.Markers.write(spark, dir, family.marker, want)
    }
    ensureIvfModelMarker(spark, dir, index.model)
  }

  /** `rows` plus the probed slice of the root's fresh side table
    * (none when no fresh rows exist), encoded on read under `index`'s
    * frozen artifacts. The read prunes to the probed `cells`' partition
    * dirs BEFORE encoding (rows re-assign to the same cells
    * deterministically — same centroids, same argmin), so query cost
    * over fresh scales with the probed fraction exactly like the main
    * layout's scan. */
  private def withFresh(spark: org.apache.spark.sql.SparkSession,
                        dir: String, index: QuantIndex, rows: DataFrame,
                        cells: Array[Long], vecCol: String,
                        metric: Metric): DataFrame =
    if (!freshExists(spark, dir)) rows
    else rows.unionByName(index.unpack(index.encode(
        spark.read.parquet(freshPath(dir))
          .filter(col("centroid_id").isin(cells: _*))
          .drop("centroid_id"), vecCol, metric))
      .select(rows.columns.map(col): _*))

  // --- Quantized-root fresh-rows maintenance --------------------------
  //
  // The quantized layouts ([[writeQuantized]]: SQ, PQ, 1-bit) bind
  // their codes to training-time bounds / codebooks, so unlike the
  // exact layouts they cannot simply grow —
  // but at 100 TB a streaming corpus cannot take a full rebuild per
  // append cycle either. The standard incremental answer (the shape the
  // reference's underlying index maintains postings with —
  // /root/reference/vechord/spec.py:437-444, vchordrq inserts being
  // incremental): an EXACT fresh-rows side table per root
  // (`dir/fresh`, cell-partitioned raw rows, id-keyed replay-safe
  // appends), folded into the main layout at the next compaction.
  // Queries stay EXACTLY rebuild-equivalent: the fresh rows are
  // encoded ON READ under the root's frozen artifacts via the same
  // transform streaming ingest uses ([[QuantIndex.encode]] —
  // bit-identical to the batch build), so phase-1 candidate ordering
  // and phase-2 re-ranks are indistinguishable from a layout that had
  // always contained the rows.

  /** The family of the quantized root at `dir` and the spherical flag
    * its geometry marker pins ([[ensureQuantizedRoot]] writes it for
    * every [[writeQuantized]] and streamed root). Markers only: None
    * for any dir without one. */
  private def detectQuantized(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Option[(QuantFamily, Boolean)] =
    Iterator[QuantFamily](Pq, Sq, Bitq)
      .flatMap(f => graft.io.Markers.read(spark, dir, f.marker)
        .map(meta => (f, f.pinnedSpherical(meta))))
      .nextOption()

  private def freshPath(dir: String) = s"$dir/fresh"

  private def freshExists(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(freshPath(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The assignment-geometry consistency probe behind a quantized
    * root's [[appendIdempotent]]: the marker expresses only
    * spherical-vs-not, but the quantized BUILDS accept any Metric —
    * an e.g. IP-built root would get fresh rows assigned under L2
    * into cells its own rows don't use, and probed searches would
    * silently miss them. A CROSS-CELL sample of the main layout's
    * rows (up to 4 per cell across up to 16 cells — an unordered
    * limit(64) would read one partition dir and sample exactly the
    * deep-in-cell rows least likely to expose a mismatch; per-cell
    * reads are partition-pruned, one row group each) must sit NEAR
    * its stored cell under the inferred geometry, else refuse
    * loudly. "Near" is a decisive-mismatch margin, not exact argmin:
    * a row is evidence of a foreign metric only when its stored-cell
    * distance exceeds its true argmin by >25% — a wrong assignment
    * metric lands rows in essentially unrelated cells (large
    * ratios), while legitimate cell MAINTENANCE drifts assignments
    * only marginally (a split's new sub-centroid can sit slightly
    * nearer to a neighboring cell's boundary row than that row's own
    * centroid — standard IVF staleness every probed search already
    * absorbs), and exact-argmin checking would wedge every
    * post-split stream on it. MEMOIZED per (dir, model fingerprint):
    * the property is stable per geometry (the fingerprint pin
    * refuses retrains; maintenance re-pins), so a streaming ingest
    * pays the probe once per geometry, not per micro-batch. */
  private val geometryProbed =
    new graft.core.LruCache[String, java.lang.Boolean](64)
  private def verifyQuantizedGeometry(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      dataSub: String, main: DataFrame, model: IvfModel,
      spherical: Boolean, idCol: String, vecCol: String): Unit = {
    val fp = readIvfModelMarker(spark, dir).getOrElse("unmarked")
    geometryProbed.getOrElseUpdate(s"$dir|$fp|$spherical") {
      // id-sorted by the memo's contract — no job for the id list
      val cellIds = model.collectedCentroids.iterator
        .map(_._1).take(16).toArray
      // per-cell limit(4) keeps the probe partition-pruned and
      // one-row-group cheap at scale (a window sample would read the
      // probed cells WHOLE); the union feeds exactly ONE aggregation
      // below — a single evaluation — so the limits' legal
      // re-sampling cannot split the (total, mismatches) pair and no
      // materialization job is needed
      val sample = cellIds.map(cid =>
          main.filter(col(model.idCol) === cid)
            .select(col(idCol), col(vecCol),
              col(model.idCol).cast("long").as("__stored_cell"))
            .limit(4))
        .reduce(_ unionByName _)
      val bcCents = spark.sparkContext.broadcast(
        collectCentroids(model).toMap)
      val sph = spherical
      val decisiveMismatch = udf { (v: Seq[Double], stored: Long) =>
        val raw = v.toArray
        val arr = if (sph) normalizeDriver(raw) else raw
        val dStored = bcCents.value.get(stored)
          .map(c => L2.distScala(arr, c))
          .getOrElse(Double.PositiveInfinity)
        val dMin = bcCents.value.valuesIterator
          .map(c => L2.distScala(arr, c)).min
        dStored > dMin * 1.25 + 1e-9
      }
      // ONE aggregation reads the materialized sample: total + the
      // decisive-mismatch count in a single pass
      val agg = sample.agg(count(lit(1)),
        sum(when(decisiveMismatch(col(vecCol).cast("array<double>"),
          col("__stored_cell")), 1L).otherwise(0L))).head()
      val total = agg.getLong(0)
      val bad = if (agg.isNullAt(1)) 0L else agg.getLong(1)
      // tolerance is EARNED by split history, never granted: a split
      // legitimately strands boundary rows of neighboring cells
      // (standard IVF staleness, unbounded ratio in principle), so
      // ever-split roots refuse on a decisive-mismatch FRACTION
      // (a foreign metric mis-homes most of the cross-cell sample,
      // drift is boundary-local) — while a NEVER-split root has no
      // legitimate source of drift at all (merges re-home to argmin,
      // deletes move nothing), so there the original zero tolerance
      // holds and a mildly foreign metric (e.g. inner-product over
      // mostly-normalized data) cannot slip under the fraction gate
      val tolerated =
        if (hasSplitHistory(spark, dir)) bad * 4 <= total else bad == 0L
      require(total == 0L || tolerated,
        s"appendIdempotent: $bad of $total sampled " +
          s"rows in $dir/$dataSub sit decisively outside their " +
          "stored cells under the marker's geometry — the root was " +
          "built under a different assignment metric; fresh appends " +
          "would land in the wrong cells. Rebuild the root or use " +
          "an L2/cosine geometry.")
      java.lang.Boolean.TRUE
    }
    ()
  }

  /** Fresh-aware BATCH kNN join over a quantized root — the query-log
    * replay twin of [[searchStored]]: a streaming-maintained
    * root is exactly the layout an eval loop replays a query log
    * against, and per-query stored searches would cost Q driver
    * round-trips. The BATCH's probed-cell UNION — each query's
    * `probes` nearest stored centroids under [[knnJoinQuantized]]'s
    * own driver-side arithmetic (spherical roots rank normalized
    * queries, L2 on the unit sphere) — prunes `fresh/` to the
    * partitions ANY query in the batch can see BEFORE encode-on-read
    * ([[withFresh]]'s contract, batch form: fresh IO is
    * bounded by the union's fraction, never |fresh|), the encoded
    * slice unions into the main layout's rows, and the whole job
    * delegates to [[knnJoinQuantized]] — whose per-query cell joins
    * restrict each query to ITS probed cells, so per-query results
    * equal the single-query [[searchStored]] and a one-shot
    * rebuild that had always held the fresh rows. No fresh side table
    * ⇒ pure delegation over the main layout. `pred` thins main AND
    * fresh before every per-query cut. `refine <= 0` = the family
    * default. Returns (qId, dId, dist, rank). */
  def knnJoinQuantizedFresh(spark: org.apache.spark.sql.SparkSession,
                            dir: String, queries: DataFrame,
                            qId: String, qVec: String, dId: String,
                            vecCol: String, metric: Metric,
                            probes: Int, k: Int, refine: Int = -1,
                            roundTo: Int = 6,
                            pred: Column = lit(true)): DataFrame = {
    val root = cellRoot(spark, dir, Some(vecCol))
      .as[CellRoot.Quantized]("knnJoinQuantizedFresh")
    val index = root.readIndex
    requireSpace(dir, root.spherical, metric)
    // ONE evaluation of the query frame: the fresh-pruning union and
    // the delegate's own probes must see the SAME rows — a second
    // evaluation of a non-deterministic input (limit/sample) could
    // probe a cell outside the union and silently lose its
    // fresh-resident neighbors (top-k filled from main only); the
    // delegate re-collects, so hand it a local frame rebuilt from
    // this collect (the knnJoin* rebuild-from-collected contract)
    val qProjected = queries
      .select(col(qId), col(qVec).cast("array<double>").as(qVec))
    val collected = qProjected.collect()
    require(collected.nonEmpty, "knnJoinQuantizedFresh over an empty " +
      "query set")
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), qProjected.schema)
    val qVecs = collected.map(_.getSeq[Double](1).toArray)
    // LITERALLY the delegate's probe arithmetic ([[nearestCellsDriver]]
    // + [[normalizeDriver]] — one shared implementation), so the union
    // covers exactly the cells any query's own probe can reach
    val cents = collectCentroids(index.model)
    val cells = (if (metric == Cosine) qVecs.map(normalizeDriver) else qVecs)
      .flatMap(v => nearestCellsDriver(v, cents, probes)).distinct
    val all = withFresh(spark, dir, index, index.rows, cells, vecCol,
      metric)
    knnJoinQuantized(qLocal, qId, qVec, index.withRows(all.filter(pred)),
      dId, vecCol, metric, probes, k, refine, roundTo)
  }

  /** Fold a quantized root's fresh side table into its main layout —
    * the COMPACTION that closes the incremental cycle: every fresh row
    * encodes under the root's frozen artifacts (the same transforms
    * the fresh-aware searches apply on read, so results before and
    * after compaction are identical) and appends cell-partitioned into
    * the main data dir; `fresh/` is deleted once folded. Replay-safe
    * like the appends: rows whose id already reached the main layout
    * (a crash between append and delete) are dropped by the same
    * touched-cells existence probe, so a re-run folds the remainder
    * and deletes. Refuses a torn merge. Returns rows graduated. */
  def compactQuantizedFresh(root: CellRoot.Quantized,
                            idCol: String): Long = {
    val (spark, dir) = (root.spark, root.dir)
    requireNoPendingMerge(spark, dir)
    if (!freshExists(spark, dir)) return 0L
    val fresh = spark.read.parquet(freshPath(dir)).drop("centroid_id")
    // the at-rest form ingestQuantized appends verbatim (codes packed)
    val encoded = root.family.artifacts(spark, dir, ivfModelAt(spark, dir),
        root.spherical)
      .encode(fresh, root.vec, root.metric)
    val mainPath = s"$dir/${root.dataSub}"
    val stored = spark.read.parquet(mainPath)
    val touched = distinctLongKeys(encoded, col("centroid_id"))
    val n = appendAbsent(encoded,
      stored.filter(col("centroid_id").isin(touched: _*)).select(col(idCol)),
      idCol, "centroid_id", stored.schema, mainPath, "compactQuantizedFresh")
    val p = new org.apache.hadoop.fs.Path(freshPath(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    n
  }

  /** Threshold-triggered [[compactQuantizedFresh]] — the POLICY seat
    * the lifecycle was missing (r14 verdict #4): `compactQuantizedFresh`
    * is oracle-pinned observably-a-no-op, but nothing TRIGGERED it, so
    * at 100 TB `fresh/` grows until someone remembers and every search
    * pays an ever-larger encode-on-read union. Compacts exactly when
    * |fresh| > `maxFreshRatio` · |main| (strict — a fresh side at the
    * ratio boundary stays; the spec pins the edge), where both counts
    * are parquet row counts (metadata-cheap). Returns Some(graduated)
    * when triggered, None when below threshold or no fresh side
    * exists — the caller can log the decision. Results are identical
    * across the trigger by [[compactQuantizedFresh]]'s contract (the
    * s26 pin); callers wire it post-append
    * ([[graft.streaming.Stream.ingestAppend]]'s `compactRatio`) or at attach
    * ([[graft.core.Engine]]`.compactFreshIfNeeded`). */
  def compactQuantizedFreshIfNeeded(root: CellRoot.Quantized,
                                    idCol: String,
                                    maxFreshRatio: Double): Option[Long] = {
    val (spark, dir) = (root.spark, root.dir)
    require(maxFreshRatio >= 0.0 && !maxFreshRatio.isNaN &&
        !maxFreshRatio.isInfinity,
      s"compactQuantizedFreshIfNeeded: maxFreshRatio must be a " +
        s"finite ratio >= 0, got $maxFreshRatio")
    requireNoPendingMerge(spark, dir)
    if (!freshExists(spark, dir)) return None
    val freshN = spark.read.parquet(freshPath(dir)).count()
    val mainN = spark.read.parquet(s"$dir/${root.dataSub}").count()
    if (freshN > maxFreshRatio * mainN)
      Some(compactQuantizedFresh(root, idCol))
    else None
  }

  /** Delete ids from a quantized root's FRESH side table (no-op when
    * none exists) — the delete-maintenance twin of the appends: an
    * attached root must purge BOTH the main layout and `fresh/`, or a
    * doomed row still awaiting compaction would be resurrected by the
    * fresh-aware searches. Cell-partitioned like the main layout, so
    * only the cells holding doomed rows rewrite. */
  def deleteQuantizedFreshIds(spark: org.apache.spark.sql.SparkSession,
                              dir: String, idCol: String,
                              ids: DataFrame): Long =
    if (!freshExists(spark, dir)) 0L
    else {
      val n = deleteStoredIds(spark, freshPath(dir), idCol, ids)
      // an EMPTIED side table must disappear like compaction's does:
      // a fresh/ holding only _SUCCESS keeps freshExists true and
      // every later fresh-aware read dies on an unreadable parquet
      // dir — the root would be bricked until hand-cleaned
      val p = new org.apache.hadoop.fs.Path(freshPath(dir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasCells = fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      if (!hasCells) fs.delete(p, true)
      n
    }

  /** Pack 0/1 bit codes into a `binary` column, 8 bits per byte
    * MSB-first (dims pad to a whole byte) — the at-rest form of a
    * [[IvfBitIndex]]: 1 bit/dim in storage, shuffle buffers, and
    * executor memory. [[unpackBits]] restores `array<int>` for
    * the 1-bit estimator ([[IvfBitIndex]]). */
  def packBits(bits: Column): Column = {
    val pack = udf { (bs: Seq[Int]) =>
      val out = new Array[Byte]((bs.length + 7) / 8)
      var i = 0
      while (i < bs.length) {
        if (bs(i) != 0) out(i / 8) = (out(i / 8) | (0x80 >> (i % 8))).toByte
        i += 1
      }
      out
    }
    pack(bits)
  }

  /** Inverse of [[packBits]] given the original dimension count. */
  def unpackBits(bin: Column, dims: Int): Column = {
    val unpack = udf { (b: Array[Byte]) =>
      (0 until dims).map(i => (b(i / 8) >> (7 - i % 8)) & 1)
    }
    unpack(bin)
  }

  /** Mean of a doc's token vectors — maxsim's phase-1 summary (one dot
    * per doc instead of |q|·|d|): the quantized stand-in the Engine's
    * `searchByMultivec` refine uses, shared with the declarative
    * maxsim rewrite. Input bags must be deterministically ordered
    * (e.g. array_sort) for the sequential fold to be reproducible. */
  def flattenMean(mv: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      aggregate(mv, lit(0.0), (acc, v) =>
        acc + element_at(v, i + 1).cast("double")) / size(mv))

  /** Phase-1 of a two-phase maxsim search: top-`n` docs by the rounded
    * dot of each doc's token-mean against the query-token centroid
    * (rounding makes the cutoff engine-portable; ties by id asc) —
    * the candidate generator for [[graft.plans.AnnTopKRule]]'s maxsim
    * rewrite, whose surviving Sort+Limit is the exact maxsim re-rank. */
  def maxsimCandidates(docs: DataFrame, idCol: String, mvCol: String,
                       queryVecs: Seq[Seq[Double]], n: Int,
                       roundTo: Int = 6): DataFrame = {
    val dim = queryVecs.head.length
    val centroid: Seq[Double] = (0 until dim).map(i =>
      queryVecs.map(_(i)).sum / queryVecs.length)
    docs
      .withColumn("__approx", round(graft.functions.Vec.dot(
        flattenMean(col(mvCol), dim), typedlit(centroid)), roundTo))
      .orderBy(col("__approx").desc, col(idCol).asc)
      .limit(n)
      .select(col(idCol))
  }

  /** Query-token centroid — maxsim phase-1's single probe vector (the
    * driver-side mean of the |q| query tokens; |q| is a handful, never
    * data-sized). */
  def queryCentroid(queryVecs: Seq[Seq[Double]]): Seq[Double] = {
    val dim = queryVecs.head.length
    (0 until dim).map(i => queryVecs.map(_(i)).sum / queryVecs.length)
  }

  /** Each doc's token-mean as a PERSISTABLE column (rounded so the
    * stored value is engine-portable) — the multivec index's phase-1
    * summary materialized at BUILD time instead of recomputed from the
    * full token matrix on every query. */
  def tokenMeanCol(mv: Column, dim: Int, roundTo: Int = 6): Column =
    transform(flattenMean(mv, dim), x => round(x, roundTo))

  /** Multivec IVF build — the reference's `vector_maxsim_ops` index
    * with `lists` cells (/root/reference/vechord/spec.py:447-464, built
    * client.py:146-174): materialize each doc's token-mean as a column,
    * KMeans-cluster the means into `lists` cells, assign every doc.
    * Returns (docs + meanCol + centroid_id, model). The reference pins
    * `spherical_centroids = true` for `vector_maxsim_ops`
    * (spec.py:459-464), so build/assign default to [[Cosine]] — probe
    * with the same metric ([[maxsimCandidatesIvf]]'s default).
    * Phase-1 of a maxsim search then scans ONLY probed cells and ONLY
    * the mean column — write the assigned frame with
    * [[writePartitioned]] and the probe filter becomes disk partition
    * pruning, with the token matrix column never read in phase-1 at
    * all (parquet column pruning). */
  def buildMaxsimIvf(docs: DataFrame, mvCol: String, dim: Int, lists: Int,
                     meanCol: String = "mv_mean", iters: Int = 5,
                     roundTo: Int = 6,
                     metric: Metric = Cosine): (DataFrame, IvfModel) = {
    val withMean =
      docs.withColumn(meanCol, tokenMeanCol(col(mvCol), dim, roundTo))
    val model = buildIvfKMeans(withMean, meanCol, lists, metric, iters)
    (assign(withMean, meanCol, model, metric), model)
  }

  /** Index-pruned maxsim phase-1: [[maxsimCandidates]] over a
    * [[buildMaxsimIvf]]-assigned table — probe the `probes` cells
    * nearest the query-token centroid, rank only those cells' docs by
    * the PERSISTED token-mean dot. The cell filter is driver-literal
    * (bounded by `lists`); the declarative rewrite's registration form
    * uses a semi-joined probe subplan instead
    * ([[graft.plans.Binding.Maxsim]] with an IVF). */
  def maxsimCandidatesIvf(assigned: DataFrame, idCol: String,
                          meanCol: String, model: IvfModel,
                          queryVecs: Seq[Seq[Double]], n: Int, probes: Int,
                          roundTo: Int = 6,
                          metric: Metric = Cosine): DataFrame = {
    val centroid = queryCentroid(queryVecs)
    val cells = probeCellIds(model, typedlit(centroid), metric, probes)
    assigned.filter(col(model.idCol).isin(cells: _*))
      .withColumn("__approx", round(org.apache.spark.sql.graft.VecExprs
        .dot(col(meanCol).cast("array<double>"), typedlit(centroid)),
        roundTo))
      .orderBy(col("__approx").desc, col(idCol).asc)
      .limit(n)
      .select(col(idCol))
  }

  /** DELETE from a stored cell-partitioned index layout
    * ([[writePartitioned]] dir, or the `quantized` subdir of
    * [[writeQuantized]] SQ / 1-bit roots): rewrite ONLY the cell
    * directories that contain matching rows — the index-maintenance
    * twin of the reference's `DELETE` (which PostgreSQL's index AM
    * gives it for free, /root/reference/vechord/client.py:268-283).
    *
    * Scale shape: the affected-cell set is found with one scan bounded
    * by the predicate (collected cell IDS only — at most `lists` longs),
    * survivors of those cells are materialized (bounded by the affected
    * cells' size, the inherent cost of a rewrite-cell delete) and
    * republished via dynamic partition overwrite; cells left EMPTY are
    * removed explicitly (dynamic overwrite only replaces partitions
    * present in the written data). Unaffected cell directories are
    * never read or written. Codes/bits columns pass through opaquely
    * (packed bytes are not unpacked), and side tables (bounds,
    * centroids) are intentionally untouched: codes were built against
    * those bounds, so they must outlive the deleted rows.
    *
    * Returns the number of rows removed. */
  def deleteStored(spark: org.apache.spark.sql.SparkSession, path: String,
                   pred: Column, cellCol: String = "centroid_id"): Long =
    deleteStoredImpl(spark, path, cellCol,
      df => df.filter(pred),
      df => df.filter(!coalesce(pred, lit(false))))

  /** [[deleteStored]] with the doomed ids as a DataFrame (single column
    * matching `idCol`'s values) — the cascade-friendly form: candidate
    * cells come from a semi-join, survivors from an anti-join, so the
    * id set is never collected to the driver. */
  def deleteStoredIds(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, ids: DataFrame,
                      cellCol: String = "centroid_id"): Long = {
    val key = ids.columns.head
    deleteStoredImpl(spark, path, cellCol,
      df => df.join(ids, df(idCol) === ids(key), "left_semi"),
      df => df.join(ids, df(idCol) === ids(key), "left_anti"))
  }

  /** Refuse cell-rewrite maintenance on a STREAMING-grown layout: a
    * file-sink directory is governed by its `_spark_metadata` commit
    * log, and a batch rewrite that replaces/deletes files underneath it
    * desyncs the log (subsequent reads list the replaced files).
    * Compact first ([[graft.streaming.Stream.compactStored]]). */
  private[graft] def requireBatchLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val meta = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) throw new IllegalStateException(
      s"$path is a streaming file-sink layout (_spark_metadata commit " +
        "log present); a batch cell rewrite would desync the log. " +
        "Compact it into a batch layout first " +
        "(graft.streaming.Stream.compactStored).")
  }

  /** Swap a staged cell directory into place WITHOUT a destructive
    * window: move the live dir aside (dot-prefixed — invisible to
    * Spark's listing), move the staged dir in, drop the old one. Every
    * `fs.rename` result is CHECKED — HDFS and object-store adapters
    * report failure by returning false, not throwing, and an unchecked
    * false after a `delete(dest)` would destroy the only copy of the
    * cell. On a refused swap the old dir is restored and the staging
    * dir left intact, so the layout still reads complete and the
    * operation is re-runnable. A crash BETWEEN the two renames leaves
    * the cell recoverable in its `__old` dir — every swap-running
    * operation calls [[recoverCrashedSwaps]] before reading the
    * layout. */
  private[graft] def swapCellDir(fs: org.apache.hadoop.fs.FileSystem,
                                 stagedSrc: org.apache.hadoop.fs.Path,
                                 dest: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(dest.getParent,
      s".${dest.getName}__old")
    fs.delete(old, true) // completed-swap debris (recovery ran earlier)
    val hadOld = fs.exists(dest)
    if (hadOld && !fs.rename(dest, old))
      throw new java.io.IOException(
        s"rename failed moving live cell aside: $dest -> $old")
    if (!fs.rename(stagedSrc, dest)) {
      val restored = !hadOld || fs.rename(old, dest) // restore live cell
      throw new java.io.IOException(
        s"rename failed staging cell into place: $stagedSrc -> $dest" +
          (if (restored) " (live cell restored)"
           else s"; RESTORE ALSO FAILED — live cell stranded at $old"))
    }
    fs.delete(old, true)
  }

  /** Restore cells stranded by a swap that crashed between its two
    * renames: a dot-prefixed `.<cell>__old` dir whose live twin is
    * MISSING holds the only copy — rename it back; one whose live twin
    * exists is completed-swap debris — drop it. Runs at the START of
    * every swap-running operation (stored delete, compaction), before
    * the layout is read, so staging never captures a
    * missing-cell view. */
  private[graft] def recoverCrashedSwaps(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(".") && n.endsWith("__old")) {
        val live = new org.apache.hadoop.fs.Path(root,
          n.stripPrefix(".").stripSuffix("__old"))
        if (!fs.exists(live)) {
          if (!fs.rename(st.getPath, live)) throw new java.io.IOException(
            s"crash recovery rename failed: ${st.getPath} -> $live")
        } else fs.delete(st.getPath, true)
      }
    }

  private def deleteStoredImpl(spark: org.apache.spark.sql.SparkSession,
                               path: String, cellCol: String,
                               doomed: DataFrame => DataFrame,
                               survivors: DataFrame => DataFrame): Long = {
    // a cell root mid-merge (any family) has rows staged OUTSIDE this
    // path — a delete here could not see those copies and a later
    // merge completion would resurrect the deleted rows; the marker
    // lives in the root, the data subdir's parent (a flat layout has
    // no merge and never carries it)
    Option(new org.apache.hadoop.fs.Path(path).getParent)
      .foreach(p => requireNoPendingMerge(spark, p.toString))
    requireBatchLayout(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a prior delete may have crashed between its two swap renames,
    // leaving a cell only in its `__old` dir — restore BEFORE reading
    recoverCrashedSwaps(fs, new org.apache.hadoop.fs.Path(path))
    val df = spark.read.parquet(path)
    // one aggregation gives BOTH the affected-cell set and the removed
    // count (vs a distinct + two counts: three scans of the doomed set)
    val perCell = doomed(df).groupBy(col(cellCol))
      .agg(count(lit(1)).as("__n")).collect()
    val hit = perCell.map(_.get(0))
    val removed = perCell.map(_.getLong(1)).sum
    if (hit.isEmpty) return 0L
    // NULL cells (the Hive default partition) can't match an isin()
    val hitVals = hit.filter(_ != null)
    val pred0 = col(cellCol).isin(hitVals: _*)
    val affected = df.filter(
      if (hit.contains(null)) pred0 || col(cellCol).isNull else pred0)
    // STAGE-AND-SWAP: write survivors of the affected cells to a
    // staging subdir (leading `_` — invisible to Spark's file listing,
    // so concurrent readers of the layout never see it), then swap each
    // staged cell directory into place with an atomic per-cell rename.
    // Same I/O volume as a rewrite must pay (affected-cell bytes read +
    // written once), but the survivors stream straight from the old
    // files to the staging files — no block-manager double-buffering of
    // the whole affected set (a worst-case every-cell delete used to
    // round-trip the entire index through localCheckpoint).
    val stage = new org.apache.hadoop.fs.Path(path, "_graft_stage")
    fs.delete(stage, true) // leftover from a crashed prior delete
    survivors(affected).write.mode("overwrite")
      .partitionBy(cellCol).parquet(stage.toString)
    val staged = fs.listStatus(stage).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$cellCol="))
    staged.foreach(s => swapCellDir(fs,
      s.getPath, new org.apache.hadoop.fs.Path(path, s.getPath.getName)))
    // cells whose rows were ALL doomed produce no staged dir: remove
    // them (the per-cell delete-then-rename above, like the dynamic
    // overwrite it replaces, is atomic per cell, not across cells).
    // Dir names carry Spark's partition-path escaping, so escape the
    // raw cell values the same way before comparing (string cells).
    val stagedNames = staged.map(_.getPath.getName).toSet
    hit.map(c => s"$cellCol=" + (if (c == null) "__HIVE_DEFAULT_PARTITION__"
        else org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(String.valueOf(c))))
      .filterNot(stagedNames).foreach { name =>
        fs.delete(new org.apache.hadoop.fs.Path(path, name), true)
      }
    fs.delete(stage, true)
    removed
  }
}

