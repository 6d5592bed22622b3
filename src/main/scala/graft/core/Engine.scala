package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Spec._
import graft.functions.Vec
import graft.ops.{Ann, Bm25}
import graft.plans.{AnnIndex, Binding}

/** Typed search surface over a [[Registry]] — the Spark twin of
  * `VechordRegistry.search_by_vector` / `search_by_multivec` /
  * `search_by_keyword` (/root/reference/vechord/registry.py:190-302):
  * resolves the table's index declarations, applies the reference's
  * defaults (projection excludes vector/keyword payloads; probes default
  * ceil(lists/16), client.py:285-292; maxsim_refine default 1000,
  * registry.py:233), and returns ranked partial rows.
  */
final class Engine(reg: Registry) {

  /** Dense top-k. With a [[Spec.VectorIndex]] whose `lists` > 0 an IVF
    * model built by [[buildIndex]] prunes cells with `probes` (explicit,
    * else ceil(lists/16)); otherwise exact brute-force top-k. A
    * `quantized` index additionally scans 8-bit codes within the probed
    * cells and exact-re-ranks the top-(topk·refine) survivors — the
    * vchordrq in-index quantization (spec.py:437-444) at engine level.
    * `refine <= 0` = auto: 8 (the engine default), raised to
    * [[Ann.defaultBitqRefine]] for spherical 1-bit indexes (the
    * measured recall floor — see that scaladoc). An `mrlDims` > 0
    * index runs the matryoshka two-phase instead (flat prefix cut +
    * exact re-rank); there `refine` is the candidate MULTIPLIER with
    * auto = 5 (matching
    * [[graft.plans.Binding.matryoshka]]'s default). */
  def searchByVector(td: TableDef[_], queryVec: Seq[Double], topk: Int = 10,
                     probes: Int = 0, refine: Int = -1,
                     returnFields: Seq[String] = Nil,
                     filter: Option[Column] = None): DataFrame = {
    val ix = td.vectorIndex.getOrElse(
      throw new IllegalStateException(s"${td.name} has no vector index"))
    val fields = if (returnFields.nonEmpty) returnFields else td.nonVecColumns
    val q = typedlit(queryVec)
    val base = reg.table(td)
    // `filter`: the metadata WHERE the reference's query_vec lacks
    // (registry.py:190-225 takes no predicate) but corpus curation
    // needs — the r52 contract: the predicate thins which docs can be
    // RETURNED (applied before every top-k/phase-1 cut, so disallowed
    // docs never consume candidate slots), never how anything is
    // scored; selective predicates are compensated with `probes` /
    // `refine`, the reference's own knobs. The quantized memo rows
    // carry every table column, so the predicate applies to them
    // directly; the assigned layouts take it as a pk semi-join.
    def allowed(df: DataFrame): DataFrame =
      allowedBy(td, base, filter)(df)
    val p = probesFor(ix.lists, probes)
    val ranked =
      (indexModel(td).filter(_ => ix.lists > 0), quantFamily(ix)) match {
        case (Some(model), Some(fam)) =>
          val idx = quantizedCached(td, ix, model, fam)
          Ann.searchQuantized(filter.fold(idx)(f =>
              idx.withRows(idx.rows.filter(f))), td.pk,
            ix.column, q, ix.distance, p, topk,
            autoRefine(fam, ix, refine), fields = fields)
        case (Some(model), None) if ix.mrlDims > 0 =>
          // the COMPOSED index on the engine surface (the r78 shape
          // declaratively: cells prune first, the prefix cut runs
          // within probed cells, the re-rank at full precision) —
          // probe like the plain IVF branch, cut like the matryoshka
          // one; `refine` stays the candidate multiplier.
          // Cosine probes NORMALIZED centroids with L2 — the ONE probe
          // convention a composed Ann.searchStored uses (spherical IVF:
          // monotone-equivalent to raw-cosine but not bit-identical on
          // floating-point near-ties; the two paths must pick the SAME
          // cells)
          val (probeModel, qProbe) = ix.distance match {
            case Ann.Cosine =>
              (sphericalModel(td), typedlit(Ann.normalizeSeq(queryVec)))
            case _ => (model, q)
          }
          val cells = Ann.probeCellIds(probeModel, qProbe, Ann.L2, p)
          val pruned = allowed(assignedCached(td, ix, model))
            .filter(col(model.idCol).isin(cells: _*))
          val cand = topk * (if (refine > 0) refine else 5)
          Ann.matryoshkaTopK(pruned, td.pk, ix.column, queryVec,
            ix.mrlDims, cand.max(topk), topk, metric = ix.distance)
        case (Some(model), None) =>
          val assigned = assignedCached(td, ix, model)
          Ann.searchIvf(allowed(assigned), td.pk, ix.column, model, q,
            ix.distance, p, topk)
        case _ if ix.mrlDims > 0 =>
          // matryoshka two-phase: `refine` is the candidate multiplier
          // (the quantized families' knob — candidates = topk·refine,
          // default 5 matching Binding.matryoshka); the
          // predicate thins the corpus BEFORE the prefix cut (the
          // family's no-starvation contract)
          val cand = topk * (if (refine > 0) refine else 5)
          Ann.matryoshkaTopK(filter.fold(base)(base.filter), td.pk,
            ix.column, queryVec, ix.mrlDims, cand.max(topk), topk,
            metric = ix.distance)
        case _ =>
          Ann.topK(filter.fold(base)(base.filter), td.pk, ix.column,
            q, ix.distance, topk)
      }
    // the matryoshka searchers return (pk, pre_dist, dist) only — when
    // the caller wants more columns, the k hits fetch their rows by
    // literal pk
    val need = fields :+ "dist"
    val out =
      if (need.forall(ranked.columns.contains)) ranked
      else reg.fetchHits(td, ranked.select(col(td.pk), col("dist")),
        col("dist").asc, col(td.pk).asc)
    out.select(need.map(col): _*)
  }

  /** The ONE metadata-filter thinning shared by the single-query and
    * BATCH search surfaces (the r52/c08 contract): the predicate
    * evaluates on the BASE table (index frames carry only codes/
    * assignments) and reaches the index frame as a pk semi-join —
    * thinning what can be returned BEFORE any cut, never how anything
    * is scored. */
  private def allowedBy(td: TableDef[_], base: DataFrame,
                        filter: Option[Column])
                       (df: DataFrame): DataFrame = filter match {
    case None => df
    case Some(pred) =>
      df.join(base.filter(pred).select(col(td.pk)), Seq(td.pk),
        "left_semi")
  }

  /** The engine-default exact-re-rank budget, shared by every
    * quantized path so the declarative and imperative ones return
    * identical results at defaults: 8, raised to the family's own
    * default where that is larger (spherical 1-bit). */
  private def autoRefine(fam: Ann.QuantFamily, ix: VectorIndex,
                         refine: Int): Int =
    if (refine > 0) refine else fam.defaultRefine(ix.distance).max(8)

  /** The quantized family a vector index declares; the flags rank
    * oneBit > quantized > pq. */
  private def quantFamily(ix: VectorIndex): Option[Ann.QuantFamily] =
    if (ix.oneBit) Some(Ann.Bitq)
    else if (ix.quantized) Some(Ann.Sq)
    else if (ix.pq > 0) Some(Ann.Pq)
    else None

  /** `probes` when given, else the reference's default ceil(lists/16)
    * (client.py:285-292). */
  private def probesFor(lists: Int, probes: Int): Int =
    if (probes > 0) probes else math.ceil(lists / 16.0).toInt.max(1)

  /** BATCH dense top-k — the query-log replay form of
    * [[searchByVector]]: one distributed job for the whole query frame
    * instead of per-query driver round-trips (the shape an eval loop
    * runs at 100 TB — reference analog: the retrieval loops of
    * examples/anthropic.py:205-225, one `query_vec` per question).
    * Delegates to the already-oracled batch operators
    * ([[graft.ops.Ann.knnJoin]] exact, [[graft.ops.Ann.knnJoinIvf]] /
    * [[graft.ops.Ann.knnJoinQuantized]] under the
    * table's declared index), so the per-query results are
    * bit-identical to `searchByVector`'s and the shuffle is
    * corpus-partitioned, never Q×driver. Matryoshka and composed
    * matryoshka-IVF tables ride [[graft.ops.Ann.knnJoinMrl]] /
    * [[graft.ops.Ann.knnJoinMrlIvf]] (per-query probed cells, a
    * prefix-only phase 1, exact re-rank per query — `refine` stays
    * the candidate multiplier there, auto 5). Returns
    * (qIdCol, td.pk, dist, rank), rank 1-based per query, ties
    * (dist, pk asc). */
  def searchByVectorBatch(td: TableDef[_], rawQueries: DataFrame,
                          qIdCol: String, qVecCol: String,
                          topk: Int = 10, probes: Int = 0,
                          refine: Int = -1,
                          filter: Option[Column] = None): DataFrame = {
    val ix = td.vectorIndex.getOrElse(
      throw new IllegalStateException(s"${td.name} has no vector index"))
    Seq(qIdCol, qVecCol).foreach(c =>
      require(c != td.pk && c != ix.column,
        s"batch query column '$c' collides with ${td.name}'s " +
          s"'${td.pk}'/'${ix.column}' — rename the query frame's " +
          "columns"))
    // project the frame down to exactly (qIdCol, qVecCol): a stray
    // extra query column that happens to collide with a corpus column
    // would otherwise surface as an ambiguous-column analysis error
    // deep inside the knnJoin operators instead of here
    val queries = rawQueries.select(col(qIdCol), col(qVecCol))
    val base = reg.table(td)
    // `filter`: the c08/c12 contract extended to the batch surface —
    // the predicate thins the frames FEEDING phase 1 (disallowed docs
    // never consume any query's candidate slots), scoring untouched;
    // per-family placement identical to searchByVector's
    def allowed(df: DataFrame): DataFrame =
      allowedBy(td, base, filter)(df)
    val p = probesFor(ix.lists, probes)
    (indexModel(td).filter(_ => ix.lists > 0), quantFamily(ix)) match {
      case (Some(model), Some(fam)) =>
        val idx = quantizedCached(td, ix, model, fam)
        Ann.knnJoinQuantized(queries, qIdCol, qVecCol,
          idx.withRows(allowed(idx.rows)), td.pk, ix.column, ix.distance,
          p, topk, autoRefine(fam, ix, refine))
      case (Some(model), None) if ix.mrlDims > 0 =>
        // the COMPOSED index's batch form — cells prune per query,
        // the prefix cut runs within each query's probed cells, the
        // re-rank at full precision; `refine` stays the candidate
        // MULTIPLIER (auto 5), exactly the single-query branch
        val cand = topk * (if (refine > 0) refine else 5)
        Ann.knnJoinMrlIvf(queries, qIdCol, qVecCol,
          allowed(assignedCached(td, ix, model)), td.pk, ix.column,
          model, ix.mrlDims, ix.distance, p, cand.max(topk), topk)
      case (Some(model), None) =>
        Ann.knnJoinIvf(queries, qIdCol, qVecCol,
          allowed(assignedCached(td, ix, model)), td.pk, ix.column,
          model, ix.distance, p, topk)
      case _ if ix.mrlDims > 0 =>
        // flat matryoshka batch: phase 1 is the exact batch join over
        // the prefix columns, phase 2 the per-query full-precision
        // re-rank — `refine` the candidate multiplier (auto 5)
        val cand = topk * (if (refine > 0) refine else 5)
        Ann.knnJoinMrl(queries, qIdCol, qVecCol,
          filter.fold(base)(base.filter), td.pk,
          ix.column, ix.mrlDims, cand.max(topk), topk,
          metric = ix.distance)
      case _ =>
        Ann.knnJoin(queries, qIdCol, qVecCol,
          filter.fold(base)(base.filter), td.pk, ix.column,
          ix.distance, topk)
    }
  }

  /** Multi-vector maxsim top-k (registry.py:227-267) with the two-phase
    * `refine` knob: when 0 < refine < table size, a cheap first phase
    * scores each doc against the query-token centroid (one dot per doc)
    * and only the top-`refine` candidates get exact maxsim — the
    * batch twin of `vchordrq.maxsim_refine` full-precision rescoring. */
  def searchByMultivec(td: TableDef[_], queryVecs: Seq[Seq[Double]],
                       topk: Int = 10, refine: Int = 1000,
                       probes: Int = 0,
                       returnFields: Seq[String] = Nil,
                       filter: Option[Column] = None): DataFrame = {
    val mvIx = td.indexes.collectFirst { case ix: MultiVectorIndex => ix }
    val mvCol = mvIx.map(_.column)
      .orElse(td.multiVectorColumns.headOption)
      .getOrElse(throw new IllegalStateException(
        s"${td.name} has no multivector column"))
    val fields = if (returnFields.nonEmpty) returnFields else td.nonVecColumns
    if (queryVecs.isEmpty) throw new IllegalArgumentException(
      s"searchByMultivec on ${td.name}: empty query (no token vectors)")
    if (queryVecs.exists(_.length != queryVecs.head.length))
      throw new IllegalArgumentException(
        s"searchByMultivec on ${td.name}: ragged query token vectors " +
          s"(widths ${queryVecs.map(_.length).distinct.mkString(",")})")
    val base = reg.table(td)
    // `filter`: the family contract (r60's maxsim member) — the
    // predicate thins the frames FEEDING phase 1, so disallowed docs
    // never consume refine/probe candidate slots; scoring unchanged
    val q = typedlit(queryVecs)
    val dim = queryVecs.head.length
    val centroid = Ann.queryCentroid(queryVecs)
    // phase-1 must hand the re-rank at least topk candidates — the
    // declarative twin's math.max(entry.refine, k) guard
    val rf = if (refine > 0) math.max(refine, topk) else refine
    // with a LISTS-built multivec IVF (buildIndex), phase-1 scans only
    // the `probes` cells nearest the query-token centroid — and only
    // the persisted mean column — instead of every doc's token matrix
    val ivfPhase1 = for {
      ix <- mvIx if ix.lists > 0 && rf > 0
      model <- mvIndexModel(td)
    } yield {
      val ids = Ann.maxsimCandidatesIvf(
          allowedBy(td, base, filter)(mvAssignedCached(td, ix, model)),
          td.pk, MvMeanCol, model, queryVecs, rf,
          probesFor(ix.lists, probes))
        .withColumnRenamed(td.pk, "__cand_id")
      base.join(broadcast(ids), col(td.pk) === col("__cand_id"),
        "left_semi")
    }
    // base filters directly (the searchByVector idiom — pred names
    // base's own columns, so it pushes into the scan); allowedBy is
    // only for the ASSIGNED frame, which lacks the predicate columns
    val baseAllowed = filter.fold(base)(base.filter)
    val candidates = ivfPhase1.getOrElse {
      if (rf > 0) {
        baseAllowed.withColumn("__approx",
            Vec.dot(Ann.flattenMean(col(mvCol), dim), typedlit(centroid)))
          .orderBy(col("__approx").desc, col(td.pk).asc)
          .limit(rf)
          .drop("__approx")
      } else baseAllowed
    }
    candidates
      .withColumn("score", round(org.apache.spark.sql.graft.VecExprs
        .maxSimDot(q, col(mvCol)), 6))
      .orderBy(col("score").desc, col(td.pk).asc)
      .limit(topk)
      .select((fields :+ "score").map(col): _*)
  }

  /** BM25 keyword top-k (registry.py:269-302): builds/reuses the side
    * tables for the column's declared tokenizer model. The index is
    * memoized per table VERSION (the segment manifest) — it lives until
    * the table is written again, the create_index-once / query-many
    * split of client.py:146-174 vs 356-380. */
  def searchByKeyword(td: TableDef[_], query: String, topk: Int = 10,
                      returnFields: Seq[String] = Nil,
                      filter: Option[Column] = None): DataFrame = {
    val fields = if (returnFields.nonEmpty) returnFields else td.nonVecColumns
    val kw = td.keywordIndex.getOrElse(
      throw new IllegalStateException(s"${td.name} has no keyword index"))
    val idx = keywordIndex(td)
    // `filter`: the searchByVector metadata WHERE, keyword form — the
    // r58 contract: corpus statistics (df, N, avgdl) stay WHOLE-corpus
    // (scores of surviving docs identical to the unfiltered search),
    // the predicate only thins which docs can be returned, applied
    // BEFORE the top-k cut so disallowed docs never consume slots
    val hits = filter match {
      case None => Bm25.search(idx, query, topk)
      case Some(pred) => Bm25.searchFiltered(idx, query, topk,
        reg.table(td).filter(pred), td.pk)
    }
    hitRows(td, hits, fields)
  }

  /** BATCH keyword top-k — [[searchByVectorBatch]]'s keyword twin and
    * the engine surface over the already-oracled
    * [[graft.ops.Bm25.searchBatch]]: every query row scores in ONE
    * distributed job against the table's memoized index (stats join
    * broadcast, postings pruned to the batch's distinct terms), the
    * eval-loop shape at scale. Returns (qid, id, score, rank) —
    * searchBatch's normalized column contract. */
  def searchByKeywordBatch(td: TableDef[_], queries: DataFrame,
                           qIdCol: String, qTextCol: String,
                           topk: Int = 10,
                           filter: Option[Column] = None): DataFrame = {
    require(td.keywordIndex.nonEmpty,
      s"${td.name} has no keyword index")
    // `filter`: the r58/c12 contract on the batch surface — corpus
    // stats stay WHOLE-corpus, the predicate thins returns before
    // every query's cut (Bm25.searchBatchFiltered)
    filter match {
      case None =>
        Bm25.searchBatch(keywordIndex(td), queries, qIdCol, qTextCol,
          topk)
      case Some(pred) =>
        Bm25.searchBatchFiltered(keywordIndex(td), queries, qIdCol,
          qTextCol, topk, reg.table(td).filter(pred), td.pk)
    }
  }

  /** The ranked (id, score) hits of the keyword/sparse searches as
    * (`fields`, score) rows: the hits themselves when only the pk is
    * asked for, else the rows fetched by literal pk
    * ([[Registry.fetchHits]]). The result carries the reserved `score`
    * column, so a table declaring its own `score` would make the
    * projection ambiguous — refuse loudly instead of an
    * AnalysisException. */
  private def hitRows(td: TableDef[_], hits: DataFrame,
                      fields: Seq[String]): DataFrame = {
    require(!td.columns.contains("score"),
      s"${td.name} declares reserved column 'score' — rename it or " +
        "project it away before searching")
    if (fields == Seq(td.pk)) hits.select(col("id").as(td.pk), col("score"))
    else reg.fetchHits(td, hits, col("score").desc, col(td.pk).asc)
      .select((fields :+ "score").map(col): _*)
  }

  /** The table's BM25 side tables, memoized per table VERSION (the
    * resolver behind [[searchByKeyword]] and the declarative keyword
    * registration in [[installDeclarative]]). */
  def keywordIndex(td: TableDef[_]): Bm25.Bm25Index = {
    val kw = td.keywordIndex.getOrElse(
      throw new IllegalStateException(s"${td.name} has no keyword index"))
    val tok = graft.functions.Tokenizers.all.getOrElse(kw.model,
      graft.functions.Tokenizers.Simple)
    val version = reg.segDigest(td.name)
    val key = s"kw|${reg.instanceId}|${td.name}|" +
      s"${kw.column}|$version"
    Bm25.buildCached(reg.table(td), td.pk, kw.column, key, tok)
  }

  /** Scalar BM25 score column for a declarative keyword query over the
    * table (stats bound from the current version's index —
    * [[Bm25.scoreColumn]]). Call per query: the returned column
    * freezes this version's corpus stats, so a column retained across
    * table writes goes stale (the registered candidate phase does NOT
    * — it re-resolves per rewrite). */
  def keywordScoreColumn(td: TableDef[_], query: String,
                         roundTo: Int = 6): org.apache.spark.sql.Column =
    Bm25.scoreColumn(keywordIndex(td), query,
      col(td.keywordIndex.get.column), roundTo)

  private def sparseIx(td: TableDef[_]): Spec.SparseIndex =
    td.indexes.collectFirst { case s: Spec.SparseIndex => s }
      .getOrElse(throw new IllegalStateException(
        s"${td.name} has no sparse index"))

  /** Inverted sparse postings for the table's [[Spec.SparseIndex]] —
    * one row per non-zero, the index FORM of the sparse column and the
    * resolver behind the declarative registration (a lazy plan over
    * the CURRENT table version, so post-install writes stay
    * visible). */
  def sparsePostings(td: TableDef[_]): DataFrame = {
    val ix = sparseIx(td)
    graft.functions.Sparse.invertedPostings(reg.table(td), td.pk,
      ix.column, ix.valuesColumn)
  }

  /** Scalar sparse score column for a declarative query over the
    * table's sparse index — the [[keywordScoreColumn]] sibling: a
    * plain `orderBy(col.desc).limit(k)` over this column rewrites
    * (after [[installDeclarative]]) into the inverted-postings
    * candidate semi-join. */
  def sparseScoreColumn(td: TableDef[_],
                        query: graft.functions.SparseVec,
                        roundTo: Int = 6): org.apache.spark.sql.Column = {
    val ix = sparseIx(td)
    round(graft.functions.Sparse.scoreColumn(col(ix.column),
      col(ix.valuesColumn), query), roundTo)
  }

  /** BATCH sparse top-k — [[searchByVectorBatch]]'s sparse member,
    * the engine surface over the already-oracled
    * [[graft.functions.Sparse.invertedTopKBatch]]: every query's
    * buckets join the table's inverted postings in ONE job (a query
    * touches only its own buckets' posting lists, never the corpus
    * rows). The query frame carries its own (indices, values) sparse
    * columns. Returns (qid, id, score, rank). */
  def searchBySparseBatch(td: TableDef[_], queries: DataFrame,
                          qIdCol: String, qIdxCol: String,
                          qValCol: String, topk: Int = 10,
                          filter: Option[Column] = None): DataFrame = {
    // `filter`: the r59 contract on the batch surface — a pure dot
    // has no corpus statistics to protect, so the predicate thins the
    // POSTINGS feeding the scoring join (surviving scores identical,
    // no rank slot consumed by a disallowed doc)
    val posts = filter match {
      case None => sparsePostings(td)
      case Some(pred) => sparsePostings(td)
        .join(reg.table(td).filter(pred)
          .select(col(td.pk).as("id")), Seq("id"), "left_semi")
    }
    graft.functions.Sparse.invertedTopKBatch(posts,
      queries, qIdCol, qIdxCol, qValCol, topk)
  }

  /** Sparse top-k through the inverted postings (the imperative
    * sibling of [[searchByVector]]/[[searchByKeyword]] for the sparse
    * column): query-bucket join + per-doc sum, the top-k rows fetched
    * by literal pk for the payload fields. */
  def searchBySparse(td: TableDef[_], query: graft.functions.SparseVec,
                     topk: Int = 10,
                     returnFields: Seq[String] = Nil,
                     filter: Option[Column] = None): DataFrame = {
    val fields = if (returnFields.nonEmpty) returnFields
      else td.nonVecColumns
    // `filter`: the family contract (r59's sparse member) — a pure
    // dot has no corpus statistics to protect, so the predicate
    // semi-joins the postings before scoring; surviving scores
    // identical to the unfiltered search
    val hits = filter match {
      case None =>
        graft.functions.Sparse.invertedTopK(sparsePostings(td), query,
          topk)
      case Some(pred) =>
        graft.functions.Sparse.invertedTopKWFiltered(
          sparsePostings(td), query.indices,
          query.values.map(_.toDouble), topk,
          reg.table(td).filter(pred), td.pk)
    }
    hitRows(td, hits, fields)
  }

  /** IVF index build job (`create_index_if_not_exists` twin for vector
    * indexes, client.py:146-174): KMeans over the vector column with
    * `lists` cells, assigning under the index's declared distance (the
    * cosine-distance assignment is the spherical-centroids analog,
    * spec.py:458-464). Stored as a `<table>__ivf` side table in the
    * same catalog. */
  def buildIndex(td: TableDef[_]): Unit = {
    td.vectorIndex.filter(_.lists > 0).foreach { ix =>
      val base = reg.table(td)
      val model = Ann.buildIvfKMeans(base, ix.column, ix.lists, ix.distance)
      writeSideModel(td, "__ivf", model)
    }
    // multivec IVF (the reference's vector_maxsim_ops index with
    // `lists`, spec.py:447-464): KMeans over the per-doc token means,
    // spherical (cosine) like the reference's pinned
    // spherical_centroids — maxsim phase-1 then scans probed cells
    // only. Ann.buildMaxsimIvf is the ONE place that names the mean
    // column and the metric; the query side reuses both via MvMeanCol
    // and the Cosine defaults.
    td.indexes.collectFirst {
      case ix @ Spec.MultiVectorIndex(_, lists) if lists > 0 => ix
    }.foreach { ix =>
      val dim = mvDim(td, ix.column)
      val (_, model) = Ann.buildMaxsimIvf(reg.table(td), ix.column, dim,
        ix.lists, MvMeanCol)
      writeSideModel(td, "__mvivf", model)
    }
  }

  /** Commit `model`'s centroids as the table's `<table><suffix>` side
    * table — the catalog table [[sideModel]] reads back. */
  private def writeSideModel(td: TableDef[_], suffix: String,
                             model: Ann.IvfModel): Unit = {
    val t = s"${reg.namespace}_${td.name}$suffix"
    val seg = reg.catalog.writeSegment(t, model.centroids)
    reg.catalog.commit(reg.catalog.current + (t -> Vector(seg)))
  }

  /** An installable model, validated at INSTALL (not first query): the
    * catalog side table is read back as (centroid_id: long,
    * centroid: array<double>) — a model with other column names or
    * types would install fine and NPE in the first search's centroid
    * collect, far from the mistake; it must carry exactly `lists`
    * cells (a mismatched install would silently skew the auto-probe
    * arithmetic, probes = lists/16, and misdescribe the layout); and
    * the dimension pinned for `dimCol` must match the centroids' (a
    * wrong-space install would rank every assignment in garbage). */
  private def requireInstallable(td: TableDef[_], model: Ann.IvfModel,
                                 lists: Int, dimCol: String): Unit = {
    require(model.idCol == "centroid_id" && model.vecCol == "centroid",
      s"${td.name}: install needs canonical model columns " +
        s"(centroid_id, centroid) — got (${model.idCol}, " +
        s"${model.vecCol}); rename before installing")
    val sch = model.centroids.schema
    val okTypes = sch.fields.exists(f => f.name == "centroid_id" &&
        f.dataType == org.apache.spark.sql.types.LongType) &&
      sch.fields.exists(f => f.name == "centroid" &&
        (f.dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _) => true
          case _ => false
        }))
    require(okTypes,
      s"${td.name}: install needs centroid_id: bigint and " +
        s"centroid: array<double> — got ${sch.simpleString}")
    val n = model.centroids.count()
    require(n == lists,
      s"${td.name}: model carries $n cells but the index declares " +
        s"lists=$lists — the auto-probe arithmetic would skew")
    td.vectorDims.get(dimCol).foreach { dim =>
      val clen = model.centroids
        .select(size(col("centroid"))).head().getInt(0)
      require(clen == dim,
        s"${td.name}: centroids have $clen dims but $dimCol declares " +
          s"$dim — wrong embedding space")
    }
  }

  /** Install EXTERNALLY-trained IVF centroids for `td`'s vector index
    * — the offline-training escape hatch [[buildIndex]]'s in-engine
    * KMeans doesn't need but a 100 TB corpus does: centroids are
    * trained once on a sample (cheap, driver-sized) and installed
    * here; every search path (plain IVF, quantized, the composed
    * matryoshka branch) then reads them through the same catalog
    * table `buildIndex` writes, so the two paths cannot diverge. The
    * model must carry exactly `lists` cells — a mismatched install
    * would silently skew the auto-probe arithmetic (probes =
    * lists/16) and misdescribe the layout. */
  def installIndexModel(td: TableDef[_], model: Ann.IvfModel): Unit = {
    val ix = td.vectorIndex.getOrElse(throw new IllegalStateException(
      s"${td.name} has no vector index"))
    require(ix.lists > 0,
      s"${td.name}: installIndexModel needs lists > 0 (a flat index " +
        "has no cells to install)")
    requireInstallable(td, model, ix.lists, ix.column)
    writeSideModel(td, "__ivf", model)
  }

  /** [[installIndexModel]]'s MULTIVEC twin: externally-trained
    * centroids for `td`'s lists-built multivec IVF, written through
    * the same `__mvivf` catalog table [[buildIndex]] uses so the
    * search paths cannot diverge. The centroids live in the
    * TOKEN-MEAN space (phase-1 probes the persisted mean under
    * cosine), so the dimension check runs against the multivector
    * column's pinned token dim. */
  def installMultivecIndexModel(td: TableDef[_],
                                model: Ann.IvfModel): Unit = {
    val ix = td.indexes.collectFirst {
      case m @ Spec.MultiVectorIndex(_, lists) if lists > 0 => m
    }.getOrElse(throw new IllegalStateException(
      s"${td.name}: installMultivecIndexModel needs a " +
        "MultiVectorIndex with lists > 0"))
    requireInstallable(td, model, ix.lists, ix.column)
    writeSideModel(td, "__mvivf", model)
  }

  /** BATCH multivec maxsim — the fourth batch member (dense c13,
    * keyword c14, sparse c16), the engine surface over the
    * already-oracled [[Ann.maxsimBatch]]: every query bag probes its
    * cells and both phases run as SHARED scans (phase-1 touches only
    * probed cells' persisted means, phase-2 only the candidates'
    * token matrices). Needs a lists-built multivec IVF — the exact
    * table has no shared phase-1 structure to batch over, so it
    * refuses (run [[searchByMultivec]] per query). Returns
    * (qid, td.pk, score, rank). */
  def searchByMultivecBatch(td: TableDef[_], queries: DataFrame,
                            qIdCol: String, qVecsCol: String,
                            topk: Int = 10, refine: Int = 1000,
                            probes: Int = 0,
                            filter: Option[Column] = None): DataFrame = {
    val ix = td.indexes.collectFirst {
      case m @ Spec.MultiVectorIndex(_, lists) if lists > 0 => m
    }.getOrElse(throw new IllegalStateException(
      s"${td.name}: batch multivec needs a lists-built multivec IVF " +
        "(MultiVectorIndex(lists > 0) + buildIndex / " +
        "installMultivecIndexModel) — run searchByMultivec per query " +
        "on an exact table"))
    val model = mvIndexModel(td).getOrElse(
      throw new IllegalStateException(
        s"${td.name}: multivec IVF model not built — call buildIndex " +
          "or installMultivecIndexModel first"))
    val dim = mvDim(td, ix.column)
    val p = probesFor(ix.lists, probes)
    // `filter`: the r60 contract on the batch surface — maxsimBatch
    // reads BOTH phases from the assigned frame (probed means phase 1,
    // candidate token matrices phase 2), so one pk semi-join thins
    // everything feeding every cut
    Ann.maxsimBatch(queries, qIdCol, qVecsCol,
      allowedBy(td, reg.table(td), filter)(
        mvAssignedCached(td, ix, model)),
      td.pk, ix.column, MvMeanCol,
      model, dim, p, math.max(refine, topk), topk)
  }

  /** The persisted phase-1 mean column — [[Ann.buildMaxsimIvf]]'s
    * `meanCol` default; build and read paths share this one name. */
  private val MvMeanCol = "mv_mean"

  /** The pinned token dimension of a multivector column — the maxsim
    * index build needs it to materialize the token-mean; failing loud
    * here beats a scan-time arity error on an executor. */
  private def mvDim(td: TableDef[_], mvCol: String): Int =
    td.vectorDims.getOrElse(mvCol, throw new IllegalStateException(
      s"${td.name}.$mvCol needs its token dimension pinned in " +
        "TableDef.vectorDims to build a multivec IVF"))

  /** Register the table's vector index for DECLARATIVE queries: after
    * this, a plain `orderBy(dist(vecCol, q)).limit(k)` DataFrame plan
    * over the table is rewritten by [[graft.plans.AnnTopKRule]] into
    * the index's scan shape — probe-pruned IVF, or the two-phase
    * semi-join for `quantized` / `oneBit` indexes (codes scanned,
    * full-precision vectors read only for the top-(k·refine)
    * candidates). The Engine-surface twin of `SET vchordrq.probes`
    * (client.py:285-309): registration is the opt-in to approximate
    * search. Requires a built IVF model ([[buildIndex]] first).
    *
    * Quantized registrations hold a RESOLVER backed by the version-keyed
    * caches below, so the declarative plan re-resolves the index at
    * every rewrite: writes to the table after install are visible to
    * the next declarative query, same as [[searchByVector]] — no
    * re-install needed (round-6 advisor: the previous frozen snapshot
    * silently excluded post-install rows). */
  def installDeclarative(td: TableDef[_], probes: Int = 0,
                         refine: Int = -1,
                         maxsimRefine: Int = 1000): Unit = {
    // matryoshka's declarative form is DIR-backed (the rewrite's
    // candidate cut reads a writeMatryoshka root's emb_pre column —
    // Binding.matryoshka); an in-memory registration here
    // would silently serve EXACT results while searchByVector serves
    // the cut, breaking the declarative/imperative parity contract.
    // Refuse loudly instead of registering nothing.
    td.vectorIndex.filter(_.mrlDims > 0).foreach { ix =>
      throw new IllegalStateException(
        s"${td.name}: declarative matryoshka needs an at-rest root — " +
          s"write one (Ann.writeMatryoshka) and register it via " +
          s"AnnIndex.register(Binding.matryoshka('${ix.column}', " +
          s"...)) — or, for a composed lists+mrlDims table, a " +
          s"writeMatryoshkaIvf root via Binding.matryoshkaIvf; " +
          "installDeclarative has no in-memory truncation form")
    }
    if (td.vectorIndex.isEmpty && td.keywordIndex.isEmpty &&
        !td.indexes.exists(ix => ix.isInstanceOf[Spec.MultiVectorIndex] ||
          ix.isInstanceOf[Spec.SparseIndex]))
      throw new IllegalStateException(
        s"${td.name} has no vector, multivector, keyword, or sparse " +
          "index")
    // lists == 0 means exact brute-force — nothing to register for the
    // dense column (the maxsim registration below still applies)
    val dense = td.vectorIndex.filter(_.lists > 0).map { ix =>
      def model = indexModel(td).getOrElse(throw new IllegalStateException(
        s"${td.name} has no built IVF model — run buildIndex first"))
      model // fail install-time, not first-query-time, when unbuilt
      val p = probesFor(ix.lists, probes)
      quantFamily(ix) match {
        case Some(fam) =>
          Binding.Quantized(ix.column, td.pk,
            () => quantizedCached(td, ix, model, fam), ix.distance, p,
            autoRefine(fam, ix, refine), owner(td))
        case None =>
          // resolver-backed like every other registration: a buildIndex
          // re-run (new KMeans model) must reach declarative probe
          // selection without a re-install; `model` re-resolves the
          // memoized per-version model, whose centroid collect runs
          // once per __ivf side-table version. The table itself
          // carries no cell column, so the cut is an id semi-join
          // against the assigned layout's probed cells.
          Binding.Probe(ix.column, "centroid_id",
            () => model.collectedCentroids.toSeq, ix.distance, p,
            owner(td), td.pk, Some(() => assignedCached(td, ix, model)))
      }
    }
    // multivector column: plain orderBy(maxsim_dot(q, mv).desc).limit(k)
    // plans rewrite into the two-phase refine (the declarative
    // `maxsim_refine`, registry.py:233) — resolver-backed like the
    // dense registrations, so post-install writes stay visible. A
    // LISTS-built multivec IVF additionally routes phase-1 through the
    // probe + dynamic-pruning machinery (a ProbeDist over the assigned
    // layout) so candidates come from probed cells, not a full
    // token-matrix scan.
    val multivec = td.indexes.collectFirst {
      case ix: Spec.MultiVectorIndex => ix
    }.map { ix =>
      if (ix.lists > 0) {
        mvIndexModel(td).getOrElse(throw new IllegalStateException(
          s"${td.name} has no built multivec IVF model — run " +
            "buildIndex first")) // fail install-time, not query-time
        def model = mvIndexModel(td).getOrElse(
          throw new IllegalStateException(
            s"${td.name}'s multivec IVF model (__mvivf) vanished " +
              "after install — rebuild with buildIndex"))
        Binding.Maxsim(ix.column, td.pk,
          () => mvAssignedCached(td, ix, model), maxsimRefine,
          Some(Binding.ProbeDist(MvMeanCol, "centroid_id",
            () => model.centroids, "centroid_id", "centroid",
            Ann.Cosine, probesFor(ix.lists, probes))), owner(td))
      } else
        Binding.Maxsim(ix.column, td.pk, () => reg.table(td),
          maxsimRefine, owner = owner(td))
    }
    // keyword column: plain orderBy(bm25_score.desc).limit(k) plans
    // ([[keywordScoreColumn]] builds the score) rewrite into the
    // postings-index semi-join — the declarative `<&>` (client.py:
    // 356-380); resolver-backed via the version-keyed keywordIndex
    val keyword = td.keywordIndex.map(kw =>
      Binding.Bm25(kw.column, td.pk, () => keywordIndex(td),
        owner = owner(td)))
    // sparse column: plain orderBy(sparse_dot_q.desc).limit(k) plans
    // ([[sparseScoreColumn]] builds the score) rewrite into the
    // inverted-postings candidate semi-join; resolver-backed via
    // [[sparsePostings]]'s lazy current-version plan
    val sparse = td.indexes.collectFirst {
      case ix: Spec.SparseIndex => ix
    }.map(ix => Binding.Sparse(ix.column, ix.valuesColumn, td.pk,
      () => sparsePostings(td), owner = owner(td)))
    AnnIndex.install(reg.spark)
    // all or none: a collision on any binding leaves none of the
    // table's rewrites live
    AnnIndex.register(
      Seq[Option[Binding]](dense, multivec, keyword, sparse).flatten: _*)
  }

  /** Attach an AT-REST index layout to a table's delete lifecycle:
    * after this, every committed `Registry.removeBy` on the table
    * (including rows deleted INTO it by FK cascade) rewrites the
    * layout's affected cell directories ([[Ann.deleteStoredIds]]), so
    * stored searches ([[Ann.searchStored]] etc.) and
    * declarative rewrites over the loaded layout never surface removed
    * rows — the maintenance PostgreSQL's DELETE performs implicitly on
    * the reference's indexes (client.py:268-283). `dir` is:
    *  - a maintainable cell root ([[Ann.cellRoot]]: range, dense,
    *    maxsim, composed matryoshka-IVF or quantized) — deletes rewrite
    *    only the cells of its data subdir that hold doomed rows, never
    *    the side tables beside it (centroids, radii, bounds, codebooks:
    *    a delete can only shrink a cell, so they stay sound); a
    *    quantized root's `fresh/` rows are purged too. Pair with
    *    [[mergeUnderfullIfNeeded]] on a cadence so drained cells
    *    eventually dissolve;
    *  - a [[Bm25.writePostings]] keyword or sparse layout (bucket
    *    markers — deletes rewrite the affected term buckets);
    *  - a flat [[Ann.writeMatryoshka]] root (deletes swap `rows/`
    *    whole-directory through [[Ann.deleteMatryoshkaIds]]);
    *  - a flat [[Ann.writePartitioned]] path. */
  def attachStoredIndex(td: TableDef[_], dir: String): Unit = {
    // every layout kind is detected ONCE at attach — it is immutable,
    // and the hook runs per committed delete
    val keyword = Bm25.readBucketsMarker(reg.spark, dir).isDefined
    val sparse = graft.functions.Sparse.isStoredLayout(reg.spark, dir)
    val mrl = Ann.isMatryoshkaRoot(reg.spark, dir)
    val cells = Ann.detectCellRoot(reg.spark, dir, None)
    val quantized = cells.exists(_.isInstanceOf[Ann.CellRoot.Quantized])
    val path = cells.map(_.dataSub).orElse(Option.when(mrl)("rows"))
      .fold(dir)(sub => new org.apache.hadoop.fs.Path(dir, sub).toString)
    // fail at ATTACH, not first delete: a streaming-grown dir
    // (_spark_metadata commit log) cannot take batch cell rewrites —
    // compact it first (Stream.compactStored)
    Ann.requireBatchLayout(reg.spark, path)
    storedAttachments.synchronized {
      // idempotent per (table, dir): re-attaching must not stack a
      // second hook that rewrites the same layout twice per delete
      if (!storedAttachments.contains((td.name, dir))) {
        storedAttachments((td.name, dir)) = reg.onDelete(td.name) {
          deleted =>
            if (keyword)
              Bm25.deleteStoredPostings(reg.spark, path,
                deleted.select(td.pk))
            else if (sparse)
              graft.functions.Sparse.deleteStored(reg.spark, path,
                deleted.select(td.pk))
            else if (mrl)
              Ann.deleteMatryoshkaIds(reg.spark, dir, td.pk,
                deleted.select(td.pk))
            else {
              Ann.deleteStoredIds(reg.spark, path, td.pk,
                deleted.select(td.pk))
              // a quantized root may hold not-yet-compacted appends in
              // its fresh side table — purge those too, or the
              // fresh-aware searches resurrect the deleted rows
              if (quantized)
                Ann.deleteQuantizedFreshIds(reg.spark, dir, td.pk,
                  deleted.select(td.pk))
            }
            ()
        }
      }
    }
  }

  /** Threshold-triggered fresh-table compaction for a quantized
    * at-rest root serving `td` — the ENGINE seat of
    * [[graft.ops.Ann.compactQuantizedFreshIfNeeded]] (r14 verdict #4:
    * `compactQuantizedFresh` existed but nothing triggered it, so
    * fresh/ grew until someone remembered). Call at attach or on a
    * maintenance cadence: compacts exactly when |fresh| >
    * `maxFreshRatio` · |main|; results identical across the trigger
    * by the compaction contract. Returns Some(graduated rows) when
    * triggered, None otherwise. */
  def compactFreshIfNeeded(td: TableDef[_], dir: String,
                           maxFreshRatio: Double): Option[Long] = {
    val ix = td.vectorIndex.getOrElse(throw new IllegalStateException(
      s"${td.name} has no vector index"))
    Ann.compactQuantizedFreshIfNeeded(
      Ann.cellRoot(reg.spark, dir, Some(ix.column))
        .as[Ann.CellRoot.Quantized]("compactFreshIfNeeded"),
      td.pk, maxFreshRatio)
  }

  /** Threshold-triggered underfull-cell MERGE for the root at `dir`
    * serving `td` ([[Ann.mergeUnderfull]]).
    *
    * The maintenance triad — [[compactFreshIfNeeded]], this merge,
    * [[splitOverfullIfNeeded]] and the [[indexHealthFor]] signal that
    * justifies pulling them — serves every maintainable cell root
    * ([[Ann.cellRoot]]: range, dense, maxsim, composed
    * matryoshka-IVF, or quantized SQ/PQ/1-bit) on one cadence, so an
    * operator need not know which family a dir is. Each seat resolves
    * the root once from its own marker or layout and makes one call;
    * a dir of no maintainable family refuses with the resolver's
    * typed message. The table's declared vector column reaches the
    * families that need it (range radii, quantized re-encode); dense
    * and composed roots carry their own, which lets a MAXSIM table
    * (multivec index, no vector index) ride the same cadence.
    *
    * [[attachStoredIndex]]'s delete maintenance drains cells; every
    * cell below `minRows` dissolves, its rows re-homing to their true
    * argmin survivors (crash-healed by re-run; readers refuse
    * mid-merge; a quantized root refuses while `fresh/` exists — run
    * [[compactFreshIfNeeded]] first). Returns dissolved cell id →
    * rows it held (empty when nothing was underfull). */
  def mergeUnderfullIfNeeded(td: TableDef[_], dir: String,
                             minRows: Long): Map[Long, Long] =
    Ann.mergeUnderfull(
      Ann.cellRoot(reg.spark, dir, td.vectorIndex.map(_.column)), minRows)

  /** Threshold-triggered overfull-cell SPLIT for the root at `dir`
    * serving `td` ([[Ann.splitOverfull]]): appends grow hot cells the
    * way deletes drain cold ones, and every cell past `maxRows`
    * locally retrains into sub-cells (only its directories rewritten,
    * marker re-pinned — range results invariant, the other families
    * the post-split replay). Returns oldCell → new cell ids (empty
    * when nothing was overfull). */
  def splitOverfullIfNeeded(td: TableDef[_], dir: String,
                            maxRows: Long): Map[Long, Seq[Long]] =
    Ann.splitOverfull(
      Ann.cellRoot(reg.spark, dir, td.vectorIndex.map(_.column)), maxRows)

  /** The per-cell HEALTH SIGNAL for the root at `dir` serving `td`
    * ([[Ann.indexHealth]]) — the read side of the triad: every family
    * returns (centroid_id, n_rows, mean_dist); a range root adds its
    * stored `radius`. */
  def indexHealthFor(td: TableDef[_], dir: String): DataFrame =
    Ann.indexHealth(
      Ann.cellRoot(reg.spark, dir, td.vectorIndex.map(_.column)))

  /** Undo [[attachStoredIndex]]: the layout stops tracking the table's
    * deletes (no-op if never attached). */
  def detachStoredIndex(td: TableDef[_], dir: String): Unit =
    storedAttachments.synchronized {
      storedAttachments.remove((td.name, dir)).foreach(detach => detach())
    }

  private val storedAttachments =
    scala.collection.mutable.Map[(String, String), () => Unit]()

  /** Remove [[installDeclarative]]'s registrations for the table —
    * only this table's: another table bound on the same column names
    * keeps its rewrites. */
  def uninstallDeclarative(td: TableDef[_]): Unit =
    (td.vectorIndex.map(_.column) ++ td.keywordIndex.map(_.column) ++
      td.indexes.collect {
        case Spec.MultiVectorIndex(c, _) => c
        case s: Spec.SparseIndex => s.column
      }).foreach(AnnIndex.unregister(_, owner(td)))

  /** Version key for the memoized index artifacts: the TABLE's segment
    * manifest AND the index side table's — a rebuilt model (buildIndex
    * after a lists change) must invalidate cached assignments/codes
    * even when the base table is untouched, or stale cell ids get
    * probed against the new model's id space. */
  private def segVersion(names: String*): String =
    reg.segDigest(names: _*)

  /** The registration owner tag: collisions between two TABLES sharing
    * column names fail loudly at install instead of silently serving
    * one table's candidates to the other's queries. */
  private def owner(td: TableDef[_]): String =
    s"${reg.namespace}.${td.name}"

  /** IVF assignment memoized per table+model VERSION: assigning is a
    * map-only stage but still O(N·cells) compute — the index at rest is
    * the assignment, recomputed only when the table or model is
    * rewritten (at real scale it is written `partitionBy(centroid_id)`,
    * Ann.writePartitioned; here the persisted frame plays that role). */
  private val assignCache =
    scala.collection.mutable.HashMap[String, (String, DataFrame)]()
  private def assignedCached(td: TableDef[_], ix: VectorIndex,
                             model: Ann.IvfModel): DataFrame = {
    // version BEFORE the table resolve: the other order can cache
    // pre-commit data under the post-commit version key, pinning the
    // stale frame until the next write (mvAssignedCached's pattern)
    val version = segVersion(td.name, s"${td.name}__ivf")
    val key = s"${reg.instanceId}|${td.name}|${ix.column}"
    assignCache.synchronized {
      assignCache.get(key) match {
        case Some((v, df)) if v == version => df
        case stale =>
          // a rewritten table must not pin its old assignment in
          // executor storage — evict before caching the new version
          stale.foreach(_._2.unpersist(false))
          val df = Ann.assign(reg.table(td), ix.column, model, ix.distance)
            .persist()
          assignCache(key) = (version, df)
          df
      }
    }
  }

  /** Quantized IVF index (SQ, PQ or 1-bit) memoized per table VERSION
    * (same lifecycle as [[assignedCached]]): codes and side tables
    * persist until the table or model is rewritten, or the table's
    * declared family changes. */
  private val quantizedCache =
    scala.collection.mutable.HashMap[String, (String, Ann.QuantIndex)]()
  private def quantizedCached(td: TableDef[_], ix: VectorIndex,
                              model: Ann.IvfModel,
                              fam: Ann.QuantFamily): Ann.QuantIndex = {
    // version before table resolve — see assignedCached
    val version = segVersion(td.name, s"${td.name}__ivf")
    val key = s"${reg.instanceId}|${td.name}|${ix.column}"
    quantizedCache.synchronized {
      quantizedCache.get(key) match {
        case Some((v, idx)) if v == version && idx.family == fam => idx
        case stale =>
          stale.foreach(_._2.unpersist())
          val base = reg.table(td)
          val idx = (fam match {
            case Ann.Sq => Ann.buildIvfSq(base, ix.column, model, ix.distance)
            case Ann.Pq =>
              Ann.buildIvfPq(base, ix.column, model, ix.pq, ix.distance)
            case Ann.Bitq =>
              Ann.buildIvfBitq(base, ix.column, model, ix.distance)
          }).persisted()
          quantizedCache(key) = (version, idx)
          idx
      }
    }
  }

  /** The table's IVF model (the `__ivf` side table [[buildIndex]] /
    * [[installIndexModel]] write), memoized per side-table VERSION with
    * its spherical form: its driver-side centroid collect
    * ([[Ann.IvfModel.collectedCentroids]]) then runs once per model
    * build, not once per request, so every single-query probe picks
    * its cells without a job. */
  private val modelCache = scala.collection.mutable.HashMap[String,
    (String, Option[(Ann.IvfModel, Ann.IvfModel)])]()
  private def modelPair(td: TableDef[_]): Option[(Ann.IvfModel, Ann.IvfModel)] = {
    val version = segVersion(s"${td.name}__ivf")
    val key = s"${reg.instanceId}|${td.name}"
    modelCache.synchronized {
      modelCache.get(key) match {
        case Some((v, m)) if v == version => m
        case _ =>
          val m = sideModel(td, "__ivf").map(m => (m, Ann.normalizeModel(m)))
          modelCache(key) = (version, m)
          m
      }
    }
  }
  private def indexModel(td: TableDef[_]): Option[Ann.IvfModel] =
    modelPair(td).map(_._1)
  /** [[indexModel]] with unit-norm centroids — the cosine probe form. */
  private def sphericalModel(td: TableDef[_]): Ann.IvfModel =
    modelPair(td).get._2

  /** The multivec IVF built by [[buildIndex]] (the `__mvivf` centroid
    * side table) — the read half of the reference's `vector_maxsim_ops`
    * index (spec.py:447-464). */
  private def mvIndexModel(td: TableDef[_]): Option[Ann.IvfModel] =
    sideModel(td, "__mvivf")

  private def sideModel(td: TableDef[_],
                        suffix: String): Option[Ann.IvfModel] = {
    val t = s"${reg.namespace}_${td.name}$suffix"
    if (reg.catalog.current.get(t).exists(_.nonEmpty)) {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      Some(Ann.IvfModel(reg.catalog.read(t, schema, reg.catalog.current),
        "centroid_id", "centroid"))
    } else None
  }

  /** Multivec assignment (table + persisted [[MvMeanCol]] +
    * `centroid_id`) memoized per table VERSION — the maxsim twin of
    * [[assignedCached]]: assigning every doc's token-mean to its cell
    * is the index at rest (at real scale it is written
    * `partitionBy(centroid_id)`, [[Ann.writePartitioned]]; here the
    * persisted frame plays that role). Cosine assignment — the build's
    * spherical-centroids metric ([[Ann.buildMaxsimIvf]]). */
  private val mvAssignCache =
    scala.collection.mutable.HashMap[String, (String, DataFrame)]()
  private def mvAssignedCached(td: TableDef[_], ix: MultiVectorIndex,
                               model: Ann.IvfModel): DataFrame = {
    val version = segVersion(td.name, s"${td.name}__mvivf")
    val key = s"mv|${reg.instanceId}|${td.name}|${ix.column}"
    mvAssignCache.synchronized {
      mvAssignCache.get(key) match {
        case Some((v, df)) if v == version => df
        case stale =>
          // a rewritten table must not pin its old assignment in
          // executor storage — evict before caching the new version
          stale.foreach(_._2.unpersist(false))
          val dim = mvDim(td, ix.column)
          val withMean = reg.table(td).withColumn(MvMeanCol,
            Ann.tokenMeanCol(col(ix.column), dim))
          val df = Ann.assign(withMean, MvMeanCol, model, Ann.Cosine)
            .persist()
          mvAssignCache(key) = (version, df)
          df
      }
    }
  }
}
