package graft.functions

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sparse embeddings — the reference's SpladePP client surface
  * (/root/reference/vechord/embedding.py:413-441, model struct
  * `SparseEmbedding{dim,indices,values}` at model/internal.py:43-46) with
  * a deterministic local producer and a column-level dot-product scorer.
  */
final case class SparseVec(indices: Seq[Int], values: Seq[Float])

trait SparseEmbedder extends Serializable {
  def name: String
  def dim: Int
  def embed(text: String): SparseVec
}

/** Deterministic sparse embedder: token → murmur3 bucket, value = tf,
  * indices sorted ascending. */
final case class HashSparseEmbedder(dim: Int = 1 << 16, seed: Int = 7)
  extends SparseEmbedder {
  def name: String = s"hash_sparse_${dim}_$seed"
  def embed(text: String): SparseVec = {
    val counts = scala.collection.mutable.TreeMap[Int, Float]()
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty).foreach { t =>
      val b = math.floorMod(MurmurHash3.stringHash(t, seed), dim)
      counts(b) = counts.getOrElse(b, 0f) + 1f
    }
    SparseVec(counts.keys.toSeq, counts.values.toSeq)
  }
}

/** Engine-portable sparse embedder — the md5 twin of
  * [[HashSparseEmbedder]] (the same trick as [[graft.text.Md5Embedder]]):
  * token → bucket = (h / 2) mod dim where h is the first 8 hex chars of
  * md5(token) as a 32-bit value — `(('0x' || substring(md5(t), 1, 8))
  * ::BIGINT // 2) % dim` in DuckDB — and value = the bucket's term
  * frequency (a small integer, exact in float/double). Indices are
  * ascending, so an external SQL engine reproduces the whole sparse
  * vector AND any dot product bit-for-bit; its purpose is letting an
  * oracle gate the sparse search surface end to end. */
final case class Md5SparseEmbedder(dim: Int = 4096) extends SparseEmbedder {
  def name: String = s"md5_sparse_$dim"

  // MessageDigest is stateful and not thread-safe; one per task thread
  @transient private lazy val md =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def embed(text: String): SparseVec = {
    val counts = scala.collection.mutable.TreeMap[Int, Float]()
    val d = md.get()
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
      .filter(_.nonEmpty).foreach { t =>
        d.reset()
        val b = d.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 4) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
        val bucket = ((h >>> 1) % dim).toInt
        counts(bucket) = counts.getOrElse(bucket, 0f) + 1f
      }
    SparseVec(counts.keys.toSeq, counts.values.toSeq)
  }
}

object Sparse {

  /** Sparse corpus → inverted postings (id, bucket, v): one row per
    * non-zero — the INDEX form of a sparse-vector store, and the scale
    * path for sparse retrieval: a query touches only the postings of
    * ITS buckets (an equi-join prunes everything else), instead of
    * scanning every document row the way the [[sparseDot]]-over-rows
    * form must. At rest this is exactly the BM25 postings layout —
    * write it `partitionBy(bucket % B)` ([[graft.ops.Bm25
    * .writePostings]]'s pattern) and query-bucket pruning becomes disk
    * pruning. */
  def invertedPostings(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       idxCol: String, valCol: String)
      : org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("id"),
        explode(arrays_zip(col(idxCol).as("bucket"),
          col(valCol).as("v"))).as("p"))
      .select(col("id"), col("p.bucket"), col("p.v"))

  /** Sparse dot-product top-k over [[invertedPostings]]: join the
    * (tiny, broadcast) query buckets, sum per doc, top-k. One
    * map-side-combinable aggregation keyed by doc id; shuffle volume is
    * bounded by the MATCHING postings (docs sharing no bucket with the
    * query never enter the plan) — at 100 TB this is the difference
    * between touching the query's posting lists and scanning the
    * corpus. Scores are identical to the row-scan form: products of
    * small-integer tfs are exact in double, so partial-aggregation
    * order cannot change the sum. */
  def invertedTopK(postings: org.apache.spark.sql.DataFrame,
                   query: SparseVec, k: Int, roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame =
    invertedTopKW(postings, query.indices,
      query.values.map(_.toDouble), k, roundTo)

  /** [[invertedTopK]] with explicit double weights (no float
    * round-trip) — the entry the declarative rewrite uses, whose
    * query literals are already doubles. */
  def invertedTopKW(postings: org.apache.spark.sql.DataFrame,
                    qIdx: Seq[Int], qVal: Seq[Double], k: Int,
                    roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // a malformed query with repeated indices would SUM its duplicate
    // weights here (each duplicate bucket row joins the postings
    // separately) while the row-scan scorer ([[sparseDot]] /
    // SparseDotQ) collapses duplicates — the declarative rewrite would
    // then pick candidates by one score and re-rank by another. Refuse
    // loudly instead of diverging silently.
    require(qIdx.distinct.length == qIdx.length,
      s"sparse query has duplicate indices (${qIdx.length} entries, " +
        s"${qIdx.distinct.length} distinct) — inverted scoring and the " +
        "row-scan scorer would disagree; dedupe the query vector first")
    val q = qIdx.zip(qVal).toDF("bucket", "__w")
    postings.join(broadcast(q), "bucket")
      .groupBy("id")
      .agg(round(sum(col("v").cast("double") * col("__w")), roundTo)
        .as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** [[invertedTopKW]] under a metadata predicate — the sparse member
    * of the filtered-search family: `allowed` is the id set the
    * predicate admits. Unlike BM25 there are no corpus statistics to
    * protect (the score is a pure dot), so the semi-join thins the
    * postings BEFORE scoring — cheapest placement — and cannot change
    * any surviving score. */
  def invertedTopKWFiltered(postings: org.apache.spark.sql.DataFrame,
                            qIdx: Seq[Int], qVal: Seq[Double], k: Int,
                            allowed: org.apache.spark.sql.DataFrame,
                            allowedIdCol: String, roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    require(qIdx.distinct.length == qIdx.length,
      s"sparse query has duplicate indices (${qIdx.length} entries, " +
        s"${qIdx.distinct.length} distinct) — dedupe the query first")
    val q = qIdx.zip(qVal).toDF("bucket", "__w")
    postings
      .join(allowed.select(col(allowedIdCol).as("id")), Seq("id"),
        "left_semi")
      .join(broadcast(q), "bucket")
      .groupBy("id")
      .agg(round(sum(col("v").cast("double") * col("__w")), roundTo)
        .as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** [[searchStored]] under a metadata predicate: bucket-partition
    * pruning (the query's own buckets) composes with the allowed-id
    * semi-join on ONE pruned scan. */
  def searchStoredFiltered(spark: org.apache.spark.sql.SparkSession,
                           dir: String, query: SparseVec, k: Int,
                           allowed: org.apache.spark.sql.DataFrame,
                           allowedIdCol: String,
                           roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    val buckets = readBucketsMarker(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no $BucketsMarker marker — not a writePostings " +
          "layout"))
    val qb = query.indices.map(i => math.floorMod(i, buckets)).distinct
    val pruned = spark.read.parquet(dir)
      .filter(col("__b").isin(qb: _*))
    invertedTopKWFiltered(pruned, query.indices,
      query.values.map(_.toDouble), k, allowed, allowedIdCol, roundTo)
  }

  private val BucketsMarker = "_graft_sparse_buckets"

  /** The recorded bucket modulus of a [[writePostings]] /
    * [[graft.streaming.Stream.ingestSparse]] layout, if present. */
  def readBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Option[Int] =
    graft.io.Markers.read(spark, dir, BucketsMarker).map(_.toInt)

  /** Record the bucket modulus for an append-GROWN layout, refusing to
    * change it once declared — rows partitioned under two moduli in
    * one dir would make [[searchStored]] prune the wrong directories
    * (the sparse twin of [[graft.ops.Bm25.ensureBucketsMarker]]'s
    * rule). */
  def ensureBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                          dir: String, buckets: Int): Unit =
    readBucketsMarker(spark, dir) match {
      case Some(b) if b != buckets =>
        throw new IllegalStateException(
          s"$dir was written with bucket modulus $b, offered $buckets " +
            "— mixed moduli in one layout silently prune the wrong " +
            "directories. Rebuild the layout to change the modulus.")
      case Some(_) => ()
      case None => writeBucketsMarker(spark, dir, buckets)
    }

  private def writeBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, buckets: Int): Unit =
    graft.io.Markers.write(spark, dir, BucketsMarker, buckets.toString)

  /** Persist [[invertedPostings]] at rest, partitioned by
    * `bucket mod buckets` — the BM25 term-bucket layout
    * ([[graft.ops.Bm25.writePostings]]'s pattern) for sparse vectors:
    * a stored query reads ONLY the directories its buckets hash into
    * (real partition pruning), so query IO scales with the query's
    * posting lists, not the corpus. The modulus is recorded in a
    * marker so loads never guess it. */
  def writePostings(postings: org.apache.spark.sql.DataFrame,
                    dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    require(!postings.columns.contains("__b"),
      "postings already carry the reserved partition column __b")
    postings
      .withColumn("__b", pmod(col("bucket"), lit(buckets)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)
    writeBucketsMarker(postings.sparkSession, dir, buckets)
  }

  /** Batch APPEND into a [[writePostings]] layout made REPLAY-SAFE by
    * doc id — the sparse member of the graduated-root maintenance
    * family ([[graft.ops.Bm25.appendPostingsIdempotent]]'s twin):
    * docs whose id already carries postings in the partition dirs
    * this batch touches are dropped first, so a crash-redelivered
    * foreachBatch batch appends NOTHING; the existence probe reads
    * only touched `__b` directories. Returns docs appended. */
  def appendPostingsIdempotent(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               docs: org.apache.spark.sql.DataFrame,
                               idCol: String, idxCol: String,
                               valCol: String): Long = {
    val buckets = readBucketsMarker(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"appendPostingsIdempotent: $dir has no $BucketsMarker marker " +
          "— not a sparse postings layout"))
    graft.ops.Ann.requireBatchLayout(spark, dir)
    // ROW-level idempotency on (id, bucket) — one row per nonzero
    // dimension, and a doc's rows span many partition dirs, so
    // doc-level presence probing would turn a torn append into
    // permanent loss of the remaining rows on redelivery (the BM25
    // twin's reasoning); zero-postings docs never count
    val posts = invertedPostings(docs, idCol, idxCol, valCol)
      .withColumn("__b", pmod(col("bucket"), lit(buckets)))
      .localCheckpoint(true)
    val touched = graft.ops.Ann.distinctIntKeys(posts, col("__b"))
    if (touched.isEmpty) return 0L
    val stored = spark.read.parquet(dir)
    val existing = stored.filter(col("__b").isin(touched: _*))
      .select(col("id"), col("bucket"))
    // size-gated broadcast pin — foreachBatch runs AQE-off and the
    // unprojected file stats push this per-batch probe into a
    // sort-merge otherwise (Ann.broadcastExistingIfBounded's contract)
    val fresh = posts.join(
        graft.ops.Ann.broadcastExistingIfBounded(existing),
        Seq("id", "bucket"), "left_anti")
      .localCheckpoint(true)
    if (fresh.isEmpty) return 0L
    graft.ops.Ann.requireAppendSchema(stored.schema, fresh.schema,
      Set("__b"), "appendPostingsIdempotent")
    val n = fresh.select(col("id")).distinct().count()
    fresh.write.mode("append").partitionBy("__b").parquet(dir)
    n
  }

  /** [[invertedTopK]] over a [[writePostings]] layout: the query's
    * buckets map to their partition dirs via the recorded modulus and
    * the `isin` filter prunes every other directory at the scan
    * (`PartitionFilters`) — unmatched posting lists are never read. */
  def searchStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                   query: SparseVec, k: Int,
                   roundTo: Int = 6): org.apache.spark.sql.DataFrame = {
    val buckets = readBucketsMarker(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no $BucketsMarker marker — not a writePostings " +
          "layout"))
    val qb = query.indices.map(i => math.floorMod(i, buckets)).distinct
    val pruned = spark.read.parquet(dir)
      .filter(col("__b").isin(qb: _*))
    invertedTopK(pruned, query, k, roundTo)
  }

  /** Batch sparse top-k: the top-k docs for EVERY query row in ONE job
    * — the sparse twin of [[graft.ops.Bm25.searchBatch]] /
    * [[graft.ops.Ann.knnJoin]], what an evaluation loop or a query-log
    * replay runs instead of one driver round-trip per query.
    * `queries`: (qIdCol, idxCol, valCol) — a sparse vector per row.
    * Returns (qid, id, score, rank), rank 1-based per query, ties
    * (score desc, id asc).
    *
    * Scale shape: the exploded (qid, bucket, w) query relation is a
    * QUERY-bounded broadcast (Q·nnz rows); candidate scoring is one
    * map-side postings join + a combinable groupBy(qid, id); the
    * per-query top-k is a rank window partitioned by qid — never a
    * corpus-wide sort, and docs sharing no bucket with a query never
    * enter the plan. */
  def invertedTopKBatch(postings: org.apache.spark.sql.DataFrame,
                        queries: org.apache.spark.sql.DataFrame,
                        qIdCol: String, idxCol: String, valCol: String,
                        k: Int, roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    // same duplicate-index refusal as [[invertedTopKW]], enforced
    // row-by-row inside the plan (queries is a frame, so a driver-side
    // require can't see the rows): assert_true raises on the first
    // malformed query instead of silently double-counting its weights.
    // Evaluated on the query side only — Q rows, not the postings.
    val q = queries.select(col(qIdCol).as("__qid"),
        col(idxCol).as("__qi"), col(valCol).as("__qv"))
      // a NULL index array is not a duplicate — it explodes to no rows
      // below (the query is simply absent from the output), so the
      // assert must let it through rather than raise on a null
      // condition with a wrong diagnosis
      .filter(coalesce(
        assert_true(col("__qi").isNull ||
            size(array_distinct(col("__qi"))) === size(col("__qi")),
          concat(lit("sparse batch query "), col("__qid").cast("string"),
            lit(" has duplicate indices — inverted scoring and the " +
              "row-scan scorer would disagree"))),
        lit(true)))
      .select(col("__qid"),
        explode(arrays_zip(col("__qi").as("bucket"),
          col("__qv").as("w"))).as("p"))
      .select(col("__qid"), col("p.bucket").as("bucket"),
        col("p.w").cast("double").as("__w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("score").desc, col("id").asc)
    postings.join(broadcast(q), "bucket")
      .groupBy(col("__qid"), col("id"))
      .agg(round(sum(col("v").cast("double") * col("__w")), roundTo)
        .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("id"), col("score"),
        col("rank"))
  }

  /** [[invertedTopKBatch]] over a [[writePostings]] layout — the batch
    * query-log replay against the AT-REST index: the batch's distinct
    * buckets (driver-bounded — the query log is broadcast below
    * regardless, the same budget as `Bm25.searchBatch`'s term list)
    * become a LITERAL `isin` on the partition column, so the scan
    * prunes every bucket directory no query in the batch touches.
    * Without this the broadcast bucket JOIN alone cannot prune disk
    * partitions (runtime pruning does not derive through the modulus),
    * and a batch replay would read the whole layout. Scores are
    * identical to [[invertedTopKBatch]] over unpruned postings —
    * pruning may never change what a query matches, only what the
    * scan reads. */
  def searchStoredBatch(spark: org.apache.spark.sql.SparkSession,
                        dir: String,
                        queries: org.apache.spark.sql.DataFrame,
                        qIdCol: String, idxCol: String, valCol: String,
                        k: Int, roundTo: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    val buckets = readBucketsMarker(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no $BucketsMarker marker — not a writePostings " +
          "layout"))
    val qb = graft.ops.Ann.distinctIntKeys(
      queries
        .select(explode(col(idxCol)).as("__qi"))
        // pmod preserves the input type — cast so array<long> index
        // columns read back as Int instead of throwing in the collect
        .select(pmod(col("__qi"), lit(buckets)).cast("int").as("__b")),
      col("__b")).toSeq
    val pruned = spark.read.parquet(dir)
      .filter(col("__b").isin(qb: _*))
    invertedTopKBatch(pruned, queries, qIdCol, idxCol, valCol, k,
      roundTo)
  }

  /** True when `dir` is a [[writePostings]] layout (its modulus marker
    * is present) — the layout self-description
    * [[graft.core.Engine.attachStoredIndex]] dispatches on. */
  def isStoredLayout(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Boolean =
    graft.io.Markers.exists(spark, dir, BucketsMarker)

  /** Delete documents from a [[writePostings]] layout — the sparse
    * sibling of [[graft.ops.Bm25.deleteStoredPostings]]: only the
    * bucket directories holding the victims' postings are rewritten
    * ([[graft.ops.Ann.deleteStoredIds]]'s stage-and-swap), and since
    * stored-query scoring re-derives nothing corpus-global, a delete
    * here equals a rebuild without the docs. `ids`: a one-column
    * DataFrame of victim doc ids. */
  def deleteStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                   ids: org.apache.spark.sql.DataFrame): Long =
    graft.ops.Ann.deleteStoredIds(spark, dir, "id", ids, cellCol = "__b")

  /** Scalar sparse score of a document's (indices, values) columns
    * against a FIXED query — the DECLARATIVE form: built on the
    * codegen'd [[org.apache.spark.sql.graft.SparseDotQ]] expression,
    * which [[graft.plans.AnnTopKRule]] recognizes in
    * `orderBy(score.desc).limit(k)` plans and (when the indices column
    * is bound via `Binding.Sparse`) rewrites into an
    * inverted-postings candidate semi-join + this exact re-rank.
    * Score-identical to [[sparseDot]] with the same query. */
  def scoreColumn(indices: Column, values: Column,
                  query: SparseVec): Column =
    org.apache.spark.sql.graft.VecExprs.sparseDotQ(indices, values,
      query.indices, query.values.map(_.toDouble))

  /** Dot product of two sparse (indices, values) column pairs: for each
    * position of `ai`, look up its index in `bi` (arrays are small —
    * tens of non-zeros — so the per-row scan beats building maps).
    * Pure column math, codegen-friendly. */
  def sparseDot(ai: Column, av: Column, bi: Column, bv: Column): Column =
    aggregate(
      zip_with(ai, av, (i, v) => struct(i.as("i"), v.as("v"))),
      lit(0.0),
      (acc, s) => {
        val pos = array_position(bi, s.getField("i"))
        acc + when(pos > 0,
          s.getField("v").cast("double") *
            element_at(bv, pos.cast("int")).cast("double"))
          .otherwise(0.0)
      })
}
