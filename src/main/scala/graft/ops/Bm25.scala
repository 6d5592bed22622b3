package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval, Spark-first.
  *
  * The reference delegates BM25 to the VectorChord-bm25 PG extension
  * (`ORDER BY kw <&> to_bm25query(...)` — /root/reference/vechord/
  * client.py:356-380, index build spec.py:468-479). Here the "index" is a
  * pair of pre-aggregated side tables (the classic IR decomposition):
  *
  *   postings: (id, term, tf)         — one shuffle at build
  *   stats:    (term, df) + (N, avgdl) — df counted per query term
  *
  * Scoring a query is then a literal term filter over the postings + a
  * groupBy(id) sum under the query terms' df, bound as literals — no
  * full-corpus scan of text. At 100 TB the postings table is partitioned by term
  * (skew-safe: tf rows are (doc,term) grains, heavy terms spread over many
  * docs/partitions) and the per-query work touches only the query's terms.
  *
  * Tokenizer: lowercase, split on runs of non-alphanumerics — deterministic
  * and portable (same expression exists in any SQL engine), standing in
  * for the reference's `bert_base_uncased`/`wiki_tocken` PG tokenizers
  * (client.py:130-144).
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Below this optimizer-estimated input size the build skips its
    * parallelism barrier (see [[build]]): ~32 MiB of text tokenizes in
    * well under a second on one core, less than a full shuffle costs. */
  val BuildBarrierMinBytes: BigInt = BigInt(32L << 20)

  /** Deterministic tokenizer: lowercase, non-alphanumeric runs split. */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** The built "index". `bucketCount > 0` marks postings loaded from a
    * term-bucketed at-rest layout ([[writePostings]]): query paths then
    * prune to the query terms' own bucket partitions on disk. */
  final case class Bm25Index(postings: DataFrame, // id, term, tf, dl
                             termStats: DataFrame, // term, df
                             n: Long, avgdl: Double,
                             tokenizer: String = "simple",
                             bucketCount: Int = 0)

  /** Build corpus statistics (the index-build job, SURVEY.md S2).
    * `tok` picks the tokenizer model (spec.py:276-278 per-column choice). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            tok: graft.functions.Tokenizers.Tokenizer =
              graft.functions.Tokenizers.Simple): Bm25Index = {
    val spark = docs.sparkSession
    // Tokenization is compute-heavy while text tables often arrive as
    // 1-2 parquet splits, so at scale the heavy map must run AFTER an
    // explicit repartition to defaultParallelism (the UDF is marked
    // nondeterministic purely as an optimizer barrier — it is pure;
    // tok.scala == tok.column, tested in ComponentsSpec — so the
    // projection is not pushed below the repartition into the
    // single-task scan). SIZE-GATED: when the scan is already at least
    // cluster-wide, or the input is small enough that one task
    // tokenizes it faster than a 32-way shuffle round-trips it, the
    // barrier costs more than it saves (round-7 same-host A/B: +0.4 s
    // at sf0.1), so skip it and let the plan stay a plain map.
    val base = docs.select(col(idCol).as("id"), col(textCol).as("__text"))
    val par = spark.sparkContext.defaultParallelism
    // partition probe via the non-adaptive physical plan's lazy RDD
    // (zero jobs — never `.rdd`, which under AQE materializes every
    // shuffle stage just to count partitions); [[Ann.lazyPartitionCount]]
    // returns None for exchange/subquery-bearing frames, whose
    // execute() would eagerly launch broadcast/subquery jobs — those
    // frames already run wide downstream, so the barrier is skipped
    val spread =
      Ann.lazyPartitionCount(base).exists(_ < par) &&
      base.queryExecution.optimizedPlan.stats.sizeInBytes >
        BuildBarrierMinBytes
    val plainUdf = udf((s: String) =>
      if (s == null) Seq.empty[String] else tok.scala(s))
    val tokensUdf = if (spread) plainUdf.asNondeterministic() else plainUdf
    val toks = (if (spread) base.repartition(par) else base)
      .select(col("id"), tokensUdf(col("__text")).as("__toks"))
      .select(col("id"), explode(col("__toks")).as("term"))
    // ONE tokenize+shuffle pass: postings (id, term, tf, dl) is the only
    // materialized frame; df / corpus stats derive from it (dl = Σ tf per
    // doc via a window on the same data), so the heavy map runs once and
    // the whole build is a single action.
    val postings = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .persist()
    // N and avgdl from token-bearing docs; both exact integer aggregates,
    // so avgdl (their double ratio) is order-independent. This action
    // also materializes the postings cache.
    val r = postings.groupBy("id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val termStats = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = r.getLong(0)
    // empty corpus: sum is NULL and any avgdl would divide by zero
    val avgdl = if (nDocs == 0 || r.isNullAt(1)) 0.0
      else r.getLong(1).toDouble / nDocs
    Bm25Index(postings, termStats, nDocs, avgdl, tok.name)
  }

  /** Memoized [[build]]: the reference separates `create_index` (once)
    * from queries (many, client.py:146-174 vs 356-380) — callers that
    * re-enter with the same corpus key reuse the materialized index
    * instead of re-aggregating the corpus.
    *
    * Callers must put a CONTENT version in the key ([[dirVersion]] for
    * file-backed corpora, the catalog version for Registry tables —
    * core/Engine.scala keyword path): a path-only key goes stale when
    * files are replaced under the same path. Bounded ACCESS-ORDERED
    * ([[graft.core.LruCache]]): on overflow the least-recently-USED
    * entry is dropped and its postings unpersisted — a driver serving
    * a dozen corpora keeps its live working set resident instead of
    * FIFO-evicting the index it is about to query again (the round-13
    * warm-path regression). Cap sized above the bench sweep's ~12
    * distinct indexes. */
  private val cache = new graft.core.LruCache[String, Bm25Index](16,
    (_, old) => old.postings.unpersist(false))
  def buildCached(docs: DataFrame, idCol: String, textCol: String,
                  key: String,
                  tok: graft.functions.Tokenizers.Tokenizer =
                    graft.functions.Tokenizers.Simple): Bm25Index =
    cache.getOrElseUpdate(s"$key|${tok.name}") {
      build(docs, idCol, textCol, tok)
    }

  /** Drop and unpersist every cached index — the lifecycle sweep for
    * long-lived sessions (the README single-JVM-seams inventory made
    * executable: RegistryEvictionSpec pins that a swept driver holds
    * no index state). */
  def clearCache(): Unit = cache.clear()
  private[graft] def cachedCount: Int = cache.size

  /** Content version of a file-backed corpus path: order-independent
    * hash of the (file path, length, mtime) manifest. Cheap (one
    * driver-side listing) and changes whenever any data file under the
    * path is added, removed, or rewritten. */
  def dirVersion(spark: org.apache.spark.sql.SparkSession,
                 path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      var acc = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        var h = f.getPath.toString.hashCode.toLong
        h = h * 1000003L + f.getLen
        h = h * 1000003L + f.getModificationTime
        acc ^= h * -7046029254386353131L // order-independent combine
      }
      java.lang.Long.toHexString(acc)
    }
  }

  /** Okapi BM25 idf: ln((N - df + 0.5)/(df + 0.5) + 1). */
  def idf(df: Column, n: Long): Column =
    log((lit(n.toDouble) - df + 0.5) / (df + 0.5) + 1.0)

  /** The bucket a term lands in — evaluates the SAME catalyst
    * expressions ([[org.apache.spark.sql.functions.hash]] = Murmur3
    * seed 42, `pmod`) that [[postingsOf]] uses to write the layout, so
    * driver-side pruning can never disagree with the stored partition
    * values. */
  def bucketOf(term: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit,
      Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(CLit.create(term))), CLit(buckets))
      .eval(null).asInstanceOf[Int]
  }

  /** Postings pruned to the query terms' own buckets — with a bucketed
    * at-rest index, literal partition filters, so the file source skips
    * every other bucket directory on disk (the keyword twin of
    * centroid-cell pruning); the whole postings otherwise. */
  private def bucketPruned(index: Bm25Index, terms: Seq[String]): DataFrame =
    if (index.bucketCount > 0 && terms.nonEmpty &&
        index.postings.columns.contains("bucket"))
      index.postings.filter(col("bucket").isin(
        terms.map(bucketOf(_, index.bucketCount)).distinct: _*))
    else index.postings

  /** Postings of the query's own terms — the only postings subset a
    * single-query plan touches: a literal term `isin` after the bucket
    * pruning, map-side, no join. */
  private def termPostings(index: Bm25Index, terms: Seq[String]): DataFrame =
    bucketPruned(index, terms).filter(col("term").isin(terms: _*))

  /** Per-term df from pruned postings — the batch search's and the
    * stored index's statistics frame. */
  private def termDf(qPost: DataFrame): DataFrame =
    qPost.groupBy("term").agg(count(lit(1)).as("df"))

  /** Per-term df of a query's own terms, counted in ONE job: each
    * partition of the term postings counts its ≤|terms| terms and the
    * driver adds the per-partition counts (a `groupBy(term)` would add
    * an exchange, and under AQE a job for its map stage). ONE
    * definition shared by the single-query searches and
    * [[scoreColumn]]: the declarative rewrite's exactness contract
    * (candidate phase == re-rank scores) rests on both phases computing
    * df identically. Only counts reach the driver, never postings. */
  private def termDfs(index: Bm25Index, terms: Seq[String]): Map[String, Long] = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    termPostings(index, terms).select(col("term")).as[String]
      .mapPartitions(_.foldLeft(Map.empty[String, Long])((m, t) =>
        m.updated(t, m.getOrElse(t, 0L) + 1L)).iterator)
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Score all docs containing at least one query term; returns
    * (id, score) sorted desc, top k. Query terms are distinct.
    *
    * Scale shape: two jobs, no shuffle and no broadcast. Job 1 counts
    * df for the query's own terms ([[termDfs]]; the full-vocabulary
    * `termStats` never enters a query plan — a web-scale corpus has
    * 10⁸-10⁹ distinct terms). Job 2 binds those counts as literals and
    * scores the term-pruned postings: a [[build]]-memoized index is
    * hash-partitioned by id (its `dl` window), so the `groupBy(id)`
    * sum needs no exchange and the job ends in one top-k. The
    * reference's query side ships only query terms too
    * (`to_bm25query`, /root/reference/vechord/client.py:356-380). */
  def search(index: Bm25Index, query: String, k: Int,
             roundTo: Int = 6): DataFrame = {
    val tok = graft.functions.Tokenizers.byName(index.tokenizer)
    searchTerms(index, tok.scala(query).distinct, k, roundTo)
  }

  /** [[search]] over pre-tokenized distinct terms — the entry the
    * declarative rewrite uses (the query terms are already literals in
    * the recognized [[org.apache.spark.sql.graft.Bm25Score]] node).
    * The df job runs WHEN THIS IS CALLED, not when the returned frame
    * runs: the frame binds the counts as literals. A caller inside the
    * optimizer ([[graft.plans.Binding.Bm25]]) therefore runs that job
    * while it plans. */
  def searchTerms(index: Bm25Index, terms: Seq[String], k: Int,
                  roundTo: Int = 6): DataFrame =
    scoreTerms(index, terms, k, roundTo, None)

  /** [[search]] under a metadata predicate — the WHERE clause of a
    * full-text query (filtered keyword search, the keyword twin of the
    * filtered-vector family): `allowed` is the id set the predicate
    * admits (typically `docs.filter(pred).select(id)` — the predicate
    * pushes into THAT scan as PushedFilters). Corpus statistics (df,
    * N, avgdl) stay WHOLE-corpus — the filter thins which docs can be
    * returned, never how terms are weighted (the r52 contract: a
    * database WHERE over a full-text index does not retrain the
    * index). The semi-join runs AFTER bucket pruning and term pruning
    * but BEFORE scoring/top-k, so at 100 TB the scored frame is
    * (query-term postings ∩ allowed) and AQE broadcasts the small
    * side. */
  def searchFiltered(index: Bm25Index, query: String, k: Int,
                     allowed: DataFrame, allowedIdCol: String,
                     roundTo: Int = 6): DataFrame = {
    val tok = graft.functions.Tokenizers.byName(index.tokenizer)
    searchTermsFiltered(index, tok.scala(query).distinct, k, allowed,
      allowedIdCol, roundTo)
  }

  /** [[searchFiltered]] over pre-tokenized distinct terms. */
  def searchTermsFiltered(index: Bm25Index, terms: Seq[String], k: Int,
                          allowed: DataFrame, allowedIdCol: String,
                          roundTo: Int = 6): DataFrame =
    scoreTerms(index, terms, k, roundTo,
      Some(allowed.select(col(allowedIdCol).as("id"))))

  /** The single-query scorer behind [[searchTerms]] and
    * [[searchTermsFiltered]]: df collected first (whole-corpus, BEFORE
    * any predicate — the weights never depend on `allowed`), then the
    * term postings, thinned by `allowed`, summed per doc under the
    * literal df. */
  private def scoreTerms(index: Bm25Index, terms: Seq[String], k: Int,
                         roundTo: Int,
                         allowed: Option[DataFrame]): DataFrame = {
    val df = element_at(typedlit(termDfs(index, terms)), col("term"))
    val qPost = termPostings(index, terms)
    allowed.fold(qPost)(a => qPost.join(a, Seq("id"), "left_semi"))
      .withColumn("w",
        idf(df, index.n) * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / index.avgdl)))
      .groupBy("id")
      .agg(round(sum(col("w")), roundTo).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Per-doc postings rows (id, term, tf, dl, bucket) as a MAP-ONLY
    * transform — tf and dl are functions of one document alone, so no
    * groupBy is needed and the same expression runs in batch AND
    * Structured Streaming ([[graft.streaming.Stream.ingestBm25]]).
    * `bucket = pmod(hash(term), buckets)` is the at-rest partition key:
    * a query's term list prunes to its own buckets on disk. */
  def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                 tok: graft.functions.Tokenizers.Tokenizer =
                   graft.functions.Tokenizers.Simple,
                 buckets: Int = 64): DataFrame = {
    val postUdf = udf((s: String) => {
      val toks = if (s == null) Seq.empty[String] else tok.scala(s)
      val dl = toks.length.toLong
      toks.groupBy(identity)
        .map { case (t, g) => (t, g.size.toLong, dl) }.toSeq
    })
    docs
      // id keeps its natural type (string/uuid pks must not null out
      // under a long cast); search treats it opaquely
      .select(col(idCol).as("id"),
        explode(postUdf(col(textCol))).as("p"))
      .select(col("id"), col("p._1").as("term"), col("p._2").as("tf"),
        col("p._3").as("dl"))
      .withColumn("bucket", pmod(hash(col("term")), lit(buckets)))
  }

  /** The layout's bucket count AND tokenizer, recorded next to the
    * data: pruning with a DIFFERENT modulus than the writer's would
    * silently drop terms, and tokenizing queries with a DIFFERENT
    * tokenizer than the one that wrote the postings silently mismatches
    * every term — so the layout is self-describing and the load side
    * never guesses either. Format: line 1 = modulus, line 2 = tokenizer
    * model name (older layouts carry line 1 only). */
  private val BucketsMarker = "_graft_buckets"

  def writeBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                         dir: String, buckets: Int,
                         tokenizer: String = "simple"): Unit =
    graft.io.Markers.write(spark, dir, BucketsMarker,
      s"$buckets\n$tokenizer")

  /** Record the modulus for an APPEND-grown layout, refusing to change
    * it once declared: rows bucketed `pmod(hash, b')` appended into a
    * directory whose marker (and existing partitions) say `b` would mix
    * two moduli while queries prune with only one — the silent-term-loss
    * failure the self-describing marker exists to prevent. Restarting
    * ingest with the recorded modulus is a no-op; any other value
    * throws. ([[writePostings]] is exempt: its static overwrite replaces
    * the entire layout, marker included, so a new modulus is fresh.) */
  def ensureBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                          dir: String, buckets: Int,
                          tokenizer: String = "simple"): Unit =
    readLayoutMeta(spark, dir) match {
      case Some((existing, _)) if existing != buckets =>
        throw new IllegalStateException(
          s"$dir is a postings layout bucketed mod $existing; " +
            s"appending with buckets=$buckets would mix moduli and " +
            "silently drop terms from pruned queries. Pass " +
            s"buckets=$existing, or rewrite the layout (writePostings) " +
            "to change the modulus.")
      case Some((_, Some(tok))) if tok != tokenizer =>
        throw new IllegalStateException(
          s"$dir was tokenized with '$tok'; appending rows tokenized " +
            s"with '$tokenizer' would mix term spaces and silently " +
            "mismatch queries. Pass the recorded tokenizer, or rewrite " +
            "the layout (writePostings) to change it.")
      case Some((_, Some(_))) => () // both recorded and matching
      case Some((_, None)) =>
        // pre-tokenizer-marker layout: upgrade it with the declared
        // tokenizer so future restarts are checked
        writeBucketsMarker(spark, dir, buckets, tokenizer)
      case None => writeBucketsMarker(spark, dir, buckets, tokenizer)
    }

  def readBucketsMarker(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Option[Int] =
    readLayoutMeta(spark, dir).map(_._1)

  /** (modulus, recorded tokenizer) from the layout marker; tokenizer is
    * None for layouts written before it was recorded. */
  def readLayoutMeta(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Option[(Int, Option[String])] =
    graft.io.Markers.read(spark, dir, BucketsMarker).map { content =>
      val lines = content.split("\n").map(_.trim).filter(_.nonEmpty)
      (lines(0).toInt, if (lines.length > 1) Some(lines(1)) else None)
    }

  /** Write a batch corpus as the term-bucketed at-rest postings layout
    * (the bootstrap for [[graft.streaming.Stream.ingestBm25]]'s
    * continuous appends). */
  def writePostings(docs: DataFrame, idCol: String, textCol: String,
                    dir: String,
                    tok: graft.functions.Tokenizers.Tokenizer =
                      graft.functions.Tokenizers.Simple,
                    buckets: Int = 64): Unit = {
    postingsOf(docs, idCol, textCol, tok, buckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    writeBucketsMarker(docs.sparkSession, dir, buckets, tok.name)
  }

  /** Batch APPEND into a [[writePostings]] layout made REPLAY-SAFE by
    * doc id — the keyword member of the graduated-root maintenance
    * family ([[graft.ops.Ann.appendIdempotent]]'s pattern):
    * docs whose id already carries postings in the buckets this batch
    * touches are dropped before the append, so a crash-redelivered
    * foreachBatch batch appends NOTHING (id-keyed replay safety under
    * the immutable-doc contract). The existence probe reads ONLY
    * touched bucket directories (batch-term-bounded, never
    * corpus-bounded); the batch tokenizes under the LAYOUT's recorded
    * tokenizer or refuses (appended postings under a different one
    * would silently mismatch every query term). Returns docs actually
    * appended. Reload stats ([[loadStoredPostings]]) after growth. */
  def appendPostingsIdempotent(spark: org.apache.spark.sql.SparkSession,
                               dir: String, docs: DataFrame,
                               idCol: String, textCol: String,
                               tok: graft.functions.Tokenizers.Tokenizer =
                                 graft.functions.Tokenizers.Simple): Long = {
    val (buckets, _) = readLayoutMeta(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"appendPostingsIdempotent: $dir has no $BucketsMarker marker " +
          "— not a graft postings layout"))
    // tokenizer identity via the ONE marker validator (mismatch
    // refuses; a pre-tokenizer-marker layout is upgraded with the
    // declared tokenizer, never assumed 'simple')
    ensureBucketsMarker(spark, dir, buckets, tok.name)
    graft.ops.Ann.requireBatchLayout(spark, dir)
    // ROW-level idempotency on (id, term) — a doc's postings span
    // MANY bucket directories, so doc-level presence probing would
    // turn a torn (partially committed) append into permanent loss of
    // the doc's remaining rows on redelivery; row-level anti-join
    // heals a torn append (only missing rows land), a full redelivery
    // appends nothing, and zero-postings docs never count. The
    // existence probe still reads only touched bucket directories (a
    // term's bucket is deterministic).
    val posts = postingsOf(docs, idCol, textCol, tok, buckets)
      .localCheckpoint(true)
    val touched = graft.ops.Ann.distinctIntKeys(posts, col("bucket"))
    if (touched.isEmpty) return 0L
    val stored = spark.read.parquet(dir)
    val existing = stored.filter(col("bucket").isin(touched: _*))
      .select(col("id"), col("term"))
    // size-gated broadcast pin — foreachBatch runs AQE-off and the
    // unprojected file stats push this per-batch probe into a
    // sort-merge otherwise (Ann.broadcastExistingIfBounded's contract)
    val fresh = posts.join(
        graft.ops.Ann.broadcastExistingIfBounded(existing),
        Seq("id", "term"), "left_anti")
      .localCheckpoint(true)
    if (fresh.isEmpty) return 0L
    graft.ops.Ann.requireAppendSchema(stored.schema, fresh.schema,
      Set("bucket"), "appendPostingsIdempotent")
    val n = fresh.select(col("id")).distinct().count()
    fresh.write.mode("append").partitionBy("bucket").parquet(dir)
    n
  }

  /** Load a stored postings layout into a queryable [[Bm25Index]]:
    * re-derives N and avgdl with one aggregate (exact integer sums —
    * order-independent) and declares termStats lazily; [[search]]/
    * [[searchTerms]]/[[scoreColumn]] then work unchanged over the
    * grown index. Call again after appends for fresh stats. */
  def loadStoredPostings(spark: org.apache.spark.sql.SparkSession,
                         dir: String,
                         tokenizer: String = ""): Bm25Index = {
    // bucket count AND tokenizer come from the layout's own marker —
    // pruning with a guessed modulus would silently drop terms, and
    // tokenizing queries differently from the writer would silently
    // mismatch every term. `tokenizer` = "" (the default) defers to the
    // recorded one; an explicit value must MATCH the recorded one.
    val (buckets, recordedTok) = readLayoutMeta(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"$dir has no $BucketsMarker marker — not a graft postings " +
          "layout (writePostings / Stream.ingestBm25 record it)"))
    val tok =
      if (tokenizer.isEmpty) recordedTok.getOrElse("simple")
      else {
        recordedTok.filter(_ != tokenizer).foreach { rec =>
          throw new IllegalStateException(
            s"$dir was tokenized with '$rec' but load requested " +
              s"'$tokenizer' — queries would silently mismatch the " +
              "stored term space")
        }
        tokenizer
      }
    // fail at load (not first query) when the tokenizer is unknown —
    // e.g. a runtime-registered vocab not re-registered this session
    graft.functions.Tokenizers.byName(tok)
    // keep the bucket partition column: query paths prune by it
    val postings = spark.read.parquet(dir)
      .select("id", "term", "tf", "dl", "bucket")
    val r = postings.groupBy("id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val nDocs = r.getLong(0)
    val avgdl = if (nDocs == 0 || r.isNullAt(1)) 0.0
      else r.getLong(1).toDouble / nDocs
    Bm25Index(postings, termDf(postings), nDocs, avgdl, tok,
      buckets)
  }

  /** Delete documents' postings from an at-rest layout
    * ([[writePostings]]): rewrites ONLY the bucket partitions that
    * contain the doomed ids' rows (dynamic partition overwrite —
    * [[Ann.deleteStoredIds]] generalized over the partition column).
    * Because [[loadStoredPostings]] re-derives N/avgdl/df from the
    * stored rows, a stored delete is EXACTLY equivalent to rebuilding
    * the index without those docs — tf/dl are per-doc quantities, so
    * surviving rows are untouched. Returns removed row count.
    *
    * Batch layouts only: a streaming-grown dir is governed by its
    * file-sink commit log, which a batch overwrite would desync —
    * compact (read + writePostings) first. */
  def deleteStoredPostings(spark: org.apache.spark.sql.SparkSession,
                           dir: String, ids: DataFrame): Long =
    Ann.deleteStoredIds(spark, dir, "id", ids, cellCol = "bucket")

  /** Scalar BM25 score column against `query`, with the index's corpus
    * statistics (N, avgdl, per-query-term df) bound in as literals —
    * the declarative form of the reference's
    * `kw <&> to_bm25query('idx', q)` (client.py:356-380): write
    * `docs.withColumn("score", Bm25.scoreColumn(idx, q, col("text")))
    * .orderBy(desc("score"), asc(id)).limit(k)` and, with the column
    * registered ([[graft.plans.Binding.Bm25]]), the plan
    * rewrites into a candidate semi-join from the postings with this
    * expression as the exact re-rank. Un-registered it evaluates
    * brute-force (full scan, score 0 for no-term docs).
    *
    * One bounded driver action at construction: the dfs of the query's
    * own terms (≤ |query terms| rows) — the same driver-side budget as
    * the rewrite rule's probe cells.
    *
    * STALENESS: the embedded stats are frozen at CONSTRUCTION, while a
    * resolver-backed registration re-resolves its index per rewrite —
    * a retained Column re-executed after the corpus changes would rank
    * fresh candidates under stale stats. Rebuild the column per query
    * against the current index (Engine.keywordScoreColumn does —
    * its index cache is version-keyed). */
  def scoreColumn(index: Bm25Index, query: String,
                  text: org.apache.spark.sql.Column,
                  roundTo: Int = 6): org.apache.spark.sql.Column = {
    val tok = graft.functions.Tokenizers.byName(index.tokenizer)
    val terms = tok.scala(query).distinct
    val dfMap = termDfs(index, terms)
    org.apache.spark.sql.graft.VecExprs.bm25Score(text, terms,
      terms.map(dfMap.getOrElse(_, 0L)), index.n, index.avgdl,
      tok, roundTo)
  }

  /** Batch keyword search: top-k docs for EVERY query row in one job —
    * the BM25 twin of [[Ann.knnJoin]], what an evaluation loop or a
    * query-log replay runs at scale instead of one driver round-trip
    * per query. `queries`: (qIdCol, qTextCol). Returns
    * (qid, id, score, rank), rank 1-based per query, ties
    * (score desc, id asc).
    *
    * Scale shape: the tokenized (qid, term) relation and the per-term
    * df stats (aggregated from the term-pruned postings — never the
    * full vocabulary) are both query-bounded broadcasts; candidate
    * scoring is one map-side postings join + a groupBy(qid, id); the
    * per-query top-k is a rank-window over per-query partitions. */
  def searchBatch(index: Bm25Index, queries: DataFrame, qIdCol: String,
                  qTextCol: String, k: Int, roundTo: Int = 6): DataFrame =
    searchBatchImpl(index, queries, qIdCol, qTextCol, k, roundTo, None)

  /** [[searchBatch]] under a metadata predicate — the batch form of
    * [[searchFiltered]] with the IDENTICAL contract: corpus statistics
    * (df, N, avgdl) stay WHOLE-corpus (surviving (qid, id) scores are
    * bit-identical to the unfiltered batch), the `allowed` id set only
    * thins which docs can be returned, and the semi-join runs BEFORE
    * the per-(qid, id) scoring cut so disallowed docs never consume
    * any query's rank slots (no starvation). */
  def searchBatchFiltered(index: Bm25Index, queries: DataFrame,
                          qIdCol: String, qTextCol: String, k: Int,
                          allowed: DataFrame, allowedIdCol: String,
                          roundTo: Int = 6): DataFrame =
    searchBatchImpl(index, queries, qIdCol, qTextCol, k, roundTo,
      Some((allowed, allowedIdCol)))

  private def searchBatchImpl(index: Bm25Index, queries: DataFrame,
                              qIdCol: String, qTextCol: String, k: Int,
                              roundTo: Int,
                              allowed: Option[(DataFrame, String)])
      : DataFrame = {
    val tok = graft.functions.Tokenizers.byName(index.tokenizer)
    val tokensUdf = udf((s: String) =>
      if (s == null) Seq.empty[String] else tok.scala(s).distinct)
    val spark = queries.sparkSession
    import spark.implicits._
    // qid keeps the caller's type: postingsOf supports opaque string
    // doc ids and the query side must too — a cast("long") turned
    // string qids into NULL, merging every query into one group
    val qTerms = queries.select(col(qIdCol).as("qid"),
      explode(tokensUdf(col(qTextCol))).as("term"))
    // The distinct batch terms are collected once — query logs are
    // driver-bounded (they are broadcast below regardless), the same
    // budget as the single-query path — so that on a stored layout
    // BOTH the stats aggregation and the scoring join carry literal
    // bucket partition filters and scan only the query terms' own
    // bucket directories (previously only the single-query path
    // pruned; the batch path scanned every bucket).
    val termList = qTerms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    // df per DISTINCT query term, from the pruned postings (a term
    // shared by many queries is counted once)
    val tStats = termDf(bucketPruned(index, termList)
      .join(broadcast(termList.toDF("term")), "term"))
    val perTermAll = bucketPruned(index, termList)
      .join(broadcast(qTerms), "term")
      .join(broadcast(tStats), "term")
      .withColumn("w",
        idf(col("df"), index.n) * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / index.avgdl)))
    // the predicate semi-join runs AFTER the whole-corpus stats join
    // (weights untouched) and BEFORE scoring/ranking (no doc the
    // predicate rejects consumes a rank slot) — searchTermsFiltered's
    // exact placement, batch form
    val perTerm = allowed match {
      case None => perTermAll
      case Some((a, idCol)) => perTermAll
        .join(a.select(col(idCol).as("id")), Seq("id"), "left_semi")
    }
    val scored = perTerm.groupBy("qid", "id")
      .agg(round(sum(col("w")), roundTo).as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "score", "rank")
  }
}
