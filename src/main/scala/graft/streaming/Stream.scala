package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.7) — its only
  * incremental notion is the txn buffer, which [[graft.core.Txn]] already
  * covers in batch. These operators are the engine's forward path for
  * continuous ingest at scale: event-time windows bounded by watermarks
  * (state is dropped once the watermark passes), and explicit keyed state
  * for sessionization via `flatMapGroupsWithState`.
  *
  * The same DataFrame code runs in batch mode (spark.read) and streaming
  * mode (spark.readStream) — tested both ways.
  */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double)
final case class SessionOut(user_id: Long, n_events: Long, total: Double)

object Stream {

  /** Tumbling event-time window counts with a watermark: at 1000
    * executors the state store holds only windows newer than the
    * watermark — unbounded input, bounded state. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming exact dedup for continuous document ingest — the
    * incremental form of the batch hash-dedup (ops/Dedup.exactDedup,
    * reference digest dedup load.py:46): drop every record whose content
    * digest was already seen, with state bounded by the event-time
    * watermark (a duplicate arriving later than `watermark` after the
    * original is passed through — the documented at-scale trade; widen
    * the watermark to widen the guarantee). Works identically in batch
    * mode, where it degenerates to a full exact dedup. */
  def dedupByDigest(docs: DataFrame, tsCol: String, contentCol: String,
                    watermark: String = "1 hour"): DataFrame = {
    val digested = docs
      .withColumn("__digest", sha2(col(contentCol).cast("string"), 256))
    val deduped =
      if (docs.isStreaming)
        digested.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark("__digest")
      else // batch twin: the bounded-state operator is streaming-only
        digested.dropDuplicates("__digest")
    deduped.drop("__digest")
  }

  /** Stream-stream interval join: each left event pairs with right
    * events of the same key whose `ts` falls in
    * `[left.ts − window, left.ts)` — the continuous form of
    * [[graft.ops.Temporal.rangeJoin]], expressed as Spark's NATIVE
    * stream-stream join (equi-key + time-range condition). Both sides
    * carry the watermark, which bounds the join state: rows older than
    * watermark + window are evicted from the state store, so unbounded
    * streams run with bounded memory at any executor count. In batch
    * mode the same plan is an ordinary equi-join + range filter. Left
    * columns keep their names; right ts/value columns come back
    * `r_`-prefixed. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   tsCol: String, window: String,
                   rightVals: Seq[String],
                   watermark: String = "1 hour"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(tsCol, watermark)
            else left
    val r0 = right
      .select((Seq(col(key), col(tsCol).as(s"r_$tsCol")) ++
        rightVals.map(c => col(c).as(s"r_$c"))): _*)
      .withColumnRenamed(key, s"__rk")
    val r = if (right.isStreaming)
        r0.withWatermark(s"r_$tsCol", watermark)
      else r0
    l.join(r,
      col(key) === col("__rk") &&
        col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $window") &&
        col(s"r_$tsCol") < col(tsCol))
      .drop("__rk")
  }

  /** Continuous IVF-index ingest — the streaming twin of
    * [[graft.ops.Ann.writePartitioned]]: each arriving vector is
    * assigned to its nearest cell ([[graft.ops.Ann.assign]] is a pure
    * broadcast-variable map, so it is streaming-safe with zero state)
    * and appended to the cell-partitioned at-rest layout that
    * [[graft.ops.Ann.searchIvfStored]] probes with directory pruning.
    * The index GROWS under queries with no rebuild — each micro-batch
    * lands its rows in their cell directories, exactly-once via the
    * file-sink commit log — which is the continuous-ingest shape the
    * reference's insert-then-query loop implies at corpus scale. */
  def ingestIvf(vectors: DataFrame, vecCol: String,
                model: graft.ops.Ann.IvfModel,
                metric: graft.ops.Ann.Metric, dir: String,
                checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // pin the assignment model: a restart with a retrained model would
    // silently mix two cell geometries in one layout (the IVF twin of
    // the BM25 bucket-modulus marker)
    startFileSink(vectors.sparkSession, dir, checkpoint,
        Some(model.idCol))(
      graft.ops.Ann.ensureIvfModelMarker(vectors.sparkSession, dir, model))(
      graft.ops.Ann.assign(vectors, vecCol, model, metric))

  /** The start order of every file-sink ingest, written once: refuse a
    * `dir` that already holds batch data ([[requireStreamableLayout]]),
    * then `pin` the layout's markers and side tables, then start
    * `rows` appending exactly-once into `dir` through the file-sink
    * commit log, partitioned by `partitionCol` when given. Refusing
    * first is what keeps a refused start from writing anything: a pin
    * run first would already have overwritten a batch root's side
    * tables and markers. */
  private def startFileSink(spark: org.apache.spark.sql.SparkSession,
                            dir: String, checkpoint: String,
                            partitionCol: Option[String])(pin: => Unit)(
      rows: => DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    requireStreamableLayout(spark, dir)
    pin
    val w = rows.writeStream
    partitionCol.fold(w)(w.partitionBy(_))
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .start(dir)
  }

  /** Refuse to START a file-sink stream into a directory that already
    * holds BATCH data (a compacted layout, plain parquet files, or a
    * layout partitioned by ANY column): the sink's fresh
    * `_spark_metadata` commit log becomes the authoritative listing and
    * silently hides every pre-existing file — all prior rows would
    * vanish from reads. The loud mirror of
    * [[graft.ops.Ann.requireBatchLayout]] (which guards the opposite
    * direction). A legit RESUME is fine: the prior run's commit log is
    * present, so the restarted sink extends it; metadata-only dirs
    * (`_graft_buckets` marker, `_SUCCESS`) are fine too. */
  private[graft] def requireStreamableLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")) &&
        fs.listStatus(root).exists { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
      throw new IllegalStateException(
        s"$dir holds batch data (visible files/partition dirs, no " +
          "_spark_metadata commit log). Starting a file-sink stream " +
          "here would write a fresh commit log that hides every " +
          "existing file from reads. Continue growth with batch " +
          "appends, or stream into a new directory.")
  }

  /** Continuous keyword-index ingest — the BM25 twin of [[ingestIvf]]:
    * per-doc postings (id, term, tf, dl) are a MAP-ONLY function of
    * each document ([[graft.ops.Bm25.postingsOf]] — tokenize once,
    * count within the doc, no cross-doc aggregation), so a document
    * stream appends its postings exactly-once via the file-sink commit
    * log into the term-bucketed at-rest layout.
    * [[graft.ops.Bm25.loadStoredPostings]] re-derives corpus stats at
    * query time, and every query path (search / searchBatch /
    * scoreColumn / the declarative rewrite) works unchanged over the
    * GROWN index with no rebuild — the incremental insert-then-query
    * loop the reference gets from PostgreSQL's bm25 index
    * (client.py:146-174). */
  def ingestBm25(docs: DataFrame, idCol: String, textCol: String,
                 dir: String, checkpoint: String,
                 tok: graft.functions.Tokenizers.Tokenizer =
                   graft.functions.Tokenizers.Simple,
                 buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // the layout is self-describing: record the bucket modulus AND
    // tokenizer up front so loads never guess either — and REFUSE to
    // restart ingest with a different modulus or tokenizer over an
    // existing layout (mixed moduli silently drop terms; mixed
    // tokenizers silently mismatch queries)
    startFileSink(docs.sparkSession, dir, checkpoint, Some("bucket"))(
      graft.ops.Bm25.ensureBucketsMarker(docs.sparkSession, dir, buckets,
        tok.name))(
      graft.ops.Bm25.postingsOf(docs, idCol, textCol, tok, buckets))

  /** Continuous sparse-index ingest — the third of the at-rest ingest
    * trio ([[ingestIvf]] dense cells, [[ingestBm25]] keyword buckets):
    * a document stream's sparse vectors invert into postings (one row
    * per non-zero — a MAP-ONLY function of each document, no cross-doc
    * aggregation) and append exactly-once via the file-sink commit log
    * into the bucket-mod layout of
    * [[graft.functions.Sparse.writePostings]].
    * [[graft.functions.Sparse.searchStored]] prunes the grown layout's
    * unprobed bucket dirs with no rebuild, and
    * [[compactStored]]`(dir, "__b")` graduates it to batch. */
  def ingestSparse(docs: DataFrame, idCol: String, idxCol: String,
                   valCol: String, dir: String, checkpoint: String,
                   buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // pin the modulus: a restart with a different one would mix two
    // partition geometries in one layout (the sparse twin of the BM25
    // modulus rule)
    startFileSink(docs.sparkSession, dir, checkpoint, Some("__b"))(
      graft.functions.Sparse.ensureBucketsMarker(docs.sparkSession, dir,
        buckets))(
      graft.functions.Sparse.invertedPostings(docs, idCol, idxCol, valCol)
        .withColumn("__b", pmod(col("bucket"), lit(buckets))))

  /** Continuous MULTIVEC-index ingest — the fourth of the at-rest
    * ingest family ([[ingestIvf]] dense cells, [[ingestBm25]] keyword
    * buckets, [[ingestSparse]] sparse buckets): each arriving doc's
    * token matrix is summarized to its persisted token-mean
    * ([[graft.ops.Ann.tokenMeanCol]] — a pure column expression, so
    * streaming-safe with zero state) and cosine-assigned to its cell
    * (the reference pins `spherical_centroids` for `vector_maxsim_ops`,
    * /root/reference/vechord/spec.py:459-464 — so the metric is PINNED
    * here, not a parameter), then appended exactly-once into the
    * `partitionBy(centroid_id)` layout of
    * [[graft.ops.Ann.writePartitioned]] that the maxsim read path
    * ([[graft.ops.Ann.maxsimCandidatesIvf]] phase-1 over the persisted
    * means, exact maxsim re-rank over probed cells only) prunes by
    * directory. Same refusal guards as the trio: no streaming into a
    * batch layout ([[requireStreamableLayout]]), the assignment model
    * fingerprint pinned by marker (a restart with a retrained model
    * would silently mix two cell geometries). */
  def ingestMaxsim(docs: DataFrame, mvCol: String, dim: Int,
                   model: graft.ops.Ann.IvfModel, dir: String,
                   checkpoint: String, meanCol: String = "mv_mean")
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestIvf(
      docs.withColumn(meanCol,
        graft.ops.Ann.tokenMeanCol(col(mvCol), dim)),
      meanCol, model, graft.ops.Ann.Cosine, dir, checkpoint)

  /** Continuous quantized ingest (SQ / PQ / 1-bit) — the QUANTIZED
    * member of the at-rest ingest family (the reference's vchordrq
    * keeps quantized codes inside IVF cells, spec.py:437-444): each
    * vector assigns to its cell and encodes under `index`'s trained
    * artifacts ([[graft.ops.Ann.QuantIndex.encode]] — map-only apart
    * from a broadcast join against the ≤k-row side table,
    * bit-identical to the batch build's codes), then appends
    * exactly-once into the family's cell-partitioned data subdir
    * (`encoded/` for PQ, `quantized/` otherwise). The trained
    * artifacts, geometry marker, artifact digest and model
    * fingerprint are pinned at the root before the stream starts
    * ([[graft.ops.Ann.ensureQuantizedRoot]]); a restart with another
    * geometry, retrained artifacts or a retrained model is refused,
    * and so is a start into a data subdir that holds batch rows —
    * before anything is written. `metric` is checked, not trusted: it
    * must lie in the space `index` fixes ([[graft.ops.Ann.requireSpace]]
    * — `Cosine` for a spherical index, anything else otherwise), and
    * the flag the root pins is the index's own. After
    * [[compactStored]](`dir/<data subdir>`, "centroid_id") graduation
    * the root IS a [[graft.ops.Ann.writeQuantized]] layout:
    * [[graft.ops.Ann.searchStored]] and `attachStoredIndex` work
    * unchanged, and it keeps growing through [[ingestAppend]] (raw
    * rows into `fresh/`). */
  def ingestQuantized(vectors: DataFrame, vecCol: String,
                      index: graft.ops.Ann.QuantIndex,
                      metric: graft.ops.Ann.Metric,
                      dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    graft.ops.Ann.requireSpace("the index", index.spherical, metric)
    startFileSink(spark, s"$dir/${index.family.dataSub}", checkpoint,
        Some(index.model.idCol))(
      graft.ops.Ann.ensureQuantizedRoot(spark, dir, index))(
      index.encode(vectors, vecCol, metric))
  }

  /** Graduate a streamed-ingest range root: `root/rows` was grown by
    * [[ingestIvf]] (cell-partitioned appends, model fingerprint
    * pinned); this compacts it, then computes centroids + covering
    * radii OVER THE FULL SURVIVING ROW SET and writes them beside it —
    * after which the root IS a [[graft.ops.Ann.writeRangeIndex]]
    * layout ([[graft.ops.Ann.rangeSearchStoredSelf]] works unchanged).
    * Radii at graduation time is the SOUND order for appends: a
    * streamed row farther from its centroid than any earlier radius is
    * covered because the max runs after the last append
    * ([[graft.ops.Ann.writeRangeIndex]]'s append asymmetry — deletes
    * are conservative, appends are not). Returns the compaction's
    * rewritten-cell count. */
  def graduateRangeIndex(spark: org.apache.spark.sql.SparkSession,
                         root: String, model: graft.ops.Ann.IvfModel,
                         vecCol: String,
                         maxFilesPerCell: Int = 4): Long = {
    val n = compactStored(spark, s"$root/rows", model.idCol,
      maxFilesPerCell)
    val assigned = spark.read.parquet(s"$root/rows")
    model.centroids.write.mode("overwrite")
      .parquet(s"$root/centroids")
    graft.ops.Ann.cellRadii(assigned, vecCol, model, graft.ops.Ann.L2)
      .write.mode("overwrite").parquet(s"$root/radii")
    graft.ops.Ann.ensureIvfModelMarker(spark, root, model)
    n
  }

  /** Continuous ingest into a COMPOSED matryoshka-IVF root
    * ([[graft.ops.Ann.writeMatryoshkaIvf]]'s streamed twin — the
    * sixth lifecycle form of the composed layout, next to the flat
    * [[ingestMatryoshka]]): each row is assigned and prefix-sliced
    * under the pinned geometry by the SAME row builder the batch
    * write uses (one builder, the two paths cannot slice or assign
    * differently), appending exactly-once cell-partitioned. Both
    * markers and the centroids land BEFORE any row (a crash
    * mid-stream leaves a readable self-contained geometry; a restart
    * with different dims/metric or a retrained model refuses). After
    * [[compactStored]](`dir/rows`) graduation the root IS a
    * writeMatryoshkaIvf layout: [[graft.ops.Ann.searchStored]],
    * [[graft.ops.Ann.appendIdempotent]] (streamed: [[ingestAppend]])
    * and the cell-confined delete all work unchanged. */
  def ingestMatryoshkaIvf(vectors: DataFrame, idCol: String,
                          vecCol: String, dims: Int,
                          model: graft.ops.Ann.IvfModel,
                          metric: graft.ops.Ann.Metric,
                          dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    require(dims >= 1, s"ingestMatryoshkaIvf: dims >= 1, got $dims")
    graft.ops.Ann.requireMatryoshkaMetric(metric, "ingestMatryoshkaIvf")
    // EVERY refusal runs before ANY mutation: a refused start must
    // leave the directory byte-identical — writing markers or
    // rewriting centroids/ first would pollute an unrelated batch dir
    // (Ann.cellRoot would then misroute it) or, worse, tear
    // down a healthy graduated root's centroids before refusing
    startFileSink(spark, s"$dir/rows", checkpoint, Some(model.idCol)) {
      // the ONE marker composer (Ann.matryoshkaMarker) — this path and
      // the batch write cannot drift
      val want = graft.ops.Ann.matryoshkaMarker(dims, metric)
      graft.io.Markers.read(spark, dir, "_graft_matryoshka_ivf") match {
        case None => ()
        case Some(m) => require(m == want,
          s"ingestMatryoshkaIvf: $dir is pinned to '$m' but this ingest " +
            s"slices '$want' — one layout, one prefix geometry")
      }
      graft.ops.Ann.ensureIvfModelMarker(spark, dir, model)
      graft.io.Markers.write(spark, dir, "_graft_matryoshka_ivf", want)
      model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    }(graft.ops.Ann.matryoshkaIvfRows(vectors, idCol, vecCol, dims,
      model, metric, Nil))
  }

  /** Continuous APPEND into a GRADUATED cell root — the one
    * maintenance stream of every self-contained cell family (dense and
    * maxsim dense, composed matryoshka-IVF, range, quantized). A
    * graduated root is a batch layout (a restarted file sink's fresh
    * commit log would hide it — [[requireStreamableLayout]]'s
    * refusal), so its growth runs as foreachBatch over the id-keyed
    * replay-safe [[graft.ops.Ann.appendIdempotent]]: a
    * crash-redelivered batch appends nothing, and the family's append
    * steps come from the resolved `root` (a range root grows its radii
    * before a batch's rows land, a quantized root lands raw rows in
    * `fresh/`, encoded on read). `rows` must carry the column the root
    * assigns on; a maxsim root's is the token mean, added with
    * [[graft.ops.Ann.tokenMeanCol]] as the root's build added it. A
    * flat [[graft.ops.Ann.writePartitioned]] layout grows only after
    * [[graft.ops.Ann.graduateDenseRoot]] promotes it.
    *
    * After each batch's append the policy runs: every cell past
    * `splitMaxRows` splits ([[graft.ops.Ann.splitOverfull]], under the
    * root's own pinned geometry; a sub-cell still overfull catches the
    * next batch's pass). A quantized root's split refuses while
    * `fresh/` exists, so there `compactRatio` folds `fresh/` once it
    * outgrows ratio·|main|
    * ([[graft.ops.Ann.compactQuantizedFreshIfNeeded]] — results
    * identical across the trigger) and the split runs right after a
    * fold.
    *
    * At START, before any mutation, it refuses a non-positive
    * `splitMaxRows`, a malformed `compactRatio` or one on a
    * non-quantized root, a quantized `splitMaxRows` without
    * `compactRatio` (it could never fire), a root without a pinned IVF
    * model marker, and `rows` without the root's assign column. Then
    * it heals crash debris ([[graft.ops.Ann.healRoot]] — the stream
    * owns policies whose swaps can crash mid-batch, so it restarts over
    * its own debris instead of wedging) and reads `centroids/` (loud
    * when missing). */
  def ingestAppend(rows: DataFrame, idCol: String,
                   root: graft.ops.Ann.CellRoot, checkpoint: String,
                   splitMaxRows: Option[Long] = None,
                   compactRatio: Option[Double] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Ann
    val (spark, dir) = (root.spark, root.dir)
    val quantized = root match {
      case q: Ann.CellRoot.Quantized => Some(q)
      case _ => None
    }
    startForeachBatch(rows, checkpoint) {
      splitMaxRows.foreach(m => require(m > 0,
        s"ingestAppend: splitMaxRows must be positive, got $m — a " +
          "non-positive threshold would flag every cell every batch"))
      compactRatio.foreach { r =>
        require(quantized.isDefined, s"ingestAppend: compactRatio " +
          s"folds a quantized root's fresh/ side table — $dir is not a " +
          "quantized root")
        require(r >= 0.0 && !r.isNaN && !r.isInfinity,
          s"ingestAppend: compactRatio must be a finite ratio >= 0, " +
            s"got $r")
      }
      require(quantized.isEmpty || splitMaxRows.isEmpty ||
          compactRatio.isDefined,
        "ingestAppend: splitMaxRows on a quantized root needs " +
          "compactRatio — the overfull split runs on the compacted " +
          "(fresh-less) root, so the two thresholds form one cadence")
      if (Ann.readIvfModelMarker(spark, dir).isEmpty)
        throw new IllegalStateException(
          s"ingestAppend: $dir has no pinned IVF model marker — not a " +
            "graduated root")
      val vec = root.assignCol
      require(rows.columns.contains(vec),
        s"ingestAppend: $dir assigns on '$vec', which the stream lacks " +
          s"(columns ${rows.columns.mkString(", ")})")
      Ann.healRoot(spark, dir)
      spark.read.parquet(s"$dir/centroids") // loud when centroids miss
    } { batch =>
      Ann.appendIdempotent(root, batch, idCol)
      quantized match {
        case Some(q) => compactRatio.foreach { r =>
          if (Ann.compactQuantizedFreshIfNeeded(q, idCol, r).isDefined)
            splitMaxRows.foreach(m => Ann.splitOverfull(q, m))
        }
        case None => splitMaxRows.foreach(m => Ann.splitOverfull(root, m))
      }
    }
  }

  /** The start order of every foreachBatch append stream, written
    * once ([[startFileSink]]'s shape): run `refuse` — the seat's START
    * refusals, then any heal — and only then start `rows` through
    * `onBatch` per micro-batch, checkpointed at `checkpoint`. A refused
    * start starts no stream. */
  private def startForeachBatch(rows: DataFrame, checkpoint: String)(
      refuse: => Unit)(onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    refuse
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
  }

  /** Continuous APPEND into a GRADUATED BM25 postings layout — the
    * keyword member of the graduated-root maintenance family
    * ([[ingestAppend]]'s pattern): [[ingestBm25]] grows a fresh
    * commit-log dir, but a compacted layout is batch, so continued
    * growth runs as foreachBatch over the id-keyed replay-safe
    * [[graft.ops.Bm25.appendPostingsIdempotent]] (which also pins the
    * layout's recorded tokenizer). Fails at START on a non-layout. */
  def ingestBm25Append(docs: DataFrame, idCol: String, textCol: String,
                       dir: String, checkpoint: String,
                       tok: graft.functions.Tokenizers.Tokenizer =
                         graft.functions.Tokenizers.Simple)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    startForeachBatch(docs, checkpoint) {
      if (graft.ops.Bm25.readBucketsMarker(spark, dir).isEmpty)
        throw new IllegalStateException(
          s"ingestBm25Append: $dir has no postings marker — not a " +
            "graduated writePostings layout")
    } { batch =>
      graft.ops.Bm25.appendPostingsIdempotent(spark, dir, batch, idCol,
        textCol, tok)
    }
  }

  /** Continuous APPEND into a GRADUATED sparse postings layout —
    * [[ingestBm25Append]]'s sparse twin over
    * [[graft.functions.Sparse.appendPostingsIdempotent]]. */
  def ingestSparseAppend(docs: DataFrame, idCol: String, idxCol: String,
                         valCol: String, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    startForeachBatch(docs, checkpoint) {
      if (graft.functions.Sparse.readBucketsMarker(spark, dir).isEmpty)
        throw new IllegalStateException(
          s"ingestSparseAppend: $dir has no postings marker — not a " +
            "graduated sparse writePostings layout")
    } { batch =>
      graft.functions.Sparse.appendPostingsIdempotent(spark, dir, batch,
        idCol, idxCol, valCol)
    }
  }

  /** Continuous matryoshka ingest — the FLAT member of the at-rest
    * ingest family (dense IVF, BM25, sparse, maxsim, PQ, SQ, 1-bit,
    * range — and now the truncation layout): each row's prefix is
    * sliced under the ROOT's pinned `dims`
    * ([[graft.ops.Ann.ensureMatryoshkaRoot]] — established before the
    * stream starts; a restart with a different width is refused) and
    * (id, emb_pre, emb_full) appends exactly-once into `dir/rows`.
    * Pure map — no model, no join: the cheapest ingest of the family.
    * After [[compactFlat]](`dir/rows`) graduation the root IS a
    * [[graft.ops.Ann.writeMatryoshka]] layout:
    * [[graft.ops.Ann.matryoshkaTopKStored]] works unchanged (and its
    * operator-internal phase-1 column-prune assert holds over the
    * streamed files too). */
  def ingestMatryoshka(vectors: DataFrame, idCol: String,
                       vecCol: String, dims: Int,
                       dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    val v = col(vecCol).cast("array<double>")
    startFileSink(spark, s"$dir/rows", checkpoint, None)(
      graft.ops.Ann.ensureMatryoshkaRoot(spark, dir, dims))(
      vectors.select(col(idCol),
        org.apache.spark.sql.functions.slice(v, lit(1), lit(dims))
          .as("emb_pre"),
        v.as("emb_full")))
  }

  /** Graduate a FLAT (unpartitioned) streamed layout — the
    * [[compactStored]] twin for roots with no cell column (today:
    * the matryoshka `rows/`): read THROUGH the commit log (exactly
    * the committed rows — uncommitted stragglers never survive),
    * rewrite into a sibling `<dir>__next`, then swap the WHOLE
    * directory via two renames and drop the old copy. The log
    * disappears with the old directory, so there is no window where
    * a log names deleted files (the compactStored graduation-order
    * lesson); a crash between the two renames leaves the path
    * MISSING — a loudly-failing read, never a silently-partial
    * layout (the range radii-swap discipline). Returns
    * the number of data files in the graduated directory. */
  def compactFlat(spark: org.apache.spark.sql.SparkSession, dir: String,
                  numFiles: Int = 1): Long = {
    require(numFiles >= 1, s"compactFlat: numFiles >= 1, got $numFiles")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__next")
    val old = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "__old")
    // checked here too (before the rewrite cost), and again inside the
    // shared swap
    require(!fs.exists(old),
      s"compactFlat: $old exists — a prior swap crashed mid-flight; " +
        "recover it by hand before compacting again")
    fs.delete(next, true)
    spark.read.parquet(dir).repartition(numFiles)
      .write.mode("overwrite").parquet(next.toString)
    graft.ops.Ann.swapFlatDir(fs, root, next)
    fs.listStatus(root).count(f => f.isFile &&
      !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith("."))
  }

  /** Compact a cell/bucket-partitioned at-rest layout whose continuous
    * micro-batch appends ([[ingestIvf]] / [[ingestBm25]]) have
    * accumulated many small files — rewrite over-threshold cell
    * directories to one file per cell with the stage-and-swap pattern
    * of the stored delete (write survivors to a `_`-prefixed staging
    * subdir invisible to readers, atomic per-cell rename into place).
    *
    * On a STREAMING-grown dir (`_spark_metadata` commit log present)
    * this is the GRADUATION to a batch layout: stop the ingest query
    * first; every cell is rewritten from the commit log's authoritative
    * file view (uncommitted stragglers are dropped), and the log is
    * removed — after which the layout takes batch appends, stored
    * deletes ([[graft.ops.Ann.deleteStored]]), and
    * `attachStoredIndex`. Restarting a file-sink stream INTO a
    * compacted dir is not supported (its fresh commit log would hide
    * the compacted files): continue growth with batch appends or a new
    * layout dir. On a batch dir only cells above `maxFilesPerCell` are
    * touched, so periodic compaction costs only the hot cells' bytes.
    *
    * Returns the number of rewritten cell directories. */
  def compactStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                    cellCol: String, maxFilesPerCell: Int = 4): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    val streaming = fs.exists(metaPath)
    // a prior compaction may have crashed between its two swap renames,
    // leaving a cell only in its dot-prefixed `__old` dir — restore
    // BEFORE reading, or the rewrite stages a layout missing that cell
    graft.ops.Ann.recoverCrashedSwaps(fs, root)
    // spark.read.parquet reads THROUGH the commit log when present, so
    // the staged data is exactly the committed rows
    val df = spark.read.parquet(dir)
    // the files the commit log names (scheme-normalized): the
    // graduation below deletes everything else BEFORE dropping the log,
    // so the directory is a consistent layout at every crash point
    val committedFiles: Set[String] =
      if (streaming) df.inputFiles.map(u =>
        new org.apache.hadoop.fs.Path(u).toUri.getPath).toSet
      else Set.empty
    def dataFiles(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    val cellDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$cellCol="))
    // a streaming dir compacts FULLY: once the log is gone the listing
    // becomes the filesystem, so every file must be a rewritten one
    // (partial compaction would resurrect uncommitted stragglers)
    val target =
      if (streaming) cellDirs
      else cellDirs.filter(d => dataFiles(d.getPath) > maxFilesPerCell)
    if (target.isEmpty && !streaming) return 0L
    val targetNames = target.map(_.getPath.getName).toSet
    // dir names carry Spark's partition-path escaping: unescape before
    // comparing with the DATA's cell values (string cells with spaces /
    // URI-special chars would otherwise silently miss their own dirs).
    // A NULL cell's dir is the Hive default-partition name, which no
    // isin() can match — it needs an explicit isNull disjunct or its
    // rows stage nothing and the targeted-dir cleanup deletes them.
    val hiveNull = "__HIVE_DEFAULT_PARTITION__"
    val keep =
      if (streaming) df
      else {
        val names = target.map(_.getPath.getName.stripPrefix(s"$cellCol="))
        val pred0 = col(cellCol).isin(names.filterNot(_ == hiveNull)
          .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName): _*)
        df.filter(if (names.contains(hiveNull))
          pred0 || col(cellCol).isNull else pred0)
      }
    val stage = new org.apache.hadoop.fs.Path(root, "_graft_stage")
    fs.delete(stage, true)
    // repartition BY the cell column: each cell's rows land in one
    // task, so each cell directory compacts to exactly one file
    keep.repartition(col(cellCol))
      .write.mode("overwrite").partitionBy(cellCol).parquet(stage.toString)
    val staged = fs.listStatus(stage).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$cellCol="))
    // GRADUATION ORDER (streaming): the old sequence swapped cells
    // FIRST and deleted the log LAST — a crash in between left a
    // commit log naming deleted files, and every subsequent read
    // (including a compact re-run) died on FileNotFound with data
    // recoverable only by hand-deleting _spark_metadata. Instead:
    // (1) delete uncommitted orphan files (visible files the log does
    //     not name — the only reason reads must go through the log),
    // (2) delete the log — the directory is now a CONSISTENT batch
    //     layout of exactly the committed pre-compaction files,
    // (3) then swap. A crash after (1) re-runs cleanly through the
    //     log; after (2) the dir is a valid (uncompacted) batch
    //     layout; mid-(3) is recoverCrashedSwaps' existing job.
    if (streaming) {
      cellDirs.foreach { d =>
        fs.listStatus(d.getPath).filter(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .filterNot(f => committedFiles.contains(f.getPath.toUri.getPath))
          .foreach(f => fs.delete(f.getPath, false))
      }
      fs.delete(metaPath, true)
    }
    // non-destructive per-cell swap with every rename checked
    // (see Ann.swapCellDir: a refused rename restores the live cell)
    staged.foreach(s => graft.ops.Ann.swapCellDir(fs,
      s.getPath, new org.apache.hadoop.fs.Path(root, s.getPath.getName)))
    // targeted cells with no staged output (possible only in the full
    // streaming compact: a cell dir holding ONLY uncommitted files —
    // all deleted by the orphan sweep above, leaving an empty dir)
    val stagedNames = staged.map(_.getPath.getName).toSet
    targetNames.diff(stagedNames).foreach { name =>
      fs.delete(new org.apache.hadoop.fs.Path(root, name), true)
    }
    fs.delete(stage, true)
    staged.length.toLong
  }

  /** Per-user running session via explicit keyed state: counts events and
    * sums value per user, emitting an updated row per batch. With
    * `timeoutMs > 0` state times out after that much processing-time
    * inactivity (note: an active timeout keeps scheduling micro-batches,
    * so `processAllAvailable`-style draining never settles — use it with
    * real triggers, 0 for tests). */
  def sessionize(events: Dataset[Event],
                 timeoutMs: Long = 0): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    val timeoutKind =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update(), timeoutKind)(
        (uid: Long, it: Iterator[Event], state: GroupState[SessionOut]) => {
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(last)
          } else {
            val prev = state.getOption.getOrElse(SessionOut(uid, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total
            it.foreach { e => n += 1; tot += e.value }
            val cur = SessionOut(uid, n, tot)
            state.update(cur)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.single(cur)
          }
        })
  }
}

