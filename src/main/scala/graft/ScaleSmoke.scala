package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke — NOT part of the graded bench: inflates the sf0.1
  * tables by `SPARK_GRAFT_SCALE_X` (default 16: 80k docs / 32k
  * vectors, with every doc near-duplicated across copies — the
  * CommonCrawl-shaped adversarial case for dedup) and times the
  * operators whose scale behavior matters most. The point is shape
  * regression: a quadratic blowup or skew collapse shows up here long
  * before corpus scale. Prints one JSON line like Bench.
  *
  * Copies perturb the text tail (" copyN" suffix) so copy-pairs are
  * NEAR-duplicates (not byte-exact), keeping the verify stages honest.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val xf = sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "16").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text", "n_chars")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val nDocs = docs0.count()
    val nVecs = emb0.count()
    def inflateDocs(k: Int): DataFrame =
      (0 until k).map { i =>
        docs0.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          col("lang"),
          concat(col("text"), lit(s" copy$i tail")).as("text"),
          col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    def inflateVecs(k: Int): DataFrame =
      (0 until k).map { i =>
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()

    val docs = inflateDocs(xf)
    val vecs = inflateVecs(xf)
    docs.count(); vecs.count() // materialize outside the timers

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    // dev filter, the graft.Verify SPARK_GRAFT_ONLY contract: comma-
    // separated name prefixes select rows; the driver runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def time(name: String)(body: => Long): Unit =
      if (only.forall(_.exists(name.startsWith))) {
        val t0 = System.nanoTime()
        val n = body
        results(name) = (System.nanoTime() - t0) / 1e9
        counts(name) = n
      }

    time("jaccard_pairs") {
      ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5).count()
    }
    time("dup_clusters") {
      ops.Dedup.components(ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)).count()
    }
    // Canonical dedup at 16×: the cluster labeling (memoized pair
    // table) joined once against the quality frame, one cluster-sized
    // window. Structural assert: exactly one keeper per component.
    time("canonical_dedup") {
      val scored = ops.TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("quality"))
      val dec = ops.Dedup.canonicalPerCluster(scored, "doc_id",
        "quality", ops.Dedup.components(ops.Dedup.jaccardPairs(docs,
          "doc_id", "text", n = 3, threshold = 0.5)))
      val bad = dec.groupBy("component")
        .agg(sum(col("keep")).as("k")).filter(col("k") =!= 1).count()
      require(bad == 0L, s"$bad components without exactly one keeper")
      dec.filter(col("keep") === 1).count()
    }
    time("minhash_pairs") {
      ops.Dedup.minHashDedupPairs(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 16, threshold = 0.5).count()
    }
    time("simhash_pairs") {
      ops.Dedup.simHashPairs(
        ops.Dedup.simHash(docs, "doc_id", "text"),
        maxDist = 3, bands = 4).count()
    }
    time("cosine_lsh_pairs") {
      ops.Dedup.cosinePairsLsh(vecs, "vec_id", "embedding",
        threshold = 0.95).count()
    }
    // SemDeDup at dup-heavy scale: every embedding repeats xf× exactly,
    // so every cell holds copy-groups of size xf. Cost must stay
    // cell-confined (one shuffle, Σ m_c² pair work with m_c ≈ N/k) and
    // the greedy prune must collapse every copy-group to ONE keeper —
    // survivors == base corpus size, a full exactness assert at 16×.
    time("semdedup") {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        metric = ops.Ann.Cosine, iters = 2)
      val kept = ops.Dedup.semDedup(vecs, "vec_id", "embedding", model,
        tau = 0.95).count()
      require(kept == nVecs,
        s"semdedup kept $kept of ${nVecs * xf}, want exactly $nVecs " +
          "(one keeper per exact copy-group)")
      kept
    }
    time("knn_join_ivf") {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        iters = 2)
      val assigned = ops.Ann.assign(vecs, "embedding", model, ops.Ann.L2)
      val queries = vecs.limit(1000)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      ops.Ann.knnJoinIvf(queries, "q_id", "qv",
        assigned.select(col("vec_id").as("d_id"),
          col("embedding").as("dv"), col("centroid_id")),
        "d_id", "dv", model, ops.Ann.L2, probes = 4, k = 10).count()
    }
    // PQ at 16×: training (per-subspace KMeans) + encode + at-rest
    // write is the corpus-linear part; the ADC QUERY then scans m
    // ints/row — the stored layout's codes-only column pruning pinned
    // below — through a codegen'd LUT fold into a bounded TakeOrdered
    // heap, with only the k·refine survivors fetching vectors. The
    // query row should sit far below the build row and barely move
    // with corpus size.
    var pqModel: ops.Ann.PqModel = null
    var pqDir: String = null
    time("pq_train_encode_store") {
      val model = ops.Ann.buildPqKMeans(vecs, "embedding", m = 8,
        k = 32, iters = 2)
      pqModel = model
      pqDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_pq").toString
      ops.Ann.encodePq(vecs, "embedding", model)
        .select(col("vec_id"), col("embedding"), col("pq_codes"))
        .write.mode("overwrite").parquet(pqDir)
      spark.read.parquet(pqDir).count()
    }
    time("pq_adc_query") {
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val df = ops.Ann.searchPq(spark.read.parquet(pqDir), "vec_id",
        "embedding", "pq_codes", pqModel, q, ops.Ann.L2,
        k = 10, refine = 5)
      val phys = df.queryExecution.executedPlan.toString
      val schemas = "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(phys).map(_.group(1)).toSeq
      require(schemas.exists(sc =>
          sc.contains("pq_codes") && !sc.contains("embedding")),
        "ADC phase read the full-precision column at scale")
      df.count()
    }
    // PQ recall ladder: SQ and 1-bit publish measured refine ladders;
    // this is PQ's — recall@10 of the ADC+re-rank pipeline vs the
    // exact top-10 at refine ∈ {2, 5, 10}, 8 queries, `rows` = matched
    // of 80. The copy-inflated corpus is recall-degenerate (identical
    // embeddings tie everywhere and hide ranking errors), so each copy
    // is shifted by a small deterministic per-copy offset: all 16×N
    // vectors are DISTINCT and the ladder measures real ADC ranking.
    locally {
      val pvecs = (0 until xf).map { i =>
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x + lit(i * 0.003)).as("embedding"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      pvecs.count()
      val pModel = ops.Ann.buildPqKMeans(pvecs, "embedding", m = 8,
        k = 32, iters = 2)
      val penc = ops.Ann.encodePq(pvecs, "embedding", pModel)
        .select(col("vec_id"), col("embedding"), col("pq_codes"))
        .persist()
      penc.count()
      val qset = emb0.limit(8)
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).map(_ + 0.0015).toSeq)
      val exact = qset.map { q =>
        ops.Ann.topK(pvecs, "vec_id", "embedding", typedlit(q),
          ops.Ann.L2, 10).select("vec_id")
          .collect().map(_.getLong(0)).toSet
      }
      Seq(1, 2, 5, 10).foreach { rf =>
        time(s"pq_recall_refine$rf") {
          qset.zip(exact).map { case (q, ex) =>
            val got = ops.Ann.searchPq(penc, "vec_id", "embedding",
              "pq_codes", pModel, q, ops.Ann.L2, k = 10, refine = rf)
              .collect().map(_.getLong(0)).toSet
            (got & ex).size.toLong
          }.sum
        }
      }
      pvecs.unpersist(); penc.unpersist()
    }
    // r41's shape at 16×: the batch IVF+PQ kNN join over an at-rest
    // cell-partitioned layout — 1000 queries replayed in ONE job whose
    // phase-1 reads (vec_id, pq_codes) from probed cell dirs only
    // (codes-only ReadSchema AND PartitionFilters pinned at scale).
    // Build/encode/store hoisted out of the timer.
    locally {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        iters = 2)
      val idx = ops.Ann.buildIvfPq(vecs, "embedding", model, m = 8,
        ops.Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_knnpq").toString
      ops.Ann.writeQuantized(idx, dir)
      val stored = ops.Ann.cellRoot(spark, dir, None)
        .as[ops.Ann.CellRoot.Quantized]("scale smoke").readIndex
      val queries = vecs.limit(1000)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      time("pq_knn_join_batch") {
        val df = ops.Ann.knnJoinQuantized(queries, "q_id", "qv", stored,
          "vec_id", "embedding", ops.Ann.L2, probes = 4, k = 10)
        val phys = df.queryExecution.executedPlan.toString
        val schemas = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(phys).map(_.group(1)).toSeq
        require(schemas.exists(sc =>
            sc.contains("pq_codes") && !sc.contains("embedding")),
          "batch ADC phase read the full-precision column at scale")
        // the filter LIST itself must reference the cell column — the
        // two-substring check passed even on an unpruned scan
        require("""PartitionFilters: \[[^\]]*centroid_id""".r
            .findFirstIn(phys).isDefined,
          "batch ADC scan did not prune cell partitions at scale")
        df.count()
      }
    }
    time("closest_pairs_exact") {
      ops.Dedup.closestPairs(vecs, "vec_id", "embedding",
        ops.Ann.Cosine, k = 10).count()
    }
    // Adversarial giant cluster: 20k IDENTICAL docs + the corpus. All
    // copies land in ONE LSH bucket per band; without the hot-bucket
    // cap each band bucket is 20k² = 4·10⁸ candidate rows in one task.
    // With the cap (4096) the cluster contributes ~20k·16 chained
    // candidates and must stay near-linear.
    time("minhash_giant_cluster") {
      val giant = spark.range(1, 20001)
        .select((col("id") + 900000000L).as("doc_id"),
          lit("en").as("lang"),
          lit("the exact same document body repeated verbatim in every " +
            "copy of this giant duplicate cluster").as("text"))
        .withColumn("n_chars", length(col("text")))
      ops.Dedup.minHashDedupPairs(
        docs.unionByName(giant), "doc_id", "text",
        n = 3, numHashes = 32, bands = 16, threshold = 0.5).count()
    }
    // IVF at index scale: 1024 cells — with plan-literal centroids this
    // was a driver/plan bomb; with broadcast centroids the plan stays
    // flat and only assignment cost grows (linear in cells)
    time("ivf_1024_cells") {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 1024,
        iters = 1)
      val assigned = ops.Ann.assign(vecs, "embedding", model, ops.Ann.L2)
      val queries = vecs.limit(200)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      ops.Ann.knnJoinIvf(queries, "q_id", "qv",
        assigned.select(col("vec_id").as("d_id"),
          col("embedding").as("dv"), col("centroid_id")),
        "d_id", "dv", model, ops.Ann.L2, probes = 8, k = 10).count()
    }

    // Corpus-repeated n-grams at dup-heavy scale: every 3-gram of every
    // base doc repeats xf× (plus intra-corpus repeats) — the per-gram
    // stats groupBy must stay combinable (no per-gram window) and the
    // span expansion output-bound, so time scales with data + removed
    // spans, never gram-frequency².
    time("dup_ngram_strip") {
      // aggregate a computed column so column pruning cannot skip the
      // strip itself (count() alone would)
      ops.Dedup.dupNgramStrip(docs, "doc_id", "text", n = 3, minOcc = 2)
        .agg(sum(col("n_removed") + length(col("clean_text"))))
        .head().getLong(0)
    }
    // p21 at 16×: the approx flag must change ONLY the percentile
    // sketch, never the plan geometry — same shuffle count (one
    // combinable agg + broadcast bounds join) in both forms, and the
    // approx p99 within 2% of exact per stratum. Plan/value asserts
    // run OUTSIDE the timers.
    locally {
      val exact = ops.TextAnalysis.lengthQuantiles(docs, "lang", "n_chars")
      val approx = ops.TextAnalysis.lengthQuantiles(docs, "lang",
        "n_chars", approx = true)
      def exchanges(df: DataFrame): Int =
        "Exchange".r.findAllMatchIn(
          df.queryExecution.executedPlan.toString).size
      require(exchanges(approx) == exchanges(exact),
        s"approx percentile changed the shuffle geometry: " +
          s"${exchanges(approx)} vs ${exchanges(exact)} exchanges")
      val exP99 = exact.select(col("lang"), col("p99"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      approx.select(col("lang"), col("p99")).collect().foreach { r =>
        val (l, ap) = (r.getString(0), r.getDouble(1))
        require(math.abs(ap - exP99(l)) <= 0.02 * exP99(l),
          s"approx p99 for $l drifted: $ap vs exact ${exP99(l)}")
      }
    }
    time("length_outliers_exact") {
      ops.TextAnalysis.lengthQuantiles(docs, "lang", "n_chars").count()
    }
    time("length_outliers_approx") {
      ops.TextAnalysis.lengthQuantiles(docs, "lang", "n_chars",
        approx = true).count()
    }
    // Temporal joins at event scale: inflate events xf× across distinct
    // users (key-partitioned window / bucketed equi-join must scale in
    // events, with no per-key quadratic pairing)
    val ev0 = graft.queries.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_type", "value")
    val ev = (0 until xf).map { i =>
      ev0.select((col("user_id") + lit(i * 1000000L)).as("user_id"),
        col("ts"), col("event_type"), col("value"))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism).persist()
    ev.count()
    time("asof_join") {
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(sum("value").as("val"))
      ops.Temporal.asofJoin(views, purchases, Seq("user_id"), "ts",
          Seq("val"))
        .agg(count(col("asof_val"))).head().getLong(0)
    }
    time("range_join") {
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      ops.Temporal.rangeJoin(errors, clicks, Seq("user_id"), "ts",
        "6 hours", Seq("value")).count()
    }
    // 1-bit quantized IVF at index scale: build + search with 256 cells
    // over the inflated vectors — codes are map-only over the cell join,
    // the estimator scan prunes to probed cells
    time("ivf_bitq") {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 256,
        iters = 1)
      val index = ops.Ann.buildIvfBitq(vecs, "embedding", model, ops.Ann.L2)
      val q = typedlit((0 until 64).map(i => 0.01 * i))
      ops.Ann.searchQuantized(index, "vec_id", "embedding", q, ops.Ann.L2,
        probes = 8, k = 10, refine = 10).count()
    }

    // Multivec IVF at index scale (the reference's vector_maxsim_ops
    // with `lists`, spec.py:447-464): build the token-mean IVF
    // (spherical KMeans), persist the assigned frame
    // partitionBy(centroid_id), and run the declarative IVF-pruned
    // maxsim twice. Phase-1 must be runtime-partition-pruned (DPP
    // asserted in-plan) and its FILES-READ metric must scale with the
    // PROBED CELLS, not the corpus: probes=2 reads strictly fewer
    // phase-1 files than probes=16 over the same 16x corpus.
    time("maxsim_ivf") {
      val mv = vecs.select(col("vec_id"),
        array(col("embedding").cast("array<double>"),
          reverse(col("embedding")).cast("array<double>")).as("mv"))
      val (assigned, model) = ops.Ann.buildMaxsimIvf(mv, "mv", dim = 64,
        lists = 32, iters = 1)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_mvivf").toString
      ops.Ann.writePartitioned(assigned, dir)
      val stored = spark.read.parquet(dir)
      val qts: Seq[Seq[Double]] = Seq(
        (0 until 64).map(i => 0.01 * i),
        (0 until 64).map(i => 0.01 * (63 - i)))
      plans.AnnIndex.install(spark)
      // AQE wraps finished stages in QueryStageExec LEAVES, which hides
      // the scans from plan introspection — run this measured query on
      // a static plan so the phase-1 scan (and its post-DPP numFiles
      // metric) is directly reachable
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // returns (top-k rows, phase-1 files actually read post-DPP)
      def run(probes: Int): (Long, Long) = {
        plans.AnnIndex.register(plans.Binding.Maxsim("mv", "vec_id",
          () => stored, refine = 100,
          Some(plans.Binding.ProbeDist("mv_mean", "centroid_id",
            () => model.centroids, "centroid_id", "centroid",
            ops.Ann.Cosine, probes))))
        try {
          val df = stored.withColumn("score",
              round(org.apache.spark.sql.graft.VecExprs
                .maxSimDot(typedlit(qts), col("mv")), 6))
            .orderBy(col("score").desc, col("vec_id").asc)
            .limit(10).select("vec_id", "score")
          val phys = df.queryExecution.executedPlan.toString
          require(phys.toLowerCase.contains("dynamicpruning"),
            "expected runtime partition pruning in the maxsim phase-1")
          val n = df.collect().length.toLong // execute THIS plan
          val root = df.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          // the phase-1 scan is the one reading the persisted mean but
          // NOT the token matrix; numPartitions reflects the post-DPP
          // CELL-DIRECTORY selection (numFiles would conflate it with
          // the per-cell file count, which varies with write tasking)
          val cells = root.collectWithSubqueries {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.requiredSchema.fieldNames.contains("mv_mean") &&
                  !f.requiredSchema.fieldNames.contains("mv") =>
              f.metrics.get("numPartitions").orElse(
                f.metrics.get("numFiles")).map(_.value).getOrElse(0L)
          }.sum
          (n, cells)
        } finally plans.AnnIndex.unregister("mv")
      }
      try {
        val (n2, cells2) = run(2)
        val (_, cells16) = run(16)
        require(cells2 > 0 && cells2 < cells16,
          s"phase-1 cells read must scale with probes, not corpus: " +
            s"probes=2 read $cells2, probes=16 read $cells16")
        n2
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }

    // Index maintenance at scale: write the at-rest IVF+SQ layout for
    // the inflated vector table, then DELETE one copy-stripe of ids
    // (1/xf of all rows, touching EVERY cell — the worst case for the
    // cell-rewrite delete) and search the survivors. Cost must be
    // bounded by the affected cells' size (here: all of them, one
    // rewrite) — the shape to watch is "write + delete + search"
    // staying linear in the table, never quadratic.
    time("stored_delete") {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        iters = 1)
      val index = ops.Ann.buildIvfSq(vecs, "embedding", model, ops.Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_del").toString
      ops.Ann.writeQuantized(index, dir)
      val removed = ops.Ann.deleteStored(spark, s"$dir/quantized",
        col("vec_id") >= 10000000L && col("vec_id") < 20000000L)
      val q = (0 until 64).map(i => 0.01 * i)
      ops.Ann.searchStored(ops.Ann.cellRoot(spark, dir,
        Some("embedding")), "vec_id", q, 8, 10).count()
      removed
    }

    // Inverted sparse retrieval at 16×: the corpus inverts into
    // postings once; the QUERY's work is bounded by its buckets'
    // posting lists (a broadcast bucket join + one combinable per-doc
    // sum), so the query row must stay sub-second while the corpus
    // grows — the sparse twin of the BM25 build-vs-query split below.
    val sparseEmb = functions.Md5SparseEmbedder(4096)
    val sparseDocs = {
      val sv = udf((t: String) =>
        sparseEmb.embed(if (t == null) "" else t))
      docs.withColumn("__sv", sv(col("text")))
        .select(col("doc_id"), col("__sv.indices").as("i"),
          col("__sv.values").as("v"))
    }
    val sparsePostings = functions.Sparse.invertedPostings(
      sparseDocs, "doc_id", "i", "v").persist()
    time("sparse_invert_build") { sparsePostings.count() }
    time("sparse_inverted_query") {
      functions.Sparse.invertedTopK(sparsePostings,
        sparseEmb.embed("spark merge hash window"), 10).count()
    }

    // Hot-key skew: 40% of the inflated fact side shares ONE join key
    // (the shape AQE's partition splitting alone cannot spread — every
    // row of a key still hashes to one reducer). The salted join must
    // be result-identical to the plain join (row-count asserted here,
    // full equality in SkewSpec/q17) while the hot key fans out over
    // 16 salts.
    locally {
      val fact = docs.select(
        when(col("doc_id") % 5 < 2, lit(7L))
          .otherwise(pmod(col("doc_id"), lit(1000L))).as("k"),
        col("n_chars"))
      val dim = spark.range(1000).select(col("id").as("k"),
        pmod(col("id"), lit(7L)).as("grp"))
      var plainN = 0L
      time("plain_join_hotkey") {
        plainN = fact.join(dim, Seq("k")).count(); plainN
      }
      time("salted_join_hotkey") {
        val n = ops.Skew.saltedJoin(fact, dim, Seq("k"), salts = 16)
          .count()
        require(n == plainN,
          s"salted join changed the result: $n rows vs plain $plainN")
        n
      }
    }

    // The AT-REST form: postings persisted into bucket-mod partition
    // dirs once (build, corpus-linear), then a stored query must read
    // ONLY the directories its buckets hash into — measured via the
    // scan's post-pruning numPartitions, not assumed.
    val sparseStoreDir = java.nio.file.Files
      .createTempDirectory("graft_smoke_sparse").toString
    time("sparse_store_build") {
      functions.Sparse.writePostings(sparsePostings, sparseStoreDir,
        buckets = 64)
      64L
    }
    time("sparse_stored_query") {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = sparseEmb.embed("spark merge hash window")
        val df = functions.Sparse.searchStored(spark, sparseStoreDir, q, 10)
        val n = df.collect().length.toLong
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val dirsRead = root.collectWithSubqueries {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics.get("numPartitions").map(_.value).getOrElse(0L)
        }.sum
        val qb = q.indices.map(i => math.floorMod(i, 64)).distinct.size
        require(dirsRead > 0 && dirsRead <= qb && dirsRead < 64,
          s"stored sparse query must read only its $qb query-bucket " +
            s"dirs of 64, read $dirsRead")
        n
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }

    // Batch query-log replay against the SAME at-rest layout: the
    // batch's distinct buckets prune as literal partition filters, so
    // IO is bounded by the union of the batch's buckets, not the
    // layout — dirs-read asserted exactly like the single-query row.
    time("sparse_stored_batch_query") {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val queries = sparseDocs.filter(col("doc_id") < 8)
        val df = functions.Sparse.searchStoredBatch(spark,
          sparseStoreDir, queries, "doc_id", "i", "v", k = 10)
        val n = df.collect().length.toLong
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val dirsRead = root.collectWithSubqueries {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics.get("numPartitions").map(_.value).getOrElse(0L)
        }.sum
        val qb = queries.select(explode(col("i"))).distinct()
          .collect().map(r => math.floorMod(r.getInt(0), 64)).distinct.length
        require(dirsRead > 0 && dirsRead <= qb,
          s"stored batch replay must read only the batch's $qb bucket " +
            s"dirs of 64, read $dirsRead")
        n
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }

    // Declarative sparse at 16×: the registered rewrite's QUERY cost is
    // bounded by the query's posting lists (inverted candidate
    // semi-join + exact re-rank over candidates), the sparse twin of
    // the BM25 declarative row below.
    // build (embed + materialize the sparse table) OUTSIDE the timer —
    // the row must measure the registered rewrite's QUERY cost only,
    // like every other build-vs-query split here
    val sparseDocsDecl = {
      plans.AnnIndex.install(spark)
      val d = docs.withColumn("__sv",
          udf((t: String) => sparseEmb.embed(if (t == null) "" else t))
            .apply(col("text")))
        .select(col("doc_id"), col("__sv.indices").as("si"),
          col("__sv.values").as("sv"))
        .persist()
      d.count()
      d
    }
    time("sparse_declarative_query") {
      plans.AnnIndex.register(plans.Binding.Sparse("si", "sv", "doc_id",
        () => functions.Sparse.invertedPostings(
          sparseDocsDecl, "doc_id", "si", "sv"),
        refine = 2))
      try {
        val q = sparseEmb.embed("spark merge hash window")
        val df = sparseDocsDecl.withColumn("score",
            round(functions.Sparse.scoreColumn(
              col("si"), col("sv"), q), 6))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(10).select("doc_id", "score")
        require(df.queryExecution.optimizedPlan.toString
            .contains("LeftSemi"),
          "declarative sparse rewrite did not engage at scale")
        df.count()
      } finally plans.AnnIndex.unregister("si")
    }

    // Declarative BM25 at scale: index build is the corpus-linear part
    // (one tokenize+shuffle over 16x docs); the registered rewrite's
    // QUERY cost is bounded by the query's terms (pruned postings +
    // top-(k·refine) semi-join + re-rank over candidates), so the
    // query row should sit far below the build row and barely move
    // with corpus size.
    time("bm25_index_build") {
      val idx = ops.Bm25.buildCached(docs, "doc_id", "text",
        s"smoke|$xf")
      idx.postings.count()
    }
    time("bm25_declarative_query") {
      val idx = ops.Bm25.buildCached(docs, "doc_id", "text",
        s"smoke|$xf")
      plans.AnnIndex.install(spark)
      plans.AnnIndex.register(plans.Binding.Bm25("text", "doc_id",
        () => idx, refine = 2))
      try {
        val df = docs
          .withColumn("score", ops.Bm25.scoreColumn(idx,
            "shuffle sort merge", col("text")))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(10).select("doc_id", "score")
        require(df.queryExecution.optimizedPlan.toString
          .contains("LeftSemi"), "bm25 rewrite did not engage at scale")
        df.count()
      } finally plans.AnnIndex.unregister("text")
    }

    // Batched provider ingest at scale: the inflated doc table through
    // RemoteEmbed.withEmbeddingBatched against an in-process HTTP stub
    // (rps high enough to not throttle — this row measures the BATCH
    // SHAPE and per-request overhead of the transport, not the bucket:
    // rows/batchSize requests, map-only, no shuffle).
    time("remote_embed_batch") {
      val stubServer = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val nReq = new java.util.concurrent.atomic.AtomicLong(0)
      stubServer.createContext("/embed",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          nReq.incrementAndGet()
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          // batch size = #input texts; reply one fixed 8-dim vec each
          val n = org.json4s.jackson.JsonMethods.parse(body) \ "input" match {
            case org.json4s.JArray(xs) => xs.length
            case _ => 1
          }
          val vec = (0 until 8).map(_ => "1.0").mkString("[", ",", "]")
          val out = (0 until n).map(_ => vec)
            .mkString("""{"data":[""", ",", "]}")
          val b = out.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
          ex.close()
        })
      // keep the pool so it can be shut down: HttpServer.stop does NOT
      // stop a user-provided executor, and its non-daemon threads would
      // keep the JVM alive after main returns
      val stubPool = java.util.concurrent.Executors.newFixedThreadPool(8)
      stubServer.setExecutor(stubPool)
      stubServer.start()
      try {
        val url =
          s"http://127.0.0.1:${stubServer.getAddress.getPort}/embed"
        val emb = providers.HttpEmbedder("smoke", dim = 8,
          providers.HttpJson(url, rps = 1e6, burst = 1024))
        val out = providers.RemoteEmbed.withEmbeddingBatched(
          docs.select("doc_id", "text"), "text", "vec", emb,
          batchSize = 256).count()
        require(nReq.get() <= out / 256 + cpus.toInt * 2,
          s"batching broke: ${nReq.get()} requests for $out rows")
        out
      } finally { stubServer.stop(0); stubPool.shutdownNow() }
    }

    // The composed curation chain (p18's shape) on the dup-heavy
    // inflated corpus: quality filter → exact dedup (keeps every
    // inflated copy — texts differ by the copy tail — so the
    // CONTAINMENT stage faces the full xf× train side against an xf×
    // bench side: the adversarial case, run through the broadcast-
    // Bloom prefilter path) → decontaminate → mix → split. Must scale
    // like its stages: one combinable shuffle each, the shingle join
    // bounded by shingle-match density.
    time("curation_chain") {
      val scored = ops.TextAnalysis.qualityScore(docs, "text")
        .filter(col("quality") >= 0.6)
        .select("doc_id", "lang", "text", "n_chars")
      val deduped = ops.Dedup.exactDedup(scored, "doc_id", "text")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = deduped.filter(col("doc_id") % 10 =!= 0)
      val contaminated = ops.Dedup.containmentPairs(
          bench, "doc_id", "text", train, "doc_id", "text",
          n = 3, threshold = 0.3, bloomFpp = 0.01)
        .select(col("t_id").as("doc_id")).distinct()
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      val mixed = ops.Sampling.stratifiedSample(clean, "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.75, "fr" -> 0.75))
      ops.Sampling.withSplit(mixed, "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .groupBy("split").agg(count(lit(1)).as("n")).count()
    }
    // Control plane under sustained load: a real HTTP service instance
    // taking a POST /api/run ingest loop (chunk→embed→index per
    // request) plus a search tail — measures per-request driver
    // overhead of the service facade, previously asserted not measured.
    time("service_run_ingest") {
      val reg = new core.Registry(spark, java.nio.file.Files
        .createTempDirectory("graft-smoke-svc").toString)
      val svc = new service.GraftService(reg, Nil).start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val base = s"http://127.0.0.1:${svc.boundPort}/api/run"
        def post(body: String): Int =
          client.send(java.net.http.HttpRequest
              .newBuilder(java.net.URI.create(base))
              .header("Content-Type", "application/json")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
            .statusCode()
        def b64(s: String): String = java.util.Base64.getEncoder
          .encodeToString(s.getBytes("UTF-8"))
        val ingestSteps =
          """[{"kind":"chunk","provider":"regex",
             |  "args":{"size":"128","overlap":"16"}},
             | {"kind":"text-emb","provider":"hash","args":{"dim":"32"}},
             | {"kind":"index","provider":"graft"}]""".stripMargin
        val searchSteps =
          """[{"kind":"text-emb","provider":"hash","args":{"dim":"32"}},
             | {"kind":"search","provider":"graft","args":{"topk":"5"}}]"""
            .stripMargin
        var ok = 0L
        (0 until 40).foreach { i =>
          val text = s"sustained ingest doc $i. " +
            ("spark rows shuffle join filter window. " * 12)
          if (post(s"""{"name":"doc-$i","data":"${b64(text)}",""" +
              s""""steps":$ingestSteps}""") == 200) ok += 1
        }
        (0 until 10).foreach { i =>
          if (post(s"""{"name":"q-$i","data":"${b64("spark join")}",""" +
              s""""steps":$searchSteps}""") == 200) ok += 1
        }
        ok
      } finally svc.stop()
    }
    // Streaming interval join under a rate-limited feed: the inflated
    // error/click events arrive in ts-ordered micro-batches through
    // MemoryStreams; the watermark-bounded stream-stream join must
    // drain every batch with bounded state (shape previously covered
    // only by the batch twin).
    time("stream_interval_join") {
      import spark.implicits._
      implicit val sc = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts")).limit(50000)
        .as[(Long, java.sql.Timestamp)].collect().sortBy(_._2.getTime)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value")).limit(100000)
        .as[(Long, java.sql.Timestamp, Double)].collect()
        .sortBy(_._2.getTime)
      val lefts = MemoryStream[(Long, java.sql.Timestamp)]
      val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val joined = graft.streaming.Stream.intervalJoin(
        lefts.toDF().toDF("user_id", "ts"),
        rights.toDF().toDF("user_id", "ts", "value"),
        "user_id", "ts", "6 hours", Seq("value"),
        watermark = "12 hours")
      val q = joined.writeStream.format("memory")
        .queryName("smoke_sij").outputMode("append").start()
      try {
        val batches = 10
        (0 until batches).foreach { b =>
          val ls = errs.slice(b * errs.length / batches,
            (b + 1) * errs.length / batches)
          val rs = clicks.slice(b * clicks.length / batches,
            (b + 1) * clicks.length / batches)
          if (ls.nonEmpty) lefts.addData(ls.toSeq)
          if (rs.nonEmpty) rights.addData(rs.toSeq)
          q.processAllAvailable()
        }
        spark.table("smoke_sij").count()
      } finally q.stop()
    }

    // Streamed-layout compaction lifecycle at scale: continuous
    // micro-batch appends accumulate small files per bucket; compaction
    // graduates the dir to a batch layout (one file per bucket, commit
    // log gone) with search results preserved. Times ingest→compact→
    // pruned search over the full inflated corpus.
    time("stream_compact") {
      import spark.implicits._
      implicit val sc = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_compact").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_smoke_compact_ckpt").toString
      val rows = docs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.Stream.ingestBm25(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        dir, ckpt, buckets = 16)
      try {
        val batches = 8
        (0 until batches).foreach { b =>
          input.addData(rows.slice(b * rows.length / batches,
            (b + 1) * rows.length / batches).toSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val rewritten = graft.streaming.Stream.compactStored(
        spark, dir, "bucket", maxFilesPerCell = 4)
      require(rewritten > 0, "compaction rewrote no bucket dirs")
      // post-compaction invariant: bounded files per bucket dir
      val buckets = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("bucket="))
      buckets.foreach { d =>
        val n = d.listFiles().count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        require(n == 1, s"${d.getName}: $n data files after compact")
      }
      val hits = graft.ops.Bm25.search(
        graft.ops.Bm25.loadStoredPostings(spark, dir),
        "spark filter join", k = 10).count()
      require(hits > 0, "no hits after compaction")
      rewritten
    }

    // Filtered vector search at 16×: the layout is cell-partitioned by
    // a KMeans model (built OUTSIDE the timer — build-vs-query split),
    // the query composes probed-cell PartitionFilters with a pushed
    // metadata predicate on ONE scan. The row measures the filtered
    // QUERY cost, which is bounded by the probed cells' row count —
    // not the corpus — with the predicate thinning row groups inside
    // them.
    val fivfDir = {
      val model = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        iters = 2)
      val assigned = ops.Ann.assign(vecs, "embedding", model, ops.Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_fivf").toString
      ops.Ann.writePartitioned(assigned, dir)
      (dir, model)
    }
    time("filtered_ivf_stored_query") {
      val (dir, model) = fivfDir
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val df = ops.Ann.searchIvfStored(spark, dir, "vec_id", "embedding",
        model, typedlit(q), ops.Ann.L2, probes = 4, k = 10,
        pred = col("label").isin(1, 3, 5))
      val n = df.collect().length.toLong
      val phys = df.queryExecution.executedPlan.toString
      require(("""PartitionFilters: \[[^\]]*centroid_id""".r
          .findFirstIn(phys).isDefined),
        s"filtered stored IVF lost partition pruning at scale:\n$phys")
      require("""PushedFilters: \[[^\]]*In\(label""".r
          .findFirstIn(phys).isDefined,
        s"filtered stored IVF lost predicate pushdown at scale:\n$phys")
      n
    }

    // Range search at 16×: radii pruning is a triangle-inequality cut,
    // so it engages exactly when cells are tighter than the query ball
    // — uniform Gaussians (the base corpus) have covering radii ≈ the
    // whole space and degrade to the exact scan BY SEMANTICS. The
    // honest scale row therefore uses a CLUSTERED 16× corpus: copy i
    // shifts dim 0 by i·10, giving 16 well-separated slabs the KMeans
    // cells recover; eps=1.26 balls then intersect only their own
    // slab's cells. Exactness is asserted structurally: every pair the
    // eps-join emits must be intra-slab (offset ids prove it), and the
    // stored query's scan must show the literal cell cut in
    // PartitionFilters with FEWER than all cells surviving.
    var rangeDir: String = null
    var rangeModel: ops.Ann.IvfModel = null
    var rangeRadii: DataFrame = null
    time("range_build_radii") {
      val clustered = (0 until xf).map { i =>
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            (x, j) => when(j === 0, x + lit(i * 10.0)).otherwise(x))
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      clustered.count()
      val model = ops.Ann.buildIvfKMeans(clustered, "embedding", k = 64,
        iters = 2)
      val assigned = ops.Ann.assign(clustered, "embedding", model,
        ops.Ann.L2)
      rangeDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_range").toString
      ops.Ann.writePartitioned(assigned, rangeDir)
      rangeModel = model
      rangeRadii = ops.Ann.cellRadii(assigned, "embedding", model,
        ops.Ann.L2).persist()
      clustered.unpersist(false)
      rangeRadii.count()
    }
    time("range_stored_query") {
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq // slab 0's neighborhood
      val cells = ops.Ann.rangeCells(rangeModel, rangeRadii,
        typedlit(q), ops.Ann.L2, eps = 1.26)
      require(cells.length < 64 && cells.nonEmpty,
        s"radii cut kept ${cells.length}/64 cells — no pruning on the " +
          "clustered corpus means the covering radii degenerated")
      val df = ops.Ann.rangeSearchIvfStored(spark, rangeDir, "vec_id",
        "embedding", rangeModel, rangeRadii, typedlit(q), ops.Ann.L2,
        eps = 1.26)
      val n = df.count()
      val phys = df.queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*centroid_id""".r
          .findFirstIn(phys).isDefined,
        s"stored range query lost partition pruning at scale:\n$phys")
      n
    }
    // Index-health audit at 16×: one pass over the cell-partitioned
    // scan (vector column only — payload pruning asserted), broadcast
    // centroids, combinable aggs, tiny radii join. The audit of a
    // 100 TB layout costs one column scan.
    time("index_health") {
      val health = ops.Ann.rangeHealth(spark.read.parquet(rangeDir),
        "embedding", rangeModel, rangeRadii, roundTo = 6)
      val phys = health.queryExecution.executedPlan.toString
      require(phys.contains("ReadSchema") && !phys.contains("vec_id"),
        s"health audit read payload columns at 16x:\n$phys")
      val agg = health.agg(sum(col("n_rows")).as("n"),
        count(lit(1)).as("cells"),
        max(col("radius")).as("rmax")).head()
      require(agg.getLong(0) == nVecs * xf,
        s"audit lost rows: ${agg.getLong(0)} vs ${nVecs * xf}")
      require(agg.getLong(1) > 1, "audit must see >1 cell")
      agg.getLong(1)
    }
    time("range_join_eps") {
      val stored = spark.read.parquet(rangeDir)
      val queries = stored.filter(col("vec_id") % 97 === 0).limit(1000)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        .persist()
      queries.count()
      val pairs = ops.Ann.rangeJoinIvf(queries, "q_id", "qv",
        stored.select(col("vec_id").as("d_id"), col("embedding").as("dv"),
          col("centroid_id")),
        "d_id", "dv", rangeModel, rangeRadii, ops.Ann.L2, eps = 1.26)
      // slabs are 10 apart with in-slab distances ≤ ~2.2: every emitted
      // pair must be intra-slab — the blocking may not leak across
      val cross = pairs
        .filter(floor(col("q_id") / 10000000L) =!=
          floor(col("d_id") / 10000000L)).count()
      require(cross == 0L, s"$cross cross-slab pairs under eps=1.26")
      val n = pairs.count()
      queries.unpersist(false)
      rangeRadii.unpersist(false)
      n
    }

    // BPE training at 16×: ONE corpus-linear tokenizing scan collapses
    // to the word-frequency table, then every merge round is
    // vocabulary-linear (the 16× corpus has the same vocabulary as 1×
    // modulo the copy-tails, so rounds cost the same at any corpus
    // scale — the structural assert pins that the vocab stayed small).
    time("bpe_train") {
      val vocabSize = docs
        .select(explode(ops.Bm25.tokenize(col("text"))).as("w"))
        .distinct().count()
      require(vocabSize < nDocs * xf / 4,
        s"vocab $vocabSize not << corpus — rounds would be corpus-sized")
      graft.functions.Tokenizers.trainBpe(docs, "text", merges = 8)
        .count()
    }

    // Epoch shuffle at 16×: one md5 order-key scan, a `shards`-row
    // driver collect, one range-shaped window per shard — corpus-linear
    // with no global sort. The permutation property is asserted in
    // aggregate (n distinct positions spanning exactly [0, n-1]).
    time("epoch_shuffle") {
      val shuffled = ops.Sampling.epochShuffle(docs, "doc_id", "e1",
        shards = 64)
      val agg = shuffled.agg(
        countDistinct(col("pos")).as("d"),
        min(col("pos")).as("mn"), max(col("pos")).as("mx")).head()
      val n = nDocs * xf
      require(agg.getLong(0) == n && agg.getLong(1) == 0L &&
          agg.getLong(2) == n - 1,
        s"epoch shuffle is not a permutation at 16×: $agg vs n=$n")
      n
    }

    // Domain discovery at 16×: iters× (map-only broadcast-argmin assign
    // + one k-cell combinable mean shuffle), a primary-key join, and a
    // k×strata aggregate — every stage corpus-linear with map-side
    // combine, nothing driver-side but k centroids.
    time("domain_mix_table") {
      ops.Domains.domainMixTable(docs, "doc_id", vecs, "vec_id",
        "embedding", "lang", col("n_chars"), k = 8, iters = 2).count()
    }

    // LM quality at 16×: bigram relation is token-count rows map-only
    // from the scan; both count tables combinable; the score join is
    // vocabulary-sized per key. Corpus-linear end to end.
    time("lm_quality_score") {
      ops.TextAnalysis.lmLogLoss(docs, "doc_id", "text").count()
    }

    // Cell split at 16×: the audit is one combinable count; each
    // flagged cell retrains from ITS directory only (the split of a
    // 100 TB root costs the flagged cells, not the corpus). Search
    // results are invariant (count-asserted here; fully hash-gated by
    // r69) and the post-split scan keeps partition pruning.
    time("cell_split") {
      val coarse = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 4,
        iters = 2)
      val assigned = ops.Ann.assign(vecs, "embedding", coarse,
        ops.Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_split").toString
      ops.Ann.writeRangeIndex(assigned, "embedding", coarse, dir)
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      def hits() = ops.Ann.rangeSearchStoredSelf(spark, dir, "vec_id",
        "embedding", typedlit(q), eps = 1.26).count()
      val before = hits()
      val maxBefore = ops.Ann.indexHealth(
        ops.Ann.cellRoot(spark, dir, Some("embedding")))
        .agg(max(col("n_rows"))).head().getLong(0)
      val splits = ops.Ann.splitOverfull(
        ops.Ann.cellRoot(spark, dir, Some("embedding")),
        maxRows = nVecs * xf / 8)
      require(splits.nonEmpty, "16x split never fired on a 4-cell root")
      val health = ops.Ann.indexHealth(
        ops.Ann.cellRoot(spark, dir, Some("embedding")))
        .agg(max(col("n_rows")).as("mx"), sum(col("n_rows")).as("n"))
        .head()
      require(health.getLong(0) < maxBefore,
        s"split left max occupancy at ${health.getLong(0)}")
      require(health.getLong(1) == nVecs * xf,
        s"split lost rows: ${health.getLong(1)} vs ${nVecs * xf}")
      val df = ops.Ann.rangeSearchStoredSelf(spark, dir, "vec_id",
        "embedding", typedlit(q), eps = 1.26)
      require(df.count() == before,
        "range results changed across the split")
      val phys = df.queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*centroid_id""".r
          .findFirstIn(phys).isDefined,
        s"post-split range query lost partition pruning at 16x:\n$phys")
      before
    }

    // MANY-FLAGGED split at 16× (VERDICT r16 #5's measure-first row):
    // a long-neglected 64-cell DENSE root whose half-average threshold
    // flags ~half the cells at once — the first-ever health pass over
    // a root that streamed unattended. flagAndTrainSubs retrains
    // flagged cells in a driver loop (one k=2 KMeans per cell); this
    // row times that worst case so a restructure to one grouped job
    // happens only if job-submission overhead actually dominates.
    // Build is OUTSIDE the timer; only the split is measured.
    if (only.forall(_.exists("many_flagged_split".startsWith))) {
      val coarse = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 64,
        iters = 1)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_manysplit").toString
      ops.Ann.writeDenseRoot(
        ops.Ann.assign(vecs, "embedding", coarse, ops.Ann.L2),
        "embedding", coarse, ops.Ann.L2, dir)
      time("many_flagged_split") {
        val splits = ops.Ann.splitOverfull(ops.Ann.cellRoot(spark, dir, None),
          maxRows = nVecs * xf / 128)
        require(splits.size >= 16,
          s"many-flagged split fired on only ${splits.size} cells — " +
            "the row no longer measures the driver-loop worst case")
        splits.size.toLong
      }
      val n = spark.read.parquet(s"$dir/rows").count()
      require(n == nVecs * xf,
        s"many-flagged split lost rows: $n vs ${nVecs * xf}")
    }

    // Underfull-cell MERGE at 16× (the split's complement): an S6
    // delete drains one cell to ~1/37 of its size, and ONLY the merge
    // call is timed — its cost is bounded by the drained cell's rows
    // (the re-assign + staged move) plus k-row side-table swaps; the
    // occupancy probe reads only the partition column (footer-sized),
    // never data pages. Untimed pins: row conservation, results
    // invariant, cell count shrank.
    if (only.forall(_.exists("cell_merge".startsWith))) {
      val cmModel = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 8,
        iters = 2)
      val cmDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_merge").toString
      ops.Ann.writeRangeIndex(
        ops.Ann.assign(vecs, "embedding", cmModel, ops.Ann.L2),
        "embedding", cmModel, cmDir)
      val cmRows = spark.read.parquet(s"$cmDir/rows")
      val (drainCell, drainN) = cmRows
        .groupBy(col("centroid_id").cast("long")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .minBy(_._2)
      val doomed = cmRows
        .filter(col("centroid_id") === drainCell &&
          col("vec_id") % 37 =!= 0)
        .select("vec_id").localCheckpoint(true)
      val deleted = ops.Ann.deleteStoredIds(spark, s"$cmDir/rows",
        "vec_id", doomed)
      require(deleted > 0, "16x merge drain removed nothing")
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      def hits() = ops.Ann.rangeSearchStoredSelf(spark, cmDir,
        "vec_id", "embedding", typedlit(q), eps = 1.26).count()
      val before = hits()
      val minRows = nVecs * xf / 16
      time("cell_merge") {
        val merged = ops.Ann.mergeUnderfull(
          ops.Ann.cellRoot(spark, cmDir, Some("embedding")), minRows)
        require(merged.contains(drainCell),
          s"16x merge missed the drained cell $drainCell: $merged")
        merged.size.toLong
      }
      locally { // untimed: conservation + invariance + shrinkage
        val health = ops.Ann.indexHealth(
          ops.Ann.cellRoot(spark, cmDir, Some("embedding")))
          .agg(count(lit(1)).as("cells"), sum(col("n_rows")).as("n"))
          .head()
        require(health.getLong(0) < 8L,
          s"merge left ${health.getLong(0)} cells of 8")
        require(health.getLong(1) == nVecs * xf - deleted,
          s"merge lost rows: ${health.getLong(1)} vs " +
            s"${nVecs * xf - deleted}")
        require(hits() == before,
          "range results changed across the merge")
      }
    }

    // Composed matryoshka-IVF SPLIT at 16× — the north-star layout's
    // hot-cell actuator (round 16): only flagged cells retrain (each
    // from ITS directory), emb_pre moves verbatim, and ONLY the split
    // is timed. Untimed pins: cells grew, rows conserved, the probed
    // search still asserts its own partition + column pins.
    if (only.forall(_.exists("mrl_ivf_split".startsWith))) {
      val msModel = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 4,
        iters = 2)
      val msDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_mrlsplit").toString
      ops.Ann.writeMatryoshkaIvf(vecs, "vec_id", "embedding", 8,
        msModel, msDir)
      time("mrl_ivf_split") {
        val s = ops.Ann.splitOverfull(ops.Ann.cellRoot(spark, msDir, None),
          maxRows = nVecs * xf / 8)
        require(s.nonEmpty, "16x composed split never fired")
        s.size.toLong
      }
      locally {
        val cells = spark.read.parquet(s"$msDir/centroids").count()
        require(cells > 4L, s"composed split left $cells cells of 4")
        val n = spark.read.parquet(s"$msDir/rows").count()
        require(n == nVecs * xf,
          s"composed split lost rows: $n vs ${nVecs * xf}")
        val q = emb0.limit(1)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        val topn = ops.Ann.searchStored(
          ops.Ann.cellRoot(spark, msDir, None), "vec_id", q, 2, 10,
          refine = 10).count()
        require(topn == 10L, s"post-split composed top-10 got $topn")
      }
    }

    // Quantized-root MERGE at 16× (round 16): the drained cell's rows
    // strip codes and RE-ENCODE under the receiving cells' frozen
    // bounds — cost bounded by the drained rows plus side-table
    // swaps, never the corpus; only the merge is timed.
    if (only.forall(_.exists("quantized_merge".startsWith))) {
      val qmModel = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 8,
        iters = 2)
      val qmIdx = ops.Ann.buildIvfSq(vecs, "embedding", qmModel,
        ops.Ann.L2)
      val qmDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_qmerge").toString
      ops.Ann.writeQuantized(qmIdx, qmDir)
      val qmRows = spark.read.parquet(s"$qmDir/quantized")
      val (drainCell, _) = qmRows
        .groupBy(col("centroid_id").cast("long")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .minBy(_._2)
      val doomed = qmRows
        .filter(col("centroid_id") === drainCell &&
          col("vec_id") % 37 =!= 0)
        .select("vec_id").localCheckpoint(true)
      val deleted = ops.Ann.deleteStoredIds(spark,
        s"$qmDir/quantized", "vec_id", doomed)
      require(deleted > 0, "16x quantized drain removed nothing")
      time("quantized_merge") {
        val merged = ops.Ann.mergeUnderfull(
          ops.Ann.cellRoot(spark, qmDir, Some("embedding")),
          minRows = nVecs * xf / 16)
        require(merged.contains(drainCell),
          s"16x quantized merge missed cell $drainCell: $merged")
        merged.size.toLong
      }
      locally { // conservation + the merged root still searches
        val n = spark.read.parquet(s"$qmDir/quantized").count()
        require(n == nVecs * xf - deleted,
          s"quantized merge lost rows: $n vs ${nVecs * xf - deleted}")
        val q = emb0.limit(1)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        val topn = ops.Ann.searchStored(
          ops.Ann.cellRoot(spark, qmDir, Some("embedding")), "vec_id", q,
          2, 10, refine = 5).count()
        require(topn == 10L, s"post-merge SQ top-10 got $topn")
      }
    }

    // Streamed DENSE cadence at 16× (VERDICT r17 #4): the s33
    // lifecycle's per-batch cost — Stream.ingestAppend (idempotent
    // assign-and-append) + the wired split policy — timed ALONE, so a
    // regression in the dense seat's per-batch path can't hide behind
    // the argument that its pieces are timed elsewhere. Root build
    // (even half) and the post-stream pins are OUTSIDE the timer.
    if (only.forall(_.exists("stream_dense_append".startsWith))) {
      import spark.implicits._
      implicit val sc = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val sdModel = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 8,
        iters = 2)
      val sdDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_sdense").toString
      // store doubles: the streamed batches arrive as array<double>
      // and the append seat refuses mixed-schema layouts (s33's base)
      val even = vecs.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label"))
      ops.Ann.writeDenseRoot(
        ops.Ann.assign(even, "embedding", sdModel, ops.Ann.L2),
        "embedding", sdModel, ops.Ann.L2, sdDir)
      val maxOcc = ops.Ann.assign(vecs, "embedding", sdModel, ops.Ann.L2)
        .groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      val odd = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          col("embedding").cast("array<double>"), col("label"))
        .as[(Long, Seq[Double], Int)].collect().toSeq.sortBy(_._1)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_smoke_sdense_ckpt").toString
      val input = MemoryStream[(Long, Seq[Double], Int)]
      val q = graft.streaming.Stream.ingestAppend(
        input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
        ops.Ann.cellRoot(spark, sdDir, None), ckpt,
        splitMaxRows = Some(math.max(1L, maxOcc - 1)))
      try {
        time("stream_dense_append") {
          val batches = 4
          (0 until batches).foreach { b =>
            input.addData(odd.slice(b * odd.length / batches,
              (b + 1) * odd.length / batches): _*)
            q.processAllAvailable()
          }
          odd.length.toLong
        }
      } finally q.stop()
      locally { // untimed: policy fired + row conservation
        val cellsNow = spark.read.parquet(s"$sdDir/centroids").count()
        require(cellsNow > 8L,
          s"16x streamed dense split never fired ($cellsNow cells of 8)")
        val n = spark.read.parquet(s"$sdDir/rows").count()
        require(n == nVecs * xf,
          s"streamed dense cadence lost rows: $n vs ${nVecs * xf}")
      }
    }

    // Streamed QUANTIZED-FRESH cadence at 16× — the dense row's
    // sibling for the family whose per-batch path is genuinely
    // different machinery (two-layout existence probe, raw fresh
    // append, ratio-triggered compaction encode, split on the
    // compacted root); the maxsim cadence needs no row of its own
    // (it IS the dense seat plus one map-only mean transform).
    // Build untimed; ratio 0 compacts every batch on purpose —
    // the worst-case cadence s32 runs at gate scale.
    if (only.forall(_.exists("stream_quantized_append".startsWith))) {
      import spark.implicits._
      implicit val sc = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val sqModel = ops.Ann.buildIvfKMeans(vecs, "embedding", k = 8,
        iters = 2)
      val even = vecs.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label"))
      val sqIdx = ops.Ann.buildIvfSq(even, "embedding", sqModel,
        ops.Ann.L2)
      val sqDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_sqstream").toString
      ops.Ann.writeQuantized(sqIdx, sqDir)
      val maxOcc = ops.Ann.assign(vecs, "embedding", sqModel, ops.Ann.L2)
        .groupBy(col("centroid_id")).count()
        .agg(max(col("count"))).head().getLong(0)
      val odd = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          col("embedding").cast("array<double>"), col("label"))
        .as[(Long, Seq[Double], Int)].collect().toSeq.sortBy(_._1)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_smoke_sqstream_ckpt").toString
      val input = MemoryStream[(Long, Seq[Double], Int)]
      val q = graft.streaming.Stream.ingestAppend(
        input.toDF().toDF("vec_id", "embedding", "label"), "vec_id",
        ops.Ann.cellRoot(spark, sqDir, Some("embedding")), ckpt,
        splitMaxRows = Some(math.max(1L, maxOcc - 1)),
        compactRatio = Some(0.0))
      try {
        time("stream_quantized_append") {
          val batches = 4
          (0 until batches).foreach { b =>
            input.addData(odd.slice(b * odd.length / batches,
              (b + 1) * odd.length / batches): _*)
            q.processAllAvailable()
          }
          odd.length.toLong
        }
      } finally q.stop()
      locally { // untimed: policy fired + row conservation
        val cellsNow = spark.read.parquet(s"$sqDir/centroids").count()
        require(cellsNow > 8L,
          s"16x streamed quantized split never fired ($cellsNow of 8)")
        val n = spark.read.parquet(s"$sqDir/quantized").count()
        require(n == nVecs * xf,
          s"streamed quantized cadence lost rows: $n vs ${nVecs * xf}")
      }
    }

    // DSIR at 16×: feature extraction map-only from the scan; both
    // distributions collapse to ≤ buckets rows (asserted — the join's
    // build side is bucket-sized at ANY corpus scale); one per-doc sum
    // and a TakeOrdered-k draw.
    time("dsir_select") {
      val w = ops.TextAnalysis.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 1024)
      val picked = ops.Sampling.gumbelTopK(w, "doc_id", "logw",
        n = 1000, seed = "smoke")
      val n = picked.count()
      require(n == 1000, s"gumbel draw returned $n of 1000")
      n
    }

    // k-center at 16×: k−1 selection rounds, each a map-only distance
    // expression (≤ k literal vectors, no join) into a TakeOrdered-1,
    // then ONE broadcast assignment pass; driver state is exactly the
    // k selected vectors regardless of corpus size.
    time("kcenter_select") {
      val asg = ops.Sampling.kCenterAssign(vecs, "vec_id", "embedding",
        k = 8)
      val agg = asg.agg(
        countDistinct(col("center_id")).as("k"),
        count(lit(1)).as("n"),
        max(col("dist")).as("mx")).head()
      require(agg.getLong(0) == 8,
        s"degenerate selection: ${agg.getLong(0)} of 8 centers")
      require(agg.getLong(1) == nVecs * xf,
        s"coverage lost rows: ${agg.getLong(1)} vs ${nVecs * xf}")
      require(agg.getDouble(2) > 0.0, "coverage radius collapsed to 0")
      agg.getLong(1)
    }

    // Matryoshka at rest at 16×: the write materializes the 8-dim
    // prefix as its own column; the phase-1 scan of 512k vectors
    // reads (vec_id, emb_pre) ONLY — operator-enforced on every
    // call, so this row re-asserts the column pruning at scale.
    time("matryoshka_stored_query") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_smoke_mrl").toString
      ops.Ann.writeMatryoshka(vecs, "vec_id", "embedding", 8, dir)
      val q = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      val df = ops.Ann.matryoshkaTopKStored(spark, dir, "vec_id", q,
        candidates = 100, k = 10)
      val n = df.count()
      require(n == 10, s"matryoshka stored top-10 returned $n rows")
      n
    }

    // Matryoshka×IVF at 16×: the composed layout (r78) must make
    // phase 1 probed-cells-bounded — the row count visible under 2
    // probes is a strict fraction of the corpus (≈2/L for the
    // label-balanced cells), vs the flat root's always-full-corpus
    // prefix scan; the operator itself asserts the centroid_id
    // PartitionFilters + emb_pre-only read on the timed call. Build
    // hoisted out of the timer.
    if (only.forall(o => o.exists("matryoshka_ivf_query".startsWith) ||
        o.exists("matryoshka_ivf_batch_query".startsWith))) {
    val mrlIvfModel = ops.Ann.buildIvf(vecs, "label", "embedding")
    val mrlIvfDir = java.nio.file.Files
      .createTempDirectory("graft_smoke_mrl_ivf").toString
    ops.Ann.writeMatryoshkaIvf(vecs, "vec_id", "embedding", 8,
      mrlIvfModel, mrlIvfDir)
    val mrlIvfQ = emb0.limit(1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    time("matryoshka_ivf_query") {
      // ONLY the probed two-phase query is timed — the probed-fraction
      // assertion below scans the full corpus and would otherwise
      // dominate the metric, masking a shape regression in the very
      // query this row exists to catch
      val df = ops.Ann.searchStored(
        ops.Ann.cellRoot(spark, mrlIvfDir, None), "vec_id", mrlIvfQ, 2,
        10, refine = 10)
      val n = df.count()
      require(n == 10, s"matryoshka-IVF top-10 returned $n rows")
      n
    }
    locally { // untimed structural assert: phase-1 IO is probe-bounded
      val cellCount = mrlIvfModel.centroids.count()
      val probed = ops.Ann.probeCells(mrlIvfModel, typedlit(mrlIvfQ),
        ops.Ann.L2, 2).collect().map(_.getLong(0))
      val rows = spark.read.parquet(s"$mrlIvfDir/rows")
      val probedRows = rows
        .filter(col("centroid_id").isin(probed: _*)).count()
      val totalRows = rows.count()
      require(probedRows < totalRows,
        s"phase 1 saw the whole corpus ($probedRows of $totalRows)")
      require(probedRows.toDouble / totalRows <= 2.5 / cellCount * 2,
        s"phase-1 IO not probe-bounded: $probedRows of $totalRows " +
          s"rows under 2 of $cellCount probes")
    }
    // The BATCH form (r85) at 16×: a 64-query log replayed as ONE
    // distributed job over the same composed root — the eval-loop
    // shape. The operator asserts its own phase-1 pins on the timed
    // call (union-of-probed-cells PartitionFilters + an emb_pre-only
    // read), so the row times exactly the scale claim: cost bounded
    // by the probed-cell UNION of the whole batch, never 64 separate
    // full scans and never a driver loop.
    time("matryoshka_ivf_batch_query") {
      val qs = emb0.filter(col("vec_id") < 64)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
      val df = ops.Ann.matryoshkaTopKIvfBatch(spark, mrlIvfDir,
        "vec_id", qs, "q_id", "qv", probes = 2, candidates = 100,
        k = 10)
      val n = df.count()
      require(n == 64L * 10,
        s"matryoshka-IVF batch top-10 x 64 returned $n rows")
      n
    }
    } // filter guard: build + untimed asserts skip with the row

    // ---- Graduated-root maintenance appenders at 16× --------------
    // The s19/s21-s26 family's scale claim, pinned structurally: an
    // append's cost scales with the BATCH and its touched cells /
    // buckets, never the corpus — the timed call is a small batch
    // against the 16×-grown root, and the untimed assert bounds the
    // existence probe's visible rows by the touched fraction (the
    // matryoshka_ivf_query row's discipline). One row per probe
    // discipline: dense cells (covers range/composed — same
    // touched-cell probe), BM25 postings (covers sparse — same
    // row-keyed touched-bucket probe), quantized fresh side table.

    if (only.forall(_.exists("append_ivf_cells".startsWith))) {
      val apModel = ops.Ann.buildIvf(vecs, "label", "embedding")
      val apRoot = java.nio.file.Files
        .createTempDirectory("graft_smoke_apivf").toString
      ops.Ann.writeDenseRoot(
        ops.Ann.assign(vecs, "embedding", apModel, ops.Ann.L2),
        "embedding", apModel, ops.Ann.L2, apRoot)
      val apPath = s"$apRoot/rows"
      // a 200-row batch drawn from TWO ASSIGNED cells (labels don't
      // cluster the synthetic embeddings — cell membership does):
      // touches exactly 2 of the model's cells; fresh ids beyond
      // every inflated copy's range
      val apBatch = ops.Ann.assign(emb0, "embedding", apModel,
          ops.Ann.L2)
        .filter(col("centroid_id").isin(0, 1)).limit(200)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint(true)
      val apBatchN = apBatch.count()
      time("append_ivf_cells") {
        val n = ops.Ann.appendIdempotent(
          ops.Ann.cellRoot(spark, apRoot, None), apBatch, "vec_id")
        require(n == apBatchN, s"appended $n of $apBatchN batch rows")
        n
      }
      locally { // untimed: probe IO is touched-cells-bounded + replay-safe
        val cellCount = apModel.centroids.count()
        val touched = ops.Ann.assign(apBatch, "embedding", apModel,
            ops.Ann.L2).select(col("centroid_id")).distinct()
          .collect().map(_.getLong(0))
        val stored = spark.read.parquet(apPath)
        val probedRows = stored
          .filter(col("centroid_id").isin(touched: _*)).count()
        val totalRows = stored.count()
        require(probedRows < totalRows,
          s"append probe saw the whole corpus ($probedRows of $totalRows)")
        require(probedRows.toDouble / totalRows <=
            touched.length.toDouble / cellCount * 2,
          s"append probe not cell-bounded: $probedRows of $totalRows " +
            s"rows under ${touched.length} of $cellCount touched cells")
        require(ops.Ann.appendIdempotent(
            ops.Ann.cellRoot(spark, apRoot, None), apBatch, "vec_id") == 0L,
          "redelivered batch appended rows at 16x")
      }
    }

    if (only.forall(_.exists("append_bm25_postings".startsWith))) {
      val sp2 = spark
      import sp2.implicits._
      val bmDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_apbm").toString + "/postings"
      ops.Bm25.writePostings(docs, "doc_id", "text", bmDir, buckets = 16)
      // a constrained-vocab batch: its terms hash into FEW of the 16
      // bucket dirs, so the touched-bucket probe is visibly partial
      val bmBatch = (0 until 200).map(i =>
          (900000000L + i, "alpha beta gamma"))
        .toDF("doc_id", "text").localCheckpoint(true)
      time("append_bm25_postings") {
        val n = ops.Bm25.appendPostingsIdempotent(spark, bmDir, bmBatch,
          "doc_id", "text")
        require(n == 200L, s"appended $n of 200 batch docs")
        n
      }
      locally { // untimed: probe IO is touched-buckets-bounded + replay-safe
        val stored = spark.read.parquet(bmDir)
        val touched = stored.filter(col("id") >= 900000000L)
          .select(col("bucket")).distinct().collect().map(_.getInt(0))
        require(touched.length < 16,
          s"constrained vocab touched all ${touched.length} buckets")
        val probedRows = stored
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
          .count()
        val totalRows = stored.count()
        require(probedRows.toDouble / totalRows <=
            touched.length.toDouble / 16 * 2,
          s"append probe not bucket-bounded: $probedRows of $totalRows " +
            s"posting rows under ${touched.length} of 16 touched buckets")
        require(ops.Bm25.appendPostingsIdempotent(spark, bmDir, bmBatch,
            "doc_id", "text") == 0L,
          "redelivered batch appended docs at 16x")
      }
    }

    if (only.forall(_.exists("append_quantized_fresh".startsWith))) {
      val sqModel = ops.Ann.buildIvf(vecs, "label", "embedding")
      val sqIdx = ops.Ann.buildIvfSq(vecs, "embedding", sqModel,
        ops.Ann.L2)
      val sqDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_apsq").toString
      ops.Ann.writeQuantized(sqIdx, sqDir)
      // cell-drawn like the dense row: the claim is about TOUCHED
      // cells, so the batch must demonstrably touch few
      val sqBatch = ops.Ann.assign(emb0, "embedding", sqModel,
          ops.Ann.L2)
        .filter(col("centroid_id").isin(0, 1)).limit(200)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint(true)
      val sqBatchN = sqBatch.count()
      time("append_quantized_fresh") {
        val n = ops.Ann.appendIdempotent(
          ops.Ann.cellRoot(spark, sqDir, Some("embedding")),
          sqBatch, "vec_id")
        require(n == sqBatchN, s"appended $n of $sqBatchN batch rows")
        n
      }
      locally { // untimed: fresh probe cell-bounded, replay-safe, queryable
        val cellCount = sqModel.centroids.count()
        val touched = ops.Ann.assign(sqBatch, "embedding", sqModel,
            ops.Ann.L2).select(col("centroid_id")).distinct()
          .collect().map(_.getLong(0))
        val stored = spark.read.parquet(s"$sqDir/quantized")
        val probedRows = stored
          .filter(col("centroid_id").isin(touched: _*)).count()
        val totalRows = stored.count()
        require(probedRows.toDouble / totalRows <=
            touched.length.toDouble / cellCount * 2,
          s"fresh-append probe not cell-bounded: $probedRows of " +
            s"$totalRows rows under ${touched.length} of $cellCount " +
            "touched cells")
        require(ops.Ann.appendIdempotent(
          ops.Ann.cellRoot(spark, sqDir, Some("embedding")),
          sqBatch, "vec_id") == 0L,
          "redelivered batch appended rows at 16x")
        val q = emb0.limit(1)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        val hits = ops.Ann.searchStored(
          ops.Ann.cellRoot(spark, sqDir, Some("embedding")), "vec_id", q,
          2, 10).count()
        require(hits == 10L, s"fresh-aware 16x search returned $hits")
      }
    }

    // Fresh-aware SEARCH at 16× with a NONTRIVIAL fresh fraction (the
    // r14 verdict: the three append rows pin the appends; the read
    // path's probed-fraction bound at scale was asserted but never
    // TIMED). Root = 3/4 of the corpus, fresh/ = the other 1/4 grown
    // through the append path — the timed call is the fresh-aware
    // search itself; untimed asserts pin that the encode-on-read
    // input is the PROBED fraction of fresh/ (never all of it), that
    // the below-threshold policy leaves fresh/ alone, and that the
    // above-threshold trigger folds everything with identical results
    // (the s26 pin at 16×).
    if (only.forall(o =>
        o.exists("search_quantized_fresh".startsWith) ||
        o.exists("search_quantized_fresh_batch".startsWith))) {
      val sfModel = ops.Ann.buildIvf(vecs, "label", "embedding")
      val mainPart = vecs.filter(col("vec_id") % 4 =!= 0)
      val freshPart = vecs.filter(col("vec_id") % 4 === 0)
        .localCheckpoint(true)
      val sfIdx = ops.Ann.buildIvfSq(mainPart, "embedding", sfModel,
        ops.Ann.L2)
      val sfDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_sqfresh").toString
      ops.Ann.writeQuantized(sfIdx, sfDir)
      val sfRoot = ops.Ann.cellRoot(spark, sfDir, Some("embedding"))
        .as[ops.Ann.CellRoot.Quantized]("scale smoke")
      val grown = ops.Ann.appendIdempotent(sfRoot, freshPart, "vec_id")
      val freshN = freshPart.count()
      require(grown == freshN, s"grew $grown of $freshN fresh rows")
      // below threshold (1/4 over 3/4 = 1/3 < 0.5): must NOT trigger
      require(ops.Ann.compactQuantizedFreshIfNeeded(sfRoot, "vec_id", 0.5)
          .isEmpty,
        "policy triggered below its ratio threshold at 16x")
      val qv = emb0.limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      time("search_quantized_fresh") {
        val hits = ops.Ann.searchStored(sfRoot, "vec_id", qv, 2, 10)
          .count()
        require(hits == 10L,
          s"fresh-fraction 16x search returned $hits")
        hits
      }
      // The BATCH form (r87) at 16×, BEFORE the compaction fold: a
      // query log over the live (fresh-carrying) root as ONE job.
      // Queries drawn from two ASSIGNED cells (labels don't cluster
      // the synthetic embeddings — cell membership does) at probes=1,
      // so the batch's probed-cell UNION is exactly those two cells —
      // the fresh encode-on-read input must be bounded by that union
      // (asserted untimed below), never |fresh|.
      val sfBatchQs = ops.Ann.assign(emb0, "embedding", sfModel,
          ops.Ann.L2)
        .filter(col("centroid_id").isin(0, 1)).limit(8)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
        .localCheckpoint(true)
      val sfBatchN = sfBatchQs.count()
      time("search_quantized_fresh_batch") {
        val hits = ops.Ann.knnJoinQuantizedFresh(spark, sfDir,
          sfBatchQs, "q_id", "qv", "vec_id", "embedding", ops.Ann.L2,
          probes = 1, k = 10, refine = 5).count()
        require(hits == sfBatchN * 10,
          s"fresh batch search returned $hits of ${sfBatchN * 10}")
        hits
      }
      locally { // untimed: the batch union's fresh bound
        val storedModel = ops.Ann.IvfModel(
          spark.read.parquet(s"$sfDir/centroids"), "centroid_id",
          "centroid")
        val cellCount = storedModel.centroids.count()
        val union = sfBatchQs.collect().flatMap { r =>
          ops.Ann.probeCells(storedModel,
              typedlit(r.getSeq[Double](1).toSeq), ops.Ann.L2, 1)
            .collect().map(_.getLong(0))
        }.distinct
        require(union.length < cellCount,
          s"batch probe union covers every cell — pin is vacuous")
        val fresh = spark.read.parquet(s"$sfDir/fresh")
        val unionFresh = fresh
          .filter(col("centroid_id").isin(union.toSeq: _*)).count()
        val freshTotal = fresh.count()
        require(unionFresh < freshTotal,
          s"batch fresh encode input saw ALL $freshTotal fresh rows")
        require(unionFresh.toDouble / freshTotal <=
            union.length.toDouble / cellCount * 2,
          s"batch fresh input not union-bounded: $unionFresh of " +
            s"$freshTotal under ${union.length} of $cellCount cells")
      }
      locally { // untimed: probed-fraction bound + threshold trigger
        val storedModel = ops.Ann.IvfModel(
          spark.read.parquet(s"$sfDir/centroids"), "centroid_id",
          "centroid")
        val cellCount = storedModel.centroids.count()
        val cells = ops.Ann.probeCells(storedModel, typedlit(qv),
          ops.Ann.L2, 2).collect().map(_.getLong(0))
        val fresh = spark.read.parquet(s"$sfDir/fresh")
        val probedFresh = fresh
          .filter(col("centroid_id").isin(cells: _*)).count()
        require(probedFresh < freshN,
          s"fresh encode input saw ALL $freshN fresh rows")
        require(probedFresh.toDouble / freshN <=
            cells.length.toDouble / cellCount * 2,
          s"fresh encode input not probed-fraction-bounded: " +
            s"$probedFresh of $freshN under ${cells.length} of " +
            s"$cellCount probed cells")
        val beforeFold = ops.Ann.searchStored(sfRoot, "vec_id", qv, 2, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        // above threshold (1/3 > 0.25): the policy folds everything
        require(ops.Ann.compactQuantizedFreshIfNeeded(sfRoot, "vec_id",
            0.25).contains(freshN),
          "policy did not fold the whole fresh side at 16x")
        val afterFold = ops.Ann.searchStored(sfRoot, "vec_id", qv, 2, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        require(beforeFold == afterFold,
          "results changed across the 16x compaction trigger")
      }
    }

    // Label propagation at 16×: communities over the copy-clique
    // near-dup graph — every 16-copy clique must collapse toward one
    // community (ties by label asc make the collapse deterministic);
    // per round ONE edge⋈label equi-join + a combinable weighted
    // count, the argmax a degree-bounded window (the pair table is
    // memoized from the earlier dedup rows).
    time("label_propagation") {
      val pairs = ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      val nodes = docs.select(col("doc_id").as("uid"), col("text"))
      val rels = pairs.select(col("a").as("source"),
        col("b").as("target"), lit("dup").as("description"))
      val out = graft.graph.Graph.labelPropagation(nodes, rels,
        iters = 3)
      val n = out.count()
      val comms = out.select("community").distinct().count()
      require(n == nDocs * xf,
        s"label propagation lost nodes: $n of ${nDocs * xf}")
      require(comms < n && comms <= n / 4,
        s"copy cliques did not collapse: $comms communities for $n " +
          "nodes")
      n
    }

    // Personalized PageRank at 16×: mass must stay NEAR the seeds
    // (the personalization contract) — on the clique-structured
    // near-dup graph a 10-seed teleport set lights up only the
    // seeds' own components, a strict fraction of the corpus; per
    // round one out-degree join + a combinable contribution sum.
    time("personalized_pagerank") {
      val pairs = ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      val nodes = docs.select(col("doc_id").as("uid"), col("text"))
      val rels = pairs.select(col("a").as("source"),
        col("b").as("target"))
      val seeds = nodes.orderBy(col("uid").asc).limit(10)
      val out = graft.graph.Graph.personalizedPageRank(nodes, rels,
        seeds, iters = 3)
      val pos = out.filter(col("pr") > 0).count()
      val total = out.count()
      require(pos >= 10, s"seed mass vanished: $pos positive-pr nodes")
      require(pos <= total / 4,
        s"personalization leaked: $pos of $total nodes hold mass")
      total
    }

    // Triangle counting at 16×: the copy-inflated near-dup graph is
    // adversarially clique-heavy (every original doc becomes a 16-copy
    // clique → ~16³ wedge pressure per doc); the degree-ordered
    // orientation keeps the wedge join arboricity-bounded anyway.
    time("triangle_cc") {
      val pairs = ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      val cc = graft.graph.Graph.clusteringCoefficients(
        docs.select(col("doc_id").as("uid"), col("text")),
        pairs.select(col("a").as("source"), col("b").as("target")))
      val agg = cc.agg(max(col("degree")).as("dmx"),
        sum(col("triangles")).as("tri"),
        max(col("cc")).as("ccmx")).head()
      require(agg.getLong(0) >= 15,
        s"copy cliques missing: max degree ${agg.getLong(0)} < 15")
      require(agg.getLong(1) > 0, "no triangles in the copy graph")
      require(agg.getDouble(2) <= 1.0 + 1e-9,
        s"cc exceeded 1: ${agg.getDouble(2)}")
      cc.count()
    }

    // k-core peel at 16×: the copy-clique graph is the adversarial
    // case the degree-ordered triangle row uses — here every 16-copy
    // clique is a k-core that must survive k=2 peeling intact while
    // pairs/chains strip; per round ONE combinable degree count +
    // two survivor semi-joins (the pair table is memoized from the
    // earlier dedup rows).
    time("kcore_peel") {
      val pairs = ops.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      val out = graft.graph.Graph.kCorePeel(pairs, k = 2, iters = 3)
      val agg = out.agg(
        count(lit(1)).as("n"),
        sum(when(col("peel_round") === 0, 1L).otherwise(0L))
          .as("survivors"),
        max(col("last_deg")).as("dmx")).head()
      require(agg.getLong(1) > 0, "no 2-core survived the copy cliques")
      require(agg.getLong(2) >= 15,
        s"copy cliques missing from the core: max degree " +
          s"${agg.getLong(2)} < 15")
      agg.getLong(0)
    }

    // Audio fingerprints at 16×: 80k synthesized WAV clips through
    // the REAL javax.sound decode + the fixed-size window accumulator
    // (map-only), then the banded-Hamming join — the audio member of
    // the near-dup family at scale.
    time("audio_fingerprint") {
      import spark.implicits._
      val wavs = docs.select(col("doc_id"), col("text"))
        .filter(length(col("text")) > 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          graft.multimodal.MediaRow(id, "audio",
            graft.multimodal.WavCodec.pcmWav(b, 1000f),
            graft.multimodal.MediaMeta("wav", 0, 0, 1, b.length.toLong))
        }
      val sigs = graft.multimodal.Multimodal.audioFingerprint(wavs,
        graft.multimodal.WavCodec())
      val pairs = ops.Dedup.simHashPairs(sigs, maxDist = 3, bands = 4)
      val n = pairs.count()
      require(n > 0, "copy clips produced no near-dup audio pair")
      n
    }

    // PMI + TF-IDF at 16×: both are one (or two) combinable counts
    // over the exploded token stream; margins and df stay
    // vocabulary-sized, so their joins broadcast at any corpus scale.
    time("pmi_collocations") {
      ops.TextAnalysis.pmiCollocations(docs, "text").count()
    }
    time("tfidf_keywords") {
      ops.TextAnalysis.tfIdfKeywords(docs, "doc_id", "text").count()
    }

    // Temperature mixing at 16×: one count by lang, then
    // domains-sized broadcast frames; the kept set is budget-scaled.
    time("temperature_mix") {
      val kept = ops.Domains.temperatureSample(docs, "doc_id", "lang",
        alpha = 0.5, budget = nDocs * xf / 4).count()
      require(kept > 0, "temperature sample kept nothing")
      kept
    }

    val total = results.values.sum
    val qs = results.map { case (k, v) =>
      s""""$k":{"sec":$v,"rows":${counts(k)}}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","value":$total,"unit":"sec",""" +
      s""""scale_x":$xf,"docs":${nDocs * xf},"vecs":${nVecs * xf},""" +
      s""""ops":$qs}""")
    spark.stop()
  }
}
