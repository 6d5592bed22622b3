package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The quantized-root fresh-rows maintenance contract
  * ([[Ann.appendIdempotent]] /
  * [[Ann.searchIvf*StoredFresh]] / [[Ann.compactQuantizedFresh]]):
  * a root holding half the corpus plus exact fresh appends of the
  * other half must answer every search EXACTLY like a one-shot build
  * over the whole corpus — before compaction (fresh encoded on read
  * under the frozen artifacts) and after (fresh folded into the main
  * layout, side table gone); redelivered batches append nothing, even
  * after their rows have graduated into the main layout. */
class QuantizedFreshSpec extends SparkSpecBase {

  private val rng = new scala.util.Random(23)
  private val dim = 16
  private lazy val corpus: Seq[(Long, Seq[Double], Int)] = {
    val anchors = Array.fill(3)(Array.fill(dim)(rng.nextDouble() * 4))
    (0 until 60).map { i =>
      val lab = i % 3
      val v = anchors(lab).map(_ + (rng.nextDouble() - 0.5) * 0.2).toSeq
      (i.toLong, v, lab)
    }
  }

  private def df = {
    val sp = spark
    import sp.implicits._
    corpus.toDF("vec_id", "embedding", "label")
  }
  private def even = df.filter(col("vec_id") % 2 === 0)
  private def odd = df.filter(col("vec_id") % 2 === 1)
  private def q: Seq[Double] = corpus(7)._2

  private def root(dir: String): Ann.CellRoot.Quantized =
    Ann.cellRoot(spark, dir, Some("embedding"))
      .as[Ann.CellRoot.Quantized]("QuantizedFreshSpec")

  private def ids(r: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    r.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq

  test("SQ root: fresh appends answer like a one-shot build, " +
      "redelivery appends zero, compaction folds losslessly") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val full = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val want = ids(Ann.searchQuantized(full, "vec_id", "embedding",
      typedlit(q), Ann.L2, probes = 2, k = 8, refine = 5))
    // root holds the even half only; markers pinned at build
    val idx = full.copy(quantized =
      full.quantized.filter(col("vec_id") % 2 === 0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqfresh").toString
    Ann.writeQuantized(idx, dir)
    // append the odd half in two batches
    val n1 = Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd.filter(col("vec_id") < 30), "vec_id")
    val n2 = Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd.filter(col("vec_id") >= 30), "vec_id")
    assert(n1 + n2 == 30L, s"appended $n1 + $n2, wanted 30")
    // crash-redelivery: the same batch appends NOTHING
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd.filter(col("vec_id") < 30), "vec_id") == 0L)
    val before = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 5))
    assert(before == want,
      s"fresh-aware search diverged from the one-shot build:\n" +
        s"got  $before\nwant $want")
    // compaction folds, deletes fresh/, and changes NOTHING observable
    val folded = Ann.compactQuantizedFresh(root(dir), "vec_id")
    assert(folded == 30L, s"compaction folded $folded, wanted 30")
    assert(!new java.io.File(dir, "fresh").exists(),
      "fresh/ must be gone after compaction")
    val after = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 5))
    assert(after == want, "post-compaction search diverged")
    // the plain stored search agrees too: the folded layout IS a
    // one-shot writeQuantized layout
    val plain = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 5))
    assert(plain == want, "folded layout diverged under the plain search")
    // redelivery AFTER compaction still appends zero (the main-layout
    // existence probe)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd.filter(col("vec_id") < 30), "vec_id") == 0L)
    // idempotent compaction: nothing left to fold
    assert(Ann.compactQuantizedFresh(root(dir), "vec_id") == 0L)
  }

  test("PQ root (spherical): fresh appends under the cosine geometry " +
      "answer like the one-shot build, before and after compaction") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val full = Ann.buildIvfPq(df, "embedding", model, m = 4, Ann.Cosine)
    def search(d: String) = ids(Ann.searchStored(root(d), "vec_id", q, 2, 8,
        refine = 5))
    val want = ids(Ann.searchQuantized(full, "vec_id", "embedding",
      typedlit(q), Ann.Cosine, probes = 2, k = 8, refine = 5))
    val idx = full.copy(encoded =
      full.encoded.filter(col("vec_id") % 2 === 0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqfresh").toString
    Ann.writeQuantized(idx, dir)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd, "vec_id") == 30L)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd, "vec_id") == 0L, "redelivered batch must append zero")
    assert(search(dir) == want,
      "spherical fresh-aware PQ search diverged from the one-shot build")
    assert(Ann.compactQuantizedFresh(root(dir), "vec_id") == 30L)
    assert(search(dir) == want, "post-compaction PQ search diverged")
  }

  test("1-bit root: fresh appends answer like the one-shot build") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val full = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    val want = ids(Ann.searchQuantized(full, "vec_id", "embedding",
      typedlit(q), Ann.L2, probes = 2, k = 8, refine = 8))
    val idx = full.copy(quantized =
      full.quantized.filter(col("vec_id") % 2 === 0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bitqfresh").toString
    Ann.writeQuantized(idx, dir)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd, "vec_id") == 30L)
    val got = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 8))
    assert(got == want,
      s"1-bit fresh-aware search diverged:\ngot  $got\nwant $want")
    // compaction folds the 1-bit family too (its encode packs
    // internally — a double-pack here once crashed this path) and the
    // folded layout answers identically under BOTH searches
    assert(Ann.compactQuantizedFresh(root(dir), "vec_id") == 30L)
    assert(!new java.io.File(dir, "fresh").exists())
    val after = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 8))
    assert(after == want, "post-compaction 1-bit search diverged")
    val plain = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 8))
    assert(plain == want, "folded 1-bit layout diverged (plain search)")
  }

  test("filtered × fresh: pred thins main AND the encode-on-read " +
      "fresh slice before every cut in all three families plus the " +
      "batch join; parity with the one-shot filtered search holds " +
      "before AND after compaction; no disallowed row ever surfaces") {
    val sp = spark
    import sp.implicits._
    val model = Ann.buildIvf(df, "label", "embedding")
    val pred = col("label").isin(1, 2)
    // --- SQ, thorough (search + batch, before/after compaction) ---
    val fullSq = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val wantSq = ids(Ann.searchQuantized(
      fullSq.copy(quantized = fullSq.quantized.filter(pred)),
      "vec_id", "embedding", typedlit(q), Ann.L2, probes = 2, k = 8,
      refine = 5))
    assert(wantSq.nonEmpty, "vacuous: the filtered reference is empty")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqfresh-filt").toString
    Ann.writeQuantized(fullSq.copy(quantized =
      fullSq.quantized.filter(col("vec_id") % 2 === 0)), dir)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd, "vec_id") == 30L)
    def sqFresh() = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8,
        refine = 5, pred = pred))
    val before = sqFresh()
    assert(before == wantSq,
      s"filtered fresh SQ diverged:\ngot  $before\nwant $wantSq")
    // no-leak: label 0 rows must never surface
    val disallowed = corpus.filter(_._3 == 0).map(_._1).toSet
    assert(before.forall(r => !disallowed(r._1)))
    // batch twin over the LIVE root, same placement
    val queries = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val gotBatch = Ann.knnJoinQuantizedFresh(sp, dir, queries, "qid",
        "qv", "vec_id", "embedding", Ann.L2, probes = 2, k = 5,
        refine = 5, pred = pred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val wantBatch = Ann.knnJoinQuantized(queries, "qid", "qv",
        fullSq.copy(quantized = fullSq.quantized.filter(pred)),
        "vec_id", "embedding", Ann.L2, probes = 2, k = 5, refine = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(gotBatch == wantBatch,
      s"filtered fresh batch join diverged:\n$gotBatch\n$wantBatch")
    assert(gotBatch.forall(r => !disallowed(r._2)))
    // after compaction the SAME call answers identically (the
    // filtered non-fresh parity: fresh/ is gone, pred thins main)
    assert(Ann.compactQuantizedFresh(root(dir), "vec_id") == 30L)
    assert(sqFresh() == wantSq, "post-compaction filtered SQ diverged")
    // --- PQ (spherical) + 1-bit: before-compaction parity ---
    val fullPq = Ann.buildIvfPq(df, "embedding", model, m = 4,
      Ann.Cosine)
    val wantPq = ids(Ann.searchQuantized(
      fullPq.copy(encoded = fullPq.encoded.filter(pred)),
      "vec_id", "embedding", typedlit(q), Ann.Cosine, probes = 2, k = 8,
      refine = 5))
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-pqfresh-filt").toString
    Ann.writeQuantized(fullPq.copy(encoded =
      fullPq.encoded.filter(col("vec_id") % 2 === 0)), dirPq)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dirPq, Some("embedding")),
      odd, "vec_id") == 30L)
    val gotPq = ids(Ann.searchStored(root(dirPq), "vec_id", q, 2, 8,
        refine = 5, pred = pred))
    assert(gotPq == wantPq,
      s"filtered fresh PQ diverged:\ngot  $gotPq\nwant $wantPq")
    assert(gotPq.forall(r => !disallowed(r._1)))
    val fullBq = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    val wantBq = ids(Ann.searchQuantized(
      fullBq.copy(quantized = fullBq.quantized.filter(pred)),
      "vec_id", "embedding", typedlit(q), Ann.L2, probes = 2, k = 8,
      refine = 8))
    val dirBq = java.nio.file.Files
      .createTempDirectory("graft-bitqfresh-filt").toString
    Ann.writeQuantized(fullBq.copy(quantized =
      fullBq.quantized.filter(col("vec_id") % 2 === 0)), dirBq)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dirBq, Some("embedding")),
      odd, "vec_id") == 30L)
    val gotBq = ids(Ann.searchStored(root(dirBq), "vec_id", q, 2, 8,
        refine = 8, pred = pred))
    assert(gotBq == wantBq,
      s"filtered fresh 1-bit diverged:\ngot  $gotBq\nwant $wantBq")
    assert(gotBq.forall(r => !disallowed(r._1)))
  }

  test("a narrow first batch cannot poison fresh/: the append " +
      "validates every batch against the MAIN layout's doc columns") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fresh-narrow").toString
    Ann.writeQuantized(idx, dir)
    // fresh ids (the root holds the full corpus here, so same-id rows
    // would dedup away before the schema check) and a MISSING doc col
    val narrow = odd.drop("label")
      .withColumn("vec_id", col("vec_id") + 1000L)
    intercept[IllegalArgumentException] {
      Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        narrow, "vec_id")
    }
    assert(!new java.io.File(dir, "fresh").exists(),
      "a refused first batch must leave no fresh/ behind")
  }

  test("attached delete maintenance purges fresh/ too: a doomed row " +
      "still awaiting compaction never resurrects through the " +
      "fresh-aware search") {
    val sp = spark
    import sp.implicits._
    import graft.core.Spec
    implicit val enc: org.apache.spark.sql.Encoder[FreshRow] =
      org.apache.spark.sql.Encoders.product[FreshRow]
    val td = Spec.TableDef[FreshRow]("sqfreshdel",
      primaryKey = Some("vec_id"))
    val reg = new graft.core.Registry(sp, java.nio.file.Files
      .createTempDirectory("graft-freshdel-reg").toString)
      .register(td)
    reg.insert(td, corpus.map(r => FreshRow(r._1, r._2, r._3)))
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-freshdel").toString
    Ann.writeQuantized(idx.copy(quantized =
      idx.quantized.filter(col("vec_id") % 2 === 0)), dir)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      odd, "vec_id") == 30L)
    new graft.core.Engine(reg).attachStoredIndex(td, dir)
    // doom one fresh-resident (odd) and one main-resident (even) row
    reg.removeBy(td, Map("vec_id" -> 7L))
    reg.removeBy(td, Map("vec_id" -> 8L))
    assert(sp.read.parquet(s"$dir/fresh")
      .filter(col("vec_id") === 7L).count() == 0L,
      "the fresh side table still holds the deleted row")
    assert(sp.read.parquet(s"$dir/quantized")
      .filter(col("vec_id") === 8L).count() == 0L)
    val got = Ann.searchStored(root(dir), "vec_id", corpus(7)._2, 10, 60,
        refine = 60)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(7L) && !got.contains(8L),
      "deleted rows resurfaced through the fresh-aware search")
    assert(got.size == 58, s"expected 58 survivors, saw ${got.size}")
    // deleting EVERY remaining fresh row must remove fresh/ itself —
    // a lingering dir holding only _SUCCESS would brick every later
    // fresh-aware read with an unreadable-parquet error
    val restOdd = corpus.filter(r => r._1 % 2 == 1 && r._1 != 7L)
      .map(_._1).toDF("vec_id")
    Ann.deleteQuantizedFreshIds(sp, dir, "vec_id", restOdd)
    assert(!new java.io.File(dir, "fresh").exists(),
      "an emptied fresh/ must disappear, not linger unreadable")
    val after = Ann.searchStored(root(dir), "vec_id", corpus(7)._2, 10, 60,
        refine = 60).count()
    assert(after == 29L, s"expected 29 even survivors, saw $after")
  }

  test("mergeUnderfullCellsQuantized: drained cells dissolve with " +
      "rows RE-ENCODED under the receiving cells' frozen artifacts " +
      "(all three families, all-probe equals the exact scan); " +
      "readers/appends/compactions refuse mid-merge and one re-run " +
      "heals; a live fresh/ refuses the merge") {
    val sp = spark
    import sp.implicits._
    val model = Ann.buildIvf(df, "label", "embedding")
    val survivors = df.filter(!(col("label") === 0 && col("vec_id") > 3))
    def exactWant(k: Int) = ids(Ann.topK(survivors, "vec_id",
      "embedding", typedlit(q), Ann.L2, k)
      .select(col("vec_id"), col("dist")))
    def drain(dataSub: String, dir: String): Unit = {
      val doomed = df.filter(col("label") === 0 && col("vec_id") > 3)
        .select("vec_id")
      assert(Ann.deleteStoredIds(sp, s"$dir/$dataSub", "vec_id",
        doomed) === 18L)
    }
    // --- SQ, thorough ---
    val fullSq = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqmerge").toString
    Ann.writeQuantized(fullSq, dir)
    drain("quantized", dir)
    val merged = Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")),
      minRows = 5)
    assert(merged.keySet.nonEmpty && merged.values.sum === 2L,
      s"expected the drained cell (2 rows) to dissolve, got $merged")
    assert(sp.read.parquet(s"$dir/centroids").count() === 2L)
    // moved rows re-encoded under the receiving cells' frozen bounds:
    // all-probe + covering refine == the exact scan over survivors
    val got = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 6))
    assert(got == exactWant(8),
      s"merged SQ root diverged from exact:\n$got\n${exactWant(8)}")
    // codes column well-formed in the receiving cells (no null codes)
    assert(sp.read.parquet(s"$dir/quantized")
      .filter(col("codes").isNull).count() === 0L)
    // bounds stayed FROZEN (digest pin survives a restart probe)
    Ann.ensureQuantizedRoot(sp, dir,
      fullSq.copy(model = Ann.IvfModel(
        sp.read.parquet(s"$dir/centroids"), "centroid_id", "centroid")))
    // torn merge: every quantized entry point refuses; a re-run heals
    graft.io.Markers.write(sp, dir, "_graft_merge_pending", "quantized|")
    intercept[IllegalStateException] { root(dir).readIndex }
    intercept[IllegalStateException] {
      Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        Seq((900L, Seq.fill(dim)(0.1), 0)).toDF(
          "vec_id", "embedding", "label"),
        "vec_id")
    }
    intercept[IllegalStateException] {
      Ann.compactQuantizedFresh(root(dir), "vec_id")
    }
    assert(Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")),
      minRows = 5).isEmpty) // heals, nothing left to merge
    assert(ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8,
        refine = 6)) == got)
    // a live fresh/ refuses the merge (compact first)
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((901L, Seq.fill(dim)(0.2), 1)).toDF(
        "vec_id", "embedding", "label"),
      "vec_id") === 1L)
    val exFresh = intercept[IllegalArgumentException] {
      Ann.mergeUnderfull(Ann.cellRoot(sp, dir, Some("embedding")),
        minRows = 5)
    }
    assert(exFresh.getMessage.contains("fresh"))
    // --- PQ (spherical) + 1-bit: dissolve + reachability ---
    val fullPq = Ann.buildIvfPq(df, "embedding", model, m = 4,
      Ann.Cosine)
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-pqmerge").toString
    Ann.writeQuantized(fullPq, dirPq)
    drain("encoded", dirPq)
    assert(Ann.mergeUnderfull(Ann.cellRoot(sp, dirPq, Some("embedding")),
      minRows = 5).values.sum === 2L)
    assert(Ann.searchStored(root(dirPq), "vec_id", q, 2, 42,
        refine = 1).count() === 42L)
    val fullBq = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
    val dirBq = java.nio.file.Files
      .createTempDirectory("graft-bqmerge").toString
    Ann.writeQuantized(fullBq, dirBq)
    drain("quantized", dirBq)
    assert(Ann.mergeUnderfull(Ann.cellRoot(sp, dirBq, Some("embedding")),
      minRows = 5).values.sum === 2L)
    assert(Ann.searchStored(root(dirBq), "vec_id", q, 2, 42, refine = 1).count()
      === 42L)
  }

  test("splitOverfullCellsQuantized: SQ sub-cells INHERIT the frozen " +
      "bounds so codes stay bit-identical (rows just change dirs); " +
      "PQ moves verbatim; 1-bit RE-ENCODES residuals; spherical " +
      "sub-centroids store unit-norm; a live fresh/ refuses") {
    val sp = spark
    import sp.implicits._
    // ONE-cell models make the single cell hot by construction
    val model1 = Ann.buildIvfKMeans(df, "embedding", 1)
    def exactWant(k: Int) = ids(Ann.topK(df, "vec_id", "embedding",
      typedlit(q), Ann.L2, k).select(col("vec_id"), col("dist")))
    // --- SQ: bit-identity of every code across the split ---
    val fullSq = Ann.buildIvfSq(df, "embedding", model1, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqsplit").toString
    Ann.writeQuantized(fullSq, dir)
    def codeBytes(): Map[Long, Seq[Byte]] =
      sp.read.parquet(s"$dir/quantized")
        .select(col("vec_id"), col("codes")).collect()
        .map(r => r.getLong(0) ->
          r.getAs[Array[Byte]](1).toSeq).toMap
    val before = codeBytes()
    val split = Ann.splitOverfull(Ann.cellRoot(sp, dir, Some("embedding")),
      maxRows = 30)
    assert(split.keySet.size === 1 && split.values.head.size === 2,
      s"expected the one hot cell to split in two, got $split")
    assert(sp.read.parquet(s"$dir/centroids").count() === 2L)
    val after = codeBytes()
    assert(after == before,
      "SQ codes changed across the split — bounds inheritance broken")
    // both sub-cells carry the PARENT's bounds row verbatim — the
    // inheritance that keeps every code decodable
    val bnds = sp.read.parquet(s"$dir/bounds")
      .select(col("centroid_id").cast("long"), col("__mins"),
        col("__maxs"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1), r.getSeq[Double](2)))).toMap
    val parent = split.keySet.head
    split.values.head.foreach { nid =>
      assert(bnds.contains(nid), s"sub-cell $nid has no bounds row")
      assert(bnds(nid) == bnds(parent),
        s"sub-cell $nid did not inherit the parent's bounds")
    }
    // all-probe + covering refine == exact over the whole corpus
    assert(ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8, refine = 8))
      == exactWant(8), "post-split SQ search diverged from exact")
    // --- PQ spherical: rows verbatim, sub-centroids unit-norm ---
    val fullPq = Ann.buildIvfPq(df, "embedding", model1, m = 4,
      Ann.Cosine)
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-pqsplit").toString
    Ann.writeQuantized(fullPq, dirPq)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dirPq, Some("embedding")),
      maxRows = 30).values.head.size === 2)
    val pqCents = sp.read.parquet(s"$dirPq/centroids")
      .select(col("centroid")).collect()
      .map(_.getSeq[Double](0).map(x => x * x).sum)
    pqCents.foreach(n => assert(math.abs(n - 1.0) < 1e-9,
      s"spherical sub-centroid not unit-norm: $n"))
    assert(Ann.searchStored(root(dirPq), "vec_id", q, 2, 60,
        refine = 1).count() === 60L)
    // --- 1-bit: residuals re-encode under the new sub-centroids ---
    val fullBq = Ann.buildIvfBitq(df, "embedding", model1, Ann.L2)
    val dirBq = java.nio.file.Files
      .createTempDirectory("graft-bqsplit").toString
    Ann.writeQuantized(fullBq, dirBq)
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dirBq, Some("embedding")),
      maxRows = 30).values.head.size === 2)
    assert(ids(Ann.searchStored(root(dirBq), "vec_id", q, 2, 8,
        refine = 8)) == exactWant(8),
      "post-split 1-bit search diverged — residual re-encode broken")
    // --- a live fresh/ refuses the split ---
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      Seq((902L, Seq.fill(dim)(0.3), 2)).toDF(
        "vec_id", "embedding", "label"),
      "vec_id") === 1L)
    val ex = intercept[IllegalArgumentException] {
      Ann.splitOverfull(Ann.cellRoot(sp, dir, Some("embedding")),
        maxRows = 5)
    }
    assert(ex.getMessage.contains("fresh"))
  }

  test("split SQ root: a replayed row stranded off argmin appends 0") {
    val sp = spark
    import sp.implicits._
    // two cells: cell 0 holds labels 0 and 1 (fat, splits), cell 1
    // holds label 2
    val model = Ann.buildIvf(
      df.withColumn("cell", when(col("label") === 2, 1).otherwise(0)),
      "cell", "embedding")
    val fullSq = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sqdrift").toString
    Ann.writeQuantized(fullSq, dir)
    def cellOf(id: Long) = sp.read.parquet(s"$dir/quantized")
      .filter(col("vec_id") === id)
      .select(col("centroid_id").cast("long")).head().getLong(0)
    assert(cellOf(1L) === 0L && cellOf(2L) === 1L)
    // strand row 1's copy in cell 1, off its argmin
    val strand = sp.read.parquet(s"$dir/quantized")
      .filter(col("vec_id") === 1)
      .withColumn("centroid_id", lit(1L))
      .localCheckpoint(true)
    assert(Ann.deleteStoredIds(sp, s"$dir/quantized", "vec_id",
      Seq(1L).toDF("vec_id")) === 1L)
    strand.write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/quantized")
    // a real split of cell 0 leaves the copy where it is; the split
    // history alone makes the replay probe main and fresh whole
    assert(Ann.splitOverfull(Ann.cellRoot(sp, dir, Some("embedding")),
      maxRows = 30).keySet === Set(0L))
    assert(Ann.appendIdempotent(Ann.cellRoot(sp, dir, Some("embedding")),
      df.filter(col("vec_id") === 1), "vec_id") === 0L)
    assert(!new java.io.File(dir, "fresh").exists())
  }

  test("refusals: unmarked dirs and retrained models cannot grow a " +
      "fresh side table; mismatched metric refuses at query") {
    val sp = spark
    // a bare dir is not a quantized root
    val bare = java.nio.file.Files
      .createTempDirectory("graft-fresh-bare").toString
    intercept[IllegalStateException] {
      Ann.appendIdempotent(
        Ann.cellRoot(sp, bare, Some("embedding")),
        odd, "vec_id")
    }
    // a retrained coarse quantizer refuses via the model fingerprint:
    // swap centroids/ under a pinned root
    val model = Ann.buildIvf(df, "label", "embedding")
    val idx = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fresh-retrain").toString
    Ann.writeQuantized(idx, dir)
    val retrained = Ann.buildIvf(
      df.withColumn("label", (col("label") + 1) % 3), "label",
      "embedding")
    retrained.centroids.write.mode("overwrite")
      .parquet(s"$dir/centroids")
    intercept[IllegalStateException] {
      Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        odd, "vec_id")
    }
    // metric/spherical mismatch refuses at query time: the batch join
    // names a metric (the single-query search takes the root's)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-fresh-metric").toString
    Ann.writeQuantized(idx, dir2)
    val queries = {
      import sp.implicits._
      Seq((7L, q)).toDF("q_id", "qv")
    }
    intercept[IllegalArgumentException] {
      Ann.knnJoinQuantizedFresh(sp, dir2, queries, "q_id", "qv", "vec_id",
        "embedding", Ann.Cosine, probes = 2, k = 8)
    }
  }

  test("compactQuantizedFreshIfNeeded triggers EXACTLY above the " +
      "ratio threshold, results identical across the trigger, " +
      "malformed ratios refuse") {
    val sp = spark
    val model = Ann.buildIvf(df, "label", "embedding")
    val full = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
    // main holds 40 rows (vec_id < 40); 20 appendable remain
    val idx = full.copy(quantized =
      full.quantized.filter(col("vec_id") < 40))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fresh-policy").toString
    Ann.writeQuantized(idx, dir)
    def search() = ids(Ann.searchStored(root(dir), "vec_id", q, 2, 8,
        refine = 5))
    // no fresh side at all → None (nothing to decide)
    assert(Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id", 0.25).isEmpty)
    // append 10 fresh rows: |fresh|/|main| = 10/40 = 0.25 — NOT
    // strictly above a 0.25 ratio, so the policy must NOT trigger
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      df.filter(col("vec_id") >= 40 && col("vec_id") < 50), "vec_id") == 10L)
    val before = search()
    assert(Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id",
        0.25).isEmpty, "triggered AT the ratio boundary")
    assert(sp.read.parquet(s"$dir/fresh").count() == 10L,
      "a below-threshold decision must leave fresh/ untouched")
    // one more batch: 20/40 = 0.5 > 0.25 — must trigger and fold all
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      df.filter(col("vec_id") >= 50), "vec_id") == 10L)
    val beforeTrigger = search()
    assert(Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id",
        0.25).contains(20L))
    // fresh/ gone, results identical across the trigger (the s26 pin)
    assert(!new java.io.File(s"$dir/fresh").exists(),
      "compaction must delete the folded fresh side")
    assert(search() == beforeTrigger,
      "results changed across the compaction trigger")
    // the below-threshold search was already fresh-complete too
    assert(before.nonEmpty && beforeTrigger.nonEmpty)
    // post-compaction: None again (no fresh side)
    assert(Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id", 0.25).isEmpty)
    // malformed ratios refuse loudly
    intercept[IllegalArgumentException] {
      Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id", -0.1)
    }
    intercept[IllegalArgumentException] {
      Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id",
          Double.PositiveInfinity)
    }
    // ratio 0 = compact-on-any-fresh: a single re-appended row (via a
    // delete first — ids are immutable) triggers immediately
    assert(Ann.deleteQuantizedFreshIds(sp, dir, "vec_id",
      df.filter(col("vec_id") === 59).select("vec_id")) == 0L)
    Ann.deleteStoredIds(sp, s"$dir/quantized", "vec_id",
      df.filter(col("vec_id") === 59).select("vec_id"))
    assert(Ann.appendIdempotent(
      Ann.cellRoot(sp, dir, Some("embedding")),
      df.filter(col("vec_id") === 59), "vec_id") == 1L)
    assert(Ann.compactQuantizedFreshIfNeeded(root(dir), "vec_id",
        0.0).contains(1L))
  }

  test("knnJoinQuantizedFresh: the batch join equals the single-query " +
      "fresh-aware search per qid for all three families, survives " +
      "compaction unchanged, and refuses a mismatched metric") {
    val sp = spark
    import sp.implicits._
    val model = Ann.buildIvf(df, "label", "embedding")
    val qids = Seq(7L, 22L, 41L)
    val queries = corpus.filter(c => qids.contains(c._1))
      .map(c => (c._1, c._2)).toDF("q_id", "qv")
    def perQid(batch: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      batch.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
          r.getInt(3))))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2._3).map(x => (x._2._1, x._2._2)).toSeq)
        .toMap

    // SQ root, L2 — plus the compaction-invariance and refusal pins
    locally {
      val full = Ann.buildIvfSq(df, "embedding", model, Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sqfreshb").toString
      Ann.writeQuantized(full.copy(quantized =
        full.quantized.filter(col("vec_id") % 2 === 0)), dir)
      assert(Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        odd, "vec_id") == 30L)
      def batch() = perQid(Ann.knnJoinQuantizedFresh(sp, dir, queries,
        "q_id", "qv", "vec_id", "embedding", Ann.L2, probes = 2,
        k = 8, refine = 5))
      val got = batch()
      qids.foreach { qid =>
        val single = ids(Ann.searchStored(root(dir), "vec_id",
            corpus(qid.toInt)._2, 2, 8, refine = 5))
        assert(got(qid) == single,
          s"SQ qid=$qid: batch ${got(qid)} != single $single")
      }
      // a spherical-metric query against the L2-pinned root refuses
      // BEFORE any plan is built
      intercept[IllegalArgumentException] {
        Ann.knnJoinQuantizedFresh(sp, dir, queries, "q_id", "qv",
          "vec_id", "embedding", Ann.Cosine, probes = 2, k = 8)
      }
      // compaction is observably a no-op on the BATCH surface too
      // (the s26 pin, batch form) — and the post-compaction call
      // exercises the fresh-less pure-delegation path
      assert(Ann.compactQuantizedFresh(root(dir), "vec_id") == 30L)
      assert(batch() == got,
        "compaction changed the batch join's results")
    }

    // PQ root, spherical (cosine)
    locally {
      val full = Ann.buildIvfPq(df, "embedding", model, m = 4,
        Ann.Cosine)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pqfreshb").toString
      Ann.writeQuantized(full.copy(encoded =
        full.encoded.filter(col("vec_id") % 2 === 0)), dir)
      assert(Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        odd, "vec_id") == 30L)
      val got = perQid(Ann.knnJoinQuantizedFresh(sp, dir, queries,
        "q_id", "qv", "vec_id", "embedding", Ann.Cosine, probes = 2,
        k = 8, refine = 5))
      qids.foreach { qid =>
        val single = ids(Ann.searchStored(root(dir), "vec_id",
            corpus(qid.toInt)._2, 2, 8, refine = 5))
        assert(got(qid) == single,
          s"PQ qid=$qid: batch ${got(qid)} != single $single")
      }
    }

    // 1-bit root, L2
    locally {
      val full = Ann.buildIvfBitq(df, "embedding", model, Ann.L2)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-bitqfreshb").toString
      Ann.writeQuantized(full.copy(quantized =
        full.quantized.filter(col("vec_id") % 2 === 0)), dir)
      assert(Ann.appendIdempotent(
        Ann.cellRoot(sp, dir, Some("embedding")),
        odd, "vec_id") == 30L)
      val got = perQid(Ann.knnJoinQuantizedFresh(sp, dir, queries,
        "q_id", "qv", "vec_id", "embedding", Ann.L2, probes = 2,
        k = 8, refine = 8))
      qids.foreach { qid =>
        val single = ids(Ann.searchStored(root(dir), "vec_id",
            corpus(qid.toInt)._2, 2, 8, refine = 8))
        assert(got(qid) == single,
          s"bitq qid=$qid: batch ${got(qid)} != single $single")
      }
    }
  }
}

/** Registry row for the attached-delete test. */
case class FreshRow(vec_id: Long, embedding: Seq[Double], label: Int)
