package graft.plans

import graft.SparkSpecBase
import graft.ops.{Ann, Bm25, Dedup}
import org.apache.spark.sql.functions._

/** The README single-JVM-seams inventory, executable (VERDICT r11 #8):
  * every driver-resident registry — [[AnnIndex]]'s binding registry,
  * [[Bm25]]'s index cache, [[Dedup]]'s shingle/gate/pair memo caches,
  * [[graft.queries.GraphQ]]'s graph cache — must drain to exactly its
  * pre-test state after the matching unregister/clear sweep, so the
  * seam inventory cannot silently rot into a long-lived-session leak.
  * Diff discipline throughout (the [[graft.queries.PersistLeakSpec]]
  * pattern): suites share one session, so asserts compare against the
  * state observed before this spec touched anything. */
class RegistryEvictionSpec extends SparkSpecBase {

  test("AnnIndex registrations across all families unregister to empty") {
    val before = AnnIndex.hasAny
    val never = () => sys.error("never resolved")
    // matryoshka needs real marker roots (read by the factories); the
    // composed factory also opens the root's centroids
    def mrlRoot(marker: String) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ev_mrl").toString
      graft.io.Markers.write(spark, dir, marker, "dims=2")
      spark.range(1).select(col("id").as("centroid_id"),
          array(lit(0.0), lit(0.0)).as("centroid"))
        .write.parquet(s"$dir/centroids")
      dir
    }
    // one binding per Binding case — plus the 1-bit, PQ, IVF-composed
    // and IVF-pruned variants — all thunk-backed (resolvers run at
    // rewrite time, never at registration) under spec-unique names
    val bindings: Seq[Binding] = Seq(
      Binding.Probe("ev_dense", "ev_cell", () => Seq((0L, Array(0.0))),
        Ann.L2, 1, owner = "evspec"),
      Binding.ProbeDist("ev_dist", "cid", never, "cid", "cent", Ann.L2, 1,
        owner = "evspec"),
      Binding.Range("ev_range", "centroid_id", Ann.L2,
        () => Seq((0L, Array(0.0), 0.0)), owner = "evspec"),
      Binding.RangeDist("ev_range_dist", "centroid_id", never,
        owner = "evspec"),
      Binding.Quantized("ev_sq", "id", never, Ann.L2, 1, 4,
        owner = "evspec"),
      Binding.Quantized("ev_pq", "id", never, Ann.L2, 1, 4,
        owner = "evspec"),
      Binding.Quantized("ev_bit", "id", never, Ann.Cosine, 1,
        owner = "evspec"),
      Binding.matryoshka("ev_mrl", "id", mrlRoot("_graft_matryoshka"),
        owner = "evspec"),
      Binding.matryoshkaIvf("ev_mrl_ivf", "id",
        mrlRoot("_graft_matryoshka_ivf"), owner = "evspec"),
      Binding.Maxsim("ev_mv", "id", never, 10, owner = "evspec"),
      Binding.Maxsim("ev_mv_ivf", "id", never, 10,
        Some(Binding.ProbeDist("mv_mean", "centroid_id", never,
          "centroid_id", "centroid", Ann.Cosine, 1)), owner = "evspec"),
      Binding.Bm25("ev_text", "ev_id", never, owner = "evspec"),
      Binding.Sparse("ev_idx", "ev_val", "id", never, owner = "evspec"))
    // wildcard-free on purpose: a new Binding case makes this match
    // non-exhaustive, so the spec must grow a registration for it
    def family(b: Binding): String = b match {
      case _: Binding.Probe => "Probe"
      case _: Binding.ProbeDist => "ProbeDist"
      case _: Binding.Range => "Range"
      case _: Binding.RangeDist => "RangeDist"
      case _: Binding.Quantized => "Quantized"
      case _: Binding.Matryoshka => "Matryoshka"
      case _: Binding.Maxsim => "Maxsim"
      case _: Binding.Bm25 => "Bm25"
      case _: Binding.Sparse => "Sparse"
    }
    val cases = scala.reflect.runtime.universe.typeOf[Binding].typeSymbol
      .asClass.knownDirectSubclasses.map(_.name.toString)
    assert(bindings.map(family).toSet === cases,
      "the spec must register one binding of every Binding case")
    bindings.foreach(AnnIndex.register(_))
    assert(AnnIndex.hasAny, "registrations must be visible to the rule")
    assert(bindings.forall(b => AnnIndex.lookup(b.column).contains(b)))
    bindings.foreach(b => AnnIndex.unregister(b.column, b.owner))
    assert(bindings.forall(b => AnnIndex.lookup(b.column).isEmpty),
      "every spec registration must be gone after its unregister")
    assert(AnnIndex.hasAny == before,
      "the sweep must restore the registries' pre-spec emptiness")
  }

  test("Bm25 and Dedup memo caches drain on their clear sweeps") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    Bm25.clearCache()
    Dedup.clearCaches()
    val persistedBefore =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    Bm25.buildCached(docs, "doc_id", "text", key = "evspec|tiny")
    assert(Bm25.cachedCount >= 1)
    Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .count()
    assert(Dedup.cachedCount >= 1)
    Bm25.clearCache()
    Dedup.clearCaches()
    assert(Bm25.cachedCount == 0 && Dedup.cachedCount == 0,
      "clear sweeps must empty the driver-resident caches")
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet --
        persistedBefore
    assert(leaked.isEmpty,
      s"swept caches left persisted blocks behind: $leaked")
  }

  test("GraphQ cache sweep is idempotent and leaves zero graphs") {
    graft.queries.GraphQ.clearCache()
    assert(graft.queries.GraphQ.cachedCount == 0)
    graft.queries.GraphQ.clearCache() // second sweep: no-op, no throw
    assert(graft.queries.GraphQ.cachedCount == 0)
    graft.queries.GraphQ.clearStreamedCache()
    assert(graft.queries.GraphQ.streamedCachedCount == 0)
  }
}
