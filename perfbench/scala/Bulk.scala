package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.core.{Engine, Registry}
import graft.core.Spec.{KeywordIndex, TableDef, VectorIndex}
import graft.ops.{Ann, Dedup}
import graft.text.{Embed, HashEmbedder, RegexChunker}

/** One chunk row of the benchmark corpus. `cat` is a metadata column
  * with ten values, so `cat = c` keeps about a tenth of the rows. */
final case class Chunk(cid: Long, doc_id: Long, cat: Int, text: String,
                       vec: Seq[Float])

/** What one bulk ingest leaves behind: the catalog, the engine over it
  * and the IVF model. */
final class Corpus(val reg: Registry, val eng: Engine,
                   val td: TableDef[Chunk], val model: Ann.IvfModel,
                   val rawDocs: Int, val inputBytes: Long)

/** The bulk ingest pipeline the workloads set up with: raw documents →
  * `RegexChunker` → `HashEmbedder` → `Registry.copyBulk` → k-means IVF
  * model. Each step is materialised on its own so the traced run can time
  * it as one span. */
object Bulk {
  val Dim = 64
  val chunker = RegexChunker(size = 200, overlap = 40)
  val embedder = HashEmbedder(dim = Dim)

  def tableDef(lists: Int): TableDef[Chunk] = {
    implicit val enc = Encoders.product[Chunk]
    TableDef[Chunk]("chunk", primaryKey = Some("cid"),
      indexes = Seq(VectorIndex("vec", Ann.L2, lists = lists,
        quantized = true), KeywordIndex("text")),
      vectorDims = Map("vec" -> Dim))
  }

  def cid(docId: Long, seq: Int): Long = docId * 64 + seq
  def cat(docId: Long): Int = (docId % 10).toInt

  /** Chunk rows of (doc_id, text) documents, as a frame. */
  def chunked(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val ch = chunker
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        ch.segment(t).zipWithIndex.map { case (body, i) =>
          (id * 64 + i, id, (id % 10).toInt, body)
        }
      }
      .toDF("cid", "doc_id", "cat", "text")
  }

  def run(spark: SparkSession, tr: Tracer, dir: String,
          docs: Seq[(Long, Int, String)], lists: Int): Corpus = {
    import spark.implicits._
    val td = tableDef(lists)
    val reg = new Registry(spark, s"$dir/catalog").register(td)
    val eng = new Engine(reg)
    val raw = docs.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)

    val chunks = tr.span("text.chunk") {
      val c = chunked(spark, raw).persist()
      c.count()
      c
    }
    val embedded = tr.span("text.embed") {
      val e = Embed.withEmbedding(chunks, "text", "vec", embedder)
        .select(td.columns.map(col): _*).persist()
      e.count()
      e
    }
    tr.span("core.registry.copy_bulk")(reg.copyBulk(td, embedded))
    chunks.unpersist(false)
    embedded.unpersist(false)

    val model = tr.span("ops.ann.kmeans")(
      Ann.buildIvfKMeans(reg.table(td), "vec", lists, Ann.L2))
    new Corpus(reg, eng, td, model, docs.length,
      docs.map(_._3.getBytes("UTF-8").length.toLong).sum)
  }

  /** MinHash near-duplicate detection over raw (id, text) documents:
    * every member of a duplicate component except its smallest id is a
    * duplicate. Returns how many `planted` (original, copy) pairs landed
    * in one component. */
  def dedup(spark: SparkSession, tr: Tracer, docs: Seq[(Long, Int, String)],
            planted: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    val raw = docs.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    tr.span("ops.dedup.minhash") {
      val pairs = Dedup.minHashDedupPairs(raw, "doc_id", "text")
        .select("a", "b")
      val comp = Dedup.components(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      planted.count { case (a, b) =>
        comp.get(a).exists(c => comp.get(b).contains(c)) }
    }
  }

  /** Exact top-`k` ids by L2 distance (ties by id) over `rows`. */
  def exactTopK(rows: Array[(Long, Array[Float])], q: Array[Double],
                k: Int): Seq[Long] = {
    val scored = rows.map { case (id, v) =>
      var s = 0.0
      var i = 0
      while (i < v.length) {
        val d = v(i) - q(i)
        s += d * d
        i += 1
      }
      (s, id)
    }
    scored.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
      Ordering.Long)).take(k).map(_._2).toSeq
  }

  def vectors(c: Corpus): Array[(Long, Array[Float])] =
    c.reg.table(c.td).select("cid", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Bytes on disk under `dirs`. */
  def diskBytes(dirs: Seq[String]): Long = dirs.map { d =>
    val f = new java.io.File(d)
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
  }.sum
}
