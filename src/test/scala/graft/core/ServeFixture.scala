package graft.core

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.core.Spec._
import graft.ops.Ann
import graft.pipeline.Dynamic
import graft.text.HashEmbedder

/** A small corpus with the serving shape: chunks (cid, doc_id, cat,
  * text, 64-d vec) under a quantized IVF vector index (16 lists; SQ by
  * default, as served) and a BM25 keyword index, plus a `Dynamic`
  * chunk table for the search pipeline. Texts mix a topic vocabulary
  * with filler words, so hash embeddings cluster by topic. `cat` takes
  * ten values. The IVF model is trained here and installed, so a
  * caller can rebuild the engine's quantized index from `model`. */
final case class ServeChunk(cid: Long, doc_id: Long, cat: Int,
                            text: String, vec: Seq[Float])

final class ServeFixture(spark: SparkSession, chunks: Int,
                         metric: Ann.Metric = Ann.L2,
                         family: Ann.QuantFamily = Ann.Sq) {
  val Dim = 64
  val Lists = 16
  val Probes = 8
  val PqM = 8
  val embedder = HashEmbedder(dim = Dim)
  private val rnd = new scala.util.Random(7)
  private val topics = Vector.tabulate(24)(t =>
    Vector.tabulate(30)(w => s"t${t}w$w"))
  private val filler = Vector.tabulate(200)(w => s"f$w")

  def text(topic: Int): String = Seq.fill(40)(
    if (rnd.nextDouble() < 0.6) topics(topic)(rnd.nextInt(30))
    else filler(rnd.nextInt(200))).mkString(" ")

  val td: TableDef[ServeChunk] = {
    implicit val enc = Encoders.product[ServeChunk]
    TableDef[ServeChunk]("chunk", primaryKey = Some("cid"),
      indexes = Seq(VectorIndex("vec", metric, lists = Lists,
        quantized = family == Ann.Sq, oneBit = family == Ann.Bitq,
        pq = if (family == Ann.Pq) PqM else 0), KeywordIndex("text")),
      vectorDims = Map("vec" -> Dim))
  }
  val reg = new Registry(spark,
    Files.createTempDirectory("graft-serve").toString).register(td)
  val eng = new Engine(reg)
  private val rows = (0 until chunks).map { i =>
    val doc = i / 3
    val t = text(doc % topics.length)
    ServeChunk(i.toLong, doc.toLong, doc % 10, t,
      embedder.embedChunk(t).toSeq)
  }
  reg.insert(td, rows)
  val model: Ann.IvfModel =
    Ann.buildIvfKMeans(reg.table(td), "vec", Lists, metric)
  eng.installIndexModel(td, model)

  /** Query texts and their embeddings. */
  val queries: Vector[String] = Vector.tabulate(20)(i => text(i % 24))
  def qvec(i: Int): Seq[Double] =
    embedder.embedQuery(queries(i)).map(_.toDouble).toSeq

  val dyn = Dynamic.chunkDef()
  val searchCfg = Dynamic.fromSteps(Seq(
    Dynamic.ResourceRequest("text-emb", "hash", Map("dim" -> "64")),
    Dynamic.ResourceRequest("search", "graft", Map("topk" -> "10"))))

  /** Index `docs` documents through the `Dynamic` pipeline. */
  def indexDynamic(docs: Int): Unit = {
    val sp = spark
    import sp.implicits._
    reg.register(dyn)
    Dynamic.runIndex(reg, Dynamic.fromSteps(Seq(
        Dynamic.ResourceRequest("chunk", "regex",
          Map("size" -> "200", "overlap" -> "40")),
        Dynamic.ResourceRequest("text-emb", "hash", Map("dim" -> "64")),
        Dynamic.ResourceRequest("index", "graft", Map.empty))),
      (0 until docs).map(i => (i.toLong, text(i % 24))).toDF("doc_id",
        "text"), dyn)
  }
}
