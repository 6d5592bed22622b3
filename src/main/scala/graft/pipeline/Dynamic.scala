package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.core.Registry
import graft.core.Spec.TableDef
import graft.graph.{EntityRecognizer, Graph, SimpleRecognizer}
import graft.ops.{Ann, Bm25, Fusion}
import graft.rank.{OverlapReranker, Reranker}
import graft.text.{Chunker, Embed, Embedder, HashEmbedder, RegexChunker}

/** Config-driven pipeline factory — the reference's `DynamicPipeline`
  * (/root/reference/vechord/pipeline.py:112-218): a declarative
  * `ResourceRequest{kind, provider, args}` list resolved through a
  * provider map, validated (pipeline.py:174-184 rules), then run as
  * either the INDEX flow (ingest: chunk → embed [→ graph extract] →
  * single-txn insert, pipeline.py:249-343) or the SEARCH flow
  * (vector/keyword/graph fan-out → ordered dedup → rerank,
  * pipeline.py:394-442).
  *
  * Local deterministic providers stand in for the reference's HTTP ones
  * (regex chunker ↔ regex, hash embedder ↔ spacy, overlap reranker ↔
  * cohere, simple recognizer ↔ gemini NER); unknown kinds/providers fail
  * exactly like the reference's RequestError paths.
  */
object Dynamic {

  final case class ResourceRequest(kind: String, provider: String,
                                   args: Map[String, String] = Map.empty)

  final case class RequestError(msg: String) extends Exception(msg)

  /** Multimodal embedding seat resolved by the `multimodal-emb` kind
    * (pipeline.py:124-127): image bytes AND text through one provider
    * — the local codec-histogram embedder or the Jina/Voyage wire
    * adapters behind the same two methods. */
  trait MmEmbedder extends Serializable {
    def dim: Int
    def embedText(s: String): Array[Float]
    def embedImage(b: Array[Byte]): Array[Float]
  }

  /** An [[MmEmbedder]]'s text side as a plain [[Embedder]] — the
    * reference's `self.text_emb or self.multimodal_emb` fallback
    * (pipeline.py:355,411) for chunk/query embedding. */
  private final case class MmTextEmbedder(mm: MmEmbedder)
    extends Embedder {
    def name: String = "mm_text"
    def dim: Int = mm.dim
    def embedChunk(text: String): Array[Float] = mm.embedText(text)
  }

  /** Resolved pipeline config. */
  final case class Config(
      chunk: Option[Chunker] = None,
      textEmb: Option[Embedder] = None,
      multimodalEmb: Option[MmEmbedder] = None,
      ocr: Option[graft.text.ExtractorProvider] = None,
      evaluate: Option[graft.eval.RelevanceJudge] = None,
      rerank: Option[Reranker] = None,
      graph: Option[EntityRecognizer] = None,
      index: Boolean = false,
      indexGraph: Boolean = false,
      search: Boolean = false,
      topk: Int = 10) {
    /** pipeline.py:174-184 validation, ported rule for rule (an
      * embedding provider is satisfied by EITHER the text or the
      * multimodal seat, like `text_emb or multimodal_emb`). */
    def validate(): Config = {
      if (textEmb.isEmpty && multimodalEmb.isEmpty)
        throw RequestError("No embedding provider specified in the request")
      if (!index && !search)
        throw RequestError(
          "No `index` or `search` option specified in the request")
      if (index && indexGraph && graph.isEmpty)
        throw RequestError("Graph index requires a graph provider")
      this
    }
    /** The chunk/query-side embedder (`text_emb or multimodal_emb`). */
    private[pipeline] def anyEmb: Embedder =
      textEmb.getOrElse(MmTextEmbedder(multimodalEmb.get))
  }

  /** Rate-limited transport for a named wire provider: `endpoint` is
    * required (the tests point it at an in-process stub; production
    * points it at the provider's real URL), `key` optional → the
    * provider's auth header, `rps`/`burst` size the per-executor token
    * bucket. */
  private def wireHttp(s: ResourceRequest,
                       gemini: Boolean): graft.providers.HttpJson = {
    val endpoint = s.args.getOrElse("endpoint",
      throw RequestError(s"${s.provider} ${s.kind} requires an endpoint arg"))
    val auth = s.args.get("key").map { k =>
      if (gemini) "x-goog-api-key" -> k
      else "Authorization" -> s"Bearer $k"
    }.toMap
    graft.providers.HttpJson(endpoint,
      rps = s.args.getOrElse("rps", "8").toDouble,
      burst = s.args.getOrElse("burst", "1").toInt,
      headers = auth)
  }

  /** Provider map twin (pipeline.py:112-134). */
  def fromSteps(steps: Seq[ResourceRequest]): Config = {
    var c = Config()
    steps.foreach { s =>
      (s.kind, s.provider) match {
        case ("chunk", "regex") =>
          val base = RegexChunker(
            size = s.args.getOrElse("size", "1536").toInt,
            overlap = s.args.getOrElse("overlap", "200").toInt)
          c = c.copy(chunk = Some(base.copy(
            separator = s.args.getOrElse("separator", base.separator),
            concat = s.args.getOrElse("concat", base.concat))))
        case ("text-emb", "hash") =>
          c = c.copy(textEmb = Some(HashEmbedder(
            dim = s.args.getOrElse("dim", "64").toInt)))
        // the second deterministic local provider: md5 feature hashing
        // (graft.text.Md5Embedder) — integer-exact math any SQL engine
        // replays, which is what puts the WHOLE dynamic pipeline under
        // the external oracle (gate d01)
        case ("text-emb", "md5") =>
          c = c.copy(textEmb = Some(graft.text.Md5Embedder(
            dim = s.args.getOrElse("dim", "64").toInt)))
        // a REAL provider endpoint through the rate-limited transport
        // (providers/Transport.scala) — the drop-in the reference's
        // PROVIDER_MAP offers for its HTTP embedders
        // (pipeline.py:112-134); ingest batches via mapPartitions
        case ("text-emb", "http") =>
          val endpoint = s.args.getOrElse("endpoint",
            throw RequestError("http embedder requires an endpoint arg"))
          c = c.copy(textEmb = Some(graft.providers.HttpEmbedder(
            name = s.args.getOrElse("model", "default"),
            dim = s.args.getOrElse("dim", "64").toInt,
            graft.providers.HttpJson(endpoint,
              rps = s.args.getOrElse("rps", "8").toDouble,
              burst = s.args.getOrElse("burst", "1").toInt))))
        // NAMED wire providers (providers/Providers.scala) — the
        // reference's PROVIDER_MAP entries (pipeline.py:117-129:
        // text-emb gemini/jina/openai/voyage, rerank cohere/jina) with
        // each provider's real request/response schema. Endpoint and
        // key arrive as ARGS (provider.py reads ambient env on the
        // client; here config is explicit — no env reads in operator
        // code) and auth rides the transport headers the same way
        // provider.py attaches it: x-goog-api-key for Gemini, Bearer
        // for the rest. Defaults mirror the reference's class defaults.
        case ("text-emb", p @ ("gemini" | "jina" | "voyage" | "openai")) =>
          val (defModel, defDim) = p match {
            case "gemini" => ("gemini-embedding-exp-03-07", 3072)
            case "jina"   => ("jina-embeddings-v4", 2048)
            case "voyage" => ("voyage-3.5", 1024)
            case _        => ("text-embedding-3-large", 3072)
          }
          val model = s.args.getOrElse("model", defModel)
          val dim = s.args.getOrElse("dim", defDim.toString).toInt
          val http = wireHttp(s, gemini = p == "gemini")
          val emb: graft.text.Embedder = p match {
            case "gemini" => graft.providers.GeminiEmbedder(model, dim, http)
            case "jina"   => graft.providers.JinaEmbedder(model, dim, http)
            case "voyage" => graft.providers.VoyageEmbedder(model, dim, http)
            case _        => graft.providers.OpenAiEmbedder(model, dim, http)
          }
          c = c.copy(textEmb = Some(emb))
        case ("rerank", p @ ("cohere" | "jina")) =>
          val rr: graft.rank.Reranker =
            if (p == "cohere")
              graft.providers.CohereReranker(
                s.args.getOrElse("model", "rerank-v3.5"),
                wireHttp(s, gemini = false))
            else
              graft.providers.JinaWireReranker(
                s.args.getOrElse("model", "jina-reranker-m0"),
                wireHttp(s, gemini = false))
          c = c.copy(rerank = Some(rr))
        case ("rerank", "overlap") => c = c.copy(rerank = Some(OverlapReranker()))
        // multimodal-emb (pipeline.py:124-127): local codec-histogram
        // twin + the Jina/Voyage wire adapters
        case ("multimodal-emb", "local") =>
          val dim = s.args.getOrElse("dim", "64").toInt
          val inner = graft.multimodal.MultimodalEmbedder(
            graft.text.Md5Embedder(dim), graft.multimodal.ImageIoCodec())
          c = c.copy(multimodalEmb = Some(new MmEmbedder {
            def dim: Int = inner.dim
            def embedText(t: String): Array[Float] = inner.embedText(t)
            // the wire providers accept ANY document bytes (pdf, image
            // …); the local stand-in must be total too, or one real
            // PDF payload aborts the whole ingest transaction — bytes
            // the codec cannot decode embed deterministically through
            // the text side over their digest
            def embedImage(b: Array[Byte]): Array[Float] =
              try inner.embedImage(b)
              catch {
                case _: IllegalArgumentException =>
                  val md = java.security.MessageDigest
                    .getInstance("SHA-256")
                  inner.embedText("bytes " +
                    md.digest(b).take(8).map("%02x".format(_)).mkString)
              }
          }))
        case ("multimodal-emb", p @ ("jina" | "voyage")) =>
          val http = wireHttp(s, gemini = false)
          val dim = s.args.getOrElse("dim",
            if (p == "jina") "2048" else "1024").toInt
          c = c.copy(multimodalEmb = Some(p match {
            case "jina" =>
              val e = graft.providers.JinaMultimodalEmbedder(
                dim = dim, http = http)
              new MmEmbedder {
                def dim: Int = e.dim
                def embedText(t: String): Array[Float] =
                  e.embed(text = Some(t))
                def embedImage(b: Array[Byte]): Array[Float] =
                  e.embed(image = Some(b))
              }
            case _ =>
              val e = graft.providers.VoyageMultimodalEmbedder(
                dim = dim, http = http)
              new MmEmbedder {
                def dim: Int = e.dim
                def embedText(t: String): Array[Float] =
                  e.embed(text = Some(t))
                def embedImage(b: Array[Byte]): Array[Float] =
                  e.embed(image = Some(b))
              }
          }))
        // ocr (pipeline.py:128): wire extractors + the deterministic
        // stub seat for local pipelines
        case ("ocr", "gemini") =>
          c = c.copy(ocr = Some(graft.text.GeminiOcrExtractor(
            graft.providers.GeminiCompleter(
              s.args.getOrElse("model", "gemini-2.5-flash"),
              wireHttp(s, gemini = true)))))
        case ("ocr", "llamaparse") =>
          c = c.copy(ocr = Some(graft.text.LlamaParseExtractor(
            wireHttp(s, gemini = false))))
        case ("ocr", "stub") =>
          c = c.copy(ocr = Some(graft.text.StubOcrExtractor()))
        // evaluate (pipeline.py:133 + 437-440): judged metrics over the
        // search results — the UMBRELA wire judge or the local overlap
        // twin
        case ("evaluate", "gemini") =>
          c = c.copy(evaluate = Some(graft.eval.UmbrelaJudge(
            graft.providers.GeminiCompleter(
              s.args.getOrElse("model", "gemini-2.5-flash"),
              wireHttp(s, gemini = true)))))
        case ("evaluate", "overlap") =>
          c = c.copy(evaluate = Some(graft.eval.OverlapJudge()))
        case ("graph", "simple") => c = c.copy(graph = Some(SimpleRecognizer()))
        case ("index", "graft") =>
          c = c.copy(index = true,
            indexGraph = s.args.get("graph").exists(_.toBoolean))
        case ("search", "graft") =>
          c = c.copy(search = true,
            topk = s.args.getOrElse("topk", "10").toInt)
        case (k, p) if !Kinds.contains(k) =>
          throw RequestError(s"Unsupported provider kind: $k")
        case (k, p) =>
          throw RequestError(s"Unsupported provider: $p for kind: $k")
      }
    }
    c.validate()
  }

  private val Kinds =
    Set("chunk", "text-emb", "multimodal-emb", "ocr", "evaluate",
      "rerank", "graph", "index", "search")

  /** Chunk rows persisted by the index flow. */
  final case class DynChunk(uid: String, doc_id: Long, seq: Int,
                            text: String, vec: Seq[Float])

  def chunkDef(name: String = "dynchunk"): TableDef[DynChunk] = {
    implicit val enc = Encoders.product[DynChunk]
    TableDef[DynChunk](name, primaryKey = Some("uid"))
  }

  /** INDEX flow (pipeline.py:249-343): docs (id, text) → chunk → embed
    * [→ graph extract + merge] → one-transaction insert. */
  def runIndex(reg: Registry, c: Config, docs: DataFrame,
               chunks: TableDef[DynChunk]): Unit = {
    require(c.index, "config is not an index pipeline")
    val spark = reg.spark
    import spark.implicits._
    val chunker = c.chunk.getOrElse(RegexChunker())
    val emb = c.anyEmb
    val chunked = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        chunker.segment(t).zipWithIndex.map { case (body, i) =>
          (s"$id-$i", id, i, body)
        }
      }
      .toDF("uid", "doc_id", "seq", "text")
    // remote batch-capable providers ingest BATCHED (one rate-limited
    // request per batchSize chunks — the generic HttpEmbedder and the
    // Jina/Voyage/OpenAI wire adapters); per-text providers (Gemini's
    // embedContent API, local embedders) stay the per-row map stage
    val embedded = (emb match {
      case b: graft.providers.BatchEmbedder =>
        graft.providers.RemoteEmbed.withEmbeddingBatched(
          chunked, "text", "vec", b)
      case _ => Embed.withEmbedding(chunked, "text", "vec", emb)
    }).select(chunks.columns.map(col): _*)
    reg.runTxn { txn =>
      reg.copyBulk(chunks, embedded, txn)
      if (c.indexGraph) {
        val (entsDf, relsDf) = Graph.extractFromChunks(spark,
          reg.tableBuffer(chunks, txn), "uid", "text", c.graph.get)
        Graph.mergeInsertEntities(reg, Graph.entityDef(), entsDf, emb, txn)
        Graph.mergeInsertRelations(reg, Graph.relationDef(), relsDf, emb, txn)
      }
    }
  }

  /** INDEX flow for BINARY inputs — the reference's non-TEXT request
    * branch (pipeline.py:280-330): per document (doc_id, ext, data),
    * a configured `multimodal-emb` embeds the RAW bytes as one extra
    * chunk (uid `<id>-mm`, text = base64(data), the reference's "fake
    * chunk" pipeline.py:286-292), the TEXT side comes from the bytes
    * directly for `txt` or through the `ocr` seat for pdf/image
    * (pipeline.py:295-299; no ocr → no text, the multimodal chunk
    * alone carries the doc), and the surviving text chunks go through
    * the normal chunk→embed path. All distributed (the wire seats'
    * transports are executor-safe) and one transaction like
    * [[runIndex]]. */
  def runIndexBinary(reg: Registry, c: Config, docs: DataFrame,
                     chunks: TableDef[DynChunk]): Unit = {
    require(c.index, "config is not an index pipeline")
    val spark = reg.spark
    import spark.implicits._
    val chunker = c.chunk.getOrElse(RegexChunker())
    val emb = c.anyEmb
    val mm = c.multimodalEmb
    val ocr = c.ocr
    val rows = docs
      .select(col("doc_id").cast("long"), col("ext"), col("data"))
      .as[(Long, String, Array[Byte])]
      .flatMap { case (id, ext0, data) =>
        val ext = Option(ext0).getOrElse("")
          .toLowerCase(java.util.Locale.ROOT).stripPrefix(".")
        val mmChunk = mm match {
          case Some(m) if ext != "txt" =>
            Seq((s"$id-mm", id, -1,
              java.util.Base64.getEncoder.encodeToString(data),
              m.embedImage(data).toSeq))
          case _ => Nil
        }
        val text =
          if (ext == "txt") new String(data, "UTF-8")
          else ocr match {
            case Some(o) if ext == "pdf" => o.extractPdf(data)
            case Some(o) => o.extractImage(data)
            case None => ""
          }
        val textChunks = (if (text.nonEmpty) chunker.segment(text)
          else Seq.empty)
          .zipWithIndex.map { case (body, i) =>
            (s"$id-$i", id, i, body, emb.embedChunk(body).toSeq)
          }
        mmChunk ++ textChunks
      }
      .toDF("uid", "doc_id", "seq", "text", "vec")
      .select(chunks.columns.map(col): _*)
    reg.runTxn { txn => reg.copyBulk(chunks, rows, txn) }
  }

  /** Judged metrics over a [[runSearch]] result — the reference's
    * `evaluate` seat applied after dedup/rerank (pipeline.py:437-440:
    * `evaluate_with_estimation(query, chunk texts)`); requires the
    * config to carry an `evaluate` provider. The result rows must be
    * in final rank order (they are — runSearch orders before
    * returning). */
  def searchMetrics(c: Config, query: String,
                    results: DataFrame): Map[String, Double] =
    searchMetricsTexts(c, query, results.select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse("")).toSeq)

  /** [[searchMetrics]] over already-collected result texts (the
    * service path, which has the rows in hand). Empty queries or
    * all-blank/empty result sets yield EMPTY metrics rather than
    * tripping the evaluator's non-empty requirement — there is
    * nothing to judge, not an error. */
  def searchMetricsTexts(c: Config, query: String,
                         texts: Seq[String]): Map[String, Double] = {
    val judge = c.evaluate.getOrElse(
      throw RequestError("No evaluate provider specified in the request"))
    if (query.isEmpty || !texts.exists(t => t != null && t.strip.nonEmpty))
      Map.empty
    else graft.eval.Judged.evaluateWithEstimation(query, texts, judge)
  }

  /** SEARCH flow (pipeline.py:394-442): vector + keyword [+ graph]
    * fan-out → ordered first-occurrence dedup → optional rerank →
    * top-k (uid, doc_id, text, rank). */
  def runSearch(reg: Registry, c: Config, query: String,
                chunks: TableDef[DynChunk]): DataFrame = {
    require(c.search, "config is not a search pipeline")
    val emb = c.anyEmb
    val table = reg.table(chunks)
    val vecList = Ann.topK(table, "uid", "vec",
        Embed.queryVec(emb, query), Ann.Cosine, c.topk)
      .select("uid", "dist")
    // memoized per table VERSION like Engine.keywordIndex — the search
    // flow runs per query, and rebuilding the postings/corpus-stats
    // side tables per call is an O(corpus) scan the reference's
    // persistent PG bm25 index never pays (client.py:146-174)
    val version = reg.segDigest(chunks.name)
    val idx = Bm25.buildCached(table, "uid", "text",
      s"dyn|${reg.instanceId}|${chunks.name}|$version")
    val kwList = Bm25.search(idx, query, c.topk)
    var lists = Seq(
      Fusion.ranked(vecList, "uid", "dist", asc = true),
      Fusion.ranked(kwList, "id", "score", asc = false))
    c.graph.foreach { recognizer =>
      val g = Graph.graphSearch(reg, query, table, "uid",
        Graph.entityDef(), Graph.relationDef(), emb, recognizer,
        similarK = c.topk, topk = c.topk)
      if (!g.isEmpty)
        lists = lists :+ Fusion.ranked(g, "uid", "g_rank", asc = true)
    }
    // the ≤topk fused ids fetch their chunks by literal uid, ordered
    // by (src, rank) as a top-n
    val joined = reg.fetchHits(chunks,
        Fusion.dedupUnion(lists, c.topk).select("id", "rank", "src"),
        col("src").asc, col("rank").asc)
      .select(col("uid").as("id"), col("doc_id"), col("text"), col("rank"),
        col("src"))
    c.rerank match {
      case Some(r) => graft.rank.Rerank.apply(joined, "id", "text", query, r)
      case None => joined
    }
  }
}
