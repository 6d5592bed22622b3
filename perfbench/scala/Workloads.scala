package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.eval.Metrics
import graft.ops.{Ann, Fusion}
import graft.pipeline.Dynamic
import graft.service.GraftService

/** One workload: a set-up that may run several times, a measured
  * window, and the numbers the run record needs from it. */
abstract class Workload(val spark: SparkSession, val gen: Gen,
                        val tr: Tracer, val rec: Recorder) {
  /** Input properties the workload's behaviour depends on. */
  def props: Map[String, Any]
  /** One set-up round into `dir`; returns the bulk-ingest seconds. */
  def setup(dir: String): Double
  /** Fill the memo caches and compile the plans of the measured calls,
    * once, after the last set-up round. Untimed. */
  def warm(): Unit = ()
  /** Release a round's state (services, cached frames, attachments). */
  def teardown(): Unit
  /** Benchmark-side preparation after the last round: exact truth,
    * probe-cell counts. Untimed. */
  def prepare(): Unit = ()
  def measure(deadline: Double): Unit
  /** Extra numbers for the run record (counts). */
  def values: Map[String, Any]
  /** Benchmark-side evaluation after the window (recall). Untimed. */
  def evaluate(): Unit = ()
  /** End-of-run correctness checks: (ok, what). */
  def finalChecks: Seq[(Boolean, String)] = Seq(
    (recalls.nonEmpty && recalls.sum / recalls.length >= Workload.RecallFloor,
      s"mean recall@10 ${recalls.sum / recalls.length.max(1)} below floor"))

  val recalls = ArrayBuffer[Double]()
  /** The last set-up round: its corpus and directory. */
  var corpus: Corpus = _
  var dir = ""
  var plantedRecall = 0.0

  protected def bulk(d: String, docs: Seq[(Long, Int, String)],
                     lists: Int): Double = {
    dir = d
    val t0 = tr.now()
    corpus = Bulk.run(spark, tr, d, docs, lists)
    (tr.now() - t0) / 1000.0
  }

  protected def ids(rows: Array[Row]): Seq[Long] = rows.toSeq.map(_.getLong(0))

  protected def recallOf(truth: Seq[Long], got: Seq[Long]): Double =
    Metrics.recallAt(truth.map(_.toString).toSet, got.map(_.toString), 10)

  protected def cycleTracing(cycle: Int): Unit =
    if (tr.traceRun) tr.setOn(cycle % 2 == 0)
}

object Workload {
  val K = 10
  val DupShare = 0.05
  val DedupFloor = 0.9
  val RecallFloor = 0.8
}

/** Read-only serving: one closed-loop client sends single-query requests
  * in a seeded mix against a prebuilt corpus. Driver-side work
  * (planning, the per-job floor, memo-cache hits, HTTP) dominates. */
final class Serve(spark: SparkSession, gen: Gen, tr: Tracer, rec: Recorder)
    extends Workload(spark, gen, tr, rec) {
  import Workload.K
  val Docs = 1000
  val Lists = 16
  val Probes = 8
  val Queries = 100
  val HttpDocs = 200
  val Kinds = Vector("vector", "vector_filtered", "keyword", "hybrid",
    "declarative", "http_run", "http_get")

  private val dyn = Dynamic.chunkDef()
  private val indexCfg = Dynamic.fromSteps(Seq(
    Dynamic.ResourceRequest("chunk", "regex",
      Map("size" -> "200", "overlap" -> "40")),
    Dynamic.ResourceRequest("text-emb", "hash", Map("dim" -> "64")),
    Dynamic.ResourceRequest("index", "graft", Map.empty)))
  private val searchCfg = Dynamic.fromSteps(Seq(
    Dynamic.ResourceRequest("text-emb", "hash", Map("dim" -> "64")),
    Dynamic.ResourceRequest("search", "graft", Map("topk" -> K.toString))))
  private val client = HttpClient.newHttpClient()
  private var svc: GraftService = _
  private val docs = gen.corpus(Docs, 0)._1
  private val queries = gen.queries(Queries)
  private val qvecs = queries.map(q =>
    Bulk.embedder.embedQuery(q._3).map(_.toDouble).toSeq).toArray
  private var truth: Array[Seq[Long]] = _
  private var cids: Array[Long] = _
  private var declarative = 0
  private var rewriteFired = 0

  def props: Map[String, Any] = Map("raw_docs" -> Docs,
    "queries" -> Queries, "dim" -> Bulk.Dim, "lists" -> Lists,
    "probes" -> Probes, "filter_selectivity" -> 0.1,
    "http_docs" -> HttpDocs,
    "request_mix" -> Kinds, "clients" -> 1, "loop" -> "closed",
    "working_set_fits_memo" -> true)

  def setup(d: String): Double = {
    val s = bulk(d, docs, Lists)
    val c = corpus
    c.eng.installIndexModel(c.td, c.model)
    c.eng.installDeclarative(c.td, probes = Probes)
    tr.span("pipeline.run_index") {
      val spk = spark
      import spk.implicits._
      Dynamic.runIndex(c.reg, indexCfg,
        docs.take(HttpDocs)
          .map(x => (x._1, x._3)).toDF("doc_id", "text"), dyn)
    }
    svc = new GraftService(c.reg, Seq(c.td), dyn).start()
    s
  }

  override def warm(): Unit = {
    rec.recording = false
    try Kinds.indices.foreach(i => request(Kinds(i), i))
    finally rec.recording = true
  }

  def teardown(): Unit = if (corpus != null) {
    svc.stop()
    corpus.eng.uninstallDeclarative(corpus.td)
  }

  override def prepare(): Unit = {
    val rows = Bulk.vectors(corpus)
    truth = qvecs.map(q => Bulk.exactTopK(rows, q.toArray, K))
    cids = rows.map(_._1)
  }

  private def body(r: HttpResponse[String]): JValue =
    JsonMethods.parse(r.body())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${svc.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, json: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${svc.boundPort}$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def vectorSearch(qi: Int, filter: Option[Int]): Array[Row] = {
    val c = corpus
    tr.span("core.engine.search") {
      val df = tr.span("core.engine.plan") {
        val d = c.eng.searchByVector(c.td, qvecs(qi), K, Probes,
          returnFields = Seq("cid", "cat"),
          filter = filter.map(f => col("cat") === f))
        d.queryExecution.executedPlan
        d
      }
      tr.span("core.engine.exec")(df.collect())
    }
  }

  private def keywordSearch(qi: Int): Array[Row] =
    tr.span("ops.bm25.search")(corpus.eng.searchByKeyword(corpus.td,
      queries(qi)._3, K, returnFields = Seq("cid")).collect())

  /** Issue one request of `kind` for query `i` and check its output. */
  private def request(kind: String, i: Int): Unit = {
    val qi = i % Queries
    val c = corpus
    kind match {
      case "vector" =>
        val (op, res) = rec.op(kind)(vectorSearch(qi, None))
        res.foreach(rows => rec.untimed {
          rec.check(op, rows.length == K, s"${rows.length} rows")
        })
      case "vector_filtered" =>
        val cat = qi % 10
        val (op, res) = rec.op(kind)(vectorSearch(qi, Some(cat)))
        res.foreach(rows => rec.untimed {
          rec.check(op, rows.length == K && rows.forall(_.getInt(1) == cat),
            s"${rows.length} rows, filter cat=$cat not honoured")
        })
      case "keyword" =>
        val (op, res) = rec.op(kind)(keywordSearch(qi))
        res.foreach(rows => rec.check(op, rows.length == K,
          s"${rows.length} rows"))
      case "hybrid" =>
        val (op, res) = rec.op(kind) {
          val v = vectorSearch(qi, None)
          val k = keywordSearch(qi)
          tr.span("ops.fusion.rrf") {
            val spk = spark
            import spk.implicits._
            val vl = Fusion.ranked(v.toSeq.map(r => (r.getLong(0), r.getAs[Double]("dist")))
              .toDF("id", "dist"), "id", "dist", asc = true)
            val kl = Fusion.ranked(k.toSeq.map(r => (r.getLong(0), r.getAs[Double]("score")))
              .toDF("id", "score"), "id", "score", asc = false)
            (v, k, Fusion.rrf(Seq(vl, kl), topK = K).collect())
          }
        }
        res.foreach { case (v, k, fused) => rec.untimed {
          val pool = (ids(v) ++ ids(k)).toSet
          rec.check(op, fused.length == K &&
              fused.forall(r => pool.contains(r.getLong(0))),
            s"${fused.length} fused rows, or ids outside both lists")
        } }
      case "declarative" =>
        val (op, res) = rec.op(kind) {
          tr.span("plans.declarative") {
            val df = c.reg.table(c.td)
              .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
                .l2Dist(col("vec"), typedlit(qvecs(qi))), 6))
              .orderBy(col("dist").asc, col("cid").asc)
              .limit(K).select("cid", "dist")
            val fired = df.queryExecution.optimizedPlan.toString
              .contains("LeftSemi")
            (fired, df.collect())
          }
        }
        res.foreach { case (fired, rows) => rec.untimed {
          if (rec.recording) declarative += 1
          if (rec.recording && fired) rewriteFired += 1
          rec.check(op, rows.length == K, s"${rows.length} rows")
        } }
      case "http_run" =>
        val text = queries(qi)._3
        val payload = s"""{"name":"q$i","data":"${java.util.Base64
          .getEncoder.encodeToString(text.getBytes(StandardCharsets.UTF_8))}",""" +
          """"steps":[{"kind":"text-emb","provider":"hash","args":{"dim":"64"}},""" +
          s"""{"kind":"search","provider":"graft","args":{"topk":"$K"}}]}"""
        val (op, res) = rec.op(kind)(tr.span("service.http")(
          post("/api/run", payload)))
        res.foreach(r => rec.untimed {
          val n = if (r.statusCode() == 200) (body(r) \ "chunks") match {
            case JArray(xs) => xs.length
            case _ => -1
          } else -1
          rec.check(op, r.statusCode() == 200 && n == K,
            s"status ${r.statusCode()}, $n chunks")
        })
        if (tr.on) rec.untimed(tr.span("pipeline.run_search",
          ref = tr.lastId("service.http"))(
          Dynamic.runSearch(c.reg, searchCfg, text, dyn)
            .select("id", "doc_id", "text").collect()))
      case "http_get" =>
        val id = cids(qi * 7919 % cids.length)
        val (op, res) = rec.op(kind)(tr.span("service.http")(
          get(s"/api/table/chunk?cid=$id&_cols=cid,doc_id")))
        res.foreach(r => rec.untimed {
          val got = if (r.statusCode() == 200) body(r) match {
            case JArray(xs) => xs.map(x => x \ "cid")
            case _ => Nil
          } else Nil
          rec.check(op, got == List(JInt(id)),
            s"status ${r.statusCode()}, rows $got for cid $id")
        })
        if (tr.on) rec.untimed(tr.span("core.registry.select_by",
          ref = tr.lastId("service.http"))(
          c.reg.selectBy(c.td, Map("cid" -> id), Seq("cid", "doc_id"))
            .toJSON.collect()))
    }
  }

  def measure(deadline: Double): Unit = {
    val order = gen.rng(10)
    var i = 0
    var cycle = 0
    while (tr.now() < deadline) {
      cycleTracing(cycle)
      order.shuffle(Kinds).foreach { k => request(k, i); i += 1 }
      cycle += 1
    }
  }

  /** Recall over the whole seeded query set, through the batch form of
    * the same search (documented to return searchByVector's rows). */
  override def evaluate(): Unit = {
    val spk = spark
    import spk.implicits._
    val frame = queries.map(q => (q._1.toLong, qvecs(q._1)))
      .toDF("qid", "qvec")
    val got = corpus.eng.searchByVectorBatch(corpus.td, frame, "qid", "qvec",
        K, Probes).select("qid", "cid", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    queries.foreach(q =>
      recalls += recallOf(truth(q._1), got.getOrElse(q._1.toLong, Nil)))
  }

  def values: Map[String, Any] = Map(
    "rewrite_fired" -> rewriteFired, "declarative" -> declarative)
}

/** Query-log replay: a frame of queries answered in one call per search
  * kind, the eval-loop shape, over a corpus with planted near-duplicates
  * that the run also deduplicates once. Executor work (distance and ADC
  * kernels, BM25 scoring, shuffle, MinHash) dominates. */
final class Batch(spark: SparkSession, gen: Gen, tr: Tracer, rec: Recorder)
    extends Workload(spark, gen, tr, rec) {
  import Workload.K
  val Docs = 1000
  val Lists = 16
  val Probes = 8
  val FrameQueries = 50

  private val (docs, planted) = gen.corpus(Docs, Workload.DupShare)
  private val queries = gen.queries(FrameQueries)
  private val qvecs = queries.map(q =>
    Bulk.embedder.embedQuery(q._3).map(_.toDouble).toSeq).toArray
  private var frame: DataFrame = _
  private var truth: Array[Seq[Long]] = _
  private var candidates = 0L

  def props: Map[String, Any] = Map("raw_docs" -> Docs,
    "frame_queries" -> FrameQueries, "dim" -> Bulk.Dim, "lists" -> Lists,
    "probes" -> Probes, "planted_dup_share" -> Workload.DupShare,
    "working_set_fits_memo" -> true,
    "calls" -> Seq("searchByVectorBatch", "searchByKeywordBatch",
      "rrfWeightedBatch"))

  def setup(d: String): Double = {
    val s = bulk(d, docs, Lists)
    corpus.eng.installIndexModel(corpus.td, corpus.model)
    val spk = spark
    import spk.implicits._
    frame = queries.map(q => (q._1.toLong, qvecs(q._1), q._3))
      .toDF("qid", "qvec", "qtext").persist()
    frame.count()
    s
  }

  override def warm(): Unit = {
    rec.recording = false
    try cycle()
    finally rec.recording = true
  }

  def teardown(): Unit = if (frame != null) frame.unpersist(false)

  override def prepare(): Unit = {
    val rows = Bulk.vectors(corpus)
    truth = qvecs.map(q => Bulk.exactTopK(rows, q.toArray, K))
    // near-duplicate detection over the raw corpus with its planted
    // copies, once per run
    val found = Bulk.dedup(spark, tr, docs, planted)
    plantedRecall = found.toDouble / planted.length.max(1)
    rec.item(plantedRecall >= Workload.DedupFloor,
      s"dedup found $found of ${planted.length} planted pairs")
    // candidate pairs scanned per frame: each query's probed cells times
    // the cells' sizes. Probing every query through Ann.probeCells costs
    // a Spark job each, so the benchmark replays its arithmetic (nearest
    // centroids by L2, ties by id) and checks the replay against
    // Ann.probeCells on the first queries.
    val sizes = Ann.assign(corpus.reg.table(corpus.td), "vec", corpus.model,
        Ann.L2).groupBy(col(corpus.model.idCol).cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = corpus.model.collectedCentroids
    val probed = qvecs.map { q =>
      cents.map { case (id, c) =>
        var s = 0.0
        var i = 0
        while (i < c.length) { val d = c(i) - q(i); s += d * d; i += 1 }
        (math.sqrt(s), id)
      }.sorted.take(Probes).map(_._2).toSeq
    }
    (0 until 3).foreach { i =>
      val viaAnn = Ann.probeCells(corpus.model, typedlit(qvecs(i)), Ann.L2,
        Probes).collect().map(_.getLong(0)).toSeq
      rec.item(viaAnn.toSet == probed(i).toSet,
        s"probe-cell replay differs from Ann.probeCells for query $i")
    }
    candidates = probed.map(_.map(sizes.getOrElse(_, 0L)).sum).sum
  }

  /** Per-query result check: exactly k rows with ranks 1..k. */
  private def wellFormed(rows: Array[Row], qcol: Int, rcol: Int): Boolean = {
    val byQ = rows.groupBy(_.getLong(qcol))
    byQ.size == FrameQueries && byQ.values.forall(rs =>
      rs.map(_.getInt(rcol)).sorted.toSeq == (1 to K))
  }

  /** One frame: vector, keyword and fused results for every query. */
  private def cycle(): Unit = {
    val c = corpus
    val spk = spark
    import spk.implicits._
    val (op, res) = rec.op("frame", FrameQueries) {
      val v = tr.span("ops.ann.batch")(
        c.eng.searchByVectorBatch(c.td, frame, "qid", "qvec", K, Probes)
          .select("qid", "cid", "dist", "rank").collect())
      val k = tr.span("ops.bm25.batch")(
        c.eng.searchByKeywordBatch(c.td, frame, "qid", "qtext", K)
          .select("qid", "id", "score", "rank").collect())
      val f = tr.span("ops.fusion.batch") {
        def ranks(rows: Array[Row]): DataFrame = rows.toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
          .toDF("qid", "id", "rank")
        Fusion.rrfWeightedBatch(Seq(ranks(v), ranks(k)), Seq(1.0, 1.0),
          "qid", topK = K).collect()
      }
      (v, k, f)
    }
    if (rec.recording) res.foreach { case (v, k, f) => rec.untimed {
      rec.check(op, wellFormed(v, 0, 3),
        "vector batch: not k rows ranked 1..k per query")
      rec.check(op, wellFormed(k, 0, 3),
        "keyword batch: not k rows ranked 1..k per query")
      rec.check(op, wellFormed(f, 0, 3),
        "fusion batch: not k rows ranked 1..k per query")
      tr.span("eval.metrics") {
        val got = v.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
        (0 until FrameQueries).foreach(q =>
          recalls += recallOf(truth(q), got.getOrElse(q.toLong, Nil)))
      }
    } }
  }

  def measure(deadline: Double): Unit = {
    var n = 0
    while (tr.now() < deadline) {
      cycleTracing(n)
      cycle()
      n += 1
    }
  }

  def values: Map[String, Any] = Map("candidates_per_frame" -> candidates,
    "frame_queries" -> FrameQueries)
}
