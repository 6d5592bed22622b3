package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The single-query read compositions the serving path ran before it
  * planned from driver-side literals: probe cells and per-cell side
  * tables as broadcast joins, the BM25 df as a `groupBy(term)` shuffle
  * joined back as a broadcast, and every hit joined back onto a full
  * table scan under a global sort. They stay here as the row-for-row
  * reference the literal forms are checked against. */
object ServeReference {

  /** `Ann.quantizedCandidates` as a broadcast of the probed cells and
    * of the side table's probed rows. Literal query vectors only. */
  def quantizedCandidates(index: Ann.QuantIndex, idCol: String,
                          queryVec: Column, metric: Ann.Metric,
                          probes: Int, n: Int,
                          roundTo: Int = 6): DataFrame = {
    val (qv, m) =
      if (metric == Ann.Cosine)
        (typedlit(Ann.normalizeSeq(Ann.literalVec(queryVec).get.toSeq)),
          Ann.L2)
      else (queryVec, metric)
    val cellCol = index.model.idCol
    val cells = broadcast(Ann.probeCells(index.model, qv, m, probes))
    index.cellSide
      .fold(index.rows.join(cells, Seq(cellCol)))(side =>
        index.rows.join(broadcast(side.join(cells, Seq(cellCol))),
          Seq(cellCol)))
      .withColumn("qdist", round(index.estimate(qv), roundTo))
      .orderBy(col("qdist").asc, col(idCol).asc)
      .limit(n)
  }

  /** `Ann.searchQuantized` over [[quantizedCandidates]]: (id, dist). */
  def searchQuantized(index: Ann.QuantIndex, idCol: String,
                      vecCol: String, queryVec: Column,
                      metric: Ann.Metric, probes: Int, k: Int,
                      refine: Int, roundTo: Int = 6): DataFrame =
    quantizedCandidates(index, idCol, queryVec, metric, probes,
        k * refine, roundTo)
      .withColumn("dist", round(metric.dist(
        col(vecCol).cast("array<double>"), queryVec), roundTo))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("dist"))

  /** `Engine.searchByVector`'s quantized arm: the filter as a pk
    * semi-join against the filtered base table, the (pk, dist) search,
    * and the k hits joined back onto a full base scan under a global
    * sort. */
  def engineVector(base: DataFrame, pk: String, index: Ann.QuantIndex,
                   vecCol: String, q: Seq[Double], metric: Ann.Metric,
                   probes: Int, k: Int, refine: Int, fields: Seq[String],
                   filter: Option[Column]): DataFrame = {
    val rows = filter.fold(index.rows)(p => index.rows.join(
      base.filter(p).select(col(pk)), Seq(pk), "left_semi"))
    val ranked = searchQuantized(index.withRows(rows), pk, vecCol,
      typedlit(q), metric, probes, k, refine)
    base.join(broadcast(ranked), pk)
      .orderBy(col("dist").asc, col(pk).asc)
      .select((fields :+ "dist").map(col): _*)
  }

  /** `Bm25.searchTerms` / `searchTermsFiltered`: postings joined with
    * the broadcast query terms (after bucket pruning), df by a
    * `groupBy(term)` over them joined back as a broadcast, then the
    * `groupBy(id)` sum and top-k. */
  def bm25Search(index: Bm25.Bm25Index, query: String, k: Int,
                 allowed: Option[(DataFrame, String)] = None,
                 roundTo: Int = 6): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val terms = graft.functions.Tokenizers.byName(index.tokenizer)
      .scala(query).distinct
    val base =
      if (index.bucketCount > 0 && terms.nonEmpty &&
          index.postings.columns.contains("bucket"))
        index.postings.filter(col("bucket").isin(
          terms.map(Bm25.bucketOf(_, index.bucketCount)).distinct: _*))
      else index.postings
    val qPost = base.join(broadcast(terms.toDF("term")), "term")
    val qStats = qPost.groupBy("term").agg(count(lit(1)).as("df"))
    allowed.fold(qPost)(a => qPost.join(a._1.select(col(a._2).as("id")),
        Seq("id"), "left_semi"))
      .join(broadcast(qStats), "term")
      .withColumn("w",
        Bm25.idf(col("df"), index.n) * (col("tf") * (Bm25.K1 + 1)) /
          (col("tf") + lit(Bm25.K1) * (lit(1 - Bm25.B) +
            lit(Bm25.B) * col("dl") / index.avgdl)))
      .groupBy("id")
      .agg(round(sum(col("w")), roundTo).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `Engine.joinHitsBack`: (id, score) hits joined onto a full table
    * scan under a global sort. */
  def joinHitsBack(table: DataFrame, pk: String, hits: DataFrame,
                   fields: Seq[String]): DataFrame =
    table.join(broadcast(hits.withColumnRenamed("id", "__hit_id")),
        col(pk) === col("__hit_id"))
      .orderBy(col("score").desc, col(pk).asc)
      .select((fields :+ "score").map(col): _*)
}
