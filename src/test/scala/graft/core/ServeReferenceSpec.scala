package graft.core

import java.nio.file.Files

import graft.SparkSpecBase
import graft.ops.{Ann, Bm25, ServeReference}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The literal single-query read path returns exactly the rows of the
  * broadcast / shuffle / join-back compositions it replaced
  * ([[ServeReference]]): the engine's quantized vector search for
  * every family and metric, filtered and not, pk-only and with payload
  * fields; and BM25, plain and filtered, over the engine's memoized
  * index and over a bucketed stored postings layout. */
class ServeReferenceSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  for (fam <- Seq[Ann.QuantFamily](Ann.Sq, Ann.Pq, Ann.Bitq);
       metric <- Seq[Ann.Metric](Ann.L2, Ann.Cosine)) {
    test(s"searchByVector on a $fam / $metric table returns the " +
        "join-back reference's rows, filter on and off, pk-only and " +
        "payload fields") {
      val f = new ServeFixture(spark, 480, metric, fam)
      val base = f.reg.table(f.td)
      val index = (fam match {
        case Ann.Sq => Ann.buildIvfSq(base, "vec", f.model, metric)
        case Ann.Pq => Ann.buildIvfPq(base, "vec", f.model, f.PqM, metric)
        case Ann.Bitq => Ann.buildIvfBitq(base, "vec", f.model, metric)
      }).persisted()
      val refine = fam.defaultRefine(metric).max(8)
      try {
        for (qi <- 0 until 3;
             filter <- Seq[Option[Column]](None, Some(col("cat") === qi));
             fields <- Seq(Seq("cid"), Seq("cid", "cat", "text"))) {
          val got = rows(f.eng.searchByVector(f.td, f.qvec(qi), 10,
            f.Probes, returnFields = fields, filter = filter))
          val want = rows(ServeReference.engineVector(base, "cid", index,
            "vec", f.qvec(qi), metric, f.Probes, 10, refine, fields,
            filter))
          assert(got.length == 10)
          assert(got == want, s"query $qi, filter $filter, fields $fields")
        }
      } finally index.unpersist()
    }
  }

  test("searchByKeyword and Bm25.search return the df-shuffle " +
      "reference's rows, filtered and not, over the engine memo and a " +
      "bucketed stored postings layout") {
    val f = new ServeFixture(spark, 480)
    val table = f.reg.table(f.td)
    val memo = f.eng.keywordIndex(f.td)
    val dir = Files.createTempDirectory("graft-bm25-ref").toString
    Bm25.writePostings(table, "cid", "text", dir, buckets = 8)
    val stored = Bm25.loadStoredPostings(spark, dir)
    for (qi <- 0 until 4) {
      val q = f.queries(qi)
      val pred = col("cat") =!= qi
      for (fields <- Seq(Seq("cid"), Seq("cid", "doc_id", "text"))) {
        assert(rows(f.eng.searchByKeyword(f.td, q, 10, fields)) ==
          rows(ServeReference.joinHitsBack(table, "cid",
            ServeReference.bm25Search(memo, q, 10), fields)))
        assert(rows(f.eng.searchByKeyword(f.td, q, 10, fields,
            filter = Some(pred))) ==
          rows(ServeReference.joinHitsBack(table, "cid",
            ServeReference.bm25Search(memo, q, 10,
              Some((table.filter(pred), "cid"))), fields)))
      }
      assert(rows(Bm25.search(stored, q, 10)) ==
        rows(ServeReference.bm25Search(stored, q, 10)))
      assert(rows(Bm25.searchFiltered(stored, q, 10, table.filter(pred),
          "cid")) ==
        rows(ServeReference.bm25Search(stored, q, 10,
          Some((table.filter(pred), "cid")))))
    }
  }
}
