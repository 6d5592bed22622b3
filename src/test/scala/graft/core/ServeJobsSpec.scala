package graft.core

import graft.{JobLog, SparkSpecBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Job-count guard for the single-query serving path: a warm request
  * plans from driver-side literals (probe cells, df counts, pks), so
  * it launches at most two Spark jobs, and the keyword scorer runs over
  * the memoized postings' own id partitioning without an exchange. */
class ServeJobsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  private lazy val f = new ServeFixture(spark, 480)

  /** The jobs a warm `search` launches to build and collect its frame,
    * and the frame. */
  private def warmJobs(search: => DataFrame): (DataFrame, Seq[JobLog.Job]) = {
    search.collect() // memo caches and codegen
    JobLog.of(spark) {
      val df = search
      df.collect()
      df
    }
  }

  test("searchByVector on an IVF-SQ table runs at most 2 jobs with " +
      "serve's returnFields, with and without filter") {
    for (filter <- Seq(None, Some(col("cat") === 3))) {
      val (_, jobs) = warmJobs(f.eng.searchByVector(f.td, f.qvec(1), 10,
        f.Probes, returnFields = Seq("cid", "cat"), filter = filter))
      assert(jobs.length <= 2,
        s"filter $filter: ${jobs.length} jobs\n${JobLog.render(jobs)}")
    }
  }

  test("searchByKeyword with pk-only fields runs at most 2 jobs and " +
      "its scoring plan has no Exchange") {
    val (df, jobs) = warmJobs(f.eng.searchByKeyword(f.td, f.queries(2),
      10, returnFields = Seq("cid")))
    assert(jobs.length <= 2, s"${jobs.length} jobs\n${JobLog.render(jobs)}")
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty,
      s"an Exchange in the keyword scoring plan:\n$plan")
  }
}
