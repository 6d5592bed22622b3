package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of driver code launches, read with a
  * `SparkListener`: per job its stages (id, tasks, operators). */
object JobLog {
  /** `name` lists the operators that built the stage's RDDs; `ran` is
    * false for a stage the job lists but skips (its shuffle output
    * already exists). */
  final case class Stage(id: Int, tasks: Int, name: String, ran: Boolean)
  final case class Job(id: Int, stages: Seq[Stage])

  def of[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val starts = ArrayBuffer[SparkListenerJobStart]()
    val submitted = scala.collection.mutable.Set[Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.synchronized(starts += js)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        starts.synchronized(submitted += s.stageInfo.stageId)
    }
    GraftTestAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftTestAccess.drain(sc)
      (out, starts.synchronized(starts.toList.map(js =>
        Job(js.jobId, js.stageInfos.map(s => Stage(s.stageId, s.numTasks,
          s.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(", "),
          submitted(s.stageId))).sortBy(_.id)))))
    } finally sc.removeSparkListener(l)
  }

  def render(jobs: Seq[Job]): String = jobs.map { j =>
    s"job ${j.id}: ${j.stages.length} stage(s)\n" + j.stages.map(s =>
      s"  stage ${s.id}: ${s.tasks} task(s)" +
        (if (s.ran) "" else " (skipped)") + s"  ${s.name}").mkString("\n")
  }.mkString("\n")
}
