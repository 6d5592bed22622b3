package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes the raw run record (set-up rounds,
  * timed operations, failures, spans, jobs, stages) as JSON; the
  * metrics are computed from it by `perfbench/harness.py`.
  *
  * {{{
  * perfbench.Main --workload serve|batch --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE
  * }}}
  */
object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = run(spark, workload, seed, seconds, trace, work, cpus)
      Files.write(Paths.get(args("out")),
        Json.render(out).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          trace: Boolean, work: String, cpus: Int): Map[String, Any] = {
    val gen = new Gen(seed)
    val tr = new Tracer(spark, trace)
    val phases = ArrayBuffer[(String, Double)]("jvm_start" ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        .toDouble, "session" -> tr.now())
    val rec = new Recorder(tr)
    val w: Workload = name match {
      case "serve" => new Serve(spark, gen, tr, rec)
      case "batch" => new Batch(spark, gen, tr, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up runs several times; each round starts from empty caches and
    // an empty directory, and the last round's state is measured
    tr.setOn(trace)
    val rounds = ArrayBuffer[Map[String, Any]]()
    for (r <- 1 to SetupRounds) {
      if (r > 1) {
        w.teardown()
        spark.catalog.clearCache()
        graft.ops.Bm25.clearCache()
      }
      val t0 = tr.now()
      val bulkS = w.setup(s"$work/round$r")
      rounds += Map("setup_s" -> (tr.now() - t0) / 1000.0, "bulk_s" -> bulkS)
    }
    phases += "setup" -> tr.now()
    w.prepare()
    phases += "prepare" -> tr.now()
    w.warm()
    phases += "warm" -> tr.now()
    if (trace) tr.setOn(false)

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = tr.now()
    w.measure(t0 + seconds * 1000.0)
    val t1 = tr.now()
    val cpuNs = os.getProcessCpuTime - cpu0
    tr.finish()
    w.evaluate()

    val recall = if (w.recalls.isEmpty) 0.0 else w.recalls.sum / w.recalls.length
    w.finalChecks.foreach { case (ok, what) => rec.item(ok, what) }
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    val stored = Bulk.diskBytes(Seq(w.dir))
    w.teardown()
    phases += "end" -> tr.now()

    Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "props" -> w.props,
      "setup_rounds" -> rounds, "raw_docs" -> w.corpus.rawDocs,
      "window" -> Map("t0" -> t0, "t1" -> t1, "excluded_ms" -> rec.excludedMs,
        "cpu_ns" -> cpuNs),
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "t0" -> o.t0,
        "t1" -> o.t1, "ok" -> o.ok, "traced" -> o.traced, "n" -> o.n)),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures,
      "recall_at_10" -> recall, "recall_samples" -> w.recalls.length,
      "planted_recall" -> w.plantedRecall,
      "heap_mb" -> heapMb, "stored_bytes" -> stored,
      "input_bytes" -> w.corpus.inputBytes,
      "values" -> w.values, "phases" -> phases.toMap) ++ (if (trace) tr.record else Map.empty)
  }
}
