package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its outcome as one line,
  * `PERFBENCH_RESULT {...}`, for `run.py` to check and format.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> [--spans <file>]
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "serve_mixed" -> ServeMixed,
    "ingest" -> IngestLoad,
    "search_batch" -> SearchBatch)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Files.createDirectories(Path.of(opts("work")).toAbsolutePath.normalize)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // CPU seconds of every JVM thread since start: JVM and session bring-up
    val sessionCpuS = Q.cpuMs() / 1e3
    System.err.println(f"[perfbench] session up: ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s wall, $sessionCpuS%.1f s CPU")

    try {
      val counters = if (traced) Some(new SparkCounters(spark)) else None
      val tracer = new Tracer(counters)
      val out = workload.run(Ctx(spark, seed, seconds, work, sessionCpuS, tracer))
      opts.get("spans").filter(_ => traced).foreach(f => tracer.write(new java.io.File(f)))
      println("PERFBENCH_RESULT " + Json.obj(Seq(
        "gates_ok" -> out.gatesOk,
        "attempted" -> out.attempted,
        "failed" -> out.failed,
        "metrics" -> Json.Obj(out.metrics.toSeq.sortBy(_._1)))))
    } finally spark.stop()
  }
}
