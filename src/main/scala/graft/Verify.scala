package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.api.VectorDbServer.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [<name>[,<name>...]]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always passes exactly two args and dumps everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a stale result from an earlier run must not stand in for a
      // query that throws now: check_oracle.py counts a missing dir
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
