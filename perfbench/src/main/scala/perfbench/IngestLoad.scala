package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Convert
import graft.ingest.Ingest

/** Repeated `Convert.run` of one seeded repo tree into fresh output
  * directories: scan, filter, chunk, embed and parquet write.
  */
object IngestLoad extends Workload {
  val TreeFiles = 300
  val MeanBytes = 5000

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One conversion: ok when the observed counters equal the generator's,
    * wall ms, work CPU ms.
    */
  private def convert(ctx: Ctx, tree: Gen.Tree, out: Path): (Boolean, Double, Double) = {
    val (m, ms, _, cpu) = Q.timeCpu(Convert.run(ctx.spark, tree.root.toString, out.toString))
    val ok = m("chunks_created") == tree.chunks && m("content_chars") == tree.chunkChars
    if (!ok) System.err.println(s"[ingest] counters $m, expected chunks ${tree.chunks} " +
      s"chars ${tree.chunkChars}")
    (ok, ms, cpu)
  }

  /** Reads an output back: one row per expected chunk, every kept file
    * present, every embedding 64-dimensional.
    */
  private def outputOk(ctx: Ctx, tree: Gen.Tree, out: Path): Boolean = {
    val r = ctx.spark.read.parquet(out.toString).agg(count(lit(1)),
      countDistinct(col("path")), min(size(col("embedding"))), max(size(col("embedding"))))
      .head()
    val ok = r.getLong(0) == tree.chunks && r.getLong(1) == tree.keptFiles &&
      r.getInt(2) == 64 && r.getInt(3) == 64
    if (!ok) System.err.println(s"[ingest] output $out: $r, expected ${tree.chunks} " +
      s"chunks from ${tree.keptFiles} files")
    ok
  }

  override def run(ctx: Ctx): Outcome = {
    val (genS, tree) = Q.setupReps(3) { i =>
      Gen.repoTree(ctx.dir(s"ingest/tree$i"), ctx.seed, TreeFiles, MeanBytes)
    }
    var n = 0
    def nextOut(): Path = { n += 1; ctx.work.resolve(s"ingest/out$n") }
    val (warm, _, warmCpu, _) = Q.timeCpu(Seq.fill(3)(convert(ctx, tree, nextOut())._1))
    var gates = warm.forall(identity) && outputOk(ctx, tree, ctx.work.resolve("ingest/out1"))
    val setupS = ctx.sessionCpuS + genS + warmCpu / 1e3
    System.err.println(f"[ingest] tree ${tree.keptFiles} files ${tree.keptBytes / 1e6}%.2f MB " +
      f"-> ${tree.chunks} chunks; set-up $setupS%.1f CPU s")

    val runs = ArrayBuffer.empty[(Boolean, Double, Double)]
    val tr = ctx.trace
    val src = tree.root.toString
    def docs = Ingest.scanFiles(ctx.spark, src)
      .select(col("path"), col("extension"), col("size"), col("content").as("text"))
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      runs += convert(ctx, tree, nextOut())
      if (tr.enabled) {
        // the same conversion staged, then whole, traced
        tr("ingest.scan")(noop(Ingest.scanFiles(ctx.spark, src)))
        tr("ingest.chunk")(noop(Ingest.chunkDocuments(docs, "text")))
        tr("ingest.embed")(noop(Ingest.ingestDocuments(docs, "text")))
        runs += tr("ingest.convert")(convert(ctx, tree, nextOut()))
      }
    }
    val untraced = (if (tr.enabled) runs.grouped(2).map(_.head) else runs).toSeq
    val lat = untraced.map(_._2)
    val metrics =
      if (!tr.enabled) Map("op_cpu_ms" -> Q.median(untraced.map(_._3)))
      else {
        def med(name: String) = Q.median(tr.named(name).map(_.ms / 1e3))
        def mean(f: Span => Double) = {
          val s = tr.named("ingest.convert"); s.map(f).sum / s.length
        }
        Map(
          "ingest.scan_s" -> med("ingest.scan"),
          "ingest.chunk_s" -> (med("ingest.chunk") - med("ingest.scan")),
          "ingest.embed_s" -> (med("ingest.embed") - med("ingest.chunk")),
          "ingest.write_s" -> (med("ingest.convert") - med("ingest.embed")),
          "ingest.cpu_s" -> mean(_.spark.cpuS),
          "ingest.tasks" -> mean(_.spark.tasks.toDouble),
          "ingest.outside_jobs_s" -> mean(_.outsideJobsMs / 1e3),
          "ingest.files_written" -> Q.countFiles(ctx.work.resolve(s"ingest/out$n"), ".parquet").toDouble,
          "ingest.files_kept" -> tree.keptFiles.toDouble,
          "ingest.chunks" -> tree.chunks.toDouble,
          "ingest.wall_p50_ms" -> Q.median(lat),
          "ingest.trace_overhead_pct" -> (med("ingest.convert") * 1e3 / Q.median(lat) - 1) * 100)
      }
    // read back the last output and one seeded earlier one
    val sample = Seq(n, 1 + new scala.util.Random(ctx.seed).nextInt(n))
    gates &= sample.forall(i => outputOk(ctx, tree, ctx.work.resolve(s"ingest/out$i")))
    System.err.println(f"[ingest] ${runs.length} conversions; untraced p50 ${Q.median(lat)}%.0f ms " +
      f"wall, ${Q.median(untraced.map(_._3))}%.0f ms CPU; CPU ms each: " +
      untraced.map(r => f"${r._3}%.0f").mkString(" "))
    Outcome(runs.length, runs.count(!_._1), gates, metrics + ("setup_s" -> setupS))
  }
}
