package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.search.{Ann, Search}

/** Single-thread library calls over a seeded clustered corpus: exact
  * batch top-k (`Search.topKBatch`, 100 queries) alternating with
  * single-query IVF probes (`Ann.ivfSearchBatch`).
  */
object SearchBatch extends Workload {
  val Rows = 20000
  val Dim = 64
  val Centers = 32
  val BatchQueries = 100
  val K = 10
  val NProbe = 4
  val Sigma = 0.3
  val MinRecall = 0.8

  /** Result rows per query id: (vec_id, score) in rank order. */
  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
    }

  override def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val (buildS, (corpusPath, idxPath)) = Q.setupReps(3) { i =>
      val dir = ctx.dir(s"search/rep$i")
      val corpus = dir.resolve("corpus").toString
      Gen.clusteredCorpus(spark, ctx.seed, Rows, Dim, Centers).write.parquet(corpus)
      val idx = dir.resolve("ivf").toString
      Ann.writeIvf(Ann.buildIvf(spark.read.parquet(corpus), nCentroids = Centers,
        seed = ctx.seed, maxIter = 4, initMode = "random"), idx)
      (corpus, idx)
    }
    val emb = spark.read.parquet(corpusPath)
    val vecs = emb.orderBy("vec_id").select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toIndexedSeq
    var gates = vecs.length == Rows
    val rng = new Random(ctx.seed)
    var nextQ = 0L
    def queries(n: Int): (DataFrame, Map[Long, Array[Double]]) = {
      val qs = (0 until n).map { _ =>
        nextQ += 1; nextQ -> Gen.perturb(rng, vecs(rng.nextInt(Rows)), Sigma)
      }
      (qs.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "query_vec"), qs.toMap)
    }
    // (kind, wall ms, ok, traced, CPU ms) per call, plus what the post-run
    // checks need
    val calls = ArrayBuffer.empty[(String, Double, Boolean, Boolean, Double)]
    val exactSample = ArrayBuffer.empty[(Array[Double], Seq[(Long, Double)])]
    val ivfResults = ArrayBuffer.empty[(Array[Double], Seq[(Long, Double)])]
    val tr = ctx.trace

    def exact(): Unit = {
      val (df, qs) = queries(BatchQueries)
      val (rows, ms, _, cpu) = Q.timeCpu(tr("search.topKBatch")(Search.topKBatch(emb, df, k = K,
        threshold = Double.NegativeInfinity).collect()))
      val got = byQuery(rows)
      val ok = got.size == BatchQueries && got.values.forall(r => r.length == K)
      if (ok) qs.keys.toSeq.sorted.take(2).foreach(q => exactSample += ((qs(q), got(q))))
      calls += (("exact", ms, ok, tr.recording, cpu))
    }
    def ivf(): Unit = {
      val (df, qs) = queries(1)
      val (rows, ms, _, cpu) = Q.timeCpu(tr("search.ivf")(
        Ann.ivfSearchBatch(spark, idxPath, df, k = K, nprobe = NProbe).collect()))
      val got = byQuery(rows).getOrElse(qs.keys.head, Seq.empty)
      val ok = got.nonEmpty && got.length <= K
      if (ok) ivfResults += ((qs.values.head, got))
      calls += (("ivf", ms, ok, tr.recording, cpu))
      if (tr.recording) tr("search.readIvf")(Ann.readIvf(spark, idxPath))
    }

    val (_, _, warmCpu, _) = Q.timeCpu(tr.untraced { exact(); ivf(); exact(); ivf() })
    calls.clear(); ivfResults.clear()
    val setupS = ctx.sessionCpuS + buildS + warmCpu / 1e3
    System.err.println(f"[search] $Rows x $Dim, $Centers centers; set-up $setupS%.1f CPU s")

    // traced runs pair every untraced call (the overhead baseline) with a
    // traced one
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      tr.untraced { exact(); ivf() }
      if (tr.enabled) { exact(); ivf() }
    }

    // exact results against brute force; IVF recall against exact
    gates &= exactSample.forall { case (q, got) =>
      val want = Q.bruteTopK(vecs, q, K)
      val ok = Q.sameScores(got.map(_._2), want.map(_._2)) &&
        got.forall { case (id, s) => math.abs(Q.cosine(vecs(id.toInt), q) - s) <= 1e-6 }
      if (!ok) System.err.println(s"[search] exact mismatch: got $got want $want")
      ok
    }
    // recall over the timed probes plus one untimed batch of 100 probes,
    // so the gate does not hinge on a handful of queries
    val (recallDf, recallQs) = queries(BatchQueries)
    val batch = byQuery(Ann.ivfSearchBatch(spark, idxPath, recallDf, k = K, nprobe = NProbe)
      .collect())
    val probed = ivfResults.toSeq ++
      recallQs.toSeq.map { case (id, q) => (q, batch.getOrElse(id, Seq.empty)) }
    val meanRecall = probed.map { case (q, got) =>
      val want = Q.bruteTopK(vecs, q, K).map(_._1.toLong).toSet
      got.count(g => want.contains(g._1)).toDouble / K
    }.sum / probed.length
    gates &= meanRecall >= MinRecall
    val untraced = calls.filter(c => c._3 && !c._4)
    def okMs(kind: String) = untraced.filter(_._1 == kind).map(_._2).toSeq
    def okCpu(kind: String) = untraced.filter(_._1 == kind).map(_._5).toSeq
    val ivfMs = okMs("ivf")
    val exactMs = okMs("exact")
    // one round = one exact batch and the IVF probe after it
    val roundCpu = untraced.grouped(2)
      .filter(g => g.length == 2 && g(0)._1 == "exact" && g(1)._1 == "ivf")
      .map(g => g(0)._5 + g(1)._5).toSeq
    System.err.println(f"[search] ${exactMs.length} exact batches p50 ${Q.median(exactMs)}%.0f ms, " +
      f"${ivfMs.length} ivf probes p50 ${Q.median(ivfMs)}%.0f ms, recall@$K $meanRecall%.3f; " +
      f"CPU per round ${Q.median(roundCpu)}%.0f ms; CPU ms each: " +
      untraced.map(c => f"${c._1} ${c._5}%.0f").mkString(" "))
    val metrics =
      if (!tr.enabled) Map("op_cpu_ms" -> Q.median(roundCpu))
      else {
        def med(name: String) = Q.median(tr.named(name).map(_.ms))
        def mean(name: String)(f: Span => Double) = {
          val s = tr.named(name); s.map(f).sum / s.length
        }
        Map(
          "search.topKBatch_s" -> med("search.topKBatch") / 1e3,
          "search.topKBatch_shuffle_mb" -> mean("search.topKBatch")(_.spark.shuffleMb),
          "search.topKBatch_spill_mb" -> mean("search.topKBatch")(_.spark.spillMb),
          "search.topKBatch_tasks" -> mean("search.topKBatch")(_.spark.tasks.toDouble),
          "search.readIvf_ms" -> med("search.readIvf"),
          "search.ivf_probe_ms" -> (med("search.ivf") - med("search.readIvf")),
          "search.jobs_per_ivf" -> mean("search.ivf")(_.spark.jobs.toDouble),
          "search.ivf_outside_jobs_ms" -> mean("search.ivf")(_.outsideJobsMs.toDouble),
          "search.ivf_recall_at_10" -> meanRecall,
          "search.exact_wall_ms" -> Q.median(exactMs),
          "search.exact_cpu_ms" -> Q.median(okCpu("exact")),
          "search.ivf_wall_p50_ms" -> Q.median(ivfMs),
          "search.ivf_cpu_ms" -> Q.median(okCpu("ivf")),
          "search.trace_overhead_pct" -> (med("search.ivf") / Q.median(ivfMs) - 1) * 100)
      }
    Outcome(calls.length, calls.count(!_._3), gates, metrics + ("setup_s" -> setupS))
  }
}
