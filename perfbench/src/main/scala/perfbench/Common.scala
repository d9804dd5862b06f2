package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     work: Path, sessionCpuS: Double, trace: Tracer) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** What one run reports: operations attempted and failed (an operation
  * that threw or returned a wrong answer), whether every correctness gate
  * held, and the metrics by name.
  */
final case class Outcome(attempted: Long, failed: Long, gatesOk: Boolean,
                         metrics: Map[String, Double])

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Q {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the whole JVM (every thread), in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** CPU time of the JVM's application threads (driver, HTTP, Spark
    * executors and services), in ms: the cost of the work itself. JIT
    * compiler and GC threads are left out; their CPU depends on how far
    * the JVM has warmed up, not on the call.
    */
  def workCpuMs(): Double = threads.getAllThreadIds.map(threads.getThreadCpuTime)
    .filter(_ > 0).sum / 1e6

  /** Runs `body`; returns its result, wall ms, process CPU ms and work CPU
    * ms ([[workCpuMs]]).
    */
  def timeCpu[A](body: => A): (A, Double, Double, Double) = {
    val c0 = cpuMs(); val w0 = workCpuMs(); val t0 = System.nanoTime()
    val a = body
    (a, ms(t0), cpuMs() - c0, workCpuMs() - w0)
  }

  /** Linear-interpolated quantile (the definition numpy and Python's
    * `statistics.quantiles(method="inclusive")` use).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Runs a set-up step `n` times and returns the median CPU seconds and
    * the last result.
    */
  def setupReps[A](n: Int)(step: Int => A): (Double, A) = {
    val runs = (0 until n).map(i => timeCpu(step(i)))
    System.err.println(runs.map(r => f"${r._2 / 1e3}%.2f/${r._3 / 1e3}%.2f")
      .mkString("[setup] reps (wall/CPU s) ", " ", ""))
    (median(runs.map(_._3 / 1e3)), runs.last._1)
  }

  /** Cosine similarity in double precision. */
  def cosine(a: Array[Double], q: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nq = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i)
      dot += x * q(i); na += x * x; nq += q(i) * q(i); i += 1
    }
    if (na == 0 || nq == 0) 0.0 else dot / math.sqrt(na * nq)
  }

  /** Brute-force top-k: (index into `vecs`, score), score descending,
    * ties by ascending index.
    */
  def bruteTopK(vecs: IndexedSeq[Array[Double]], q: Array[Double], k: Int): Seq[(Int, Double)] = {
    val order = Ordering.by[(Int, Double), (Double, Int)] { case (i, s) => (-s, i) }
    // a max-heap of the k best so far under `order`: its head is the worst kept
    val heap = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](order)
    for (i <- vecs.indices) {
      heap.enqueue((i, cosine(vecs(i), q)))
      if (heap.size > k) heap.dequeue()
    }
    heap.toSeq.sorted(order)
  }

  /** True when `got` scores match `want` rank by rank within `tol`: a
    * tolerant comparison that allows near-tied ids to swap.
    */
  def sameScores(got: Seq[Double], want: Seq[Double], tol: Double = 1e-6): Boolean =
    got.length == want.length && got.zip(want).forall { case (a, b) => math.abs(a - b) <= tol }

  def countFiles(p: Path, suffix: String): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
    finally s.close()
  }
}
