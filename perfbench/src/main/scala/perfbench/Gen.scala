package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Chunker

/** Seeded input generators. The same seed always yields the same inputs;
  * the program under test only ever sees what these write.
  */
object Gen {

  /** What a generated repo tree should produce through the ingest
    * filters: the files that survive F1-F4, and what chunking them gives.
    */
  final case class Tree(root: Path, keptFiles: Int, keptBytes: Long,
                        chunks: Long, chunkChars: Long)

  private val Words = Array("def", "val", "return", "import", "class", "self",
    "vector", "query", "index", "chunk", "embedding", "score", "server",
    "request", "parquet", "spark", "batch", "token", "config", "path",
    "result", "data", "frame", "cosine", "search", "store", "documents",
    "update", "stats", "cluster", "filter", "record", "value", "offset")
  private val KeptExt = Array(".py", ".scala", ".md", ".js", ".java", ".go",
    ".rs", ".txt", ".json", ".yaml", ".ts", ".sql", ".sh", ".c")
  private val DroppedExt = Array(".png", ".lock", ".bin", ".jar", ".pyc", "")

  def text(rng: Random, bytes: Int): String = {
    val sb = new StringBuilder(bytes + 128)
    while (sb.length < bytes) {
      val indent = rng.nextInt(3) * 2
      sb.append(" " * indent)
      val n = 2 + rng.nextInt(12)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(Words(rng.nextInt(Words.length)))
        if (rng.nextInt(5) == 0) sb.append(rng.nextInt(1000))
        i += 1
      }
      sb.append('\n')
    }
    sb.setLength(bytes)
    sb.toString
  }

  private def write(root: Path, rel: String, body: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(US_ASCII))
  }

  /** A synthetic source repository of `files` files of about `meanBytes`
    * each (log-normal sizes), plus the ingest filter cases: files under
    * hidden directories and hidden files (F1), non-allowlisted
    * extensions (F2), one file over the 10 MB cap (F3), and empty or
    * blank files (F4).
    */
  def repoTree(root: Path, seed: Long, files: Int, meanBytes: Int): Tree = {
    val rng = new Random(seed)
    var kept = 0; var bytes = 0L; var chunks = 0L; var chars = 0L
    def size(): Int =
      math.max(40, (meanBytes * math.exp(0.8 * rng.nextGaussian() - 0.32)).toInt)
    // log-normal sizes, rescaled so every seed writes the same volume
    val raw = Array.fill(files)(size().toDouble)
    val scale = files.toDouble * meanBytes / raw.sum
    for (i <- 0 until files) {
      val dir = s"pkg${rng.nextInt(12)}/mod${rng.nextInt(8)}"
      val body = text(rng, math.max(40, (raw(i) * scale).toInt))
      write(root, s"$dir/file$i${KeptExt(rng.nextInt(KeptExt.length))}", body)
      kept += 1; bytes += body.length
      val cs = Chunker.chunk(body)
      chunks += cs.size; chars += cs.iterator.map(_.length.toLong).sum
    }
    val edge = math.max(1, files / 30)
    for (i <- 0 until edge) {
      write(root, s".git/objects/o$i.py", text(rng, size()))                // F1
      write(root, s"pkg${i % 12}/.cache/c$i.md", text(rng, size()))         // F1
      write(root, s"pkg${i % 12}/.hidden$i.py", text(rng, size()))          // F1
      write(root, s"assets/a$i${DroppedExt(i % DroppedExt.length)}",
        text(rng, size()))                                                  // F2
      write(root, s"pkg${i % 12}/empty$i.py", "")                           // F4
      write(root, s"pkg${i % 12}/blank$i.txt", " " * (1 + rng.nextInt(50))) // F4
    }
    write(root, "data/huge.txt",
      text(rng, (graft.ingest.Ingest.MaxFileBytes + 4096).toInt))           // F3
    Tree(root, kept, bytes, chunks, chars)
  }

  /** Clustered embedding corpus (vec_id, embedding array<float>, label):
    * `centers` seeded Gaussian centers plus bounded per-coordinate noise
    * derived from a seeded hash, the recipe of `graft.ServingLatency`.
    */
  def clusteredCorpus(spark: SparkSession, seed: Long, rows: Long, dim: Int,
                      centers: Int): DataFrame = {
    val rng = new Random(seed)
    val ctrs = Array.fill(centers, dim)(rng.nextGaussian())
    val ctrLit = array(ctrs.map(c => array(c.map(lit).toSeq: _*)).toSeq: _*)
    spark.range(rows)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (element_at(element_at(ctrLit, (col("id") % centers).cast("int") + 1), i + 1) +
            (pmod(hash(col("id") * dim + i, lit(seed)), lit(1000)).cast("double")
              - 500.0) / 2500.0).cast("float")).as("embedding"),
        pmod(hash(col("id"), lit(seed)), lit(10)).cast("int").as("label"))
  }

  /** A query vector near `base`: Gaussian noise of scale `sigma`
    * relative to the vector's norm per coordinate.
    */
  def perturb(rng: Random, base: Array[Double], sigma: Double): Array[Double] = {
    val norm = math.sqrt(base.map(x => x * x).sum) / math.sqrt(base.length)
    base.map(x => x + sigma * norm * rng.nextGaussian())
  }
}
