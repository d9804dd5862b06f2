package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

import graft.Convert
import graft.api.{VectorDb, VectorDbServer}
import graft.embed.Embedder
import graft.search.Search

/** One closed-loop HTTP client, on one keep-alive connection, against an
  * in-process `VectorDbServer` over a store built from `Convert.run`
  * output: 85% `/query` (top 5), 10% `/add_documents` (100-document
  * batches, the reference client's batch size) and 5% `/stats`.
  */
object ServeMixed extends Workload {
  val TreeFiles = 300
  val MeanBytes = 5000
  val K = 5
  val AddBatch = 100
  val LoadBatch = 1500
  val Threshold = 0.1

  private val mapper = new ObjectMapper()

  sealed trait Req
  final case class QueryReq(vec: Array[Double]) extends Req
  final case class AddReq(json: String, docs: Seq[(String, Array[Double])]) extends Req
  case object StatsReq extends Req

  /** One client's seeded request stream. Every cycle of 20 requests holds
    * 17 queries, 2 adds and 1 stats call in a seeded order. Queries are
    * stored chunk vectors plus noise, so their nearest neighbours clear
    * the score threshold.
    */
  final class Requests(seed: Long, client: Int, base: IndexedSeq[Array[Double]]) {
    private val rng = new Random(seed * 7919 + client)
    private var batches = 0
    private var cycle = Iterator.empty[Int]
    def next(): Req = {
      if (!cycle.hasNext) cycle = rng.shuffle(Seq.fill(17)(0) ++ Seq(1, 1, 2)).iterator
      cycle.next() match {
        case 0 => query()
        case 1 => addBatch()
        case _ => StatsReq
      }
    }
    def query(): QueryReq = QueryReq(Gen.perturb(rng, base(rng.nextInt(base.length)), 0.3))
    def addBatch(): AddReq = {
      batches += 1
      val docs = (0 until AddBatch).map { i =>
        val content = Gen.text(rng, 300 + rng.nextInt(700))
        (s"added/s$seed/c$client/b$batches/doc$i.md", content)
      }
      val withVec = docs.map { case (p, c) => (p, c, Embedder.Default.embed(c).map(_.toDouble)) }
      val json = withVec.map { case (p, c, v) =>
        Json.obj(Seq("path" -> p, "extension" -> ".md", "size" -> c.length.toLong,
          "total_chunks" -> 1, "chunk_index" -> 0, "content" -> c, "embedding" -> v.toSeq,
          "ingested_at" -> java.time.Instant.ofEpochMilli(1800000000000L + batches).toString))
      }.mkString("""{"documents": [""", ",", "]}")
      AddReq(json, withVec.map { case (p, _, v) => (p + "#0", v) })
    }
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def uri(p: String) = URI.create(s"http://127.0.0.1:$port$p")
    def get(p: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(uri(p)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def post(p: String, body: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(uri(p))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def query(vec: Array[Double]): (Int, String) =
      post("/query", s"""{"query_embedding": ${vec.mkString("[", ",", "]")}, "top_k": $K}""")
  }

  /** Shape check of a `/query` response: at most k rows, scores sorted
    * descending, all at or above the threshold. Returns the rows.
    */
  def queryRows(code: Int, body: String): Option[Seq[JsonNode]] =
    if (code != 200) None else {
      val n = mapper.readTree(body)
      val rows = n.path("results").elements().asScala.toSeq
      val scores = rows.map(_.path("score").asDouble(Double.NaN))
      val ok = rows.nonEmpty && rows.length <= K &&
        n.path("total_results").asInt(-1) == rows.length &&
        scores.forall(s => s >= Threshold && s <= 1.0 + 1e-9) &&
        scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
      if (ok) Some(rows) else None
    }

  private def addOk(code: Int, body: String, n: Int): Boolean =
    code == 200 && {
      val j = mapper.readTree(body)
      j.path("added").asLong(-1) == n && j.path("dropped").asLong(-1) == 0
    }

  private def statsTotal(code: Int, body: String): Option[Long] =
    if (code != 200) None
    else Option(mapper.readTree(body).get("total_documents")).map(_.asLong())

  /** One timed request: wall ms, ok flag, and the work CPU ms of every
    * application thread (client, server and Spark) while it ran.
    */
  final case class Done(kind: String, ms: Double, ok: Boolean, cpuMs: Double = 0)

  /** The vectors of every stored and acknowledged document, so the final
    * exactness check can brute-force over them.
    */
  final class Store(val base: IndexedSeq[(String, Array[Double])]) {
    private val added = ArrayBuffer.empty[(String, Array[Double])]
    def ack(docs: Seq[(String, Array[Double])]): Unit = added ++= docs
    def all: IndexedSeq[(String, Array[Double])] = base ++ added
    def count: Long = base.length.toLong + added.length
  }

  def send(c: Client, r: Req, store: Store): Done = r match {
    case QueryReq(v) =>
      val ((code, body), ms, _, cpu) = Q.timeCpu(c.query(v))
      Done("query", ms, queryRows(code, body).isDefined, cpu)
    case AddReq(json, docs) =>
      val ((code, body), ms, _, cpu) = Q.timeCpu(c.post("/add_documents", json))
      val ok = addOk(code, body, docs.length)
      if (ok) store.ack(docs)
      Done("add", ms, ok, cpu)
    case StatsReq =>
      val ((code, body), ms, _, cpu) = Q.timeCpu(c.get("/stats"))
      Done("stats", ms, statsTotal(code, body).exists(_ >= store.base.length), cpu)
  }

  override def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // set-up, three times: generate the repo tree, convert it, and load
    // the converted chunks into a fresh store over the wire in batches,
    // the reference's convert-then-POST flow. The last store is served.
    var last: Option[VectorDbServer] = None
    val (buildS, (tree, storeDir, db, server)) = Q.setupReps(3) { i =>
      last.foreach(_.stop())
      val rep = ctx.dir(s"serve/rep$i")
      val tree = Gen.repoTree(rep.resolve("src"), ctx.seed, TreeFiles, MeanBytes)
      val converted = rep.resolve("converted").toString
      Convert.run(spark, tree.root.toString, converted)
      val storeDir = rep.resolve("store")
      val db = new VectorDb(spark, storeDir.toString)
      val server = new VectorDbServer(spark, db)
      server.start()
      last = Some(server)
      val c = new Client(server.boundPort)
      spark.read.parquet(converted).toJSON.collect().grouped(LoadBatch).foreach { b =>
        val (code, body) = c.post("/add_documents", b.mkString("""{"documents": [""", ",", "]}"))
        require(addOk(code, body, b.length), s"store load failed: $code $body")
      }
      (tree, storeDir, db, server)
    }
    val base = db.corpus().select(concat_ws("#", col("path"), col("chunk_index")),
      col("embedding")).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray)).toIndexedSeq
    var gates = base.length == tree.chunks
    if (!gates) System.err.println(s"[serve] store has ${base.length} chunks, expected ${tree.chunks}")
    val store = new Store(base)
    try {
      val port = server.boundPort
      val warm = new Client(port)
      val w = new Requests(ctx.seed, 99, base.map(_._2))
      val (_, _, warmCpu, _) = Q.timeCpu {
        (Seq.fill(2)(w.query()) :+ StatsReq :+ w.addBatch())
          .foreach(r => gates &= send(warm, r, store).ok)
      }
      val setupS = ctx.sessionCpuS + buildS + warmCpu / 1e3
      System.err.println(f"[serve] tree ${tree.keptFiles} files ${tree.keptBytes / 1e6}%.1f MB, " +
        f"${base.length} chunks; set-up $setupS%.1f CPU s")

      val (done, metrics) =
        if (ctx.trace.enabled) tracedLoop(ctx, db, storeDir, port, store)
        else {
          val deadline = System.nanoTime() + ctx.seconds * 1000000000L
          val t0 = System.nanoTime()
          val c = new Client(port)
          val reqs = new Requests(ctx.seed, 0, base.map(_._2))
          val all = ArrayBuffer.empty[Done]
          while (System.nanoTime() < deadline) {
            all += (try send(c, reqs.next(), store) catch {
              case e: Exception =>
                System.err.println(s"[serve] request failed: $e"); Done("error", 0, ok = false)
            })
          }
          val wallS = (System.nanoTime() - t0) / 1e9
          def ok(kind: String) = all.filter(d => d.kind == kind && d.ok).toSeq
          val summary = Seq("query", "add", "stats").map { k =>
            val xs = ok(k)
            if (xs.isEmpty) s"$k n=0"
            else f"$k n=${xs.length} p50 ${Q.median(xs.map(_.ms))}%.0f ms wall, " +
              f"${Q.median(xs.map(_.cpuMs))}%.0f ms CPU"
          }.mkString("; ")
          System.err.println(f"[serve] ${all.length} requests in $wallS%.1f s: $summary")
          (all.toSeq, Map("op_cpu_ms" -> Q.median(ok("query").map(_.cpuMs))))
        }
      val finalOk = finalChecks(ctx, warm, store)
      Outcome(done.length, done.count(!_.ok), gates && finalOk,
        metrics ++ Map("setup_s" -> setupS))
    } finally server.stop()
  }

  /** After the load: `/stats` must count the base plus every acknowledged
    * document, and a seeded sample of queries must equal the benchmark's
    * own brute-force top-k over everything stored.
    */
  private def finalChecks(ctx: Ctx, c: Client, store: Store): Boolean = {
    val (code, body) = c.get("/stats")
    val total = statsTotal(code, body)
    val statsOk = total.contains(store.count)
    if (!statsOk) System.err.println(s"[serve] /stats total $total, expected ${store.count}")
    val all = store.all
    val byId = all.groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    val vecs = all.map(_._2)
    val rng = new Random(ctx.seed ^ 0x5eed)
    val exactOk = (0 until 3).forall { _ =>
      val q = Gen.perturb(rng, vecs(rng.nextInt(store.base.length)), 0.3)
      val (qc, qb) = c.query(q)
      queryRows(qc, qb).exists { rows =>
        val want = Q.bruteTopK(vecs, q, K).map(_._2).filter(_ >= Threshold)
        val got = rows.map(_.path("score").asDouble())
        val idsOk = rows.forall { r =>
          val id = r.path("path").asText() + "#" + r.path("chunk_index").asInt()
          byId.get(id).exists(v => math.abs(Q.cosine(v, q) - r.path("score").asDouble()) <= 1e-6)
        }
        val ok = Q.sameScores(got, want) && idsOk
        if (!ok) System.err.println(s"[serve] exactness mismatch: got ${rows.map(r =>
          r.path("path").asText() + "#" + r.path("chunk_index").asInt() + "=" +
            r.path("score").asDouble())} want $want")
        ok
      }
    }
    statsOk && exactOk
  }

  /** Traced run, one request in flight. Each query goes over HTTP twice,
    * untraced (the overhead baseline) and traced, then as a direct
    * `VectorDb` call and a direct `Search.topK` call; adds and stats go
    * over HTTP and as direct `VectorDb` calls.
    */
  private def tracedLoop(ctx: Ctx, db: VectorDb, storeDir: Path, port: Int,
                         store: Store): (Seq[Done], Map[String, Double]) = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val c = new Client(port)
    val reqs = new Requests(ctx.seed, 0, store.base.map(_._2))
    val done = ArrayBuffer.empty[Done]
    val untracedQ = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // an add and a stats call first: a short traced run may hold no others
    val stream = Iterator(reqs.addBatch(), StatsReq) ++ Iterator.continually(reqs.next())
    while (System.nanoTime() < deadline) stream.next() match {
      case r @ QueryReq(v) =>
        val d = send(c, r, store)
        done += d
        if (d.ok) untracedQ += d.ms
        done += tr("serve.http.query")(send(c, r, store))
        tr("api.queryVec")(db.queryVec(v.toSeq, topK = K).collect())
        tr("search.topK")(Search.topK(db.corpus(), v.toSeq, k = K, threshold = Threshold,
          idCol = "path", vecCol = "embedding").collect())
      case r: AddReq =>
        done += tr("serve.http.add")(send(c, r, store))
        val docs = spark.read.json(Seq(r.json).toDS())
          .select(explode(col("documents")).as("d")).select("d.*")
        val res = tr("api.addDocuments")(db.addDocuments(docs))
        if (res.added == r.docs.length) store.ack(r.docs)
        else done += Done("add", 0, ok = false)
      case StatsReq =>
        done += tr("serve.http.stats")(send(c, StatsReq, store))
        tr("api.stats")(db.stats())
    }
    def ms(name: String) = { val s = tr.named(name).map(_.ms); if (s.isEmpty) 0.0 else Q.median(s) }
    def mean(name: String)(f: Span => Double) = {
      val s = tr.named(name); if (s.isEmpty) 0.0 else s.map(f).sum / s.length
    }
    def cpu(kind: String) = {
      val xs = done.filter(d => d.kind == kind && d.ok).map(_.cpuMs).toSeq
      if (xs.isEmpty) 0.0 else Q.median(xs)
    }
    val httpQ = ms("serve.http.query")
    val m = Map(
      "serve.api.queryVec_ms" -> ms("api.queryVec"),
      "serve.search.topK_ms" -> ms("search.topK"),
      "serve.api.addDocuments_ms" -> ms("api.addDocuments"),
      "serve.api.stats_ms" -> ms("api.stats"),
      "serve.api.http_query_ms" -> (httpQ - ms("api.queryVec")),
      "serve.api.http_add_ms" -> (ms("serve.http.add") - ms("api.addDocuments")),
      "serve.api.http_stats_ms" -> (ms("serve.http.stats") - ms("api.stats")),
      "serve.jobs_per_query" -> mean("serve.http.query")(_.spark.jobs.toDouble),
      "serve.jobs_per_add" -> mean("serve.http.add")(_.spark.jobs.toDouble),
      "serve.jobs_per_stats" -> mean("serve.http.stats")(_.spark.jobs.toDouble),
      "serve.tasks_per_query" -> mean("serve.http.query")(_.spark.tasks.toDouble),
      "serve.query_plan_ms" -> mean("serve.http.query")(_.spark.planMs.toDouble),
      "serve.query_outside_jobs_ms" -> mean("serve.http.query")(_.outsideJobsMs.toDouble),
      "serve.store_files" -> Q.countFiles(storeDir, ".parquet").toDouble,
      "serve.query_wall_p50_ms" -> Q.median(untracedQ.toSeq),
      "serve.add_cpu_ms" -> cpu("add"),
      "serve.stats_cpu_ms" -> cpu("stats"),
      "serve.trace_overhead_pct" ->
        (httpQ / Q.median(untracedQ.toSeq) - 1) * 100)
    (done.toSeq, m)
  }
}
