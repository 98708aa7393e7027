package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fs.IndexStore
import graft.queries.{FileQueries, SearchRequest}
import graft.serve.ApiServer

/** `ApiServer` over a published snapshot, served exactly as
  * `Cli --serve` does, under a closed loop of [[Clients]] clients that
  * each wait for a reply before sending the next request (the reference
  * frontend awaits every call with a 30 s timeout).
  *
  * The snapshot is a seeded `files` table shaped like `Tables.files`:
  * [[Rows]] rows over 97 directories, checksum and size from one of 401
  * buckets so rows of a bucket are true duplicates, one row in 11
  * unhashed. Each client walks rounds of the seven request kinds in a
  * seeded order with seeded parameters, so every seed sends the same
  * mix. */
object ApiServe extends Workload {
  val Rows = 50000L
  val Clients = 3
  val TimeoutS = 30
  /** Whole rounds per client: one round is about eight seconds of a
    * closed loop on four cores. */
  def rounds(seconds: Int): Int = math.max(1, seconds / 8)
  /** Parameter variants per request kind; truth is computed for each. */
  val Variants = 1
  val Kinds: Seq[String] = Seq("search_name", "search_size", "search_keyset", "duplicates",
    "stats", "visualization", "health")

  @volatile private var server: ApiServer = _
  private def db(ctx: Ctx) = s"${ctx.work}/api-index"

  def session(ctx: Ctx): SparkSession = SparkSession.builder()
    .master(s"local[${ctx.cpus}]").appName("perfbench-api_serve")
    .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${ctx.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
    .getOrCreate()

  /** The seeded snapshot rows. */
  def files(spark: SparkSession, seed: Long): DataFrame = {
    def h(salt: Long, mod: Long) = pmod(xxhash64(col("id"), lit(seed * 7919 + salt)), lit(mod))
    val bucket = h(1, 401)
    val ext = element_at(array(Seq(".txt", ".log", ".tar.gz", "", ".dat").map(lit): _*),
      (col("id") % 5 + 1).cast("int"))
    spark.range(Rows).select(
      concat(lit("/data/d"), h(2, 97).cast("string")).as("path"),
      concat(lit("file_"), col("id").cast("string"), ext).as("filename"),
      when(h(3, 11) === 0 || bucket === 0, lit(null).cast("string"))
        .otherwise(md5(concat(lit(s"c$seed-"), bucket.cast("string")))).as("checksum"),
      timestamp_seconds(lit(1600000000L) + h(4, 365L * 86400)).as("modification_datetime"),
      when(bucket === 0, lit(0L)).otherwise(bucket * bucket * bucket * lit(17L)).as("file_size"),
      current_timestamp().as("indexed_at"))
  }

  def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    IndexStore.publish(files(spark, ctx.seed), db(ctx))
    server = new ApiServer(spark, () => IndexStore.load(spark, db(ctx)), db(ctx)).start()
  }

  def teardown(ctx: Ctx, spark: SparkSession): Unit = {
    if (server != null) server.stop()
    server = null
    Harness.rmrf(db(ctx))
  }

  /** One request: path+query, the direct engine calls it stands for, and
    * the check of its response against truth computed directly, once,
    * on first use. The snapshot never changes during a run, so truth
    * taken after the timed loop equals truth taken before it. */
  final class Req(val kind: String, val query: String, val direct: Seq[(String, DataFrame => Unit)],
      truth: => JsonNode => Option[String]) {
    lazy val check: JsonNode => Option[String] = truth
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def part(name: String)(f: DataFrame => Any): (String, DataFrame => Unit) =
    name -> (df => { f(df); () })

  /** Seeded request variants; their truth comes from `FileQueries`
    * on the same snapshot. */
  private def requests(ctx: Ctx, spark: SparkSession): Map[String, IndexedSeq[Req]] = {
    val rng = new scala.util.Random(ctx.seed)
    def load() = IndexStore.load(spark, db(ctx))
    lazy val total = load().count()
    def len(j: JsonNode, k: String) = j.get(k).size()
    def expect(what: String, got: Long, want: Long) =
      if (got == want) None else Some(s"$what $got != $want")
    def search(kind: String, req: SearchRequest, q: String): Req =
      new Req(kind, s"/search/?$q&limit=${req.limit}&offset=${req.offset}",
        Seq(part("search_count")(f => FileQueries.searchApiFiltered(f, req).count()),
          part("search_page")(f => FileQueries.searchApi(f, req).collect())), {
          val n = FileQueries.searchApiFiltered(load(), req).count()
          val page = math.min(req.limit.toLong, math.max(0L, n - req.offset))
          j => expect("total_count", j.get("total_count").asLong(), n)
            .orElse(expect("files", len(j, "files"), page))
        })
    val byKind = Map(
      "search_name" -> (0 until Variants).map { _ =>
        val p = s"%${rng.nextInt(90) + 10}%"
        search("search_name", SearchRequest(filenamePattern = Some(p), limit = 50),
          s"filename_pattern=${enc(p)}")
      },
      "search_size" -> (0 until Variants).map { _ =>
        val lo = 17L * math.pow(rng.nextInt(300) + 1, 3).toLong
        val hi = lo * 4
        search("search_size", SearchRequest(minSize = Some(lo), maxSize = Some(hi), limit = 100,
          offset = rng.nextInt(5) * 100), s"min_size=$lo&max_size=$hi")
      },
      "search_keyset" -> (0 until Variants).map { _ =>
        val p = s"/data/d${rng.nextInt(97)}"
        val req = SearchRequest(pathPattern = Some(p), limit = 100)
        new Req("search_keyset", s"/search/?keyset=true&path_pattern=${enc(p)}&limit=100",
          Seq(part("keyset_page")(f => FileQueries.searchKeyset(f, req, None, 100).collect())), {
            val want = math.min(100L, FileQueries.searchApiFiltered(load(), req).count())
            j => expect("files", len(j, "files"), want)
          })
      },
      "duplicates" -> (0 until Variants).map { _ =>
        val offset = rng.nextInt(10) * 20
        new Req("duplicates", s"/duplicates/?limit=20&offset=$offset",
          Seq(part("dup_page")(f =>
            FileQueries.duplicateGroupsNestedPage(f, 2, 20, offset).collect())), {
            val groups = FileQueries.duplicateGroupSummaries(load()).count()
            val page = FileQueries.duplicateGroupsNestedPage(load(), 2, 20, offset).collect()
            val files = page.map(_.getAs[Long]("file_count")).sum
            val wasted = page.map(_.getAs[Long]("wasted_space")).sum
            j => expect("total_groups", j.get("total_groups").asLong(), groups)
              .orElse(expect("total_duplicate_files",
                j.get("total_duplicate_files").asLong(), files))
              .orElse(expect("total_wasted_space", j.get("total_wasted_space").asLong(), wasted))
          })
      },
      "stats" -> IndexedSeq(new Req("stats", "/stats/",
        Seq(part("stats") { f =>
          FileQueries.statsApi(f).collect(); FileQueries.duplicateStats(f).collect()
        }), {
          val groups = FileQueries.duplicateStats(load()).head().getLong(0)
          j => expect("total_files", j.get("total_files").asLong(), total)
            .orElse(expect("duplicate_groups", j.get("duplicate_groups").asLong(), groups))
        })),
      "visualization" -> IndexedSeq(new Req("visualization", "/stats/visualization",
        Seq(part("visualization") { f =>
          FileQueries.sizeHistogram(f).collect(); FileQueries.extensionStats(f).collect()
          FileQueries.timeline(f, "2030-01-01 00:00:00").collect()
        }),
        j => {
          var n = 0L
          j.get("size_distribution").forEach(b => n += b.get("count").asLong())
          expect("size_distribution total", n, total)
        })),
      "health" -> IndexedSeq(new Req("health", "/health/", Seq(part("health_count")(_.count())),
        j => expect("total_files", j.get("total_files").asLong(), total))))
    byKind
  }

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(TimeoutS)).build()

  /** Send one request; (ms, status, body or the transport error). */
  private def send(port: Int, r: Req): (Double, Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.query}"))
      .timeout(Duration.ofSeconds(TimeoutS)).GET().build()
    val t = System.nanoTime()
    try {
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      ((System.nanoTime() - t) / 1e6, resp.statusCode, resp.body())
    } catch {
      case e: Exception => ((System.nanoTime() - t) / 1e6, 0, e.toString)
    }
  }

  /** Check one response against truth; the failure, if any. */
  private def verify(r: Req, ms: Double, status: Int, body: String): Option[String] =
    if (status != 200) Some(s"status $status: ${body.take(200)}")
    else if (ms >= TimeoutS * 1000) Some(s"slow: $ms ms")
    else try r.check(Json.read(body)) catch { case e: Exception => Some(s"bad body: $e") }

  /** One response of the timed loop, checked after the loop. */
  private final case class Sample(r: Req, client: Int, tS: Double, ms: Double, status: Int,
      body: String)

  /** Closed loop: each client sends its next request when the previous
    * reply arrives. Every client runs the same number of whole rounds of
    * the seven kinds, so every kind is sampled equally. */
  private def loop(ctx: Ctx, port: Int, reqs: Map[String, IndexedSeq[Req]], rounds: Int,
      phase: String): (Seq[Sample], Seq[Double], Double) = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val roundS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = new scala.util.Random(ctx.seed * 1000003L + c * 7919L + phase.hashCode)
        for (_ <- 1 to rounds) {
          val r0 = System.nanoTime()
          rng.shuffle(Kinds).foreach { k =>
            val r = reqs(k)(rng.nextInt(reqs(k).size))
            val (ms, status, body) = ctx.tracer.span(s"api.$k")(send(port, r))
            out.add(Sample(r, c, (System.nanoTime() - t0) / 1e9, ms, status, body))
          }
          roundS.add((System.nanoTime() - r0) / 1e9)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.asScala.toSeq, roundS.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx, spark: SparkSession): Map[String, Any] = {
    ctx.tracing(spark, on = false)
    val reqs = requests(ctx, spark)
    val port = server.boundPort
    ctx.window("warmup")(Kinds.foreach(k => send(port, reqs(k).head)))
    val phases =
      if (ctx.traced) Seq("untraced" -> false, "traced" -> true) else Seq("timed" -> false)
    val loops = phases.map { case (name, on) =>
      ctx.tracing(spark, on)
      val before = if (on) ctx.tracer.counterOf(0).toMap else Map.empty[String, Any]
      val (_, res) = ctx.window(name)(loop(ctx, port, reqs, rounds(ctx.seconds), name))
      if (on) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        ctx.layer("api.loop_spark_before", before)
        ctx.layer("api.loop_spark_after", ctx.tracer.counterOf(0).toMap)
      }
      (name, res)
    }
    ctx.tracing(spark, on = false)
    val results = ctx.window("truth") {
      loops.map { case (name, (samples, rounds, busy)) =>
        val requests = samples.map { x =>
          val bad = verify(x.r, x.ms, x.status, x.body)
          val ok = ctx.check(s"${x.r.kind} ${x.r.query}", bad.isEmpty, bad.getOrElse(""))
          Map("kind" -> x.r.kind, "ms" -> x.ms, "status" -> x.status,
            "bytes" -> x.body.length, "ok" -> ok, "client" -> x.client, "t_s" -> x.tS)
        }
        name -> Map("requests" -> requests, "rounds" -> rounds, "busy_s" -> busy)
      }.toMap
    }._2
    if (ctx.traced) {
      ctx.tracing(spark, on = true)
      standalone(ctx, spark, reqs, port)
    }
    Map("rows" -> Rows, "clients" -> Clients, "phases" -> results)
  }

  /** Traced runs only: per-kind latency of one request at a time, and
    * the store load and engine calls behind it on the same parameters. */
  private def standalone(ctx: Ctx, spark: SparkSession, reqs: Map[String, IndexedSeq[Req]],
      port: Int): Unit = {
    val reps = 3
    val loads = (1 to reps).map(_ => Harness.time(ctx.tracer.span("store.load") {
      IndexStore.load(spark, db(ctx))
    })._1 * 1e3)
    ctx.layer("store.load_ms", Harness.median(loads))
    Kinds.foreach { k =>
      val r = reqs(k).head
      r.direct.foreach { case (part, f) =>
        val ms = (1 to reps).map { _ =>
          val df = IndexStore.load(spark, db(ctx))
          Harness.time(ctx.tracer.span(s"queries.$part")(f(df)))._1 * 1e3
        }
        ctx.layer(s"queries.$k.$part.ms", Harness.median(ms))
      }
      val single = (1 to reps).map(_ => ctx.tracer.span(s"api.single.$k")(send(port, r))._1)
      ctx.layer(s"api.single.$k.ms", Harness.median(single))
    }
  }
}
