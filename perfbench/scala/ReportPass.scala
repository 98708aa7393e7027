package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.operators.OpCaches
import graft.tables.Tables

/** One cold report pass over a fixed slice of `SparkEntry.queries`,
  * in the session shape `graft.Bench` ships: shared cores on, inputs
  * not pinned, every row forced with `queryExecution.toRdd.count()`,
  * and that count checked against the counts recorded for the
  * committed sf0.001 tables. The seed permutes the row order, so core
  * builds land on different rows while the pass does the same work.
  *
  * A cold pass over all 159 rows takes 124-154 s on 4 cores even at
  * sf0.001, over the per-run limit, so the slice keeps three rows of
  * the paper's `fi` family and one of every other family; three of
  * them (`dd_minhash_lsh`, `ss_topk_lsh`, `mm_phash_pairs`) build shared
  * cores. Warm passes in the same order follow the cold one. */
object ReportPass extends Workload {
  val Slice: Seq[String] = Seq(
    "fi_duplicates", "fi_search_api", "fi_stats_cli", "dd_minhash_lsh", "ss_topk_lsh",
    "ta_token_stats", "tp_pack_shards", "ev_sessions", "mm_phash_pairs", "q3_shipping")

  /** Warm passes after the cold one; their rows, pooled, give the
    * per-row latency percentiles. */
  val WarmPasses = 3

  def family(name: String): String =
    if (name.startsWith("q")) "tpch" else name.takeWhile(_ != '_')

  private def tables(ctx: Ctx) = s"${ctx.data}/sf0.001"

  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cpus}]").appName("perfbench-report_pass")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    GraftSession.configure(spark)
    spark.conf.set("graft.cores.share", "true")
    spark
  }

  def prepare(ctx: Ctx, spark: SparkSession): Unit = Tables.registerAll(spark, tables(ctx))

  def teardown(ctx: Ctx, spark: SparkSession): Unit = {
    OpCaches.releaseAll()
    OpCaches.releaseShared()
    spark.catalog.clearCache()
  }

  private def force(spark: SparkSession, ctx: Ctx, name: String): Long =
    SparkEntry.queries(name)(spark, tables(ctx)).queryExecution.toRdd.count()

  def run(ctx: Ctx, spark: SparkSession): Map[String, Any] = {
    val truth = Json.read(Files.readString(Paths.get(s"${ctx.data}/report_truth.json")))
      .get("counts")
    val order = new scala.util.Random(ctx.seed).shuffle(Slice)
    // the generic first-job cost (task launch, codegen of a trivial
    // plan), paid once per JVM and untimed as graft.Bench does, so it
    // does not land on whichever row the seed puts first; the inputs
    // and the shared cores stay cold
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def pass(name: String): Seq[Map[String, Any]] = order.map { n =>
      try {
        val (s, c) = ctx.window(s"$n#$name")(
          ctx.tracer.span(s"report.${family(n)}.$n")(force(spark, ctx, n)))
        val want = truth.get(n).asLong()
        ctx.check(s"$n#$name", c == want, s"$c rows, expected $want")
        Map("name" -> n, "family" -> family(n), "s" -> s, "rows" -> c)
      } catch { case e: Throwable =>
        ctx.fail(s"$n#$name", e)
        Map("name" -> n, "family" -> family(n), "s" -> -1.0, "rows" -> -1L)
      }
    }
    val cold = pass("cold")
    val (live, degraded) = OpCaches.sharedStats
    // warm passes give each row's marginal cost, the per-row latency
    // that does not depend on where the seed put the core builds; a
    // traced run adds a traced warm pass, which against the untraced
    // ones gives the overhead
    val warmPasses = (1 to WarmPasses).map(i => s"warm$i" -> false) ++
      (if (ctx.traced) Seq("traced" -> true) else Nil)
    val warm = warmPasses.map { case (name, traced) =>
      ctx.tracing(spark, traced)
      name -> pass(name)
    }.toMap
    Map("sf" -> "sf0.001", "rows" -> cold, "warm" -> warm, "shared_live" -> live,
      "shared_degraded" -> degraded)
  }
}
