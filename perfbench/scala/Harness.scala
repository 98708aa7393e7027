package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: how its session is built, the one-time preparation
  * that set-up time covers, and the measured run. */
trait Workload {
  def session(ctx: Ctx): SparkSession
  def prepare(ctx: Ctx, spark: SparkSession): Unit
  /** Undo [[prepare]] so set-up can be repeated from scratch. */
  def teardown(ctx: Ctx, spark: SparkSession): Unit
  /** Measure; returns the workload's raw samples for the run record. */
  def run(ctx: Ctx, spark: SparkSession): Map[String, Any]
}

/** Run-wide state: arguments, tracer, operation accounting, telemetry. */
final class Ctx(args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Int = args("seconds").toInt
  val traced: Boolean = args("trace") == "1"
  val work: String = args("work")
  val data: String = args("data")
  val python: String = args("python")
  val treegen: String = args("treegen")
  val cpus: Int = args("cpus").toInt
  val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}")
  private var listener: SpanListener = _
  val t0: Long = System.nanoTime()

  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val windows: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  /** Per-layer raw values, filled only by traced runs. */
  val layers: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Count one operation; a failed check is recorded, never dropped. */
  def check(op: String, ok: Boolean, detail: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += s"$op: $detail" }
    ok
  }

  def fail(op: String, e: Throwable): Unit =
    check(op, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))

  /** Switch span recording and the engine listener on or off; a traced
    * run measures some windows untraced to report the tracing overhead. */
  def tracing(spark: SparkSession, on: Boolean): Unit = if (traced && on != tracer.enabled) {
    val sc = spark.sparkContext
    if (on) {
      tracer.sc = sc
      listener = new SpanListener(tracer)
      sc.addSparkListener(listener)
    } else {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    tracer.enabled = on
  }

  def layer(name: String, v: Any): Unit = if (traced) synchronized { layers(name) = v }

  /** Time a window and record CPU steal and load average over it. */
  def window[T](name: String)(body: => T): (Double, T) = {
    val j0 = Env.jiffies(); val l0 = Env.load1()
    val t = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t) / 1e9
    val rec = Map("name" -> name, "s" -> s, "steal_pct" -> Env.stealPct(j0, Env.jiffies()),
      "load1_start" -> l0, "load1_end" -> Env.load1())
    synchronized { windows += rec }
    (s, r)
  }
}

/** Host telemetry: /proc/stat steal share, load average, peak RSS. */
object Env {
  /** (steal, total) jiffies over all CPUs; (0, 0) where unreadable. */
  def jiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 - a._2 <= 0) -1.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}

object Harness {
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (Double, T) = {
    val t = System.nanoTime(); val r = body; ((System.nanoTime() - t) / 1e9, r)
  }

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val w: Workload = ctx.workload match {
      case "index_tree" => IndexTree
      case "api_serve" => ApiServe
      case "report_pass" => ReportPass
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up repeated from a stopped session; the last one is kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupReps) {
      val (s, sess) = time {
        val sess = w.session(ctx)
        sess.sparkContext.setLogLevel("ERROR")
        w.prepare(ctx, sess)
        sess
      }
      setupS += s
      spark = sess
      if (i < SetupReps) { w.teardown(ctx, sess); sess.stop() }
    }
    val setupEnd = (System.nanoTime() - ctx.t0) / 1e9
    ctx.tracing(spark, on = true)
    val samples =
      try w.run(ctx, spark)
      catch { case e: Throwable => ctx.fail("run", e); Map.empty[String, Any] }
    ctx.tracing(spark, on = false)
    val record = Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> ctx.cpus, "setup_s" -> setupS.toSeq, "peak_rss_mb" -> Env.peakRssMb(),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq,
      "windows" -> ctx.windows.toSeq, "samples" -> samples, "layers" -> ctx.layers.toMap,
      "spans" -> (if (ctx.traced) ctx.tracer.export(ctx.t0) else Nil),
      // engine work while tracing was on but outside any span, such as
      // the jobs ApiServer runs on its own threads
      "spark_unattributed" -> ctx.tracer.counterOf(0).toMap,
      "timeline_s" -> Map("setup_end" -> setupEnd, "run_end" -> (System.nanoTime() - ctx.t0) / 1e9))
    try w.teardown(ctx, spark) finally spark.stop()
    Files.writeString(Paths.get(args("out")), Json.write(record))
  }
}

/** Minimal JSON writer for the run record (Jackson ships with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
