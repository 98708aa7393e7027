package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fs.{ChecksumStage, FsScan, Indexer, IndexStore, ScanStats, SnapshotDir}
import graft.queries.FileQueries

/** The paper's own pipeline on a seeded generated tree, in the order
  * `graft.Cli` runs it: full index, ~1% churn then incremental
  * re-index, two-phase index into a fresh root, delete top-level
  * directories then cleanup, and the first duplicates query.
  *
  * Each pass builds a fresh tree from the same seed, so every pass does
  * identical work. One untimed pass on a smaller tree warms the JVM,
  * then timed passes run for the run's seconds, at least three; the
  * reported figures are medians over passes. A traced run alternates
  * untraced and traced passes (the difference is the tracing
  * overhead) and, after each traced pass, times `fs_scan`,
  * `checksum` and `store.publish` standalone on a fresh tree of the
  * same seed. */
object IndexTree extends Workload {
  val NFiles = 2000
  /** The untimed warm-up pass loads and compiles the same code paths on
    * a smaller tree. */
  val WarmFiles = 500
  /** Timed passes run until the run's seconds are spent, within these
    * bounds (a traced run needs an untraced and a traced pass). */
  def passBounds(traced: Boolean): (Int, Int) = if (traced) (2, 6) else (3, 8)

  def session(ctx: Ctx): SparkSession = SparkSession.builder()
    .master(s"local[${ctx.cpus}]").appName("perfbench-index_tree")
    .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${ctx.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
    .getOrCreate()

  def prepare(ctx: Ctx, spark: SparkSession): Unit = ()
  def teardown(ctx: Ctx, spark: SparkSession): Unit = ()

  def run(ctx: Ctx, spark: SparkSession): Map[String, Any] = {
    ctx.tracing(spark, on = false)
    val (warmS, _) = Harness.time(pass(ctx, spark, 0, WarmFiles))
    val (least, most) = passBounds(ctx.traced)
    val t0 = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (recs.size < most &&
        (recs.size < least || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val i = recs.size + 1
      val traced = ctx.traced && i % 2 == 0
      ctx.tracing(spark, traced)
      val (wallS, rec) = Harness.time(pass(ctx, spark, i, NFiles))
      recs += rec + ("traced" -> traced) + ("wall_s" -> wallS)
    }
    Map("files" -> NFiles, "warm_s" -> warmS, "passes" -> recs.toSeq)
  }

  private def treegen(ctx: Ctx, action: String, args: String*): String = {
    val pb = new ProcessBuilder((Seq(ctx.python, ctx.treegen, action) ++ args).asJava)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    if (p.waitFor() != 0) throw new RuntimeException(s"treegen $action exited ${p.exitValue}")
    out
  }

  private def snapshot(spark: SparkSession, db: String): Map[(String, String), String] =
    IndexStore.load(spark, db).select("path", "filename", "checksum").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  /** (bytes, parquet files) of the published snapshot. */
  private def snapshotBytes(db: String): (Long, Long) =
    SnapshotDir.currentDir(db).map { d =>
      val parts = Files.list(Paths.get(d)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (parts.map(Files.size).sum, parts.size.toLong)
    }.getOrElse((0L, 0L))

  private def snapshotsOnDisk(db: String): Long =
    Files.list(Paths.get(db)).iterator().asScala
      .count(_.getFileName.toString.startsWith("snap-")).toLong

  /** Publish time of a step's output, measured by republishing it. */
  private def publishTime(ctx: Ctx, spark: SparkSession, db: String, step: String): Double = {
    val df = IndexStore.load(spark, db).cache()
    df.count()
    val to = s"${ctx.work}/republish"
    val (s, _) = Harness.time(ctx.tracer.span(s"store.publish.$step")(IndexStore.publish(df, to)))
    df.unpersist()
    Harness.rmrf(to)
    s
  }

  /** Standalone scan and hash of the fresh tree (traced passes only). */
  private def standalone(ctx: Ctx, spark: SparkSession, root: String): Map[String, Any] = {
    val st = new ScanStats(spark)
    val (scanS, scanned) = Harness.time(ctx.tracer.span("fs_scan.scan") {
      FsScan.scanDF(spark, root, stats = Some(st)).count()
    })
    val skipped = Seq(st.ignoredSymlinks, st.ignoredSpecialFiles, st.permissionErrors,
      st.skippedFiles).map(_.value.longValue).sum
    val input = FsScan.scanDF(spark, root).cache()
    input.count()
    val hashed = ChecksumStage.withChecksums(spark, input)
      .withColumn("indexed_at", current_timestamp()).cache()
    val (hashS, _) = Harness.time(ctx.tracer.span("checksum.hash")(hashed.count()))
    val row = hashed.agg(count(col("checksum")),
      coalesce(sum(when(col("checksum").isNotNull, col("file_size"))), lit(0L)),
      count(when(ChecksumStage.eligibleExpr(104857600L) && col("checksum").isNull, lit(1))))
      .head()
    val to = s"${ctx.work}/republish"
    val (pubS, _) =
      Harness.time(ctx.tracer.span("store.publish.full")(IndexStore.publish(hashed, to)))
    Harness.rmrf(to)
    hashed.unpersist(); input.unpersist()
    Map("scan_s" -> scanS, "scan_files" -> scanned, "scan_skipped" -> skipped,
      "hash_s" -> hashS, "hash_files" -> row.getLong(0), "hash_bytes" -> row.getLong(1),
      "hash_errors" -> row.getLong(2), "publish_s.full" -> pubS)
  }

  private def pass(ctx: Ctx, spark: SparkSession, i: Int, files: Int): Map[String, Any] = {
    val traced = ctx.tracer.enabled
    val root = s"${ctx.work}/tree-$i"
    val spec = s"${ctx.work}/tree-$i.json"
    val (dbA, dbB) = (s"${ctx.work}/idx-$i", s"${ctx.work}/idx2-$i")
    val (genS, out) = Harness.time(ctx.tracer.span("fixture.make") {
      treegen(ctx, "make", "--seed", ctx.seed.toString, "--files", files.toString,
        "--out", root, "--spec", spec)
    })
    val truth = Json.read(out)
    def t(k: String): Long = truth.get(k).asLong()
    val n = t("scanned")
    val steps = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]

    /** One timed step; its correctness check decides the operation. */
    def step[T](name: String, files: Long)(body: => T)(ok: T => (Boolean, String)): Option[T] =
      try {
        val (s, r) = ctx.window(s"$name#$i")(ctx.tracer.span(s"indexer.$name")(body))
        steps(name) = Map("s" -> s, "files" -> files)
        val (good, detail) = ok(r)
        ctx.check(s"$name#$i", good, detail)
        Some(r)
      } catch { case e: Throwable => ctx.fail(s"$name#$i", e); None }

    step("full", n)(Indexer.fullIndex(spark, root, dbA)) { st =>
      (st.scanned == n && st.checksummed == n && st.hashErrors == 0, s"$st vs $n files")
    }
    if (traced) {
      val (bytes, parts) = snapshotBytes(dbA)
      extra ++= Map("bytes_written" -> bytes, "files_written" -> parts)
    }
    val before = snapshot(spark, dbA)
    treegen(ctx, "churn", "--out", root, "--spec", spec)
    val churned = t("churned")
    step("reindex", n)(Indexer.incrementalIndex(spark, root, dbA)) { st =>
      (st.scanned == n && st.checksummed == churned && st.updated == churned &&
        st.inserted == 0 && st.unchanged == n - churned, s"$st vs churned $churned")
    }
    val after = snapshot(spark, dbA)
    val reused = before.count { case (k, c) => after.get(k).contains(c) }
    val rehashed = before.count { case (k, c) => after.get(k).exists(_ != c) }
    ctx.check(s"reuse#$i", reused == n - churned && rehashed == churned,
      s"reused $reused rehashed $rehashed of $n, churned $churned")
    if (traced) extra("publish_s.reindex") = publishTime(ctx, spark, dbA, "reindex")

    val colliding = t("size_colliding")
    var hashed = -1L
    step("two_phase", n)(Indexer.twoPhaseIndex(spark, root, dbB)) { case (p1, h) =>
      hashed = h
      (p1.scanned == n && h == colliding && p1.hashErrors == 0,
        s"$p1 hashed $h vs colliding $colliding")
    }
    if (traced) extra("publish_s.two_phase") = publishTime(ctx, spark, dbB, "two_phase")

    treegen(ctx, "delete", "--out", root, "--spec", spec)
    val removed = t("cleanup_removed")
    step("cleanup", n)(Indexer.cleanupDeletedFiles(spark, dbA)) { cs =>
      extra ++= Map("dead_dirs" -> cs.deletedDirectories, "deleted_rows" -> cs.deletedFiles)
      (cs.totalChecked == n && cs.deletedFiles == removed, s"$cs vs removed $removed")
    }
    if (traced) extra("publish_s.cleanup") = publishTime(ctx, spark, dbA, "cleanup")

    val groups = t("dup_groups")
    step("first_query", 0L)(
      FileQueries.duplicateGroupSummaries(IndexStore.load(spark, dbA)).collect().length) { g =>
      (g == groups, s"$g groups vs $groups")
    }
    if (traced) extra("snapshots_on_disk") = snapshotsOnDisk(dbA)

    // trees and indexes stay until run.py removes the work directory:
    // on a disk mounted with discard, deleting a tree between passes
    // stalls the journal under the next pass's steps
    spark.catalog.clearCache()
    if (traced) {
      // on a second fresh tree, so the timed steps above find the same
      // page cache and JIT state as in untraced passes
      val (root2, spec2) = (s"$root-standalone", s"$spec-standalone")
      treegen(ctx, "make", "--seed", ctx.seed.toString, "--files", files.toString,
        "--out", root2, "--spec", spec2)
      extra ++= standalone(ctx, spark, root2)
    }
    Map("files" -> files, "fixture_s" -> genS, "digest" -> truth.get("digest").asText(),
      "truth" -> Map("scanned" -> n, "churned" -> churned, "size_colliding" -> colliding,
        "cleanup_removed" -> removed, "dup_groups" -> groups),
      "steps" -> steps.toMap,
      "reuse_ratio" -> (if (n > churned) reused.toDouble / (n - churned) else 1.0),
      "hash_reduction" -> (if (hashed >= 0) 1.0 - hashed.toDouble / n else -1.0),
      "layer" -> extra.toMap)
  }
}
