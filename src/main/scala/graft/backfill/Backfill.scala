package graft.backfill

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tables.IcebergLite
import graft.tables.IcebergLite.Snapshot

/** Resumable, checkpointed feature backfill (north rule: "resumable from
  * per-partition checkpoints carrying lineage (snapshot id, partition range,
  * row counts) and emit per-partition throughput metrics").
  *
  * Unit of work = one conversation bucket of one table snapshot. Buckets are
  * independent (a conversation never crosses buckets), so they can be
  * processed in any order, retried idempotently, and distributed across
  * drivers at cluster scale. Each completed bucket commits:
  *   - its output parquet under `out/bucket=<b>/`
  *   - a checkpoint `checkpoints/bucket-<b>.json` carrying full lineage
  *     (snapshot id, bucket range, input/output row counts) + throughput.
  *
  * Commit protocol (two fences, both rename-based):
  *   1. bucket output is written to a sibling `.tmp-bucket=<b>` dir, then
  *      renamed into its final `bucket=<b>` place (same-filesystem
  *      ATOMIC_MOVE) — a crash mid-write can never leave a partial FINAL
  *      dir, so even a naive `spark.read.parquet(outRoot)` cannot ingest
  *      half a bucket;
  *   2. the checkpoint `checkpoints/bucket-<b>.json` is then committed the
  *      same way. The CHECKPOINT stays the authoritative commit marker
  *      (e.g. a final dir from a STALE snapshot awaiting recompute is not
  *      committed) — consumers should read via [[readCommitted]].
  * Resume is idempotent — same snapshot + same bucket ⇒ byte-identical
  * output, guaranteed by the engine's determinism tests.
  *
  * Scheduling: buckets are independent, so `run` drives them through a
  * bounded pool of `maxConcurrent` threads — Spark schedules concurrent
  * jobs from separate threads freely, which keeps the cluster busy while
  * one bucket sits in its write/commit tail. The default (1) is fully
  * sequential; fault injection (`crashAfter`) counts commits atomically in
  * either mode.
  */
object Backfill {

  final case class Checkpoint(
      snapshotId: Long, bucket: Int, buckets: Int,
      inputRows: Long, outputRows: Long, elapsedMs: Long) {
    def turnsPerSec: Double =
      if (elapsedMs == 0) 0.0 else inputRows * 1000.0 / elapsedMs
  }

  /** Injected fault for kill-and-resume tests. */
  final class InjectedCrash(bucket: Int) extends RuntimeException(s"injected crash after bucket $bucket")

  private def ckptDir(outRoot: String): Path = Paths.get(outRoot, "checkpoints")
  private def ckptPath(outRoot: String, b: Int): Path = ckptDir(outRoot).resolve(s"bucket-$b.json")

  private def ckptJson(c: Checkpoint): String =
    s"""{"snapshotId":${c.snapshotId},"bucket":${c.bucket},"buckets":${c.buckets},""" +
      s""""inputRows":${c.inputRows},"outputRows":${c.outputRows},"elapsedMs":${c.elapsedMs},""" +
      s""""turnsPerSec":${c.turnsPerSec}}"""

  private def parseCkpt(json: String): Checkpoint = {
    def f(n: String): Long =
      (s""""$n":(-?\\d+)""").r.findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(sys.error(s"missing $n"))
    Checkpoint(f("snapshotId"), f("bucket").toInt, f("buckets").toInt,
      f("inputRows"), f("outputRows"), f("elapsedMs"))
  }

  def completed(outRoot: String): Map[Int, Checkpoint] = {
    val d = ckptDir(outRoot)
    if (!Files.exists(d)) Map.empty
    else scala.util.Using.resource(Files.list(d)) { stream => // close: fd leak on repeated resume
      stream.iterator().asScala
        .filter(_.getFileName.toString.matches("bucket-\\d+\\.json"))
        .map(p => parseCkpt(Files.readString(p)))
        .map(c => c.bucket -> c).toMap
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }

  /** Run (or resume) a backfill of `compute` over every bucket of `snap`.
    *
    * @param crashAfter    if >= 0, throw InjectedCrash after that many NEW
    *                      bucket commits (kill-and-resume testing)
    * @param maxConcurrent bounded pool of concurrent bucket jobs (buckets
    *                      are independent; any completion order resumes)
    * @return checkpoints for all buckets (pre-existing + newly computed)
    */
  def run(spark: SparkSession, tableRoot: String, snap: Snapshot, outRoot: String,
          compute: DataFrame => DataFrame, crashAfter: Int = -1,
          maxConcurrent: Int = 1): Seq[Checkpoint] = {
    Files.createDirectories(ckptDir(outRoot))
    val done = completed(outRoot)
    // stale checkpoints from an older snapshot are not reused
    val valid = done.filter { case (_, c) => c.snapshotId == snap.id && c.buckets == snap.buckets }
    val todo = (0 until snap.buckets).filterNot(valid.contains)
    val newCommits = new java.util.concurrent.atomic.AtomicInteger(0)

    def processBucket(b: Int): Checkpoint = {
      if (crashAfter >= 0 && newCommits.get() >= crashAfter) throw new InjectedCrash(b)
      val t0 = System.nanoTime()
      val in = IcebergLite.readBucket(spark, tableRoot, snap, b)
      val inputRows = snap.forBucket(b).map(_.rowCount).sum // from the manifest, free
      val finalPath = Paths.get(outRoot, s"bucket=$b")
      val tmpPath = Paths.get(outRoot, s".tmp-bucket=$b")
      deleteRecursively(tmpPath) // leftover from an interrupted attempt
      compute(in).write.mode("overwrite").parquet(tmpPath.toString)
      val outputRows = spark.read.parquet(tmpPath.toString).count() // footer-only count
      deleteRecursively(finalPath) // stale final dir (e.g. older snapshot)
      Files.move(tmpPath, finalPath, StandardCopyOption.ATOMIC_MOVE)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      val c = Checkpoint(snap.id, b, snap.buckets, inputRows, outputRows, elapsedMs)
      val tmp = ckptDir(outRoot).resolve(s".bucket-$b.tmp")
      Files.writeString(tmp, ckptJson(c))
      Files.move(tmp, ckptPath(outRoot, b),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      newCommits.incrementAndGet()
      c
    }

    val computed: Map[Int, Checkpoint] =
      if (maxConcurrent <= 1) todo.map(b => b -> processBucket(b)).toMap
      else {
        import java.util.concurrent.{Callable, ExecutionException, Executors}
        val pool = Executors.newFixedThreadPool(maxConcurrent)
        // submit every bucket up front, then join in bucket order: no
        // completion callback is ever scheduled on the pool once it drains
        try todo.map(b => b -> pool.submit(new Callable[Checkpoint] {
            def call(): Checkpoint = processBucket(b)
          })).map { case (b, f) =>
            try b -> f.get() catch { case e: ExecutionException => throw e.getCause }
          }.toMap
        finally {
          // on failure, DRAIN in-flight buckets before surfacing it: a live
          // task must not race a caller's retry over the same tmp dirs
          // (real crashes have no grace period — the rename protocol covers
          // those; this covers in-process failure propagation)
          pool.shutdown()
          pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
        }
      }
    (0 until snap.buckets).map(b => valid.getOrElse(b, computed(b)))
  }

  /** Read ONLY committed buckets of `snap` — the reader-side half of the
    * commit protocol. Globbing `outRoot` directly would also see final dirs
    * whose checkpoint belongs to a STALE snapshot (awaiting recompute);
    * the checkpoint marker is the single source of commit truth. */
  def readCommitted(spark: SparkSession, outRoot: String, snap: Snapshot): DataFrame = {
    val committed = completed(outRoot)
      .filter { case (_, c) => c.snapshotId == snap.id && c.buckets == snap.buckets }
      .keys.toSeq.sorted
    require(committed.nonEmpty, s"no committed buckets for snapshot ${snap.id} under $outRoot")
    spark.read.parquet(committed.map(b => s"$outRoot/bucket=$b"): _*)
  }

  /** Aggregate per-partition metrics into one summary line. The summary's
    * time is `wallMs`, the wall clock of the run that computed `cs`: pooled
    * buckets overlap, so the sum of their times would understate throughput. */
  def metricsJson(cs: Seq[Checkpoint], wallMs: Long): String = {
    val rows = cs.map(_.inputRows).sum
    val per = cs.map(c => s"""{"bucket":${c.bucket},"rows":${c.inputRows},""" +
      s""""ms":${c.elapsedMs},"turnsPerSec":${c.turnsPerSec}}""").mkString("[", ",", "]")
    s"""{"buckets":${cs.size},"inputRows":$rows,"elapsedMs":$wallMs,""" +
      s""""turnsPerSec":${if (wallMs == 0) 0.0 else rows * 1000.0 / wallMs},"perPartition":$per}"""
  }
}
