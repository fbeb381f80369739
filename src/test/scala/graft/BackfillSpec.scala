package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.tables.IcebergLite
import graft.backfill.Backfill
import graft.features.BehaviorBinding

/** IcebergLite snapshot lineage + kill-and-resume backfill identity. */
class BackfillSpec extends SparkSpec {

  private val c = TranscriptCols.turns
  private val binding = BehaviorBinding("user", "assistant", "system", "tool")
  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  private val compute = (df: org.apache.spark.sql.DataFrame) =>
    PitPipeline.anchorFeatures(df, c, Turn.roles, binding, 3600L)

  test("IcebergLite: append lineage, bucket pruning, full-table read") {
    val root = tmp()
    val t1 = TranscriptGen.turns(spark, 21L, 10).toDF()
    val s0 = IcebergLite.append(spark, root, t1, "conv_id", buckets = 4)
    assert(s0.id == 0 && s0.parentId == -1L)
    assert(s0.totalRows == t1.count())
    val t2 = TranscriptGen.turns(spark, 22L, 5)
      .withColumn("conv_id", concat(lit("extra-"), col("conv_id"))).toDF()
    val s1 = IcebergLite.append(spark, root, t2, "conv_id", buckets = 4)
    assert(s1.id == 1 && s1.parentId == 0L)
    assert(s1.totalRows == t1.count() + t2.count())
    assert(IcebergLite.listSnapshots(root) == Seq(0L, 1L))
    // time travel: snapshot 0 still reads the original rows only
    assert(IcebergLite.read(spark, root, IcebergLite.readSnapshot(root, 0L)).count() == t1.count())
    // bucket pruning: buckets partition the conversations exactly
    val perBucket = (0 until 4).map(b => IcebergLite.readBucket(spark, root, s1, b))
    assert(perBucket.map(_.count()).sum == s1.totalRows)
    perBucket.zipWithIndex.foreach { case (df, b) =>
      val convs = df.select("conv_id").distinct().collect().map(_.getString(0))
      convs.foreach { cv =>
        val expected = spark.range(1).select(
          IcebergLite.bucketOf(lit(cv), 4)).collect()(0).getInt(0)
        assert(expected == b, s"conv $cv in bucket $b, expected $expected")
      }
    }
  }

  test("backfill: kill mid-run, resume, output identical to uninterrupted run") {
    val root = tmp()
    val turns = TranscriptGen.turns(spark, 31L, 30).toDF()
    val snap = IcebergLite.append(spark, root, turns, "conv_id", buckets = 6)

    // uninterrupted reference run
    val outA = tmp()
    val cksA = Backfill.run(spark, root, snap, outA, compute)
    assert(cksA.size == 6 && cksA.map(_.inputRows).sum == snap.totalRows)

    // crash after 2 new commits
    val outB = tmp()
    intercept[Backfill.InjectedCrash] {
      Backfill.run(spark, root, snap, outB, compute, crashAfter = 2)
    }
    val partial = Backfill.completed(outB)
    assert(partial.size == 2)

    // resume: completes the rest, does NOT recompute the finished buckets
    val cksB = Backfill.run(spark, root, snap, outB, compute)
    assert(cksB.size == 6)
    partial.foreach { case (b, ck) => assert(cksB(b) == ck, s"bucket $b was recomputed") }

    // byte-identical semantics: same rows out
    def rows(out: String) = spark.read.parquet((0 until 6).map(b => s"$out/bucket=$b"): _*)
      .collect().map(_.toSeq).toSet
    assert(rows(outB) == rows(outA))
    // and equal to a direct full computation
    val direct = compute(IcebergLite.read(spark, root, snap)).collect().map(_.toSeq).toSet
    assert(rows(outA) == direct)
  }

  test("concurrent bucket pool: identical output, shared crash counter, wall-clock win") {
    val root = tmp()
    val turns = TranscriptGen.turns(spark, 51L, 48).toDF()
    val snap = IcebergLite.append(spark, root, turns, "conv_id", buckets = 16)
    val outSeq = tmp()
    val outPar = tmp()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tSeq = timed(Backfill.run(spark, root, snap, outSeq, compute))
    val tPar = timed(Backfill.run(spark, root, snap, outPar, compute, maxConcurrent = 4))
    info(f"16 buckets: sequential $tSeq%.1f s vs concurrent(4) $tPar%.1f s")
    def rows(out: String) = spark.read.parquet((0 until 16).map(b => s"$out/bucket=$b"): _*)
      .collect().map(_.toSeq).toSet
    assert(rows(outPar) == rows(outSeq), "concurrent scheduling changed the output")
    // crash counting is atomic across the pool: exactly `crashAfter` commits land
    val outC = tmp()
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try intercept[Backfill.InjectedCrash] {
      Backfill.run(spark, root, snap, outC, compute, crashAfter = 3, maxConcurrent = 4)
    } finally System.setErr(stderr)
    // the crash surfaces only as the thrown InjectedCrash: nothing lands on
    // the drained pool after the fact
    assert(!err.toString.contains("RejectedExecutionException"), err.toString)
    assert(Backfill.completed(outC).size >= 3, "crash fired before the commit quota")
    // resume with the pool completes the remainder without recompute
    val cks = Backfill.run(spark, root, snap, outC, compute, maxConcurrent = 4)
    assert(cks.size == 16 && rows(outC) == rows(outSeq))
  }

  test("metricsJson: summary throughput is rows over the run's wall clock") {
    // two pooled buckets of 1,000 rows that ran side by side for 1 s each
    val cks = Seq(Backfill.Checkpoint(0L, 0, 2, 1000L, 1000L, 1000L),
      Backfill.Checkpoint(0L, 1, 2, 1000L, 1000L, 1000L))
    val json = Backfill.metricsJson(cks, wallMs = 1000L)
    assert(json.startsWith(
      """{"buckets":2,"inputRows":2000,"elapsedMs":1000,"turnsPerSec":2000.0,"""), json)
    // per-bucket entries keep their own times
    assert(json.contains("""{"bucket":1,"rows":1000,"ms":1000,"turnsPerSec":1000.0}"""), json)
  }

  test("readCommitted exposes exactly the committed buckets; partials stay invisible") {
    val root = tmp()
    val turns = TranscriptGen.turns(spark, 61L, 24).toDF()
    val snap = IcebergLite.append(spark, root, turns, "conv_id", buckets = 6)
    val out = tmp()
    intercept[Backfill.InjectedCrash] {
      Backfill.run(spark, root, snap, out, compute, crashAfter = 2)
    }
    val committed = Backfill.completed(out)
    assert(committed.size == 2)
    // a half-written final dir can't exist under the rename protocol; fake the
    // next-worst thing — a stray uncommitted final dir — and prove the reader
    // ignores it
    val stray = java.nio.file.Paths.get(out, "bucket=5")
    java.nio.file.Files.createDirectories(stray)
    val got = Backfill.readCommitted(spark, out, snap).count()
    assert(got == committed.values.map(_.outputRows).sum)
    // full resume then readCommitted equals the direct computation
    Backfill.run(spark, root, snap, out, compute)
    val direct = compute(IcebergLite.read(spark, root, snap)).count()
    assert(Backfill.readCommitted(spark, out, snap).count() == direct)
  }

  test("backfill: checkpoints from a stale snapshot are not reused") {
    val root = tmp()
    val snap0 = IcebergLite.append(spark, root,
      TranscriptGen.turns(spark, 41L, 6).toDF(), "conv_id", buckets = 3)
    val out = tmp()
    Backfill.run(spark, root, snap0, out, compute)
    val snap1 = IcebergLite.append(spark, root,
      TranscriptGen.turns(spark, 42L, 3)
        .withColumn("conv_id", concat(lit("n-"), col("conv_id"))).toDF(), "conv_id", buckets = 3)
    val cks = Backfill.run(spark, root, snap1, out, compute)
    assert(cks.forall(_.snapshotId == snap1.id))
    assert(cks.map(_.inputRows).sum == snap1.totalRows)
  }
}
