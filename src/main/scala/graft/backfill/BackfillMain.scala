package graft.backfill

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.{Bench, PitPipeline, TranscriptCols, Turn}
import graft.features.BehaviorBinding
import graft.gen.TranscriptGen
import graft.tables.IcebergLite

/** End-to-end resumable backfill CLI:
  *
  *   runMain graft.backfill.BackfillMain <workDir> [convs=20000] [buckets=16] [crashAfter=-1] [pool=4]
  *
  * 1. synthesizes a transcript table (skewed: 2 mega-conversations) and
  *    commits it as an IcebergLite snapshot (skipped if already present —
  *    idempotent);
  * 2. runs/resumes the PIT anchor-feature backfill bucket by bucket, with
  *    per-partition checkpoints (snapshot id, bucket, row counts, ms);
  * 3. prints one JSON metrics line (per-partition throughput + totals).
  *
  * `crashAfter >= 0` injects a crash after that many fresh bucket commits —
  * rerunning the same command resumes and completes (kill-and-resume demo;
  * the spec asserts byte-identical output).
  */
object BackfillMain {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: BackfillMain <workDir> [convs] [buckets] [crashAfter]"))
    val convs = args.lift(1).map(_.toInt).getOrElse(20000)
    val buckets = args.lift(2).map(_.toInt).getOrElse(16)
    val crashAfter = args.lift(3).map(_.toInt).getOrElse(-1)
    val pool = args.lift(4).map(_.toInt).getOrElse(4)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    val tableRoot = s"$work/table"
    val outRoot = s"$work/features"
    val snap = IcebergLite.currentSnapshot(tableRoot).getOrElse {
      val turns = TranscriptGen.turns(spark, seed = 42L, nConvs = convs,
        megaConvs = 2, megaTurns = 20000)
      IcebergLite.append(spark, tableRoot, turns.toDF(), "conv_id", buckets)
    }
    val binding = BehaviorBinding("user", "assistant", "system", "tool")
    val prior = Backfill.completed(outRoot)
    val t0 = System.nanoTime()
    val cks = Backfill.run(spark, tableRoot, snap, outRoot,
      df => PitPipeline.anchorFeatures(
        df.select(col("conv_id"), col("turn_idx"), col("role"), col("ts")),
        TranscriptCols.turns, Turn.roles, binding, 3600L),
      crashAfter = crashAfter, maxConcurrent = pool)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    // the summary covers the buckets THIS run computed: a resume reuses the rest
    val json = Backfill.metricsJson(cks.filterNot(c => prior.get(c.bucket).contains(c)), wallMs)
    Files.writeString(Paths.get(s"$work/metrics.json"), json)
    println(json)
    spark.stop()
  }
}
