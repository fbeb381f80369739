package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, PitPipeline, SparkEntry, TranscriptCols, Turn}
import graft.backfill.Backfill
import graft.features.BehaviorBinding
import graft.gen.TranscriptGen
import graft.ops.{PivotCounts, Windowize}
import graft.tables.IcebergLite

/** Closed-loop benchmark, one workload per JVM:
  *
  *   PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <repoRoot>
  *
  * Workloads: `pit_inmem`, `query_catalog`. One client: an
  * operation starts when the previous one has finished. The engine is driven
  * only through its public functions and every call is timed from here.
  * Writes `<workDir>/jvm_result.json` (metrics, op counts, failures) and, when
  * tracing, `<workDir>/spans.jsonl`; `perfbench/run.py` turns that into the
  * one-line result.
  */
object PerfBench {
  val Cpus = 4
  private val binding = BehaviorBinding("user", "assistant", "system", "tool")
  private val c = TranscriptCols.turns
  private val WidthSec = 3600L
  private val PitConvs = 50000
  private val Buckets = 16
  private val CrashAfter = 8
  private val Pool = 4
  private val SetupRounds = 3
  private val WarmConvs = 4000
  private val WarmBuckets = 8

  /** The catalog slice: every family, the as-of variants ROADMAP targets and
    * the queries it names as costly. The full catalog takes about a minute
    * cold and half a minute warm at four cores, more than one run can afford. */
  val Catalog: Seq[(String, String)] = Seq(
    "q_slot_clean" -> "pipelines",
    "q_pit_backfill" -> "windowed",
    "q_asof_join" -> "asof", "q_asof_planned" -> "asof", "q_asof_scalable" -> "asof",
    "q_auc_pr" -> "metrics", "q_threshold_scan" -> "metrics",
    "q_feature_importance" -> "ml",
    "q_dedup_clusters" -> "text_dedup",
    "q_ann_ivf" -> "ann",
    "q_join_fact" -> "relational")
  val Families: Seq[String] = Catalog.map(_._2).distinct
  val NamedQueries: Seq[String] = Seq("q_pit_backfill", "q_asof_join", "q_asof_planned",
    "q_asof_scalable", "q_auc_pr", "q_threshold_scan", "q_feature_importance",
    "q_dedup_clusters", "q_ann_ivf")
  val CatalogTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val PitStages: Seq[String] = Seq("windowize_pivot", "running_states", "feature_layers", "asof_merge")

  // ---------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Attach an order-insensitive content fingerprint (row count, xor and
    * low-bits sum of a per-row hash) computed in the same job as the sink. */
  def fingerprinted(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.map { f =>
      val cl = col(s"`${f.name}`")
      if (f.dataType.catalogString.contains("map<")) to_json(cl) else cl
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xFFFFFFL))).as("s")), obs)
  }

  def fingerprint(obs: Observation): (Long, String) = {
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    (n, s"$n:${m("x")}:${m("s")}")
  }

  def timed[A](f: => A): (A, Double, Double) = {
    val c0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9, (Jvm.cpuNs - c0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }

  private def treeBytes(p: Path, suffix: String): (Long, Int) =
    scala.util.Using.resource(Files.walk(p)) { st =>
      val fs = st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .toArray.map(_.asInstanceOf[Path])
      (fs.map(Files.size).sum, fs.length)
    }

  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  /** Operation outcomes of one run: every timed call and every output check. */
  final class Outcomes {
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
    def fail(what: String): Unit = { failed += 1; if (problems.size < 20) problems += what }
  }

  /** Closed loop: run `op` back to back until the timed seconds it returns
    * add up to about `seconds`, at least `minOps` times; stop before an op
    * that would end past the budget. Untimed checks do not count. */
  def loop(seconds: Double, minOps: Int)(op: => Double): Unit = {
    var i = 0
    var spent = 0.0
    var last = 0.0
    while (i < minOps || spent + last <= seconds) {
      last = op
      spent += last
      i += 1
    }
  }

  // ---------------------------------------------------------------- workloads

  final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                  val trace: Boolean, val work: Path, val repo: Path) {
    val out = new Outcomes
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val tracer = new Tracer(spark, s"${ProcessHandle.current().pid()}-$seed")
    val prepRounds = mutable.ArrayBuffer.empty[Double]
    var warmupS = 0.0
    /** Untraced op walls, traced op walls and per-op process CPU. */
    val opS = mutable.ArrayBuffer.empty[Double]
    val opCpuS = mutable.ArrayBuffer.empty[Double]
    val tracedOpS = mutable.ArrayBuffer.empty[Double]

    /** One untraced op, timed, with its wall time and process CPU kept. */
    def untraced(op: Boolean => (Double, Double)): Double = {
      val (w, cpu) = op(false); opS += w; opCpuS += cpu
      log(f"op wall=$w%.3f cpu=$cpu%.2f")
      w
    }

    /** One op with the tracer's listeners registered for it alone. */
    def traced(op: Boolean => (Double, Double)): Double = {
      tracedOpS += tracer.traced(op(true))._1
      log(f"traced op wall=${tracedOpS.last}%.3f")
      tracedOpS.last
    }

    /** Measure untraced ops for the budget, or, when tracing, pairs of one
      * untraced and one traced op, their order alternating from pair to pair,
      * so both medians come from the same stretch of the run (the difference
      * is the tracing overhead). */
    def measure(minOps: Int)(op: Boolean => (Double, Double)): Unit = {
      var pair = 0
      loop(seconds, minOps) {
        if (!trace) untraced(op)
        else {
          pair += 1
          if (pair % 2 == 1) untraced(op) + traced(op) else traced(op) + untraced(op)
        }
      }
    }
  }

  def anchor(turns: DataFrame): DataFrame =
    PitPipeline.anchorFeatures(turns, c, Turn.roles, binding, WidthSec)

  def transcripts(spark: SparkSession, seed: Long, convs: Int, megaTurns: Int = 20000): DataFrame =
    TranscriptGen.turns(spark, seed = seed, nConvs = convs, megaConvs = 2, megaTurns = megaTurns,
      partitions = Cpus * 2).toDF().select("conv_id", "turn_idx", "role", "ts")

  /** Generate and cache a turn table. */
  def cached(r: Run, convs: Int, megaTurns: Int = 20000): (DataFrame, Long) = {
    val df = r.tracer.span("gen")(transcripts(r.spark, r.seed, convs, megaTurns)).cache()
    (df, r.tracer.span("cache")(df.count()))
  }

  /** Set up `SetupRounds` times and record each round's wall time. */
  def setupRounds(r: Run)(round: => Unit): Unit =
    (1 to SetupRounds).foreach { i =>
      r.prepRounds += timed(round)._2
      log(f"set-up round $i: ${r.prepRounds.last}%.3f s")
    }

  /** Progress line on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f] $msg")

  // ---- pit_inmem: the flagship anchor backfill over a cached table

  def pitInmem(r: Run): Unit = {
    import r._
    var turns: DataFrame = null
    var n = 0L
    var ref: String = null
    def rep(traced: Boolean): (Double, Double) = {
      out.attempted += 1
      try {
        // the timed job only counts its rows (a CollectMetrics node)
        val (rows, w, cpu) = timed {
          tracer.span("op.anchor_features") {
            val obs = Observation()
            Bench.exec(anchor(turns).observe(obs, count(lit(1)).as("n")))
            obs.get("n").asInstanceOf[Long]
          }
        }
        out.check(rows == n, s"pit rows $rows != turns $n")
        // content: the same pipeline again, untimed, with the full fingerprint
        val (d, obs) = fingerprinted(anchor(turns))
        Bench.exec(d)
        val fp = fingerprint(obs)._2
        if (ref == null) ref = fp else out.check(fp == ref, "pit fingerprint changed across reps")
        (w, cpu)
      } catch { case NonFatal(e) => out.fail(s"pit rep: $e"); (Double.NaN, Double.NaN) }
    }
    // a set-up round: build and cache the input, then one warm-up rep
    // (which runs the pipeline twice: timed, then fingerprinted)
    setupRounds(r) {
      if (turns != null) turns.unpersist(blocking = true)
      val (t, k) = cached(r, PitConvs); turns = t; n = k
      rep(false)
    }
    measure(3)(rep)
    // golden fixture (seed 77), the same comparison as GoldenSpec; run once
    // warm, after the measurement, where it costs a second instead of ten
    val golden = spark.read.parquet(repo.resolve("src/test/resources/golden/pit_anchor_features").toString)
    val got = anchor(TranscriptGen.turns(spark, seed = 77L, nConvs = 15).toDF())
    out.attempted += 1
    out.check(got.columns.toSeq == golden.columns.toSeq &&
      got.collect().map(_.toSeq).toSet == golden.collect().map(_.toSeq).toSet,
      "pit golden fixture mismatch")
    metrics("pit.turns_per_s") = n / median(opS.toSeq)
    metrics("pit.cpu_s_per_mturn") = median(opCpuS.toSeq) / (n / 1e6)
    if (trace) {
      pitLayers(r, turns, n, () => rep(false)._1)
      tracer.enable()
      backfillProbe(r, turns, n)
    }
    turns.unpersist()
  }

  /** Stage-prefix timings: prefix k runs stages 1..k through the noop sink;
    * self = prefix(k) - prefix(k-1), medians over interleaved reps. Each
    * round also runs one untraced rep (`plain`), the reference for
    * `pit.stage_sum_frac`. */
  def pitLayers(r: Run, turns: DataFrame, n: Long, plain: () => Double): Unit = {
    import r._
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "windowize_pivot" -> (() => PivotCounts(Windowize.withTumblingWindow(turns, c, WidthSec),
        Seq(c.conv, "window_start"), c.role, Turn.roles, suffix = "_wc")),
      "running_states" -> (() => PitPipeline.windowStates(turns, c, Turn.roles, WidthSec)),
      "feature_layers" -> (() => PitPipeline.featureStates(turns, c, Turn.roles, binding, WidthSec)),
      "asof_merge" -> (() => anchor(turns)))
    val ids = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    val plainS = mutable.ArrayBuffer.empty[Double]
    (1 to 3).foreach { _ =>
      plainS += plain()
      tracer.traced(prefixes.foreach { case (name, df) =>
        tracer.span(s"stage.$name")(Bench.exec(df()))
        ids.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += tracer.spans.last.id
      })
    }
    def stat(name: String, f: Int => Double): Double = median(ids(name).map(f).toSeq)
    def byId(id: Int) = tracer.spans.find(_.id == id).get
    val fields: Seq[(String, Int => Double)] = Seq(
      "self_s" -> (id => byId(id).seconds),
      "cpu_s" -> (id => tracer.workOf(id).cpuNs / 1e9),
      "shuffle_bytes" -> (id => tracer.workOf(id).shuffleBytes.toDouble),
      "spill_bytes" -> (id => tracer.workOf(id).spillBytes.toDouble),
      "gc_s" -> (id => byId(id).gcMs / 1e3))
    var prev = fields.map(_._1 -> 0.0).toMap
    PitStages.foreach { st =>
      val cur = fields.map { case (k, f) => k -> stat(st, f) }.toMap
      cur.foreach { case (k, v) => metrics(s"pit.$st.$k") = v - prev(k) }
      metrics(s"pit.$st.task_skew") = stat(st, id => tracer.taskSkew(tracer.workOf(id)))
      prev = cur
    }
    val full = ids("asof_merge")
    metrics("pit.plan_s") = median(full.map(id => tracer.workOf(id).planMs / 1e3).toSeq)
    metrics("pit.jobs") = median(full.map(id => tracer.workOf(id).jobs.toDouble).toSeq)
    metrics("pit.alloc_bytes_per_turn") = median(full.map(id => byId(id).allocBytes.toDouble).toSeq) / n
    metrics("pit.stage_sum_frac") = PitStages.map(st => metrics(s"pit.$st.self_s")).sum / median(plainS.toSeq)
  }

  // ---- backfill probe: ingest, crash half way, resume

  /** The checkpointed backfill with resume over the workload's cached turn
    * table, run in traced runs of `pit_inmem` for the `tables.*` and
    * `backfill.*` numbers: one warm-up cycle over a small table, then one
    * traced cycle over the full one. */
  def backfillProbe(r: Run, turns: DataFrame, n: Long): Unit = {
    import r._
    val compute: DataFrame => DataFrame = df => anchor(df.select("conv_id", "turn_idx", "role", "ts"))
    val anchorCols = anchor(turns).columns.map(x => col(s"`$x`")).toIndexedSeq
    val refs = mutable.Map.empty[Long, String] // uninterrupted output, by input size
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var cycleNo = 0

    /** Append `turns` into a fresh table of `buckets` buckets, run the
      * backfill until the injected crash after `crashAfter` commits, resume. */
    def cycle(turns: DataFrame, n: Long, buckets: Int, crashAfter: Int, traced: Boolean): Unit = {
      cycleNo += 1
      out.attempted += 1
      val root = work.resolve(s"bf-$cycleNo")
      val table = root.resolve("table").toString
      val outRoot = root.resolve("features").toString
      try {
        val (snap, tAppend, _) = timed(tracer.span("tables.append")(
          IcebergLite.append(spark, table, turns, "conv_id", buckets)))
        val (crashed, tRun, _) = timed(tracer.span("backfill.run") {
          try { Backfill.run(spark, table, snap, outRoot, compute, crashAfter = crashAfter, maxConcurrent = Pool); false }
          catch { case _: Backfill.InjectedCrash => true }
        })
        val runSpan = tracer.spans.lastOption.map(_.id)
        val before = Backfill.completed(outRoot)
        val (cks, tResume, _) = timed(tracer.span("backfill.resume")(
          Backfill.run(spark, table, snap, outRoot, compute, maxConcurrent = Pool)))
        val resumeSpan = tracer.spans.lastOption.map(_.id)

        // checks, outside the timed region
        out.check(crashed, "backfill crash was not injected")
        out.check(cks.size == buckets, s"backfill returned ${cks.size} checkpoints")
        cks.foreach { ck =>
          val manifest = snap.forBucket(ck.bucket).map(_.rowCount).sum
          out.check(ck.inputRows == manifest, s"bucket ${ck.bucket} inputRows ${ck.inputRows} != manifest $manifest")
          out.check(ck.outputRows == ck.inputRows, s"bucket ${ck.bucket} output rows ${ck.outputRows}")
        }
        val committed = tracer.span("readCommitted")(Backfill.readCommitted(spark, outRoot, snap))
        val ref = refs.getOrElseUpdate(n, {
          val (d, obs) = fingerprinted(compute(IcebergLite.read(spark, table, snap)))
          Bench.exec(d)
          out.check(fingerprint(obs)._1 == n, "uninterrupted backfill row count")
          fingerprint(obs)._2
        })
        val (d, obs) = fingerprinted(committed.select(anchorCols: _*))
        Bench.exec(d)
        out.check(fingerprint(obs)._2 == ref, "resumed backfill differs from an uninterrupted one")

        if (traced) {
          tracer.drain()
          val after = Backfill.completed(outRoot)
          val uncommitted = buckets - before.size
          val recomputed = after.count { case (b, ck) => !before.get(b).contains(ck) }
          val all = after.values.toSeq
          val bucketS = all.map(_.elapsedMs / 1e3)
          val (dataBytes, dataFiles) = treeBytes(Paths.get(table, "data"), ".parquet")
          val (outBytes, _) = treeBytes(Paths.get(outRoot), ".parquet")
          val works = (runSpan.toSeq ++ resumeSpan).map(tracer.workOf)
          note("tables.append_s", tAppend)
          note("tables.bytes_written", dataBytes.toDouble)
          note("tables.files_written", dataFiles.toDouble)
          note("tables.files_read_per_bucket_frac",
            median((0 until buckets).map(b => snap.forBucket(b).size.toDouble)) / snap.files.size)
          note("backfill.ingest_turns_per_s", n / tAppend)
          note("backfill.turns_per_s", n / (tRun + tResume))
          note("backfill.run_s", tRun)
          note("backfill.resume_s", tResume)
          note("backfill.bucket_s_p50", median(bucketS))
          note("backfill.bucket_s_max", bucketS.max)
          note("backfill.straggler_ratio", bucketS.max / median(bucketS))
          note("backfill.pool_busy_frac", bucketS.sum / ((tRun + tResume) * Pool))
          note("backfill.resume_recomputed_frac", if (uncommitted == 0) 1.0 else recomputed.toDouble / uncommitted)
          note("backfill.out_bytes_per_turn", outBytes.toDouble / n)
          note("backfill.cpu_s", works.map(_.cpuNs).sum / 1e9)
          note("backfill.shuffle_bytes", works.map(_.shuffleBytes).sum.toDouble)
          note("backfill.jobs", works.map(_.jobs).sum.toDouble)
        }
      } catch { case NonFatal(e) => out.fail(s"backfill cycle: $e") }
      finally deleteTree(root)
    }
    val (small, m) = cached(r, WarmConvs, megaTurns = 2000)
    cycle(small, m, WarmBuckets, WarmBuckets / 2, traced = false)
    small.unpersist(blocking = true)
    cycle(turns, n, Buckets, CrashAfter, traced = true)
    layer.foreach { case (k, v) => metrics(k) = median(v.toSeq) }
  }

  // ---- query_catalog: the catalog slice over seeded tables

  def queryCatalog(r: Run, dataDir: String): Unit = {
    import r._
    (1 to SetupRounds).foreach { _ =>
      prepRounds += timed(tracer.span("scan_tables")(
        CatalogTables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())))._2
    }
    val oracle = Catalog.map { case (q, _) => jsonString(q) + ":" + jsonString(SparkEntry.oracleSql(q)) }
    Files.writeString(work.resolve("oracle_sql.json"), oracle.mkString("{", ",\n", "}"))

    // cold pass: each output goes to parquet for the DuckDB oracle compare
    val ref = mutable.Map.empty[String, String]
    warmupS = timed {
      Catalog.foreach { case (q, _) =>
        out.attempted += 1
        try {
          val (d, obs) = fingerprinted(SparkEntry.queries(q)(spark, dataDir))
          d.write.mode("overwrite").parquet(work.resolve("out").resolve(q).toString)
          ref(q) = fingerprint(obs)._2
        } catch { case NonFatal(e) => out.fail(s"$q: $e") }
        Bench.resetStorage(spark)
      }
    }._2

    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracedPerQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracedIds = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    /** One timed rep of `q`, checked against the cold pass; (wall, CPU). */
    def query(q: String, traced: Boolean): (Double, Double) = {
      out.attempted += 1
      try {
        val (fp, w, cu) = timed(tracer.span(s"query.$q") {
          val (d, obs) = fingerprinted(SparkEntry.queries(q)(spark, dataDir))
          Bench.exec(d); fingerprint(obs)._2
        })
        if (traced) tracedIds.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += tracer.spans.filter(_.name == s"query.$q").last.id
        (if (traced) tracedPerQuery else perQuery).getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w
        out.check(ref.get(q).contains(fp), s"$q output changed from the checked cold pass")
        (w, cu)
      } catch { case NonFatal(e) => out.fail(s"$q: $e"); (0.0, 0.0) }
      finally tracer.span("resetStorage")(Bench.resetStorage(spark))
    }
    // the op is one pass over the slice. When tracing, every query runs
    // untraced and traced back to back, the order alternating from query to
    // query, so the tracing overhead is not confounded with warm-up.
    loop(seconds, 1) {
      var wall = 0.0
      var cpu = 0.0
      var tracedWall = 0.0
      Catalog.zipWithIndex.foreach { case ((q, _), i) =>
        def plain(): Unit = { val (w, cu) = query(q, traced = false); wall += w; cpu += cu }
        def withTrace(): Unit = tracedWall += tracer.traced(query(q, traced = true))._1
        if (!trace) plain() else if (i % 2 == 0) { plain(); withTrace() } else { withTrace(); plain() }
      }
      opCpuS += cpu
      log(f"pass wall=$wall%.3f cpu=$cpu%.2f traced wall=$tracedWall%.3f")
      wall + tracedWall
    }
    // op_s is the sum of per-query medians over the passes; at --seconds 6
    // a pass outlasts the budget, so a run makes one pass, one sample a query
    def perQueryMedians(m: mutable.Map[String, mutable.ArrayBuffer[Double]]): Map[String, Double] =
      Catalog.map { case (q, _) => q -> median(m.getOrElse(q, mutable.ArrayBuffer(Double.NaN)).toSeq) }.toMap
    val medians = perQueryMedians(perQuery)
    opS.clear(); opS += medians.values.sum
    if (trace) { tracedOpS.clear(); tracedOpS += perQueryMedians(tracedPerQuery).values.sum }
    metrics("catalog.total_s") = medians.values.sum
    metrics("catalog.geomean_s") = math.exp(medians.values.map(math.log).sum / medians.size)
    if (trace) {
      def tmed(q: String, f: Int => Double) = median(tracedIds.getOrElse(q, mutable.ArrayBuffer.empty[Int]).map(f).toSeq)
      def secs(id: Int) = tracer.spans.find(_.id == id).get.seconds
      Families.foreach { fam =>
        val qs = Catalog.filter(_._2 == fam).map(_._1)
        metrics(s"catalog.$fam.s") = qs.map(medians).sum
        metrics(s"catalog.$fam.cpu_s") = qs.map(q => tmed(q, id => tracer.workOf(id).cpuNs / 1e9)).sum
        metrics(s"catalog.$fam.plan_s") = qs.map(q => tmed(q, id => tracer.workOf(id).planMs / 1e3)).sum
        metrics(s"catalog.$fam.jobs") = qs.map(q => tmed(q, id => tracer.workOf(id).jobs.toDouble)).sum
      }
      val plan = Catalog.map(q => tmed(q._1, id => tracer.workOf(id).planMs / 1e3)).sum
      val tracedTotal = Catalog.map(q => tmed(q._1, secs)).sum
      metrics("catalog.plan_frac") = plan / tracedTotal
      metrics("catalog.gap_s") = Catalog.map(q => tmed(q._1, tracer.gapSeconds)).sum
      NamedQueries.foreach(q => metrics(s"query.${q}_s") = medians(q))
    }
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, repoS) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Jvm.watchHeap()
    val spark = Bench.session(Cpus.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val work = Paths.get(workS)
    val r = new Run(spark, seedS.toLong, secondsS.toDouble, traceS == "1", work, Paths.get(repoS))
    workload match {
      case "pit_inmem" => pitInmem(r)
      case "query_catalog" => queryCatalog(r, work.resolve("data").toString)
      case other => sys.error(s"unknown workload $other")
    }
    val m = r.metrics
    m("setup_s") = sessionS + median(r.prepRounds.toSeq) + r.warmupS
    m("op_s") = median(r.opS.toSeq)
    m("op_cpu_s") = median(r.opCpuS.toSeq)
    m("peak_heap_mb") = Jvm.peakPostGcBytes / 1048576.0
    m("session_s") = sessionS
    m("setup.prep_s") = median(r.prepRounds.toSeq)
    m("setup.warmup_s") = r.warmupS
    if (r.trace) {
      m("trace_overhead_frac") = median(r.tracedOpS.toSeq) / median(r.opS.toSeq) - 1.0
      r.tracer.dump(work.resolve("spans.jsonl"))
    }
    val metricsJson = m.map { case (k, v) => s"${jsonString(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
    val problems = r.out.problems.map(jsonString).mkString("[", ",", "]")
    val env = s"""{"spark_version":${jsonString(spark.version)},"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},"master":"local[$Cpus]"}"""
    Files.writeString(work.resolve("jvm_result.json"),
      s"""{"attempted":${r.out.attempted},"failed":${r.out.failed},"problems":$problems,"env":$env,"metrics":${metricsJson.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
