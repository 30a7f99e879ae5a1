package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.CodegenSentinel

/** One benchmark JVM: set-up, then a workload measured for a fixed wall
  * time, written as `result.json` (and `trace.json` when traced) into
  * `--out`. `run.py` launches it, checks the dumped
  * results against the DuckDB oracle and prints the metrics.
  *
  * Usage: Main --workload olap|graph|stream --data DIR --out DIR
  *        --seconds S --trace 0|1 --seed N --cores N
  */
object Main {
  val MB = 1048576.0

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(argv: Array[String]): Unit = {
    val mainUs = nowUs
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val out = Paths.get(args("out"))
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val cores = args("cores").toInt
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenSentinel.install()
    val sessionUs = nowUs

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_us" -> mainUs, "session_us" -> sessionUs,
      "host" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / MB,
        "cores" -> cores))
    try {
      if (workload == "stream") runStream(spark, args, result, seconds, traced, out)
      else runBatch(spark, workload, args, result, seconds, traced, cores, out)
      result("codegen_fallbacks") = CodegenSentinel.fallbackCount
    } finally {
      result("peak_rss_mb") = peakRssMb
      Json.save(out.resolve("result.json"), result)
      spark.stop()
    }
  }

  /** This JVM's peak resident set (VmHWM), MB. */
  def peakRssMb: Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
  }.getOrElse(-1.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  // ------------------------------------------------------------------ batch

  private def runBatch(spark: SparkSession, workload: String, args: Map[String, String],
      result: mutable.Map[String, Any], seconds: Double, traced: Boolean,
      cores: Int, out: Path): Unit = {
    val names = Workloads(workload)
    val w = new BatchWorkload(spark, workload, args("data"), out, names)
    result("layouts") = w.prebuildLayouts().toMap
    // warm-up: two passes over the workload (JIT, codegen, parquet
    // readers). The first is the checked pass; its untimed check work is
    // taken out of the set-up time. A single pass leaves later passes
    // about a quarter faster than the first measured one.
    val warm = Seq(w.pass(0, checked = true, traced = false),
      w.pass(0, checked = false, traced = false))
    result("setup_done_us") = nowUs
    result("setup_excluded_s") = warm.map(_.checkS).sum

    val sc = spark.sparkContext
    val tracer = new Tracer(s"$workload/other@0/other")
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // traced runs alternate traced and untraced passes, so the tracing
    // overhead is a difference of medians
    def more: Boolean = passes.isEmpty || System.nanoTime() < deadline ||
      (traced && passes.size < 2)
    while (more) {
      val p = passes.size + 1
      val t = traced && p % 2 == 1
      if (t) sc.addSparkListener(tracer)
      passes += w.pass(p, checked = false, traced = t)
      if (t) { PerfbenchBus.drain(sc); sc.removeSparkListener(tracer) }
    }
    result("passes") = passes.map(p => Map("pass" -> p.pass, "traced" -> p.traced,
      "wall_s" -> p.wallS, "release_s" -> p.releaseS))
    result("queries") = (warm ++ passes).flatMap(_.queries).map(q => Map(
      "name" -> q.name, "pass" -> q.pass, "build_s" -> q.buildS, "plan_s" -> q.planS,
      "exec_s" -> q.execS, "wall_s" -> q.wallS, "rows" -> q.rows, "error" -> q.error,
      "mismatch" -> q.mismatch))
    result("checks") = w.checks
    if (traced) {
      val tp = passes.filter(_.traced).toSeq
      val per = tp.map(p => batchLayers(tracer, workload, p, cores))
      val layers = mutable.LinkedHashMap[String, Double]()
      per.head.keys.foreach(k => layers(k) = median(per.map(_(k))))
      val untracedWall = passes.filter(!_.traced).map(_.wallS).toSeq
      layers("trace.overhead_s") = median(tp.map(_.wallS)) - median(untracedWall)
      val qs = tp.flatMap(_.queries).filter(_.error.isEmpty)
      layers("trace.coverage") = qs.map(q => q.latencyS / q.wallS).minOption.getOrElse(Double.NaN)
      layers("api.pairs.yield") = pairsYield(spark, args("data"), names)
      result("layers") = layers
      Json.save(out.resolve("trace.json"), batchSpans(tracer, workload, tp))
    }
  }

  /** Per-layer numbers of one traced pass, from the job groups of its
    * queries (`workload/query@pass/phase`). */
  private def batchLayers(tracer: Tracer, workload: String, p: PassRun,
      cores: Int): Map[String, Double] = {
    def inPass(g: String): Boolean = {
      val parts = g.split('/')
      parts.length == 3 && parts(0) == workload && parts(1).endsWith(s"@${p.pass}")
    }
    def phase(ph: String)(g: String): Boolean = inPass(g) && g.endsWith(s"/$ph")
    val all = tracer.total(inPass)
    val build = tracer.total(phase("build"))
    val exec = tracer.total(phase("exec"))
    val qs = p.queries
    Map(
      "operators.build_s" -> qs.map(_.buildS).sum,
      "operators.eager_jobs" -> build.jobs.toDouble,
      "spark.plan.plan_s" -> qs.map(_.planS).sum,
      "spark.exec.run_s" -> qs.map(_.execS).sum,
      "spark.exec.jobs" -> exec.jobs.toDouble,
      "spark.exec.stages" -> exec.stages.toDouble,
      "spark.exec.tasks" -> exec.tasks.toDouble) ++ taskLayers(all, p.wallS, cores) ++ Map(
      "api.memo.tracked" -> p.memoTracked.toDouble,
      "api.memo.release_s" -> p.releaseS,
      "api.memo.block_mb_peak" -> p.blockMbPeak)
  }

  /** Task-level Spark numbers of `s` over `wallS` seconds of wall time. */
  private def taskLayers(s: GroupStats, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.exec.task_s" -> s.runMs / 1000.0,
    "spark.exec.cpu_s" -> s.cpuNs / 1e9,
    "spark.exec.gc_s" -> s.gcMs / 1000.0,
    "spark.exec.core_util" -> s.runMs / 1000.0 / (wallS * cores),
    "spark.exec.shuffle_write_mb" -> s.shuffleWrite / MB,
    "spark.exec.shuffle_read_mb" -> s.shuffleRead / MB,
    "spark.exec.spill_mb" -> s.spill / MB,
    "spark.exec.failed_tasks" -> s.failedTasks.toDouble,
    "sources.input_mb" -> s.inputBytes / MB,
    "sources.input_rows" -> s.inputRows.toDouble)

  /** The trace file: one span per query with its build / plan / exec /
    * check children and the Spark jobs of each, one `family.release`
    * span per pass, and the self time of each layer. */
  private def batchSpans(tracer: Tracer, workload: String, tp: Seq[PassRun]): Map[String, Any] = {
    val groups = tracer.groups
    def jobs(q: String, p: Int, ph: String) =
      groups.get(s"$workload/$q@$p/$ph").toSeq.flatMap(_.jobSpans.reverse)
        .map { case (id, s, e) => Map("job" -> id, "start_ms" -> s, "end_ms" -> e) }
    val spans = tp.flatMap { p =>
      p.queries.map { q =>
        Map("span" -> "query", "query" -> q.name, "pass" -> p.pass, "start_ms" -> q.startMs,
          "wall_s" -> q.wallS, "error" -> q.error,
          "children" -> Seq("build" -> q.buildS, "plan" -> q.planS, "exec" -> q.execS,
            "check" -> q.checkS).map { case (ph, s) =>
            Map("span" -> ph, "s" -> s, "jobs" -> jobs(q.name, p.pass, ph)) })
      } :+ Map("span" -> "family.release", "pass" -> p.pass, "s" -> p.releaseS)
    }
    val qs = tp.flatMap(_.queries)
    Map("workload" -> workload, "spans" -> spans, "self_s" -> Map(
      "operators" -> qs.map(_.buildS).sum, "spark.plan" -> qs.map(_.planS).sum,
      "spark.exec" -> qs.map(_.execS).sum, "check" -> qs.map(_.checkS).sum,
      "api.memo" -> tp.map(_.releaseS).sum))
  }

  /** Emitted pairs ÷ LSH candidate pairs of the embedding pair kernels,
    * counted through the public candidate-pair stage with each entry's
    * own parameters; 0 when the workload runs neither entry. */
  private def pairsYield(spark: SparkSession, data: String, names: Seq[String]): Double = {
    import graft.functions.EmbLsh
    import graft.operators.{Dbscan, Dedup}
    val emb = graft.sources.Tables.embeddings(spark, data)
    lazy val n = emb.count()
    def counts(tables: Int, budgetLog2: Int, dims: Int, threshold: Double): (Long, Long) = {
      val cand = graft.api.GraftOps.embeddingCandidatePairs(emb, "vec_id", "embedding",
        tables, EmbLsh.suggestedBits(n, budgetLog2), dims,
        EmbLsh.SaltHotBucket, EmbLsh.SaltWays)
      val r = cand.agg(count(lit(1)), sum(when(col("cos") >= threshold, 1L).otherwise(0L))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val parts = Seq(
      names.contains("dedup_embedding") ->
        (() => counts(Dedup.EmbTables, Dedup.AutoBudgetLog2, Dedup.EmbDims, Dedup.EmbThreshold)),
      names.contains("ml_dbscan") ->
        (() => counts(EmbLsh.Tables, Dbscan.DbBudgetLog2, EmbLsh.Dims, Dbscan.DbEps)))
      .collect { case (true, f) => f() }
    val cand = parts.map(_._1).sum
    if (cand == 0) 0.0 else parts.map(_._2).sum.toDouble / cand
  }

  // ----------------------------------------------------------------- stream

  private def runStream(spark: SparkSession, args: Map[String, String],
      result: mutable.Map[String, Any], seconds: Double, traced: Boolean,
      out: Path): Unit = {
    val sc = spark.sparkContext
    val scratch = Paths.get(System.getProperty("java.io.tmpdir"), "perfbench-stream")
    // the two standing queries run side by side: each gets half the
    // cores for its state store partitions instead of both contending
    // for all of them
    spark.conf.set("spark.sql.shuffle.partitions", math.max(1, args("cores").toInt / 2).toString)
    val w = new StreamWorkload(spark, args("seed").toLong, scratch)
    // warm-up: both cores over the drain pass's events in one batch
    // (also the reference every drain pass is checked against), then one
    // drain pass for the multi-batch path
    val drainEvents = new EventGen(args("seed").toLong + 1).next(w.DrainEvents)
    val drainRef = w.reference(drainEvents)
    val (_, warmDrain) = w.drainPass(drainEvents)
    result("layouts") = Map.empty[String, Double]
    result("setup_done_us") = nowUs
    result("setup_excluded_s") = 0.0

    val tracer = new Tracer("stream/micro-batch@0/exec")
    if (traced) sc.addSparkListener(tracer)
    val t0 = System.nanoTime()
    // the open loop takes half the window; drain passes fill the rest
    val open = w.openLoop(seconds / 2)
    val openS = (System.nanoTime() - t0) / 1e9
    if (traced) PerfbenchBus.drain(sc)
    val openTask = tracer.total(_ => true)
    val openProgress = open.running.progress

    // untimed: reference outputs of both cores over the same events
    var attempted, failed = 0L
    def batches(r: Running): Long = r.progress.count(_._2.numInputRows > 0).toLong
    attempted += batches(warmDrain)
    if (w.mismatches(warmDrain.outputs, drainRef) > 0) failed += batches(warmDrain)
    val openBad = w.mismatches(open.running.outputs, w.reference(open.events))
    attempted += batches(open.running)
    if (openBad > 0) failed += batches(open.running)

    val deadline = t0 + (seconds * 1e9).toLong
    val drains = mutable.ArrayBuffer.empty[(Double, Boolean, Int)] // seconds, traced, mismatches
    while (drains.size < 2 || System.nanoTime() < deadline ||
           (traced && drains.count(_._2) == 0)) {
      val t = traced && drains.size % 2 == 1
      if (traced && !t) sc.removeSparkListener(tracer)
      if (t) sc.addSparkListener(tracer)
      val (s, r) = w.drainPass(drainEvents)
      val bad = w.mismatches(r.outputs, drainRef)
      drains += ((s, t, bad))
      attempted += batches(r)
      if (bad > 0) failed += batches(r)
    }
    if (traced) { PerfbenchBus.drain(sc); sc.removeSparkListener(tracer) }

    val data = openProgress.map(_._2).filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val stateRows = openProgress.map(_._2.stateOperators.map(_.numRowsTotal).sum)
    val stateMb = openProgress.map(_._2.stateOperators.map(_.memoryUsedBytes).sum / MB)
    val late = openProgress.map(_._2.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum

    result("passes") = drains.zipWithIndex.map { case ((s, t, bad), i) =>
      Map("pass" -> (i + 1), "traced" -> t, "wall_s" -> s, "mismatches" -> bad) }
    result("stream") = Map(
      "open_loop_s" -> openS, "open_loop_rate" -> w.OpenLoopRate,
      "lat_p50_s" -> open.latency(0.5), "lat_p95_s" -> open.latency(0.95),
      "lat_samples" -> open.latencies.size,
      "sustained_eps" -> w.DrainEvents / median(drains.filter(!_._2).map(_._1).toSeq),
      "open_loop_mismatches" -> openBad,
      "attempted" -> attempted, "failed" -> failed)
    if (traced) {
      val tm = drains.filter(_._2).map(_._1).toSeq
      val um = drains.filter(!_._2).map(_._1).toSeq
      result("layers") = Map(
        "streaming.batch_p50_s" -> median(data.map(_.batchDuration / 1000.0).toSeq),
        "streaming.batches" -> data.size.toDouble,
        "streaming.commit_s" -> median(data.map(p => (dur(p, "walCommit") + dur(p, "commitOffsets")) / 1000).toSeq),
        "streaming.state_rows" -> stateRows.maxOption.getOrElse(0L).toDouble,
        "streaming.state_mb" -> stateMb.maxOption.getOrElse(0.0),
        "streaming.late_rows" -> late.toDouble,
        "streaming.backlog_rows_max" -> open.backlogMax.toDouble,
        "gen.lag_s" -> quantile(open.chunks.map(_.lagS), 0.95),
        "trace.overhead_s" -> (median(tm) - median(um)),
        "spark.exec.run_s" -> data.map(dur(_, "addBatch") / 1000).sum,
        "spark.exec.jobs" -> openTask.jobs.toDouble,
        "spark.exec.stages" -> openTask.stages.toDouble,
        "spark.exec.tasks" -> openTask.tasks.toDouble,
        // share of the open loop's wall time the busier query spent in batches
        "trace.coverage" -> openProgress.groupBy(_._1).values
          .map(_.map(_._2.batchDuration).sum / 1000.0 / openS).max) ++
        taskLayers(openTask, openS, args("cores").toInt)
      Json.save(out.resolve("trace.json"), Map("workload" -> "stream", "spans" ->
        openProgress.map { case (q, p) => Map("span" -> "micro-batch", "query" -> q,
          "batch" -> p.batchId, "start" -> p.timestamp, "s" -> p.batchDuration / 1000.0,
          "rows" -> p.numInputRows, "end_offset" -> w.endOffset(p),
          "phases_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong }) }))
    }
  }
}
