package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{QueryDef, SparkEntry}

/** One timed query: `fn` (build), forcing the physical plan (plan) and
  * the full materialisation (exec). `checkS` is the untimed oracle dump
  * and plan check that follows. */
final case class QueryRun(name: String, pass: Int, startMs: Long,
    buildS: Double, planS: Double, execS: Double, wallS: Double, checkS: Double,
    rows: Long, error: Option[String], mismatch: Boolean) {
  def latencyS: Double = buildS + planS + execS
  def failed: Boolean = error.isDefined || mismatch
}

/** One pass over the workload's fixed query list. `wallS` excludes the
  * untimed check work; `releaseS` is the `releaseMemos` time between
  * families, which the pass does include. */
final case class PassRun(pass: Int, traced: Boolean, wallS: Double,
    checkS: Double, releaseS: Double, memoTracked: Int, blockMbPeak: Double,
    queries: Seq[QueryRun])

/** The olap and graph workloads: graft entries in SparkEntry
  * declaration order, `releaseMemos` between families, each result
  * fully materialised. */
final class BatchWorkload(spark: SparkSession, workload: String, data: String,
    out: Path, names: Seq[String]) {

  val families: Seq[(String, Seq[QueryDef])] = {
    val fs = SparkEntry.families
      .map { case (f, defs) => f -> defs.filter(d => names.contains(d.name)) }
      .filter(_._2.nonEmpty)
    val unknown = names.toSet -- fs.flatMap(_._2.map(_.name))
    require(unknown.isEmpty, s"not graft entries: ${unknown.mkString(", ")}")
    fs
  }

  private val sc = spark.sparkContext
  private val capture = new ActionCapture
  private val fingerprints = mutable.Map.empty[String, (Long, Long)]
  /** Per entry: what the oracle check needs (row count, dump dir) and
    * the outcome of the plan check. Filled on the checked pass. */
  val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def group(query: String, pass: Int, phase: String, traced: Boolean): Unit =
    if (traced) sc.setJobGroup(s"$workload/$query@$pass/$phase", phase)

  /** The entry-owned persisted layouts (set-up work), seconds each. */
  def prebuildLayouts(): Seq[(String, Double)] =
    SparkEntry.layoutPrebuilds.filter { case (q, _, _) => names.contains(q) }
      .map { case (_, label, build) =>
        val t0 = System.nanoTime()
        build(spark, data)
        label -> secs(t0)
      }

  /** Storage held by persisted RDDs (memo checkpoints and caches), MB. */
  private def blockMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** One pass. The checked pass (the set-up's warm-up) also verifies the
    * plan of each timed action, dumps each result for the oracle and
    * records a fingerprint that every later pass must reproduce. */
  def pass(p: Int, checked: Boolean, traced: Boolean): PassRun = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    var checkS, releaseS = 0.0
    var memoTracked = 0
    var blockPeak = 0.0
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    families.foreach { case (family, defs) =>
      defs.foreach { qd =>
        val r = runQuery(qd, p, checked, traced)
        checkS += r.checkS
        if (traced) blockPeak = math.max(blockPeak, blockMb())
        runs += r
      }
      memoTracked += graft.api.Memo.trackedCount
      group(family, p, "release", traced)
      val tr = System.nanoTime()
      SparkEntry.releaseMemos(spark)
      releaseS += secs(tr)
    }
    val wall = secs(t0) - checkS
    if (traced) sc.clearJobGroup()
    PassRun(p, traced, wall, checkS, releaseS, memoTracked, blockPeak, runs.toSeq)
  }

  private def runQuery(qd: QueryDef, p: Int, checked: Boolean, traced: Boolean): QueryRun = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var (buildS, planS, execS, wallS) = (0.0, 0.0, 0.0, 0.0)
    var df: DataFrame = null
    var rows: Array[Row] = null
    val error = try {
      group(qd.name, p, "build", traced)
      var t = System.nanoTime()
      df = qd.fn(spark, data)
      buildS = secs(t)
      // entries may run on a session of their own (spark.newSession)
      if (checked) df.sparkSession.listenerManager.register(capture)
      group(qd.name, p, "plan", traced)
      t = System.nanoTime()
      df.queryExecution.executedPlan
      planS = secs(t)
      group(qd.name, p, "exec", traced)
      t = System.nanoTime()
      rows = PlanCheck.materialise(df)
      execS = secs(t)
      wallS = secs(t0)
      None
    } catch {
      case e: Throwable =>
        Some((e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
          .linesIterator.take(3).mkString(" ").take(400))
    }
    val tc = System.nanoTime()
    group(qd.name, p, "check", traced)
    var mismatch = false
    if (rows != null) {
      val fp = Fingerprint.of(rows)
      if (checked) {
        fingerprints(qd.name) = fp
        checks(qd.name) = check(qd, df, rows)
      } else mismatch = !fingerprints.get(qd.name).contains(fp)
    } else if (checked) {
      if (df != null) df.sparkSession.listenerManager.unregister(capture)
      checks(qd.name) = Map("error" -> error.get)
    }
    val checkS = if (checked || rows != null) secs(tc) else 0.0
    QueryRun(qd.name, p, startMs, buildS, planS, execS, wallS, checkS,
      if (rows == null) -1L else rows.length.toLong, error, mismatch)
  }

  private def check(qd: QueryDef, df: DataFrame, rows: Array[Row]): Map[String, Any] = {
    PerfbenchBus.drain(sc)
    val lost = capture.timedActionOf(df) match {
      case Some(qe) => PlanCheck.missing(df.queryExecution.optimizedPlan, qe.optimizedPlan)
        .map { case (k, n) => s"$k x$n" }.mkString(", ")
      case None => "timed action not observed"
    }
    df.sparkSession.listenerManager.unregister(capture)
    val dump = out.resolve("results").resolve(qd.name)
    if (qd.oracle.isDefined)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(dump.toString)
    Map(
      "rows" -> rows.length.toLong,
      "oracle_sql" -> qd.oracle,
      "rows_sql" -> qd.rowsOracle,
      "dump" -> (if (qd.oracle.isDefined) Some(dump.toString) else None),
      "plan_ok" -> lost.isEmpty,
      "plan_lost" -> lost)
  }
}

/** Order-insensitive fingerprint of a result: row count and the sum of
  * per-row hashes, doubles rounded to 9 significant digits so a
  * re-association of a floating-point sum does not count as a change. */
object Fingerprint {
  private def norm(v: Any): Any = v match {
    case d: Double => if (d.isNaN || d == 0.0) d else BigDecimal(d).round(new java.math.MathContext(9)).toDouble
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case a: Array[_] => a.toSeq.map(norm)
    case other => other
  }

  def of(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r => norm(r).hashCode.toLong).sum)
}
