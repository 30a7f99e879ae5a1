package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // aid — the driver always runs the full inventory with 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = Harness.session("WARN")
    CodegenSentinel.install()
    new java.io.File(outDir).mkdirs()
    // declaration order, family by family: memo producers run before
    // their consumers, and BETWEEN families every memoized
    // localCheckpoint block is released (SparkEntry.releaseMemos) —
    // without this the ~300-query sweep accumulates all families'
    // blocks and needs a 64 g driver at sf1 (SOAK_r13.md item 3);
    // with it the whole sweep fits the default heap.
    SparkEntry.families.foreach { case (_, defs) =>
      defs.foreach { qd =>
        if (wanted(qd.name))
          try qd.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${qd.name}")
          catch { case e: Throwable =>
            System.err.println(s"[verify] ${qd.name} failed: ${e.getMessage}")
          }
      }
      SparkEntry.releaseMemos(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only tier: record each query's ACTUAL row count (read back
    // from the parquet just written) next to DuckDB SQL recomputing the
    // EXPECTED count, so the artifact self-describes as a weaker-but-
    // real check instead of reading as a missing oracle
    val rowsJson = SparkEntry.rowsOracleSql
      .filter { case (k, _) => wanted(k) }
      .flatMap { case (k, sql) =>
        try {
          val n = spark.read.parquet(s"$outDir/$k").count()
          Some(s"${q(k)}: {${q("rows")}: $n, ${q("expected_rows_sql")}: ${q(sql)}}")
        } catch { case _: Throwable => None }
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_check.json"), rowsJson)
    // codegen-fallback sentinel readout (r15): nonzero means some query
    // in this sweep ran interpreted — a silent perf cliff (SOAK_r14 §3:
    // the Louvain loop did exactly that for several rounds). The count
    // lands in the out dir so every correctness run doubles as a
    // codegen audit.
    val fallbacks = CodegenSentinel.fallbackCount
    CodegenSentinel.reportClean("verify")
    Files.writeString(Paths.get(s"$outDir/codegen_fallbacks.txt"),
      fallbacks.toString)
    println(s"[verify] codegen_fallbacks=$fallbacks")
    spark.stop()
  }
}
