package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Self-auditing leak/copy sweep over src/main: the library must be
  * buildable from PUBLIC knowledge only (Spark API + the reference's
  * observable behavior), so no source file may carry URLs, cloud
  * bucket schemes, credential-shaped strings, or environment coupling
  * beyond the two documented SPARK_GRAFT_* knobs — and reference
  * identifiers may appear ONLY in comments, as provenance citations,
  * never in code. Runs as a plain ScalaTest so every round re-checks
  * without external tooling. */
class HygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, Seq[String])] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
      .toSeq

  private def offending(pred: String => Boolean): Seq[String] =
    for {
      (p, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if pred(line)
    } yield s"$p:${i + 1}: ${line.trim.take(120)}"

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  test("no URLs anywhere in src/main") {
    val hits = offending(l => l.contains("http://") || l.contains("https://"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no cloud bucket or remote filesystem schemes") {
    val hits = offending(l =>
      Seq("s3://", "s3a://", "gs://", "abfs://", "wasb://", "hdfs://")
        .exists(l.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no credential-shaped strings") {
    val keyish = java.util.regex.Pattern
      .compile("(sk-[A-Za-z0-9]{16,}|AKIA[A-Z0-9]{12,}|ghp_[A-Za-z0-9]{16,}|xox[bap]-)")
    val hits = offending(l => keyish.matcher(l).find())
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("environment coupling is limited to the five documented knobs") {
    val hits = offending(l => l.contains("sys.env") &&
      !l.contains("SPARK_GRAFT_SF_DIR") && !l.contains("SPARK_GRAFT_CPUS") &&
      !l.contains("SPARK_GRAFT_PASSES") && // r13: scale-soak pass count
      !l.contains("SPARK_GRAFT_SHUFFLE") && // r15: decade-soak reduce width
      !l.contains("SPARK_GRAFT_PREBUILD")) // r17: untimed-but-reported layout builds
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("imports come only from the Spark/Scala/Java/graft universe") {
    // log4j2 ships inside the Spark runtime (/opt/spark/jars) — the
    // codegen-fallback sentinel hooks its core appender API
    val ok = Seq("org.apache.spark", "org.apache.logging.log4j",
      "scala.", "java.", "graft.")
    val hits = offending { l =>
      val t = l.trim
      t.startsWith("import ") &&
        !ok.exists(p => t.stripPrefix("import ").startsWith(p)) &&
        !t.endsWith(".implicits._") // session-local encoder imports
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("memoization goes through the tracked Memo variants") {
    // releaseMemos must free ONLY graft-created blocks (r14 advice:
    // the global unpersist sweep destroyed host-app state in shared
    // sessions). That guarantee holds iff every persist-like call in
    // the library routes through graft.api.Memo, which records the
    // RDD id / Dataset handle at creation. Raw localCheckpoint/cache/
    // persist calls are allowed only inside Memo itself and in
    // GraftOps.truncate's reliable-checkpoint arm (which registers).
    val exempt = Set("Memo.scala")
    val hits = for {
      (p, lines) <- sources
      if !exempt.contains(p.getFileName.toString)
      (line, i) <- lines.zipWithIndex
      if !isComment(line)
      if Seq(".localCheckpoint()", ".cache()", ".persist(")
        .exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim.take(120)}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no module-level memo map outside graft.api.Memo") {
    // every cross-query memo lives in the one registry, so
    // SparkEntry.releaseMemos is complete by construction
    val hits = for {
      (p, lines) <- sources
      if p.getFileName.toString != "Memo.scala"
      (line, i) <- lines.zipWithIndex
      if !isComment(line) && line.contains("TrieMap")
    } yield s"$p:${i + 1}: ${line.trim.take(120)}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("SparkSession.builder only in graft.Harness") {
    // one session setup for every main (cores, UTC, NTZ, UI)
    val hits = for {
      (p, lines) <- sources
      if p.getFileName.toString != "Harness.scala"
      (line, i) <- lines.zipWithIndex
      if !isComment(line) && line.contains("SparkSession.builder")
    } yield s"$p:${i + 1}: ${line.trim.take(120)}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("reference identifiers appear only in provenance comments") {
    // citing reference file:line for SEMANTICS in Scaladoc is required;
    // the same identifiers in CODE would smell like a renamed copy
    val refIds = Seq("uwaterloo", "bespin", "lintools", "cs451", "Scallop")
    val hits = offending(l =>
      refIds.exists(id => l.toLowerCase.contains(id.toLowerCase)) && !isComment(l))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
