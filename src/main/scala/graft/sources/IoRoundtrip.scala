package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryDef
import graft.api.Memo

/** Multi-format source/sink surface: the documents table round-trips
  * through JSON-lines, ORC and CSV sinks and is read back through the
  * matching sources with an EXPLICIT schema (no inference in the read
  * path — inference is a second full scan at 100 TB). The registered
  * query aggregates (count, Σ n_chars, Σ text-hash) per format; the
  * oracle computes the same three invariants from the parquet table,
  * so a pass proves every format preserved the data bit-for-bit where
  * it counts (the hash sum covers full text content).
  *
  * Writes are memoized per (session, dir) under java.io.tmpdir —
  * format conversion happens once; the timed query is read + aggregate
  * (the realistic "read a foreign-format feed" path). */
object IoRoundtrip {
  val Formats: Seq[String] = Seq("csv", "json", "orc")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** java.io.tmpdir/<kind>/<md5(dir) prefix>: one root per source dir. */
  private def tmpRoot(kind: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), kind, key).toString
  }

  private def writtenRoot(spark: SparkSession, dir: String): String =
    Memo.layout("IoRoundtrip", "root", spark, dir) {
      val root = tmpRoot("graft-io", dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      Formats.foreach { f =>
        docs.write.mode("overwrite").format(f)
          .option("header", "true").save(s"$root/$f")
      }
      root
    }

  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = writtenRoot(spark, dir)
    Formats.map { f =>
      spark.read.format(f).schema(schema).option("header", "true")
        .load(s"$root/$f")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("text_hash_sum"))
        .select(lit(f).as("format"), col("n_docs"), col("sum_chars"), col("text_hash_sum"))
    }.reduce(_ unionAll _).orderBy("format")
  }

  private val roundtripOracle: String = {
    val fmts = Formats.map(f => s"('$f')").mkString(", ")
    s"""WITH a AS (SELECT count(*) AS n_docs,
                          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                          CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_hash_sum
                   FROM documents)
        SELECT f.fmt AS format, a.n_docs, a.sum_chars, a.text_hash_sum
        FROM a, (VALUES $fmts) f(fmt) ORDER BY format"""
  }

  /** Schema-evolution read: two parquet epochs of the events feed —
    * epoch 1 written BEFORE a column existed (event_id, user_id,
    * value), epoch 2 with the later-added event_type — read back as
    * ONE table via mergeSchema. The query reports per-epoch row
    * counts, how many rows carry the evolved column, and the exact
    * cent sum — proving old files surface NULLs (not errors, not
    * dropped rows) under the evolved schema. Epoch split is the
    * deterministic event_id % 2. mergeSchema is the one-line fix
    * every long-lived 100 TB table eventually needs; its cost
    * (footer-merge across files) is the documented trade. */
  private def evolutionRoot(spark: SparkSession, dir: String): String =
    Memo.layout("IoRoundtrip", "evolution", spark, dir) {
      val root = tmpRoot("graft-evo", dir)
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "cents")
        .write.mode("overwrite").parquet(s"$root/epoch=1")
      ev.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$root/epoch=2")
      root
    }

  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = evolutionRoot(spark, dir)
    spark.read.option("mergeSchema", "true")
      .option("basePath", root).parquet(s"$root/epoch=1", s"$root/epoch=2")
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("event_type").isNotNull, 1L).otherwise(0L)).as("n_typed"),
        sum(col("cents")).as("cents"))
      .select(col("epoch").cast("long").as("epoch"),
        col("n_rows"), col("n_typed"), col("cents"))
      .orderBy("epoch")
  }

  private val schemaEvolutionOracle: String =
    """WITH e AS (SELECT event_id, event_type,
                         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS epoch
                  FROM events)
       SELECT CAST(epoch AS BIGINT) AS epoch, count(*) AS n_rows,
              sum(CASE WHEN epoch = 2 THEN 1 ELSE 0 END)::BIGINT AS n_typed,
              sum(cents)::BIGINT AS cents
       FROM e GROUP BY 1 ORDER BY epoch"""

  /** Hive-style partitioned SINK + pruned read-back: the events feed
    * written `partitionBy(event_type)` once (memoized, like the other
    * io layouts), then read with a partition-column predicate — the
    * WRITE half of the pruning story q34/q61 prove on the read side.
    * The filter never touches row data: it prunes DIRECTORIES at
    * planning time (PlanSpec asserts the scan's partitionFilters), so
    * at 100 TB a two-type query reads two subtrees, not the table.
    * The registered query reports per-type counts + exact cent sums
    * from the pruned read; the oracle recomputes from the raw feed. */
  val PrunedTypes: Seq[String] = Seq("click", "purchase")
  private def partitionedRoot(spark: SparkSession, dir: String): String =
    Memo.layout("IoRoundtrip", "partitioned", spark, dir) {
      val root = tmpRoot("graft-part", dir)
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(root)
      root
    }

  /** The pruned frame BEFORE aggregation — spec entry point for the
    * partitionFilters plan assertion. */
  def partitionedPruned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(partitionedRoot(spark, dir))
      .filter(col("event_type").isin(PrunedTypes: _*))

  def partitionedWrite(spark: SparkSession, dir: String): DataFrame =
    partitionedPruned(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .orderBy("event_type")

  private val partitionedOracle: String = {
    val types = PrunedTypes.map(t => s"'$t'").mkString(", ")
    s"""SELECT event_type, count(*) AS n_rows,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type IN ($types)
        GROUP BY 1 ORDER BY event_type"""
  }

  /** Snapshot diff — "what changed between yesterday's table and
    * today's", answered at PARTITION granularity the way a manifest
    * diff would (per-day row counts + exact cent sums from the two
    * partitioned layouts, never a row-level join): days only in the
    * new snapshot are `added`, days whose stats moved are `changed`
    * (the old snapshot deterministically drops half the rows of the
    * first five days — simulated late-arriving data), untouched days
    * are `same`. At 100 TB the diff cost is two partition-pruned
    * stat aggregations and a |days|-row outer join — the row data of
    * unchanged partitions is read for stats only here; a real
    * lakehouse manifest already carries them in footers. */
  val SnapCutoffDays = 15L
  val SnapLateDays = 5L
  private def snapshotRoot(spark: SparkSession, dir: String): String =
    Memo.layout("IoRoundtrip", "snapshot", spark, dir) {
      val root = tmpRoot("graft-snap", dir)
      val minDay = graft.operators.ScaleOps.partitionedEvents(spark, dir)._2
      Tables.events(spark, dir)
        .select(col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          expr("ts_us div 86400000000").as("day"))
        .filter(col("day") < minDay + SnapCutoffDays &&
          !(col("day") < minDay + SnapLateDays && col("event_id") % 2 === 1))
        .write.mode("overwrite").partitionBy("day").parquet(root)
      root
    }

  def ioSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (fullPath, _) = graft.operators.ScaleOps.partitionedEvents(spark, dir)
    val s1 = spark.read.parquet(snapshotRoot(spark, dir))
      .groupBy("day").agg(count(lit(1)).as("n1"), sum(col("cents")).as("c1"))
    val s2 = spark.read.parquet(fullPath)
      .select(col("day"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("day").agg(count(lit(1)).as("n2"), sum(col("cents")).as("c2"))
    s1.join(s2, Seq("day"), "full_outer")
      .select(col("day").cast("long").as("day"),
        coalesce(col("n1"), lit(0L)).as("rows_old"),
        coalesce(col("n2"), lit(0L)).as("rows_new"),
        coalesce(col("c1"), lit(0L)).as("cents_old"),
        coalesce(col("c2"), lit(0L)).as("cents_new"),
        when(col("n1").isNull, "added")
          .when(col("n1") === col("n2") && col("c1") === col("c2"), "same")
          .otherwise("changed").as("status"))
      .orderBy("day")
  }

  private val snapshotDiffOracle: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_id,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                   FROM events),
         m AS (SELECT min(day) AS mn FROM e),
         s1 AS (SELECT day, count(*)::BIGINT AS n1, CAST(sum(cents) AS BIGINT) AS c1
                FROM e, m
                WHERE day < mn + $SnapCutoffDays
                  AND NOT (day < mn + $SnapLateDays AND event_id % 2 = 1)
                GROUP BY 1),
         s2 AS (SELECT day, count(*)::BIGINT AS n2, CAST(sum(cents) AS BIGINT) AS c2
                FROM e GROUP BY 1)
       SELECT coalesce(s2.day, s1.day) AS day,
              coalesce(s1.n1, 0) AS rows_old, coalesce(s2.n2, 0) AS rows_new,
              coalesce(s1.c1, 0) AS cents_old, coalesce(s2.c2, 0) AS cents_new,
              CASE WHEN s1.day IS NULL THEN 'added'
                   WHEN s1.n1 = s2.n2 AND s1.c1 = s2.c2 THEN 'same'
                   ELSE 'changed' END AS status
       FROM s1 FULL OUTER JOIN s2 ON s1.day = s2.day
       ORDER BY day"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("io_snapshot_diff", ioSnapshotDiff, Some(snapshotDiffOracle)),
    QueryDef("io_format_roundtrip", roundtrip, Some(roundtripOracle)),
    QueryDef("io_schema_evolution", schemaEvolution, Some(schemaEvolutionOracle)),
    QueryDef("io_partitioned_write", partitionedWrite, Some(partitionedOracle)),
  )
}
