package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak data replication: builds an sf×N dataset from a driver
  * testdata dir by unioning N key-offset copies of every scaling table
  * (dims region/nation stay fixed, like TPC-H). Copy 0 is the
  * original rows verbatim; copy c offsets every primary/foreign key by
  * c·(max+1) consistently across tables, so join fan-outs, group
  * cardinalities and graph structure scale linearly. Content columns
  * are perturbed where IDENTICAL copies would distort the workload's
  * shape instead of scaling it:
  *   - documents.text gains a per-copy prefix token (exact-hash groups
  *     stop being 10× singletons; MinHash clusters become ~N-sized
  *     near-dup families — the dup-heavy profile a real crawl has);
  *   - embeddings rotate cyclically by c positions (distinct vectors,
  *     norms preserved — the unit-norm contract the MIPS bound
  *     depends on holds);
  *   - dim-entity names gain a per-copy suffix so the distinct-name
  *     dictionary scales with the data.
  * Timestamps are NOT shifted: windows get denser, which stresses the
  * window/stream shuffles harder at the same key count.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> <copies>
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val spark = Harness.session()
    build(spark, src, dst, n)
    spark.stop()
  }

  def build(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def off(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head().getLong(0) + 1L

    // dims: fixed, like TPC-H
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val (oOff, cOff, pOff, sOff) =
      (off(rd("orders"), "o_orderkey"), off(rd("customer"), "c_custkey"),
        off(rd("part"), "p_partkey"), off(rd("supplier"), "s_suppkey"))
    val (eOff, uOff) = (off(rd("events"), "event_id"),
      rd("events").agg(max(col("user_id"))).head().getLong(0) + 1L)
    val (dOff, vOff) = (off(rd("documents"), "doc_id"),
      off(rd("embeddings"), "vec_id"))

    def copies(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(c => f(base, c)).reduce(_ unionAll _)

    wr(copies(rd("customer")) { (d, c) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(c * cOff))
        .withColumn("c_name",
          if (c == 0) col("c_name") else concat(col("c_name"), lit(s"#c$c")))
    }, "customer")
    wr(copies(rd("supplier")) { (d, c) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(c * sOff))
        .withColumn("s_name",
          if (c == 0) col("s_name") else concat(col("s_name"), lit(s"#c$c")))
    }, "supplier")
    wr(copies(rd("part")) { (d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(c * pOff))
        .withColumn("p_name",
          if (c == 0) col("p_name") else concat(col("p_name"), lit(s"#c$c")))
    }, "part")
    wr(copies(rd("orders")) { (d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(c * oOff))
        .withColumn("o_custkey", col("o_custkey") + lit(c * cOff))
    }, "orders")
    wr(copies(rd("lineitem")) { (d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(c * oOff))
        .withColumn("l_partkey", col("l_partkey") + lit(c * pOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * sOff))
    }, "lineitem")
    wr(copies(rd("events")) { (d, c) =>
      d.withColumn("event_id", col("event_id") + lit(c * eOff))
        .withColumn("user_id", col("user_id") + lit(c * uOff))
    }, "events")
    wr(copies(rd("documents")) { (d, c) =>
      // ONE select: `t` must resolve against the INPUT text (a
      // withColumn chain would re-resolve it against the already-
      // prefixed column and double-count the prefix in n_chars)
      val t = if (c == 0) col("text") else concat(lit(s"c$c "), col("text"))
      d.select((col("doc_id") + lit(c * dOff)).as("doc_id"), t.as("text"),
        col("lang"), col("source"), length(t).cast("long").as("n_chars"))
    }, "documents")
    wr(copies(rd("embeddings")) { (d, c) =>
      val rot = c % 64
      val e =
        if (rot == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), " +
          s"slice(embedding, 1, $rot))")
      d.withColumn("vec_id", col("vec_id") + lit(c * vOff))
        .withColumn("embedding", e)
    }, "embeddings")
  }
}
