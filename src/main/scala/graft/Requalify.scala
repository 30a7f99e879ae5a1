package graft

import org.apache.spark.sql.functions._

/** Control-bracketed re-qualification and A/B harness for registered
  * entries (the BASELINE.md protocol: treat deltas under ~1.3x as noise
  * and re-measure n>=3 under clean controls before calling a
  * regression). Each pass releases graft's session memos and the
  * CacheManager (a timed pass pays full cost), runs the skew-SMJ
  * control probe (Bench.controlOnly) for a time-local load reading,
  * then times the entry fully materialised into a multiset fingerprint.
  *
  * With a `confKey`, every entry runs n passes with the key unset (arm
  * off) and n with it "true" (arm on), and all fingerprints must agree:
  * an A/B that changes the answer is a bug, not a measurement. A
  * checkpoint dir under java.io.tmpdir is set, so
  * `spark.graft.reliableCheckpoint` works as the key (the durability
  * path against the default localCheckpoint truncation).
  * Dir comes from SPARK_GRAFT_SF_DIR.
  *
  * Usage: runMain graft.Requalify <query[,query...]> [nPasses=3] [confKey]
  */
object Requalify {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val n = if (args.length > 1) args(1).toInt else 3
    val confKey = args.lift(2)
    val spark = Harness.session()
    spark.sparkContext.setCheckpointDir(Harness.tempDir("graft-ckpt"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val arms = confKey.fold(Seq("" -> Option.empty[String]))(k =>
      Seq(s" $k=off" -> None, s" $k=on" -> Some("true")))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val prints = for ((label, value) <- arms; i <- 1 to n) yield {
        confKey.foreach(k => value.fold(spark.conf.unset(k))(spark.conf.set(k, _)))
        SparkEntry.releaseMemos(spark)
        spark.catalog.clearCache()
        val ctl = Bench.controlOnly(spark)
        val t0 = System.nanoTime()
        val (hash, rows) = fingerprint(fn(spark, dir))
        val t = (System.nanoTime() - t0) / 1e9
        println(f"RQ $name$label pass$i query=$t%.2fs control=$ctl%.2fs " +
          f"(${ctl / Bench.ControlPin}%.2fx pin) rows=$rows hash=$hash")
        (hash, rows)
      }
      confKey.foreach { k =>
        spark.conf.unset(k)
        assert(prints.distinct.size == 1,
          s"$name: arms disagree (hash, rows): ${prints.distinct.mkString(" ")}")
      }
    }
    spark.stop()
  }

  /** MULTISET fingerprint, order-independent and overflow-free: group by
    * the row hash, then xor over xxhash64(h, count). A plain xor of row
    * hashes is multiplicity-blind — a divergence that shifts row
    * multiplicities in even pairs (one row duplicated twice while
    * another drops twice) leaves both the xor and the total count
    * unchanged. Hashing (h, per-h count) makes any multiplicity change
    * move the fingerprint; the extra shuffle is |distinct rows| — noise
    * for a harness. (SUM of hashes would trip ANSI 64-bit overflow at
    * sf1 row counts, hence xor.) */
  def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(expr("bit_xor(xxhash64(h, c))").as("s"), sum(col("c")).as("n")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
