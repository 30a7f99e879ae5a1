package graft

import org.apache.spark.sql.functions._

/** One-off throughput lab for the stateful streaming paths (r12 verdict
  * item 6; r14 adds the big-state regime): measures the Bench
  * streamSection's interval-join harness and the keyed windowed-agg
  * under state-store / partitioning variants so the chosen production
  * config is a recorded measurement, not a guess.
  *
  * Two state regimes per variant:
  *  - small: ±1 s join interval / 2 s watermark (the Bench harness —
  *    state ≈ a few hundred k rows), 1 s windows for the agg
  *  - big (r14, the sf1 posture): ±5 s interval / 10 s watermark —
  *    ~10x the retained join state — and a 100k-key keyed agg whose
  *    state is 100k groups/window instead of one
  */
object StreamLab {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()

    def measure(q: org.apache.spark.sql.streaming.StreamingQuery,
                label: String): Unit = try {
      val start = System.currentTimeMillis()
      val deadline = start + 25000
      def sustained = q.recentProgress.length >= 2 &&
        System.currentTimeMillis() - start >= 10000
      while (!sustained && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      val progress = q.recentProgress
      val rows = progress.map(_.numInputRows).sum
      val secs = progress.map(_.batchDuration).sum / 1000.0
      println(f"LAB $label rate=${rows / secs}%.0f rows/s batches=${progress.length}")
    } finally q.stop()

    def withConf(parts: Int, rocks: Boolean,
                 changelog: Boolean = false)(body: => Unit): Unit =
      Harness.withConf(spark, Seq(
        "spark.sql.shuffle.partitions" -> parts.toString,
        // changelog checkpointing: commits upload the delta instead of a
        // full snapshot per batch — the production durable-rocksdb posture
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          changelog.toString) ++
        (if (rocks) Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Nil): _*)(body)

    // durable = a REAL checkpoint dir (state snapshots/changelogs +
    // offset/commit WALs actually hit disk every batch) vs the default
    // engine-managed temp dir the in-heap pins run with; swept at exit
    // or every lab run leaks its full checkpoint contents in /tmp
    def ckptDir(tag: String): String = Harness.tempDir(s"graft-lab-$tag")

    def joinRate(label: String, parts: Int, rocks: Boolean,
                 intervalSec: Int = 1, wmSec: Int = 2,
                 durable: Boolean = false, changelog: Boolean = false): Unit =
      withConf(parts, rocks, changelog) {
        val a = spark.readStream.format("rate")
          .option("rowsPerSecond", 100000).option("numPartitions", 4).load()
          .withWatermark("timestamp", s"$wmSec seconds")
          .select(col("value").as("ka"), col("timestamp").as("ta"))
        val b = spark.readStream.format("rate")
          .option("rowsPerSecond", 100000).option("numPartitions", 4).load()
          .withWatermark("timestamp", s"$wmSec seconds")
          .select(col("value").as("kb"), col("timestamp").as("tb"))
        val j = a.join(b, expr(
          s"ka = kb AND tb BETWEEN ta - INTERVAL $intervalSec SECOND AND ta + INTERVAL $intervalSec SECOND"))
        val w0 = j.writeStream.outputMode("append").format("noop")
        val w = if (durable) w0.option("checkpointLocation", ckptDir("join")) else w0
        measure(w.start(),
          s"join-$label parts=$parts rocks=$rocks int=${intervalSec}s wm=${wmSec}s" +
            s" durable=$durable changelog=$changelog")
      }

    def aggRate(label: String, parts: Int, rocks: Boolean,
                keys: Int, durable: Boolean = false,
                changelog: Boolean = false): Unit =
      withConf(parts, rocks, changelog) {
        val s = spark.readStream.format("rate")
          .option("rowsPerSecond", 500000).option("numPartitions", 8).load()
          .withWatermark("timestamp", "2 seconds")
          .groupBy(window(col("timestamp"), "1 second"),
            (col("value") % keys).as("k"))
          .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_v"))
        val w0 = s.writeStream.outputMode("update").format("noop")
        val w = if (durable) w0.option("checkpointLocation", ckptDir("agg")) else w0
        measure(w.start(),
          s"agg-$label parts=$parts rocks=$rocks keys=$keys" +
            s" durable=$durable changelog=$changelog")
      }

    // r12 recorded sweep (n=2, small state): p32 109-130k, p32+rocksdb
    // 122k, p16 154-157k, p8 166-183k (winner, adopted in Bench),
    // p8+rocksdb 127k, p4 157-165k rows/s
    val mode = if (args.nonEmpty) args(0) else "all"
    // r16 (verdict item 1): requalify Bench.streamSection's pins (982k
    // agg / 161k join rows/s) through the EXACT bench code path in a
    // fresh JVM, n=3 — the r15 full-bench reading (458.6k at the same
    // p8 config) needs separating from box load before re-pinning
    if (mode == "bench") {
      for (i <- 1 to 3) {
        val r = try Bench.streamSection(spark)
        catch { case e: Throwable =>
          println(s"LAB bench-stream pass$i FAILED ${e.getMessage}")
          Map.empty[String, Double] }
        println(s"LAB bench-stream pass$i " +
          r.map { case (k, v) => f"$k=$v%.0f" }.mkString(" "))
      }
      spark.stop()
      return
    }
    for (_ <- 1 to 2) {
      if (mode == "all" || mode == "small") {
        joinRate("small", 32, rocks = false)
        joinRate("small", 8, rocks = false)
        joinRate("small", 8, rocks = true)
        aggRate("small", 32, rocks = false, keys = 1)
        aggRate("small", 8, rocks = false, keys = 1)
      }
      if (mode == "all" || mode == "big") {
        joinRate("big", 32, rocks = false, intervalSec = 5, wmSec = 10)
        joinRate("big", 16, rocks = false, intervalSec = 5, wmSec = 10)
        joinRate("big", 8, rocks = false, intervalSec = 5, wmSec = 10)
        joinRate("big", 32, rocks = true, intervalSec = 5, wmSec = 10)
        joinRate("big", 8, rocks = true, intervalSec = 5, wmSec = 10)
        aggRate("big", 32, rocks = false, keys = 100000)
        aggRate("big", 8, rocks = false, keys = 100000)
        aggRate("big", 32, rocks = true, keys = 100000)
      }
      // r15 (verdict item 7): production ingest runs DURABLE — a real
      // checkpoint dir, state committed every batch. Measure the
      // adopted p8 configs with durability on, in-heap vs rocksdb vs
      // rocksdb+changelog, at both state regimes, so the pinned
      // durable-mode rate is a sweep result, not a guess.
      if (mode == "all" || mode == "durable") {
        joinRate("small", 8, rocks = false, durable = true)
        joinRate("small", 8, rocks = true, durable = true)
        joinRate("small", 8, rocks = true, durable = true, changelog = true)
        aggRate("small", 8, rocks = false, keys = 1, durable = true)
        aggRate("small", 8, rocks = true, keys = 1, durable = true)
        aggRate("small", 8, rocks = true, keys = 1, durable = true, changelog = true)
        joinRate("big", 8, rocks = false, intervalSec = 5, wmSec = 10, durable = true)
        joinRate("big", 8, rocks = true, intervalSec = 5, wmSec = 10, durable = true)
        joinRate("big", 8, rocks = true, intervalSec = 5, wmSec = 10,
          durable = true, changelog = true)
        aggRate("big", 8, rocks = false, keys = 100000, durable = true)
        aggRate("big", 8, rocks = true, keys = 100000, durable = true)
        aggRate("big", 8, rocks = true, keys = 100000, durable = true, changelog = true)
      }
    }
    spark.stop()
  }
}
