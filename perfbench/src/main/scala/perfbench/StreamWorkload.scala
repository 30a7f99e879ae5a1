package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.EventStreams

/** Seeded event source: (event_id, event_type, ts_us, value) in event-time
  * order, the layout EventStreams' stateful cores read. Event time runs
  * at the test data's pace (exponential gaps, mean 26 s) and is unrelated
  * to wall time, so windows close on every few hundred events. */
final class EventGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private val types = Array("click", "error", "purchase", "signup", "view")
  private var id = 0L
  private var tsUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val all = mutable.ArrayBuffer.empty[(Long, String, Long, Double)]

  def next(n: Int): Seq[(Long, String, Long, Double)] = {
    val out = Array.tabulate(n) { _ =>
      tsUs += (-math.log(1 - rng.nextDouble()) * 26e6).toLong
      val e = (id, types(rng.nextInt(types.length)), tsUs,
        math.rint(-math.log(1 - rng.nextDouble()) * 5000) / 100)
      id += 1
      e
    }
    all ++= out
    out.toSeq
  }
}

/** One chunk the generator added: its last offset, its size, the wall
  * time its first event was due by the rate schedule (epoch ms) and how
  * late the generator added it (s; up to one tick by design). */
final case class Chunk(offset: Long, events: Int, dueMs: Double, lagS: Double) {
  def addedMs: Double = dueMs + lagS * 1000
}

/** The standing queries of one run, each reading its own in-memory
  * source (a source serves one reader: it drops what that reader
  * committed), and the rows each query's sink received. */
final class Running(val queries: Seq[(String, StreamingQuery)],
    sources: Seq[MemoryStream[(Long, String, Long, Double)]],
    val sinks: Seq[ConcurrentLinkedQueue[Row]]) {
  /** Adds `events` to every source; returns their last offset. */
  def add(events: Seq[(Long, String, Long, Double)]): Long =
    sources.map(_.addData(events).json.toLong).max
  def drain(): Unit = queries.foreach(_._2.processAllAvailable())
  def stop(): Unit = queries.foreach(_._2.stop())
  def outputs: Seq[Seq[Row]] = sinks.map(_.asScala.toSeq)
  def progress: Seq[(String, StreamingQueryProgress)] =
    queries.flatMap { case (n, q) => q.recentProgress.toSeq.map(n -> _) }
}

/** The stream workload. Two standing queries, a7 TrendingArrivals
  * (`EventStreams.trendingCoreWatermark`: keyed state, watermark timers)
  * and the watermark-close EWMA (`EventStreams.ewmaCoreWm`), read the
  * same events.
  *
  *  - open loop: a generator thread, separate from the queries, adds
  *    events at a fixed rate; every event is timed from when the rate
  *    schedule made it due (so a stalled generator still charges the
  *    wait) to the completion of the micro-batch that consumed it;
  *  - drain passes (closed loop): both queries start on a fixed
  *    backlog and the pass ends when both committed it. Its rate, events
  *    over seconds, is the highest the queries sustain: below it the
  *    backlog does not grow.
  *
  * Every output is compared with the same cores run over the same events
  * as one batch. */
final class StreamWorkload(spark: SparkSession, seed: Long, scratch: Path) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  type Ev = (Long, String, Long, Double)

  /** Events per drain pass. */
  val DrainEvents = 60000
  /** Offered rate of the open loop, events/s: well under what the drain
    * passes sustain (about 40,000 on a 4-core host), so the latency it
    * measures is that of a lightly loaded pipeline. */
  val OpenLoopRate = 5000
  /** Micro-batch interval of the open loop. A fixed cadence keeps
    * latency from settling on a different batch size in each run, as it
    * does when every batch starts the moment the previous one ends. */
  val OpenLoopTriggerMs = 1000L
  /** Generator tick: events that fell due within one tick are added
    * together. */
  val TickMs = 20

  private var nQuery = 0

  private def cores(forTrending: Dataset[Ev], forEwma: Dataset[Ev]): Seq[(String, DataFrame)] = Seq(
    "trending" -> EventStreams.trendingCoreWatermark(
      forTrending.toDF("event_id", "event_type", "ts_us", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .select(col("event_type"), expr(s"ts_us div ${EventStreams.TenMinUs}").as("win"),
          col("ts"))
        .as[(String, Long, java.sql.Timestamp)]),
    "ewma" -> EventStreams.ewmaCoreWm(forEwma))

  /** Starts both queries on sources already holding `backlog` (one input
    * partition per chunk) and returns once they have committed it;
    * `trigger` is their micro-batch interval (default: the next batch as
    * soon as the previous one ends). */
  def start(backlog: Seq[Seq[Ev]] = Nil,
      trigger: Trigger = Trigger.ProcessingTime(0)): Running = {
    nQuery += 1
    val sources = Seq.fill(2)(MemoryStream[Ev])
    for (src <- sources; chunk <- backlog) src.addData(chunk)
    val started = cores(sources(0).toDS(), sources(1).toDS()).map { case (name, df) =>
      val buf = new ConcurrentLinkedQueue[Row]()
      val sink: (Dataset[Row], Long) => Unit = (b, _) => b.collect().foreach(buf.add)
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", scratch.resolve(s"ck-$name-$nQuery").toString)
        .queryName(s"${name}_$nQuery")
        .foreachBatch(sink)
        .trigger(trigger)
        .start()
      ((name, q), buf)
    }
    val r = new Running(started.map(_._1), sources, started.map(_._2))
    r.drain()
    r
  }

  /** Output of the same cores over `events` added as a single batch. */
  def reference(events: Seq[Ev]): Seq[Seq[Row]] = {
    val r = start(Seq(events))
    r.stop()
    r.outputs
  }

  /** Rows of `got` not matched one-for-one in `want`, per core. */
  def mismatches(got: Seq[Seq[Row]], want: Seq[Seq[Row]]): Int =
    got.zip(want).map { case (g, w) =>
      val a = g.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
      val b = w.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
      (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0))).sum
    }.sum

  /** One closed-loop pass over a fixed backlog of `events` in ten
    * chunks: seconds from starting both queries to both having committed
    * every event. */
  def drainPass(events: Seq[Ev]): (Double, Running) = {
    val chunks = events.grouped(events.size / 10).toSeq
    val t0 = System.nanoTime()
    val r = start(chunks)
    val s = (System.nanoTime() - t0) / 1e9
    r.stop()
    (s, r)
  }

  /** The open loop: events at `OpenLoopRate` for `durS` seconds. */
  def openLoop(durS: Double): OpenLoopRun = {
    val gen = new EventGen(seed)
    val r = start(trigger = Trigger.ProcessingTime(OpenLoopTriggerMs))
    val chunks = new ConcurrentLinkedQueue[Chunk]()
    val total = (OpenLoopRate * durS).toInt
    @volatile var failure: Throwable = null
    val genThread = new Thread(() => try {
      val start = System.nanoTime()
      var sent = 0
      while (sent < total) {
        // one chunk per tick: the source makes one input partition of
        // every add, so per-event adds would flood batches with tasks
        val sinceS = (System.nanoTime() - start) / 1e9
        val due = math.min(total, (sinceS * OpenLoopRate).toInt + 1)
        if (due > sent) {
          val lagS = sinceS - sent.toDouble / OpenLoopRate
          val dueMs = Clock.nowMs - lagS * 1000
          val off = r.add(gen.next(due - sent))
          chunks.add(Chunk(off, due - sent, dueMs, lagS))
          sent = due
        }
        if (sent < total) Thread.sleep(TickMs)
      }
    } catch { case t: Throwable => failure = t }, "perfbench-event-generator")
    genThread.start()
    genThread.join()
    if (failure != null) throw failure
    r.drain()
    r.stop()
    new OpenLoopRun(this, r, chunks.asScala.toSeq, gen.all.toSeq)
  }

  def completedMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration

  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(s(0).endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
}

/** Wall clock in epoch ms with sub-ms resolution, on the same epoch as
  * the timestamps of Spark's streaming progress reports. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** What one open-loop run left: the queries (with their progress
  * reports), every chunk the generator added and all events, in order. */
final class OpenLoopRun(w: StreamWorkload, val running: Running, val chunks: Seq[Chunk],
    val events: Seq[(Long, String, Long, Double)]) {
  /** Per query, (end offset, completion epoch ms) of each batch. */
  private val batches: Seq[Seq[(Long, Double)]] =
    running.queries.map { case (_, q) =>
      q.recentProgress.toSeq.map(p => (w.endOffset(p), w.completedMs(p))).sortBy(_._2) }

  /** Latency of each chunk, seconds: from when its first event was due
    * to the completion of the batch that consumed it in the slower query. */
  val latencies: Seq[(Chunk, Double)] = chunks.flatMap { c =>
    val done = batches.map(_.find(_._1 >= c.offset).map(_._2))
    if (done.exists(_.isEmpty)) None else Some(c -> (done.flatten.max - c.dueMs) / 1000)
  }

  /** Event-weighted quantile of the chunk latencies. */
  def latency(q: Double): Double = {
    val s = latencies.sortBy(_._2)
    val total = s.map(_._1.events.toLong).sum
    var acc = 0L
    s.find { case (c, _) => acc += c.events; acc >= q * total }.map(_._2).getOrElse(Double.NaN)
  }

  /** Largest backlog, events added but not yet committed by every query,
    * seen when a chunk was added. */
  def backlogMax: Long = chunks.map { c =>
    val end = batches.map(_.filter(_._2 <= c.addedMs).map(_._1).foldLeft(-1L)(math.max)).min
    chunks.filter(_.addedMs <= c.addedMs).map(_.events.toLong).sum -
      chunks.filter(_.offset <= end).map(_.events.toLong).sum
  }.maxOption.getOrElse(0L)
}
