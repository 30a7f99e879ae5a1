package perfbench

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-checks of the benchmark's timed action: it must run the whole
  * plan of every benchmarked query, which `count()` does not. */
class PlanCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      Paths.get(System.getProperty("java.io.tmpdir"), "spark-warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Optimized plan of the first action run by `action` on `df`. */
  private def timedPlan(df: DataFrame)(action: DataFrame => Any) = {
    val capture = new ActionCapture
    df.sparkSession.listenerManager.register(capture)
    try {
      action(df)
      PerfbenchBus.drain(spark.sparkContext)
      capture.timedActionOf(df).map(_.optimizedPlan)
    } finally df.sparkSession.listenerManager.unregister(capture)
  }

  test("count() drops plan nodes the full materialisation keeps") {
    val facts = spark.range(0, 1000).select((col("id") % 10).as("k"), col("id").as("v"))
    val dims = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("w"))
    val df = facts.join(dims, "k")
      .withColumn("rank", row_number().over(Window.partitionBy("k").orderBy(col("v").desc)))
      .groupBy("k").agg(sum("w").as("w"), max("rank").as("rank"))
      .orderBy("k")
    val query = df.queryExecution.optimizedPlan
    assert(PlanCheck.shape(query).keySet == Set("Sort", "Window", "Aggregate", "Join"))
    val counted = timedPlan(df)(_.count()).get
    assert(PlanCheck.missing(query, counted).contains("Sort"))
    val materialised = timedPlan(df)(PlanCheck.materialise).get
    assert(PlanCheck.missing(query, materialised).isEmpty)
  }

  test("every benchmarked entry keeps its whole plan when materialised") {
    val scratch = Files.createTempDirectory("perfbench-spec")
    val data = scratch.resolve("data")
    val gen = Paths.get("gen.py").toAbsolutePath
    assert(Seq("python3", gen.toString, data.toString, "0.001", "2", "7").! == 0)
    val names = Workloads.olap ++ Workloads.graph
    val w = new BatchWorkload(spark, "selfcheck", data.toString, scratch.resolve("out"), names)
    w.prebuildLayouts()
    val warm = w.pass(0, checked = true, traced = false)
    assert(warm.queries.map(_.name).toSet == names.toSet)
    warm.queries.foreach(q => assert(q.error.isEmpty, s"${q.name}: ${q.error}"))
    w.checks.foreach { case (name, c) =>
      assert(c("plan_ok") == true, s"$name lost plan nodes: ${c("plan_lost")}")
    }
  }
}
