package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession and scopes a
  * temporary conf. Every main runs `local[SPARK_GRAFT_CPUS]` (default:
  * the host's cores) with as many shuffle partitions, UTC session
  * time, naive parquet timestamps read as plain TIMESTAMP (UTC
  * instants) no matter which table is read first, and no UI. */
object Harness {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Run `body` with the session conf `kvs` set, then restore every key
    * to its previous value (or unset it), also when `body` throws. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A fresh directory under java.io.tmpdir, deleted with everything in
    * it when the JVM exits (deleteOnExit only removes EMPTY
    * directories; checkpoint dirs are full by then). */
  def tempDir(prefix: String): String = {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }))
    root.toString
  }
}
