package perfbench

import org.apache.spark.sql.SparkSession

/** The one session shape the benchmark drives: `graft.Bench`'s confs on
  * `local[4]`, with every local directory inside the run's work dir. */
object Session {
  val Cpus = 4

  def start(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "500000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
