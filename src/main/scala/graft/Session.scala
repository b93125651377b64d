package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a SparkSession. Bench, Verify, the
  * tools and the test suites all run the same settings, so a number
  * measured by a profiler or a result checked by a test comes from the
  * session the bench runs.
  */
object Session {

  /** A local session on `cpus` cores: shuffle partitions = `cpus`, AQE
    * on with the [[Tuning.AqeMinPartitionSize]] coalescing floor,
    * nanosecond parquet timestamps read as longs, UTC session zone, no
    * UI, WARN logging. */
  def local(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        Tuning.AqeMinPartitionSize)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
