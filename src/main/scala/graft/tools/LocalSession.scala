package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session every tool in this package runs on: `local[cpus]`
  * with cpus from `SPARK_GRAFT_CPUS` (default 32), AQE on, UTC, no UI,
  * ERROR logging, and one shuffle partition per cpu unless
  * `shufflePartitions` says otherwise. */
private[tools] object LocalSession {
  def apply(appName: String, shufflePartitions: Option[Int] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.fold(cpus)(_.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
