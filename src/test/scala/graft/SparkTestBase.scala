package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session; Spark reuses
  * it across suites via getOrCreate). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  locally(SparkTestBase) // its initializer runs before any test body
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkTestBase {
  // SqlHttpServer's initializer sets the JVM-wide TCP_NODELAY property of
  // the JDK HTTP server, which only the first HttpServer.create reads: run
  // it before any spec starts a JDK HTTP fake
  locally(graft.server.SqlHttpServer)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.register(s)
    s
  }
}
