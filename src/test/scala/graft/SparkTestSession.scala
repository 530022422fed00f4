package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (guide: one session per
  * suite via lazy val; sharing across suites keeps `sbt test` fast),
  * built by the product factory so specs run the engine settings
  * Bench and Verify run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session(cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
