package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
