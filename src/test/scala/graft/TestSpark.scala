package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (build.sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
}
