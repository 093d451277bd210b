package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.local("graft-tests")
}
