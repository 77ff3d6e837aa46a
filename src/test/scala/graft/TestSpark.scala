package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the test suites. Suites share one
  * session per JVM, and the first `getOrCreate` fixes its static confs
  * (`spark.sql.extensions`, the master), so every suite asks for the
  * same ones and no suite's result depends on which suite ran first.
  * A suite that needs another runtime conf sets and restores it inside
  * its test. */
object TestSpark {
  def session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
