package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY §5). */
object SparkSessions {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fresh warehouse per JVM: managed-table locations from a previous
      // test run would otherwise collide with the fresh in-memory catalog
      .config("spark.sql.warehouse.dir",
        TestDirs.create("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
