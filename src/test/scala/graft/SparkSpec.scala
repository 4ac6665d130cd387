package graft

import org.apache.spark.sql.SparkSession

/** The specs' session: local[4], 4 shuffle partitions, UTC, no UI. The
  * specs share one forked JVM, so every spec gets the same session. */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
