package graft

import org.apache.spark.sql.SparkSession

/** The specs' session: local[4], 4 shuffle partitions, UTC, no UI. The
  * specs share one forked JVM, so every spec gets the same session. */
trait SparkSpec {
  lazy val spark: SparkSession = LocalSpark(cpus = 4)
}
