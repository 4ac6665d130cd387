package graft

import org.apache.spark.sql.SparkSession

/** The specs' session: local[4], 4 shuffle partitions, UTC, no UI. The
  * specs share one forked JVM, so every spec gets the same session. */
trait SparkSpec {
  lazy val spark: SparkSession = LocalSpark(cpus = 4)

  /** Run `body` at `n` shuffle partitions with AQE coalescing off (at the
    * defaults AQE coalesces spec-sized data into one partition), then
    * restore the session's settings. */
  def withPartitions[T](n: Int)(body: => T): T = {
    val set = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
