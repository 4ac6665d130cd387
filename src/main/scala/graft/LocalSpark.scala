package graft

import org.apache.spark.sql.SparkSession

/** The local session of graft's mains and specs: local[cpus], a UTC
  * session (RollupJob's day buckets assume it), no UI, log level ERROR.
  * `partitions` shuffle partitions, cpus when not given; `conf` adds
  * settings on top. */
object LocalSpark {

  /** SPARK_GRAFT_CPUS, else the host's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus, partitions: Option[Int] = None,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.getOrElse(cpus).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
