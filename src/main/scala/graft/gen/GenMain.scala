package graft.gen

/** Writes the deterministic synthetic token table to parquet:
  * `runMain graft.gen.GenMain <out> <nDocs> [nSources minLen maxLen]`.
  * Also appends the parity fixtures so every table carries the reference
  * oracle signals.
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("/tmp/graft_tokens")
    val nDocs = args.lift(1).map(_.toInt).getOrElse(1000)
    val nSources = args.lift(2).map(_.toInt).getOrElse(16)
    val minLen = args.lift(3).map(_.toInt).getOrElse(64)
    val maxLen = args.lift(4).map(_.toInt).getOrElse(4096)
    val spark = graft.LocalSpark()
    val df = TokenGen.bulk(spark, nDocs, nSources, minLen, maxLen)
      .unionByName(TokenGen.fixtures(spark))
    df.write.mode("overwrite").partitionBy("source").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"[gen] wrote $n rows to $out")
    spark.stop()
  }
}
