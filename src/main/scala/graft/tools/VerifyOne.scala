package graft.tools

/** Selective Verify: dump only the named queries (plus their oracle SQL)
  * to an outDir in the same layout the driver's compare expects —
  * `runMain graft.tools.VerifyOne <sfDir> <outDir> q_a q_b ...`, then
  * `python3 tools/check_oracle.py <sfDir> <outDir>`. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.LocalSpark()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-one] dumped $name")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      graft.Verify.oracleJson(
        graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    spark.stop()
  }
}
