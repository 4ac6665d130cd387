package graft.tools

import org.apache.spark.sql.SparkSession

/** The scaling-table writer of graft.Bench phase 0. `graft.gen.GenMain
  * <out> <nDocs>` writes the same TokenGen.bulk recipe from the command
  * line, with the parity fixtures appended. */
object GenTable {

  /** The scaling-table recipe: zipf lengths 64..4096, 16 sources, seed 42,
    * partitioned by source. */
  def write(spark: SparkSession, out: String, docs: Int): Unit =
    graft.gen.TokenGen.bulk(spark, docs, 16, 64, 4096)
      .write.mode("overwrite").partitionBy("source").parquet(out)
}
