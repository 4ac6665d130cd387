package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

package object tools {

  /** Evaluate every column of `df` once and return its row count: one
    * aggregation of avg(xxhash64 over the columns as strings) and count(1).
    * The hash keeps every column live (a bare count() would be pruned), a
    * double avg cannot overflow under ANSI, and the count rides in the same
    * aggregation, so the plan runs once per call. `graft.Bench` keeps its
    * own copy, frozen with the rest of that harness. */
  def forceEval(df: DataFrame): Long = {
    val cols = df.columns.map(c => col(c).cast("string"))
    df.select(xxhash64(cols: _*).cast("double").as("h"))
      .agg(avg("h"), count(lit(1))).collect()(0).getLong(1)
  }
}
