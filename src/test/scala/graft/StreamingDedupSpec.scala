package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming exact dedup: cross-trigger statefulness and batch-split
  * invariance (the properties the driver gate relies on). */
class StreamingDedupSpec extends AnyFunSuite with SparkSpec {
  private def del(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(del)
    f.delete()
  }

  test("multi-batch state: final view equals batch dedup, dups update across triggers") {
    import spark.implicits._
    val src = "/tmp/graft_stream_dedup_spec"
    del(new java.io.File(src))
    // 40 docs, 10 texts -> every hash appears 4x, spread across the
    // doc_id range so range partitioning splits each hash over files
    val docs = (0 until 40).map(i => (i.toLong, s"text ${i % 10}"))
      .toDF("doc_id", "text")
    docs.repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(src)

    val name = "stream_dedup_spec_" + System.nanoTime()
    val out = graft.streaming.StreamingDedup
      .runOnce(spark, src, name, filesPerTrigger = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    val expect = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("k"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == expect.toSeq)

    // the Update-mode emission log must show the SAME hash emitted from
    // more than one trigger (otherwise the test never exercised
    // cross-batch state and the equality above is vacuous)
    val emissions = spark.table(name)
      .groupBy("text_hash").agg(count(lit(1)).as("c"))
      .agg(max("c")).collect()(0).getLong(0)
    assert(emissions > 1L, "every hash arrived in a single trigger; " +
      "the gate needs a multi-trigger split")

    // n_seen is monotone across emissions; keeper is non-increasing
    val perHash = spark.table(name).orderBy("n_seen")
      .collect().groupBy(_.getString(0))
    perHash.values.foreach { rows =>
      val ns = rows.map(_.getLong(2)).toSeq
      assert(ns == ns.sorted)
    }
  }
}
