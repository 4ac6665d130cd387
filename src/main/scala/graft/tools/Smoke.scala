package graft.tools

import graft.core._
import graft.gen.TokenGen
import org.apache.spark.sql.functions._

/** Dev smoke driver: exercises the library end-to-end through its public
  * API — kernels on fixture signals, then the Spark-facing generator on a
  * live local session. `sbt "runMain graft.tools.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val ch0 = Array[Double](0, 0, 2, -2, 0, -1, -1, 0)
    println(s"mean=${Features.meanF(ch0)} var=${Features.varianceF(ch0)} " +
      s"hjorthMob=${Features.hjorthMobility(ch0)} lineLen=${Features.lineLength(ch0)}")
    val sin = Array.tabulate(512) { k =>
      val tp = 2 * math.Pi * k / 512.0
      0.1 * math.sin(5 * tp) + 0.05 * math.sin(33 * tp)
    }
    println(s"spectEntropy=${Features.spectEntropy(sin, 512.0, "fft")}")
    println(s"edge50=${Features.spectEdgeFreq(sin, 512.0, 15.0, Array(0.5), "fft").mkString(",")}")
    println(s"probe len2 lineLength=${Features.lineLength(Array(1.0, 4.0))}")
    println(s"probe quantile single=${Features.quantiles(Array(5.0), Array(0.5)).mkString(",")}")

    val spark = graft.LocalSpark(cpus = 4)
    try {
      val fx = TokenGen.fixtures(spark)
      fx.select("doc_id", "n_tok", "source", "event_time").show(5, truncate = false)
      println(s"fixture rows=${fx.count()}")
      val bulk = TokenGen.bulk(spark, 200)
      println(s"bulk rows=${bulk.count()} sources=${bulk.select("source").distinct.count()}")
      println(s"n_tok mismatches=${bulk.filter(size(col("tokens")) =!= col("n_tok")).count()}")
      val t = fx.filter(col("doc_id") === "data1/ch0").select("tokens")
        .head.getSeq[Int](0).toArray
      println(s"dequantized data1/ch0=${TokenGen.dequantize(t).mkString(",")}")
    } finally spark.stop()
  }
}
