package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.TokenRollup
import graft.functions.FeatureParams

/** Single-parallelism rollup throughput probe (fresh JVM = clean
  * measurement): `runMain graft.tools.RollupBench <tokensPath> <cpus>`.
  * Prints one line: `[rollupbench] cpus=N tokens=T sec=S thr=T/S`.
  */
object RollupBench {

  def workload(spark: SparkSession, tokensPath: String,
               verbose: Boolean = false,
               warmupSlice: Boolean = false): Long = {
    val all = spark.read.parquet(tokensPath)
    // warm-up-lite: partition-prune to 2 of the 16 sources — JIT-warms
    // every code path (kernels, codegen shapes, shuffle) at ~1/8 the cost
    // of a full pass, so each fresh child JVM spends its budget measuring
    val tokens =
      if (warmupSlice) all.where(col("source").isin("s0", "s7")) else all
    val scale = 1.0 / (1 << 24)
    val p = FeatureParams(sfreq = 256.0, scale = scale)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      if (verbose) println(f"[phase] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    // full rollup: raw-tier feature pass + the 1m/1h/1d cascade
    val raw = tokens.select(col("doc_id"), col("source"), col("n_tok"),
      graft.functions.feature("mean", col("tokens"), p).as("mean"),
      graft.functions.feature("line_length", col("tokens"), p).as("line_length"),
      graft.functions.feature("hjorth_mobility", col("tokens"), p).as("hjorth_mobility"),
      graft.functions.feature("spect_entropy", col("tokens"), p).as("spect_entropy"),
      graft.functions.feature("higuchi_fd", col("tokens"), p).as("higuchi_fd"))
    phase("raw")(forceEval(raw))
    val states = TokenRollup.rowStates(tokens, scale)
    val m1 = TokenRollup.mergeToBuckets(states, "1 minute", Seq("event_time", "doc_id")).persist()
    phase("m1")(forceEval(TokenRollup.finalizeFeatures(m1)))
    val h1 = TokenRollup.cascade(m1, "1 hour").persist()
    phase("h1")(forceEval(TokenRollup.finalizeFeatures(h1)))
    phase("d1")(forceEval(TokenRollup.finalizeFeatures(TokenRollup.cascade(h1, "1 day"))))
    m1.unpersist(); h1.unpersist()
    phase("sum")(tokens.agg(sum("n_tok")).collect()(0).getLong(0))
  }

  def main(args: Array[String]): Unit = {
    val tokensPath = args(0)
    val cpus = args(1).toInt
    // split sizing: the synthetic table is many small files with very
    // heavy per-row compute; the default 128MB bins + 4MB open-cost
    // pack them into ~16 splits and cap parallelism below the core
    // count. Size splits for CPU cost, not byte count.
    val spark = graft.LocalSpark(cpus, partitions = Some(math.max(cpus, 8)), conf = Map(
      "spark.sql.files.maxPartitionBytes" -> (2 * 1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (32 * 1024).toString,
      "spark.sql.parquet.columnarReaderBatchSize" -> "512"))
    def procCpuSec: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1e9
    workload(spark, tokensPath, warmupSlice = true) // warm-up: JIT + page cache
    // min of `runs` measured runs: this sandbox is a shared host with
    // bursty external load; the least-interfered run is the honest
    // capability measurement at each parallelism level. CPU seconds ride
    // along as the steal-detection sentinel (wall >> cpu/cpus => noise).
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    var best = Double.MaxValue
    var bestCpu = 0.0
    var tokens = 0L
    for (_ <- 1 to runs) {
      val c0 = procCpuSec
      val t0 = System.nanoTime()
      tokens = workload(spark, tokensPath)
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = procCpuSec - c0
      println(f"[run] cpus=$cpus sec=$sec%.3f cpu=$cpu%.3f")
      if (sec < best) { best = sec; bestCpu = cpu }
    }
    val sec = best
    println(f"[rollupbench] cpus=$cpus tokens=$tokens sec=$sec%.3f " +
      f"cpu=$bestCpu%.3f thr=${tokens / sec}%.0f")
    spark.stop()
  }
}
